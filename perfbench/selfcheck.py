#!/usr/bin/env python3
"""Steadiness self-check of the benchmark.

    python3 perfbench/selfcheck.py [--seed N] [--seed2 M] [--workloads a,b]

For each workload: two runs with one seed, one with a second seed.
Fails (exit 1) unless
  - every run is correct;
  - the exact counters (rows, bytes under the warehouse, pairs,
    control.log_rows) are equal between the two same-seed runs;
  - every end-to-end metric of the two same-seed runs agrees within its
    bound from BENCHMARK.json;
  - the second seed changes the counters of the generated inputs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr)
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    detail = json.loads(lines[-2].split(" ", 1)[1])
    return json.loads(lines[-1]), detail["counters"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seed2", type=int, default=2)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    problems = []
    for w in a.workloads.split(","):
        r1, c1 = run(w, a.seed, bench["run_seconds"])
        r2, c2 = run(w, a.seed, bench["run_seconds"])
        r3, c3 = run(w, a.seed2, bench["run_seconds"])
        for r, s in ((r1, a.seed), (r2, a.seed), (r3, a.seed2)):
            if not r["correct"]:
                problems.append(f"{w} seed {s}: not correct")
        if c1 != c2:
            problems.append(f"{w}: counters differ between same-seed runs: "
                            f"{c1} vs {c2}")
        if c1 == c3:
            problems.append(f"{w}: seed {a.seed2} gave the same counters as "
                            f"seed {a.seed}: {c1}")
        for name, bound in bounds.items():
            v1 = r1["metrics"][name]["value"]
            v2 = r2["metrics"][name]["value"]
            rel = abs(v2 - v1) / min(v1, v2)
            verdict = "ok" if rel <= bound else "OUT OF BOUND"
            print(f"{w} {name}: {v1:.4g} vs {v2:.4g} ({rel:.3f}, bound "
                  f"{bound}) {verdict}")
            if rel > bound:
                problems.append(f"{w} {name}: {v1:.4g} vs {v2:.4g} differ "
                                f"by {rel:.3f} > {bound}")
        print(f"{w} counters seed {a.seed}: {c1}")
        print(f"{w} counters seed {a.seed2}: {c3}")
    for p in problems:
        print(f"FAIL {p}")
    print("self-check", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
