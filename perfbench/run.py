#!/usr/bin/env python3
"""Run one benchmark workload against the graft sources of this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark with sbt when the sources changed
since the last build (the build and its state stay under .bench_build/
in the checkout), then runs one JVM that sets the workload up, measures
it for the given seconds and checks every output. The JVM's last stdout
line is the result as JSON; the exit code is nonzero when the build, the
run or an output check fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("retail_upsert", "corpus_neardup")
# A run must end within 180 s, or 900 s when it builds first.
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compile with sbt when needed; return the runtime classpath and
    whether a build ran."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh2:
                    return fh2.read(), False
    sbt_home = os.path.join(BUILD, "sbt")
    tmp = os.path.join(sbt_home, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global state lives in the checkout, and no JVM it starts
    # keeps perf data in the system temp dir, so the build writes
    # nothing outside the checkout
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={sbt_home}/global",
           f"-Dsbt.boot.directory={sbt_home}/boot",
           f"-Dsbt.ivy.home={sbt_home}/ivy",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "-J-Xmx3g", "writeClasspath"]
    build_log = os.path.join(BUILD, "build.log")
    log("building (sbt) ...")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        log(f"build failed (exit {rc}); end of {build_log}:\n{tail(build_log)}")
        sys.exit(1)
    log(f"built in {time.time() - t0:.1f}s")
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as fh:
        cp = fh.read()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    t0 = time.time()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no graft sources here: {os.path.join(ROOT, need)} is missing")
            sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    cp, built = build()
    timeout = min(RUN_TIMEOUT_S, (890 if built else 178) - (time.time() - t0))

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap keeps the collector's work from following its own
    # heap sizing from run to run; a fixed set of JIT threads lets the
    # run tell their CPU apart from the program's
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--dir", run_dir]
    run_log = os.path.join(BUILD, f"last-{a.workload}.log")
    with open(run_log, "w") as err:
        rc = run_group(cmd, timeout, cwd=run_dir, stderr=err,
                       stdin=subprocess.DEVNULL)
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        why = "timed out" if rc is None else f"exited {rc}"
        log(f"run {why}; end of {run_log}:\n{tail(run_log)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
