package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.ops.DataQualityException

/** One benchmark run: set a workload up, let it settle, then run its
  * operations in a closed loop with one client for a fixed time, check
  * every output, and print the metrics as the last stdout line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <scratch dir>
  * }}}
  *
  * With `--trace 0` it prints the end-to-end metrics. With `--trace 1`
  * it alternates untraced and traced operations and prints the
  * per-layer metrics of the traced ones, plus the difference in median
  * operation time between the two as the tracing overhead. */
object Main {

  /** Untimed operations between the warm-up operation and the measured
    * ones. On Spark the JIT keeps compiling for several operations after
    * the first: operation times fall by a third over the next four and
    * change little after, so without these op_s would follow where in
    * that curve a run stops. A count, not a time: on a slower host the
    * JIT needs as many operations, which take longer. */
  val SettleOps = 4

  def main(args: Array[String]): Unit = sys.exit(run(args.toSeq))

  private final case class Args(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, dir: Path)

  private def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.Names.contains(w), s"unknown workload $w; one of " +
      Workload.Names.mkString(", "))
    Args(w, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("dir")))
  }

  private def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the workloads run well over 100 distinct plans; the default
      // 100-entry codegen cache would recompile some every operation
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** CPU seconds of the JVM's JIT compiler threads (utime + stime from
    * /proc/self/task). On Spark the JIT keeps compiling for minutes and
    * its CPU varies from run to run, so op_cpu_s leaves it out and the
    * detail line reports it. */
  private def jitCpuS(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val s = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong
        }
      } catch { case NonFatal(_) => 0L }
    }.sum / 100.0
  }

  private def procValue(file: String, key: String): Double =
    scala.io.Source.fromFile(file).getLines().collectFirst {
      case l if l.startsWith(key) => l.drop(key.length).trim.split("\\s+")(0).toDouble
    }.getOrElse(-1.0)

  /** Heap in use after a full collection, in MB: what the program still
    * holds once its operations have returned. Spark's ContextCleaner
    * drops the blocks of unreachable cached frames only after a
    * collection has found the frames, so a first collection lets it
    * act and the heap is read after a second. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
  }

  private def loadavg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ")(0).toDouble

  /** (steal jiffies of the whole machine, nanoTime): time the host gave
    * this virtual machine's CPUs to others, which no process here sees. */
  private def stealSnap(): (Long, Long) =
    (scala.io.Source.fromFile("/proc/stat").getLines().next().trim
      .split("\\s+")(8).toLong, System.nanoTime())

  private def stealCores(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1) / 100.0 / ((b._2 - a._2) / 1e9)

  def run(argv: Seq[String]): Int = {
    val a = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val wl = Workload(a.workload, a.seed)
    val load0 = loadavg()
    val snap0 = Bench.cpuSnap()

    // ---- set-up, each part timed once: a cold SparkSession start, the
    // input generation, the program's one-off work (retail_upsert's
    // initial load) and one warm-up operation. The first operation in a
    // JVM runs several times slower than later ones, so it is kept out
    // of op_s and counted here. The expected values are computed
    // between the timed parts.
    val t0 = System.nanoTime()
    val spark = session(cores, a.dir)
    val sc = spark.sparkContext
    val t1 = System.nanoTime()
    wl.prepare(spark, a.dir)
    val t2 = System.nanoTime()
    wl.expect()
    val t3 = System.nanoTime()
    wl.load()
    wl.before(0)
    wl.op(0, new Trace(sc, false))
    val t4 = System.nanoTime()
    val startS = (t1 - t0) / 1e9
    val generateS = (t2 - t1) / 1e9
    val warmupS = (t4 - t3) / 1e9
    val warmBad = wl.check(0)
    if (warmBad.nonEmpty) {
      System.err.println(s"perfbench: warm-up output wrong: ${warmBad.mkString("; ")}")
      spark.stop()
      return 1
    }
    wl.facts
    // read now: how many operations follow depends on timing
    val counters = wl.counters

    val layers = new Layers(cores)
    val wall, cpu, jit, tracedWall, settleWall, checkS = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
    val unattributedSites = mutable.LinkedHashSet.empty[String]
    var attempted = 1
    var i = 1

    /** Runs, checks and accounts operation `i`; returns its wall time,
      * CPU and JIT CPU seconds when it succeeded. */
    def operation(traced: Boolean): Option[(Double, Double, Double)] = {
      wl.before(i)
      val t = new Trace(sc, traced)
      val c0 = processCpuS()
      val j0 = jitCpuS()
      val w0 = System.nanoTime()
      val failure =
        try { wl.op(i, t); None }
        catch {
          case e: DataQualityException => Some("DataQualityException" -> e)
          case NonFatal(e) => Some("other" -> e)
        }
      val opWall = (System.nanoTime() - w0) / 1e9
      val opJit = jitCpuS() - j0
      val opCpu = processCpuS() - c0 - opJit
      val unattributed = t.finish()
      attempted += 1
      val ok = failure match {
        case Some((kind, e)) =>
          failures(kind) += 1
          System.err.println(s"perfbench: operation $i failed ($kind): $e")
          false
        case None =>
          val k0 = System.nanoTime()
          val bad = wl.check(i)
          checkS += (System.nanoTime() - k0) / 1e9
          if (bad.nonEmpty) {
            failures("wrong_output") += 1
            System.err.println(s"perfbench: operation $i output wrong: " +
              bad.mkString("; "))
          }
          bad.isEmpty
      }
      val facts = wl.facts
      if (ok && traced) {
        unattributedSites ++= unattributed.map(_.callSite)
        layers.add(t, unattributed, opWall, facts)
      }
      i += 1
      if (ok) Some((opWall, opCpu, opJit)) else None
    }

    // ---- settle: untimed operations, checked like the measured ones
    (1 to SettleOps).foreach(_ => operation(traced = false).foreach(settleWall += _._1))

    // ---- closed loop: the next operation starts when the last returns
    val snapA = Bench.cpuSnap()
    val stealA = stealSnap()
    val loadA = loadavg()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val first = i
    // a traced run needs at least one untraced and one traced operation
    val minOps = if (a.trace) 2 else 1
    while (System.nanoTime() < deadline || i - first < minOps) {
      // untraced and traced in the order U T T U U T T ..., so a drift
      // over the run cancels out of the overhead
      val traced = a.trace && ((i - first + 1) / 2) % 2 == 1
      operation(traced).foreach { case (w, c, j) =>
        if (traced) tracedWall += w
        else { wall += w; cpu += c; jit += j }
      }
    }
    val snapB = Bench.cpuSnap()
    val stealB = stealSnap()
    val failed = failures.values.sum
    val peakRssMb = procValue("/proc/self/status", "VmHWM:") / 1024
    val liveHeap = liveHeapMb()
    spark.stop()

    val setupS = startS + generateS + warmupS
    val opS = median(wall.toSeq)
    val sorted = wall.sorted
    // the highest percentile with at least ten samples beyond it
    val tail =
      if (sorted.size < 11) Map[String, Any]("value" -> null,
        "reason" -> s"${sorted.size} samples; needs 11")
      else Map[String, Any]("value" -> sorted(sorted.size - 11),
        "percentile" -> 100.0 * (sorted.size - 10) / sorted.size,
        "samples" -> sorted.size, "beyond" -> 10)
    val detail = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> cores, "session_start_s" -> startS, "generate_s" -> generateS,
      "warmup_s" -> warmupS, "settle_op_s_samples" -> settleWall.toSeq,
      "check_s_samples" -> checkS.toSeq,
      "op_s_samples" -> wall.toSeq, "op_cpu_s_samples" -> cpu.toSeq,
      "op_jit_cpu_s_samples" -> jit.toSeq,
      "traced_op_s_samples" -> tracedWall.toSeq,
      "op_tail_s" -> tail, "peak_rss_mb" -> peakRssMb,
      "failed_frac" -> failed.toDouble / attempted,
      "failures" -> failures.toMap,
      "unattributed_job_sites" -> unattributedSites.toSeq,
      "spans" -> layers.spans,
      "counters" -> counters,
      "ambient" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "loadavg_start" -> load0, "loadavg_measure_start" -> loadA,
        "loadavg_end" -> loadavg(),
        "foreign_cores_run" -> Bench.ambientCores(snap0, snapB),
        "foreign_cores_measure" -> Bench.ambientCores(snapA, snapB),
        "steal_cores_measure" -> stealCores(stealA, stealB)))
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_s", opS, "s"),
        ("op_cpu_s", median(cpu.toSeq), "s"),
        ("live_heap_mb", liveHeap, "MB"))
      else Seq(
        ("session.start_s", startS, "s"),
        ("session.warmup_s", warmupS, "s")) ++
        layers.metrics ++
        Seq(("trace.overhead_s", median(tracedWall.toSeq) - opS, "s"))
    val result = Map[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)
    println("perfbench-detail " + Json(detail))
    println(Json(result))
    if (failed == 0) 0 else 1
  }
}

/** Per-layer totals of the traced operations, reported per operation. */
final class Layers(cores: Int) {
  private val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val bySpan = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var ops = 0

  private def add(k: String, v: Double): Unit = sums(k) += v

  def add(t: Trace, unattributed: Seq[JobTally], opWall: Double,
          facts: Map[String, Double]): Unit = {
    ops += 1
    t.spans.foreach { sp =>
      bySpan(s"${sp.name}.s") += sp.seconds
      bySpan(s"${sp.name}.self_s") += t.selfSeconds(sp)
      bySpan(s"${sp.name}.jobs") += sp.jobs.size
    }
    t.spans.groupBy(_.layer).foreach { case (layer, spans) =>
      val jobs = spans.flatMap(_.jobs)
      add(s"$layer.s", spans.map(_.seconds).sum)
      add(s"$layer.self_s", spans.map(t.selfSeconds).sum)
      add(s"$layer.jobs", jobs.size)
      add(s"$layer.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9)
      add(s"$layer.input_mb", jobs.map(_.inputBytes).sum / 1e6)
      add(s"$layer.shuffle_mb", jobs.map(_.shuffleBytes).sum / 1e6)
      add(s"$layer.bytes_written_mb", jobs.map(_.outputBytes).sum / 1e6)
    }
    // the merged plan executes inside the publish: its write jobs
    if (t.spans.exists(_.layer == "merge"))
      add("merge.exec_s", t.spans.filter(_.layer == "load").flatMap(_.jobs)
        .filter(_.outputBytes > 0).map(_.wallS).sum)
    val loadBytes = t.spans.filter(_.layer == "load").flatMap(_.jobs)
      .map(_.outputBytes).sum
    facts.get("input_bytes").filter(_ > 0).foreach(b =>
      add("load.write_amp", loadBytes / b))
    facts.get("log_rows").foreach(add("control.log_rows", _))
    facts.get("files_written").foreach(add("load.files_written", _))
    Seq("pairs", "pair_precision", "recall").foreach(k =>
      facts.get(k).foreach(add(s"dedup.$k", _)))
    val all = t.allJobs
    add("engine.jobs", all.size)
    add("engine.stages", all.map(_.stages).sum)
    add("engine.tasks", all.map(_.tasks).sum)
    add("engine.task_cpu_s", all.map(_.cpuNs).sum / 1e9)
    add("engine.shuffle_mb", all.map(_.shuffleBytes).sum / 1e6)
    add("engine.spill_mb", all.map(_.spillBytes).sum / 1e6)
    add("engine.gc_s", all.map(_.gcMs).sum / 1e3)
    add("engine.task_wait_s", all.map(_.waitMs).sum / 1e3)
    add("engine.idle_core_frac",
      1.0 - all.map(_.runMs).sum / 1e3 / (opWall * cores))
    add("engine.unattributed_jobs", unattributed.size)
  }

  /** Reported name -> accumulated name, and unit. */
  private val Reported: Seq[(String, String, String)] = Seq(
    ("extract.s", "extract.s", "s"), ("extract.jobs", "extract.jobs", "count"),
    ("extract.task_cpu_s", "extract.task_cpu_s", "s"),
    ("extract.input_mb", "extract.input_mb", "MB"),
    ("gates.s", "gates.s", "s"), ("gates.jobs", "gates.jobs", "count"),
    ("clean.s", "clean.s", "s"), ("clean.task_cpu_s", "clean.task_cpu_s", "s"),
    ("clean.shuffle_mb", "clean.shuffle_mb", "MB"),
    ("model.s", "model.s", "s"), ("model.jobs", "model.jobs", "count"),
    ("model.task_cpu_s", "model.task_cpu_s", "s"),
    ("load.s", "load.s", "s"), ("load.jobs", "load.jobs", "count"),
    ("load.task_cpu_s", "load.task_cpu_s", "s"),
    ("load.bytes_written_mb", "load.bytes_written_mb", "MB"),
    ("load.files_written", "load.files_written", "count"),
    ("load.write_amp", "load.write_amp", "ratio"),
    ("merge.construct_s", "merge.s", "s"),
    ("merge.construct_jobs", "merge.jobs", "count"),
    ("merge.exec_s", "merge.exec_s", "s"),
    ("control.log_rows", "control.log_rows", "count"),
    ("control.self_s", "control.self_s", "s"),
    ("dedup.lsh_construct_s", "dedup_lsh.s", "s"),
    ("dedup.lsh_construct_jobs", "dedup_lsh.jobs", "count"),
    ("dedup.cc_construct_s", "dedup_cc.s", "s"),
    ("dedup.cc_construct_jobs", "dedup_cc.jobs", "count"),
    ("dedup.exec_s", "dedup_exec.s", "s"),
    ("dedup.pairs", "dedup.pairs", "count"),
    ("dedup.pair_precision", "dedup.pair_precision", "ratio"),
    ("dedup.recall", "dedup.recall", "ratio"),
    ("engine.jobs", "engine.jobs", "count"),
    ("engine.stages", "engine.stages", "count"),
    ("engine.tasks", "engine.tasks", "count"),
    ("engine.task_cpu_s", "engine.task_cpu_s", "s"),
    ("engine.shuffle_mb", "engine.shuffle_mb", "MB"),
    ("engine.spill_mb", "engine.spill_mb", "MB"),
    ("engine.gc_s", "engine.gc_s", "s"),
    ("engine.task_wait_s", "engine.task_wait_s", "s"),
    ("engine.idle_core_frac", "engine.idle_core_frac", "ratio"),
    ("engine.unattributed_jobs", "engine.unattributed_jobs", "count"))

  /** Time, self time and jobs per span name, per traced operation. */
  def spans: Map[String, Double] = bySpan.map { case (k, v) => k -> v / math.max(ops, 1) }.toMap

  def metrics: Seq[(String, Double, String)] = Reported.map { case (n, k, u) =>
    (n, if (ops == 0) 0.0 else sums(k) / ops, u)
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
