package graft.perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task totals of one Spark job. Written only on the listener thread;
  * read after [[Trace.finish]] has drained the listener bus. */
final class JobTally(val jobId: Int, val group: String, val startMs: Long,
                     val callSite: String) {
  var endMs: Long = startMs
  var stages, tasks = 0L
  var cpuNs, runMs, gcMs, waitMs = 0L
  var inputBytes, outputBytes, shuffleBytes, spillBytes = 0L
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Attributes every job, and its stages and tasks, to the job group it
  * was submitted under. */
final class EngineListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobTally]
  private val stageJob = mutable.HashMap.empty[Int, JobTally]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val t = new JobTally(e.jobId, group, e.time,
      e.stageInfos.lastOption.fold("")(_.name))
    jobs(e.jobId) = t
    e.stageIds.foreach(stageJob(_) = t)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(stageSubmitMs(e.stageInfo.stageId) = _)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      stageSubmitMs.get(e.stageId).foreach(s =>
        j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** A timed region around one call into the program. `layer` names the
  * module the time is charged to. */
final class Span(val id: Int, val name: String, val layer: String,
                 val parent: Int, val startUs: Long) {
  var endUs: Long = startUs
  val jobs = mutable.ArrayBuffer.empty[JobTally]
  def seconds: Double = (endUs - startUs) / 1e6
}

/** Spans of one operation. Disabled, it only runs the bodies, so the
  * untraced runs carry no tracing cost. Enabled, it registers an
  * [[EngineListener]] for the operation and gives each span its own
  * Spark job group, so jobs are attributed to the innermost open span
  * exactly, not by time. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var lastClosed: Span = _
  private val listener = new EngineListener
  if (enabled) sc.addSparkListener(listener)

  private def nowUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private def group(s: Span) = s"perfbench-${s.id}"

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, layer,
        open.headOption.fold(-1)(_.id), nowUs())
      spans += s
      open = s :: open
      sc.setJobGroup(group(s), name)
      try body
      finally {
        s.endUs = nowUs()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name)
          case None => sc.clearJobGroup()
        }
        lastClosed = s
      }
    }

  /** Adds child spans, known only after the call returned, to the span
    * that closed last: the stage windows Pipeline.run logs. Jobs of
    * that span move to the window their start time falls in. `ws` is
    * evaluated only when tracing is on. */
  def windows(ws: => Seq[(String, String, Instant, Instant)]): Unit =
    if (enabled) {
      val p = lastClosed
      ws.foreach { case (name, layer, a, b) =>
        val s = new Span(spans.size, name, layer, p.id,
          a.getEpochSecond * 1000000L + a.getNano / 1000)
        s.endUs = b.getEpochSecond * 1000000L + b.getNano / 1000
        spans += s
      }
    }

  /** Drains the listener bus, unregisters the listener and attributes
    * every job of the operation to its span. Returns the jobs that ran
    * under no span's group. */
  def finish(): Seq[JobTally] =
    if (!enabled) Nil
    else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      val byGroup = spans.map(s => group(s) -> s).toMap
      val unattributed = mutable.ArrayBuffer.empty[JobTally]
      listener.jobs.valuesIterator.foreach { j =>
        byGroup.get(j.group) match {
          case None => unattributed += j
          case Some(s) =>
            // a window child whose interval holds the job's start
            // (ms-rounded) takes it from its parent
            val w = spans.filter(c => c.parent == s.id &&
              c.startUs / 1000 - 1 <= j.startMs && j.startMs <= c.endUs / 1000 + 1)
            w.lastOption.getOrElse(s).jobs += j
        }
      }
      unattributed.toSeq
    }

  def allJobs: Iterable[JobTally] = listener.jobs.values

  /** Span duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startUs, c.endUs))
      .sortBy(_._1)
    var covered = 0L
    var reach = s.startUs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      val hi = math.min(b, s.endUs)
      if (hi > lo) covered += hi - lo
      reach = math.max(reach, b)
    }
    (s.endUs - s.startUs - covered) / 1e6
  }
}
