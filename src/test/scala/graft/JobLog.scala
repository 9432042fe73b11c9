package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block starts, in start order. Jobs are recorded by
  * job group, so suites running concurrently in the same session do
  * not count each other's jobs; the listener bus is drained before the
  * record is read. */
object JobLog {

  /** One started job: its call site — the user code line whose action
    * started it (e.g. `first at Gates.scala:170`), taken from the SQL
    * execution the job runs in, since adaptive execution submits a
    * query's stages from its own threads — and the names of the stages
    * it covers. */
  final case class Job(site: String, stageNames: Seq[String])

  def during[A](spark: SparkSession)(f: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val gid = s"joblog-${java.util.UUID.randomUUID()}"
    // (job id, SQL execution id if any, final stage name, stage names)
    val jobs = new ConcurrentLinkedQueue[(Int, Option[Long], String, Seq[String])]
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
          gid == js.properties.getProperty("spark.jobGroup.id")) {
          val stages = js.stageInfos.sortBy(_.stageId)
          val exec = Option(js.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
            .map(_.toLong)
          jobs.add((js.jobId, exec, stages.last.name, stages.map(_.name)))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId, s.description)
        case _ =>
      }
    }
    sc.addSparkListener(l)
    // no job description: an execution's description is then its call site
    sc.setJobGroup(gid, null)
    try {
      val r = f
      ListenerBusDrain(sc)
      (r, jobs.asScala.toSeq.sortBy(_._1).map { case (_, exec, last, names) =>
        Job(exec.flatMap(x => Option(execSites.get(x))).getOrElse(last), names)
      })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
