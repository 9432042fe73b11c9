package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Extract, Gates, Load, Merge}

/** Job budget of the retail load path. On small batches each Spark job
  * costs more than the check it runs, so the path's gates are pinned
  * to the fewest jobs that still run every check: the load's read-back
  * infers no schema from parquet footers, the publish of a merged
  * (broadcast) plan runs nothing before its write, the extract gates
  * cost no more than the one fused source gate, and the merge's
  * duplicate-key and broadcast probes cost no more than one PK
  * integrity aggregation. */
class RetailJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def facts(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("pk", "payload", "amount")

  private def sites(jobs: Seq[JobLog.Job]): Seq[String] = jobs.map(_.site)

  /** Call sites of jobs that read parquet footers from inside Load.scala
    * (schema inference on `spark.read.parquet(path)`): such a job runs
    * outside the write, whose own call site is `writeSite`. */
  private def footerReads(jobs: Seq[JobLog.Job], writeSite: String): Seq[String] =
    sites(jobs).filter(s => s.startsWith("parquet at Load.scala") && s != writeSite)

  /** The call site of the write in [[Load.fullRefresh]]. */
  private lazy val writeSite: String = {
    val (_, jobs) = JobLog.during(spark)(
      Load.fullRefresh(facts(10), tmp("budget_site") + "/t", 10L))
    val s = sites(jobs).distinct
    assert(s.size == 1 && s.head.startsWith("parquet at Load.scala"), s)
    s.head
  }

  test("validateLoaded reads the table back without a footer-reading job") {
    val df = facts(500)
    val path = tmp("budget_validate") + "/t"
    Load.fullRefresh(df, path, 500L)
    val (_, jobs) = JobLog.during(spark)(
      Load.validateLoaded(spark, path, df.schema, Seq("pk"), 500L))
    assert(jobs.nonEmpty)
    assert(sites(jobs).forall(_.contains("Gates.scala")), sites(jobs))
    assert(footerReads(jobs, writeSite).isEmpty, sites(jobs))
  }

  test("writeAuditPublish of a broadcast merge plan: no job before its write, no footer read") {
    val dir = tmp("budget_wap")
    val fact = s"$dir/fact"
    Load.fullRefresh(facts(2000), fact, 2000L)
    val updates = s"$dir/updates"
    Load.fullRefresh(
      (1900 to 2100).map(i => (i.toLong, s"new$i", i * 1.5)).toDF("pk", "payload", "amount"),
      updates, 201L)
    val merged = Merge.mergeUpsert(spark.read.parquet(fact),
      spark.read.parquet(updates), Seq("pk"))
    assert(merged.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.nonEmpty, "expected the small update set to broadcast")
    val (_, jobs) = JobLog.during(spark)(
      Load.writeAuditPublish(spark, merged, fact, Seq("pk"), 2100L))
    // the write runs first (its broadcast included), then validation
    val (write, rest) = sites(jobs).span(_ == writeSite)
    assert(write.nonEmpty, sites(jobs))
    assert(rest.nonEmpty && rest.forall(_.contains("Gates.scala")), sites(jobs))
    assert(footerReads(jobs, writeSite).isEmpty, sites(jobs))
    assert(spark.read.parquet(fact).count() == 2100)
  }

  test("extractCsv on a clean CSV runs no more jobs than the fused source gate") {
    val dir = tmp("budget_extract")
    val path = s"$dir/clean.csv"
    Files.write(java.nio.file.Paths.get(path),
      ("pk,payload,amount\n" + (1 to 2000).map(i => s"$i,row$i,${i * 0.5}")
        .mkString("\n")).getBytes("UTF-8"))
    val schema = facts(1).schema
    val cols = schema.fieldNames.toSeq
    val ((_, n), extract) = JobLog.during(spark)(
      Extract.extractCsv(spark, path, schema, cols))
    assert(n == 2000)
    val (_, gate) = JobLog.during(spark)(
      Gates.requireSourceGates(Extract.readCsv(spark, path, schema)))
    assert(extract.nonEmpty && extract.size <= gate.size,
      s"extractCsv ${sites(extract)} vs requireSourceGates ${sites(gate)}")
  }

  test("mergeUpsert(checkDuplicates = true) probes with no more jobs than one pkIntegrityStats") {
    val base = facts(3000)
    val updates = (2900 to 3100).map(i => (i.toLong, s"u$i", 1.0))
      .toDF("pk", "payload", "amount")
    val (merged, merge) = JobLog.during(spark)(
      Merge.mergeUpsert(base, updates, Seq("pk"), checkDuplicates = true))
    val (_, stats) = JobLog.during(spark)(Gates.pkIntegrityStats(updates, Seq("pk")))
    assert(merge.nonEmpty && merge.size <= stats.size,
      s"mergeUpsert ${sites(merge)} vs pkIntegrityStats ${sites(stats)}")
    assert(merged.count() == 3100)
    assert(merged.filter(col("pk") === 3000L).select("payload").as[String]
      .collect().toSeq == Seq("u3000"))
  }
}
