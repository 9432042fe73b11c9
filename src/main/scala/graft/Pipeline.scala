package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.ControlPlane
import graft.control.ControlPlane.{LogSink, RunLog, StageLog}
import graft.ops.{Clean, DataQualityException, Gates, Load, Model}
import graft.schema.Contracts

/** End-to-end pipeline orchestration (runner/pipeline_runner.py
  * re-expressed): EXTRACT gates -> T1 clean -> T2 model (+date_dim for
  * sales) -> LOAD with post-load validation, with run/stage logging and
  * per-stage row accounting.
  *
  * Stage boundaries are the only forced actions; each stage output is
  * cached before its count so row accounting does not recompute the
  * lineage (SURVEY §3.1).
  */
class Pipeline(spark: SparkSession, warehouseDir: String, logDir: String,
               asOf: Timestamp,
               metros: Seq[String] = Contracts.MetroCities,
               regionMap: Map[String, String] = Contracts.StateRegionMap) {

  private val sink = new LogSink(logDir)

  /** Run one named pipeline over an already-extracted source frame.
    * `source` must carry the contract columns for `table`
    * (sales/customers/products/stores). `dedupOrder` optionally fixes
    * the keep-first order (default: file order). Returns the loaded
    * path. */
  def run(table: String, source: DataFrame,
          dedupOrder: Option[Seq[org.apache.spark.sql.Column]] = None)
      : String = {
    val runId = sink.newRunId()
    val pipelineName = s"${table}_pipeline"
    val t0 = sink.now()
    sink.logRun(RunLog(runId, pipelineName, "STARTED", t0, null, null))
    // caches are tracked here and released in the finally below, so a
    // gate failure cannot leak cached frames into a long-lived session
    var cachedClean: DataFrame = null
    var cachedModel: DataFrame = null
    try {
      val pk = Contracts.PrimaryKeys(table)
      val expected = Contracts.ExpectedColumns(table)

      // EXTRACT gates: schema (metadata-only) + ONE fused job for
      // count, null fractions and dup candidates; the exact dup
      // confirm re-scans only when candidates exist (dirty path).
      val (extracted, nIn) = stage(runId, "EXTRACT", -1) {
        Gates.requireSchemaMatch(source, expected)
        (source, Gates.requireSourceGates(source))
      }

      // TRANSFORM_P1 — clean
      val (cleaned, nClean) = stage(runId, "TRANSFORM_P1", nIn) {
        val c = Clean.clean(extracted, pk, Contracts.StringDefaults(table),
          Contracts.NumericDefaults(table), Contracts.DeclaredTypes(table),
          dedupOrder).cache()
        cachedClean = c
        (c, c.count())
      }

      // TRANSFORM_P2 — model + integrity gate
      val (modeled, nModeled) = stage(runId, "TRANSFORM_P2", nClean) {
        val m = (table match {
          case "customers" => Model.customersDim(cleaned, asOf)
          case "products" => Model.productsDim(cleaned)
          case "stores" => Model.storesDim(cleaned, metros, regionMap)
          case "sales" => Model.salesFact(cleaned)
        }).cache()
        cachedModel = m
        // fused: row count + NULL-PK count + dup-PK groups in ONE job
        // (one groupBy(pk) shuffle instead of a scan-agg plus a second
        // groupBy); failures still raise in the reference's gate order
        val (n, nNullPk, nDupPk) = Gates.pkIntegrityStats(m, pk)
        Gates.requireRowCountPreserved(nClean, n)
        Gates.requireContractSchema(m, Contracts.ExpectedColumns(table),
          Contracts.DerivedColumns(table))
        if (nNullPk > 0)
          throw new DataQualityException(
            s"$nNullPk rows with NULL in PK $pk")
        if (nDupPk > 0)
          throw new DataQualityException(
            s"$nDupPk duplicated PK values for $pk")
        if (table == "stores") Gates.requireNoUnmappedRegion(m)
        (m, n)
      }

      // sales also derives + loads date_dim (runner/pipeline_runner.py:248-294)
      if (table == "sales") {
        stage(runId, "LOAD_DATE_DIM", -1) {
          val mm = modeled.agg(
            min(col("sale_date").cast("date")),
            max(col("sale_date").cast("date"))).first()
          val (lo, hi) = (mm.getDate(0), mm.getDate(1))
          val dd = Model.dateDim(spark, lo, hi)
          // one row per day of sequence(lo, hi) (none when the fact has
          // no dates): the count is known without a job
          val nDays = if (lo == null) 0L
            else hi.toLocalDate.toEpochDay - lo.toLocalDate.toEpochDay + 1
          Load.fullRefresh(dd, s"$warehouseDir/date_dim", nDays)
          (dd, nDays)
        }
      }

      // LOAD + post-load validation
      val target = targetTable(table)
      stage(runId, "LOAD", nModeled) {
        Load.fullRefresh(modeled, s"$warehouseDir/$target", nModeled)
        Load.validateLoaded(spark, s"$warehouseDir/$target", modeled.schema,
          pk, nModeled)
        (modeled, nModeled)
      }

      sink.logRun(RunLog(runId, pipelineName, "SUCCESS", t0, sink.now(), null))
      s"$warehouseDir/$target"
    } catch {
      case e: Throwable =>
        sink.logRun(RunLog(runId, pipelineName, "FAILED", t0, sink.now(),
          e.getMessage))
        throw e
    } finally {
      if (cachedClean != null) cachedClean.unpersist()
      if (cachedModel != null) cachedModel.unpersist()
    }
  }

  private def targetTable(table: String): String = table match {
    case "sales" => "sales_fact"
    case other => s"${other}_dim"
  }

  private def stage[A](runId: String, name: String, rowsIn: Long)
                      (body: => (DataFrame, Long)): (DataFrame, Long) = {
    val t0 = sink.now()
    sink.logStage(StageLog(runId, name, "STARTED", rowsIn, -1, t0, null, null))
    try {
      val (df, n) = body
      sink.logStage(StageLog(runId, name, "SUCCESS", rowsIn, n, t0,
        sink.now(), null))
      (df, n)
    } catch {
      case e: Throwable =>
        sink.logStage(StageLog(runId, name, "FAILED", rowsIn, -1, t0,
          sink.now(), e.getMessage))
        throw e
    }
  }
}

object Pipeline {
  /** Load order for the full warehouse refresh
    * (ControlPlane.pipelineTableMap: dims first, date_dim before
    * sales_fact). */
  val LoadOrder: Seq[String] = Seq("customers", "products", "stores", "sales")
}
