package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Extract
import graft.registry.RetailQueries
import graft.schema.Contracts

/** The CSV front door end to end on in-repo data: sf0.001's four retail
  * frames are written to CSV, then each goes through
  * `Extract.extractCsv` -> `Pipeline.run` in load order. The published
  * warehouse must hold the same rows, by count and primary-key set, as
  * the same pipeline run over the in-memory frames, and `date_dim` must
  * span the fact's sale dates. */
class RetailCsvE2ESpec extends SparkSpec {

  private def frame(table: String): DataFrame = table match {
    case "customers" => RetailQueries.customers(spark, sf0001)
    case "products" => RetailQueries.products(spark, sf0001)
    case "stores" => RetailQueries.stores(spark, sf0001)
    case "sales" => RetailQueries.sales(spark, sf0001)
  }

  // a fixed keep-first order, so both runs keep the same duplicate
  private def dedupOrder(table: String) =
    if (table == "sales") Some(Seq(col("sale_date"), col("customer_id"),
      col("product_id"), col("store_id"), col("quantity"),
      col("unit_price"), col("discount_pct")))
    else None

  private val targets = Map("customers" -> "customers_dim",
    "products" -> "products_dim", "stores" -> "stores_dim",
    "sales" -> "sales_fact")

  /** One headered CSV file holding `df`'s rows. */
  private def writeCsv(df: DataFrame, dir: Path, table: String): String = {
    val parts = dir.resolve(s"${table}_parts")
    df.coalesce(1).write.option("header", "true").csv(parts.toString)
    val part = Files.list(parts).iterator.asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.move(part, dir.resolve(s"$table.csv")).toString
  }

  /** Runs the four pipelines over `source(table)`; returns the warehouse. */
  private def publish(source: String => DataFrame): String = {
    val wh = Files.createTempDirectory("csv_e2e_wh").toString
    val logs = Files.createTempDirectory("csv_e2e_logs").toString
    val p = new Pipeline(spark, wh, logs, RetailQueries.AsOf,
      metros = RetailQueries.MetroNations,
      regionMap = RetailQueries.NationRegionMap)
    Pipeline.LoadOrder.foreach(t => p.run(t, source(t), dedupOrder(t)))
    wh
  }

  private def pkSet(wh: String, table: String): Set[Row] =
    spark.read.parquet(s"$wh/${targets(table)}")
      .select(Contracts.PrimaryKeys(table).map(col): _*).collect().toSet

  test("extractCsv -> Pipeline publishes the warehouse of the in-memory frames") {
    val csvDir = Files.createTempDirectory("csv_e2e_src")
    val files = Pipeline.LoadOrder.map(t => t -> writeCsv(frame(t), csvDir, t)).toMap
    val viaCsv = publish { t =>
      val (df, n) = Extract.extractCsv(spark, files(t), frame(t).schema,
        Contracts.ExpectedColumns(t))
      assert(n == frame(t).count(), s"$t source count")
      df
    }
    val inMemory = publish(frame)

    Pipeline.LoadOrder.foreach { t =>
      val got = pkSet(viaCsv, t)
      assert(got.nonEmpty, s"$t published no rows")
      assert(spark.read.parquet(s"$viaCsv/${targets(t)}").count() ==
        spark.read.parquet(s"$inMemory/${targets(t)}").count(), s"$t row count")
      assert(got == pkSet(inMemory, t), s"$t primary keys")
    }

    // date_dim holds exactly one row per day from the first to the last
    // sale date
    val sd = spark.read.parquet(s"$viaCsv/sales_fact")
      .agg(min(col("sale_date").cast("date")), max(col("sale_date").cast("date")))
      .first()
    val (lo, hi) = (sd.getDate(0).toLocalDate, sd.getDate(1).toLocalDate)
    val dd = spark.read.parquet(s"$viaCsv/date_dim")
      .agg(count(lit(1)), countDistinct(col("date")), min(col("date")), max(col("date")))
      .first()
    val days = hi.toEpochDay - lo.toEpochDay + 1
    assert(dd.getLong(0) == days && dd.getLong(1) == days)
    assert(dd.getDate(2).toLocalDate == lo && dd.getDate(3).toLocalDate == hi)
  }
}
