package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Pipeline
import graft.ext.Dedup
import graft.ops.{Extract, Load, Merge}
import graft.schema.Contracts

/** One workload: a set-up that generates its inputs, and a closed loop
  * of operations, each a sequence of calls into the program's public
  * functions, whose outputs are checked against the generator. */
abstract class Workload {
  /** Generates the inputs under `dir`. */
  def prepare(spark: SparkSession, dir: Path): Unit
  /** Computes the generator's expected values for the inputs; kept out
    * of the timed set-up. */
  def expect(): Unit = ()
  /** Program work the operations need done once, before the warm-up
    * operation: retail_upsert loads the table it then updates. */
  def load(): Unit = ()
  /** Untimed input preparation for operation `i`. */
  def before(i: Int): Unit = ()
  def op(i: Int, t: Trace): Unit
  /** Mismatches between operation `i`'s output and the generator's
    * expected values; empty when the output is correct. Called once
    * after each operation that returned. */
  def check(i: Int): Seq[String]
  /** Per-operation facts read after operation `i` and its check: input
    * bytes, run/stage log lines written, files published, pairs. */
  def facts: Map[String, Double] = Map.empty
  /** Exact counters after the warm-up operation, equal on every run of
    * a seed. */
  def counters: Map[String, Double]
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "retail_upsert" => new RetailUpsert(seed)
    case "corpus_neardup" => new CorpusNearDup(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Names: Seq[String] = Seq("retail_upsert", "corpus_neardup")
}

/** Spark-side twins of the generator's expected aggregates, and the
  * file-system facts the retail workload reads. */
object Checks {
  private def crcOf(c: Column): Column = sum(crc32(c.cast("binary")))

  /** Row count, a CRC sum over the keys, and sums over three derived
    * columns of a sales_fact table; names match [[Gen.SalesState]]. */
  def salesFact(spark: SparkSession, path: Path,
                expected: Map[String, Long]): Seq[String] = {
    val cs = Seq("rows" -> count(lit(1)),
      "pk_crc" -> crcOf(col("sale_id")),
      "net_milli" -> sum(floor(col("net_amount") * 1000)),
      "discounted" -> count(when(col("is_discounted"), 1)),
      "month_crc" -> crcOf(col("order_month")))
    val row = spark.read.parquet(path.toString)
      .agg(cs.head._2, cs.tail.map(_._2): _*).first()
    cs.indices.flatMap { i =>
      val got = if (row.isNullAt(i)) 0L else row.getLong(i)
      val want = expected(cs(i)._1)
      if (got == want) None else Some(s"sales_fact.${cs(i)._1}: got $got, expected $want")
    }
  }

  /** The raw sales CSV: ids arrive as integers and the date as a
    * string; the pipeline casts them to the contract types. */
  val SalesCsv: StructType = StructType(Contracts.ExpectedColumns("sales").map {
    case c @ ("sale_id" | "customer_id" | "product_id" | "store_id" | "quantity") =>
      StructField(c, LongType)
    case c @ ("unit_price" | "discount_pct") => StructField(c, DoubleType)
    case c => StructField(c, StringType)
  })

  def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p =>
        p.getFileName.toString.startsWith("part-")).toList
      finally s.close()
    }

  /** CRC32 over the bytes of the given files: tells two seeds' inputs
    * apart in the exact counters. */
  def inputCrc(files: Seq[Path]): Double = {
    val c = new java.util.zip.CRC32
    files.foreach(f => c.update(Files.readAllBytes(f)))
    c.getValue.toDouble
  }

  def lines(p: Path): Seq[String] =
    if (Files.exists(p)) Files.readAllLines(p, UTF_8).asScala.toSeq else Nil
}

/** Pipeline's stage log, read back to give Pipeline.run child spans. */
object StageLog {
  private val Layer = Map("EXTRACT" -> "gates", "TRANSFORM_P1" -> "clean",
    "TRANSFORM_P2" -> "model", "LOAD_DATE_DIM" -> "load", "LOAD" -> "load")
  private val Line = (""""stage_name":"([^"]*)","status":"SUCCESS".*""" +
    """"start_time":"([^"]*)","end_time":"([^"]*)"""").r.unanchored

  private def stages(logs: Path) = Checks.lines(logs.resolve("etl_stage_log.jsonl"))

  /** Run and stage log lines written so far. */
  def lineCount(logs: Path): Long =
    (Checks.lines(logs.resolve("etl_run_log.jsonl")).size + stages(logs).size).toLong

  def stageLines(logs: Path): Int = stages(logs).size

  /** (stage, layer, start, end) of the stages logged after line `mark`. */
  def windowsSince(logs: Path, mark: Int): Seq[(String, String, Instant, Instant)] =
    stages(logs).drop(mark).collect {
      case Line(stage, a, b) => (stage, Layer.getOrElse(stage, stage.toLowerCase),
        Instant.parse(a), Instant.parse(b))
    }
}

/** Small-batch upserts into a published sales_fact. Each operation
  * extracts one change batch, runs it through the sales pipeline into a
  * staging warehouse (its gates, clean, model, load and run/stage log),
  * merges the staged rows into the table the previous operation
  * published, and publishes the result. */
final class RetailUpsert(seed: Long) extends Workload {
  import RetailUpsert._
  private val pk = Contracts.PrimaryKeys("sales")
  private var spark: SparkSession = _
  private var dir: Path = _
  private var logs: Path = _
  private var base: Seq[Gen.Sale] = Nil
  private val sales = new Gen.SalesState
  private var batch: Gen.ChangeBatch = _
  private var rowsAfter, logMark, logRows = 0L
  private var stageMark = 0
  private def published = dir.resolve("warehouse")
  private def staging = dir.resolve("staging")

  def prepare(s: SparkSession, d: Path): Unit = {
    spark = s
    dir = d
    logs = d.resolve("logs")
    base = Gen.writeSales(seed, Size, d.resolve("in").resolve("sales.csv"))
  }

  override def expect(): Unit = base.foreach(sales.put)

  /** Loads the base sales into the published warehouse with the pipeline. */
  override def load(): Unit = {
    new Pipeline(spark, published.toString, logs.toString, Gen.asOfTimestamp)
      .run("sales", extract(new Trace(spark.sparkContext, false),
        dir.resolve("in").resolve("sales.csv")))
    markLogs()
  }

  private def markLogs(): Unit = {
    logMark = StageLog.lineCount(logs)
    stageMark = StageLog.stageLines(logs)
  }

  override def before(i: Int): Unit = {
    batch = Gen.changeBatch(seed, i, sales, Size, BatchRows,
      dir.resolve("batches").resolve(s"batch-$i.csv"))
    rowsAfter = batch.rowsAfter
  }

  private def extract(t: Trace, csv: Path) =
    t.span("Extract.extractCsv", "extract") {
      Extract.extractCsv(spark, csv.toString, Checks.SalesCsv,
        Contracts.ExpectedColumns("sales"))._1
    }

  def op(i: Int, t: Trace): Unit = {
    val src = extract(t, batch.path)
    t.span("Pipeline.run", "control") {
      new Pipeline(spark, staging.toString, logs.toString, Gen.asOfTimestamp)
        .run("sales", src)
    }
    t.windows(StageLog.windowsSince(logs, stageMark))
    val fact = published.resolve("sales_fact").toString
    val merged = t.span("Merge.mergeUpsert", "merge") {
      Merge.mergeUpsert(spark.read.parquet(fact),
        spark.read.parquet(staging.resolve("sales_fact").toString), pk)
    }
    t.span("Load.writeAuditPublish", "load") {
      Load.writeAuditPublish(spark, merged, fact, pk, rowsAfter)
    }
  }

  def check(i: Int): Seq[String] = {
    batch.commit()
    Checks.salesFact(spark, published.resolve("sales_fact"), sales.expected)
  }

  override def facts: Map[String, Double] = {
    val prev = logMark
    markLogs()
    logRows = logMark - prev
    Map("input_bytes" -> batch.bytes.toDouble, "log_rows" -> logRows.toDouble,
      "files_written" -> Checks.partFiles(published.resolve("sales_fact")).size.toDouble)
  }

  def counters: Map[String, Double] = Map(
    "rows.sales_fact" -> sales.expected("rows").toDouble,
    "warehouse_bytes" -> Checks.partFiles(published.resolve("sales_fact"))
      .map(Files.size(_)).sum.toDouble,
    "control.log_rows" -> logRows.toDouble,
    "input_crc" -> Checks.inputCrc(Seq(dir.resolve("in").resolve("sales.csv"))))
}

object RetailUpsert {
  val Size: Gen.RetailSize = Gen.RetailSize(sales = 40000, customers = 2000,
    products = 2000, stores = 2000)
  val BatchRows = 1000
}

/** Near-duplicate detection over a generated corpus: minhash LSH pairs,
  * connected components, keep one document per cluster by source
  * priority, and consume the result with a full-row write.
  *
  * The pairs are checked by their properties, so that a change to the
  * program's hashing or banding passes as long as it still finds the
  * planted duplicates, and its recall shows in `dedup.recall`; the
  * components and keepers are checked exactly against those the
  * emitted pairs imply. */
final class CorpusNearDup(seed: Long) extends Workload {
  import CorpusNearDup._
  private var spark: SparkSession = _
  private var corpus: Gen.Corpus = _
  private var path: Path = _
  private var last: (DataFrame, DataFrame, DataFrame) = _
  private var inputBytes = 0L
  private var strong: Set[(Long, Long)] = Set.empty
  /** Pairs and component count of the last checked operation. */
  private var gotPairs: Map[(Long, Long), Double] = Map.empty
  private var gotComponents = 0

  def prepare(s: SparkSession, dir: Path): Unit = {
    spark = s
    corpus = new Gen.Corpus(seed, Docs, Words, copyShare = 0.1, editShare = 0.05)
    path = dir.resolve("in").resolve("docs.csv")
    inputBytes = corpus.write(path)
  }

  override def expect(): Unit =
    strong = corpus.planted.filter { case (a, b) => corpus.jaccard(a, b) >= StrongJaccard }

  def op(i: Int, t: Trace): Unit = {
    val docs = spark.read.option("header", "true")
      .schema("doc_id LONG, source STRING, text STRING").csv(path.toString)
    val priorities = spark.createDataFrame(Gen.Sources).toDF("source", "priority")
    val pairs = t.span("Dedup.minhashLshPairs", "dedup_lsh") {
      Dedup.minhashLshPairs(docs, "doc_id", "text", Gen.ShingleN, Gen.MinhashK,
        Gen.Bands, Gen.Threshold)
    }
    val comps = t.span("Dedup.connectedComponents", "dedup_cc") {
      Dedup.connectedComponents(docs.select("doc_id"), pairs)
    }
    val keep = t.span("Dedup.keepByPriority", "dedup_keep") {
      Dedup.keepByPriority(comps, docs.select("doc_id", "source"), priorities)
    }
    t.span("write noop", "dedup_exec") {
      keep.write.format("noop").mode("overwrite").save()
    }
    last = (pairs, comps, keep)
  }

  def check(i: Int): Seq[String] = {
    val (pairs, comps, keep) = last
    val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    val got = rows.toMap
    val gotComps = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotKeep = keep.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2), r.getInt(3), r.getLong(4))).toSet
    gotPairs = got
    gotComponents = gotComps.values.toSet.size
    def known(id: Long) = id >= 1 && id <= corpus.ids.size
    val malformed = got.filterNot { case ((a, b), est) =>
      a < b && known(a) && known(b) && est >= Gen.Threshold && est <= 1.0 }
    if (rows.length != got.size || malformed.nonEmpty)
      return Seq(s"pairs: ${rows.length - got.size} emitted twice, " +
        s"${malformed.size} not (a < b, known ids, threshold <= estimate <= 1), " +
        s"e.g. ${malformed.take(3)}")
    val unrelated = got.keys.filter { case (a, b) => corpus.jaccard(a, b) < MinPairJaccard }
    val strongFound = strong.count(got.contains)
    def diff[A](what: String, g: Set[A], w: Set[A]): Seq[String] =
      if (g == w) Nil
      else Seq(s"$what: ${(g -- w).size} unexpected, ${(w -- g).size} missing " +
        s"(e.g. ${(g -- w).take(3)} / ${(w -- g).take(3)})")
    val wantComps = corpus.components(got.keys)
    (if (unrelated.isEmpty) Nil
     else Seq(s"pairs: ${unrelated.size} with shingle Jaccard below " +
       s"$MinPairJaccard, e.g. ${unrelated.take(3)}")) ++
      (if (strongFound >= MinStrongRecall * strong.size) Nil
       else Seq(s"pairs: found $strongFound of ${strong.size} planted pairs " +
         s"with shingle Jaccard >= $StrongJaccard, below $MinStrongRecall")) ++
      diff("components", gotComps.toSet, wantComps.toSet) ++
      diff("keepers", gotKeep, corpus.keepers(wantComps))
  }

  private def plantedFound = corpus.planted.count(gotPairs.contains)

  override def facts: Map[String, Double] = Map(
    "input_bytes" -> inputBytes.toDouble, "pairs" -> gotPairs.size.toDouble,
    "pair_precision" -> plantedFound.toDouble / math.max(1, gotPairs.size),
    "recall" -> plantedFound.toDouble / math.max(1, corpus.planted.size))

  def counters: Map[String, Double] = Map(
    "input_crc" -> Checks.inputCrc(Seq(path)),
    "pairs" -> gotPairs.size.toDouble,
    "components" -> gotComponents.toDouble,
    "planted_pairs" -> corpus.planted.size.toDouble,
    "planted_found" -> plantedFound.toDouble,
    "strong_planted_pairs" -> strong.size.toDouble,
    "strong_planted_found" -> strong.count(gotPairs.contains).toDouble)
}

object CorpusNearDup {
  val Docs = 6000
  val Words = 80
  /** Documents outside the planted clusters share almost no shingles:
    * an emitted pair below this exact Jaccard is not a near-duplicate. */
  val MinPairJaccard = 0.25
  /** Planted pairs at or above this exact Jaccard are found with
    * probability 0.89 or more by 8 bands of 4 rows; the check asks for
    * at least MinStrongRecall of them. */
  val StrongJaccard = 0.7
  val MinStrongRecall = 0.85
}
