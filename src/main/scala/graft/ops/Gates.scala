package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.schema.Contracts

/** Data-quality gate failure — the rebuild's equivalent of the
  * reference's raise sites (etl/extract.py, etl/transform_data_modeling.py,
  * etl/load.py). */
class DataQualityException(msg: String) extends RuntimeException(msg)

/** Fail-fast validation gates. Each gate is a cheap Spark action run
  * between lazy plan segments, preserving the reference's eager-error
  * ordering (SURVEY §7.5 #5). Gates that need a full pass compute all
  * their statistics in ONE aggregation job where possible, so a gate is
  * a single stage even at 100 TB.
  */
object Gates {

  /** Schema gate: order-insensitive set equality on column names
    * (etl/extract.py:64-91). Metadata-only — no job. */
  def requireSchemaMatch(df: DataFrame, expected: Seq[String]): Unit = {
    val got = df.columns.toSet
    val want = expected.toSet
    if (got != want) {
      val missing = (want -- got).toSeq.sorted
      val extra = (got -- want).toSeq.sorted
      throw new DataQualityException(
        s"schema mismatch: missing=$missing extra=$extra")
    }
  }

  /** D1: zero fully-identical rows allowed; error carries a 5-row sample
    * (etl/extract.py:123-132). Implemented as a hash aggregate over all
    * columns — the groupBy keys are the whole row, so Catalyst plans a
    * single shuffle on the row hash; at scale this is the canonical
    * exact-dup check. */
  def fullRowDups(df: DataFrame): DataFrame = {
    val cols = df.columns.map(col)
    df.groupBy(cols: _*).agg(count(lit(1)).as("n_dup"))
      .filter(col("n_dup") > 1)
  }

  /** Gate form of D1, two-phase for scale: shuffle 8-byte row hashes
    * first (narrow shuffle, map-side combined), then exactly confirm
    * only the collided groups. At 100 TB the wide-row groupBy of
    * [[fullRowDups]] shuffles the whole dataset; this shuffles one long
    * per row. */
  def requireNoFullRowDups(df: DataFrame): Unit = {
    val cols = df.columns.map(col)
    val withH = df.withColumn("_graft_h", xxhash64(cols: _*))
    val candHashes = withH.groupBy(col("_graft_h"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select(col("_graft_h")).limit(1001).collect().map(_.getLong(0))
    if (candHashes.length > 1000)
      throw new DataQualityException(
        ">1000 candidate duplicate row groups (by content hash)")
    if (candHashes.nonEmpty) {
      val dups = fullRowDups(
        withH.filter(col("_graft_h").isin(candHashes.toSeq: _*))
          .drop("_graft_h"))
        .limit(5).collect()
      if (dups.nonEmpty)
        throw new DataQualityException(
          s"${dups.length}+ duplicate full rows, sample: ${dups.mkString("; ")}")
    }
  }

  /** Fully fused EXTRACT gate — the reference's empty-source,
    * per-column NULL-percentage (<= maxPct) and full-row-dup checks
    * (etl/extract.py:105-132): row count, every column's NULL
    * fraction, AND the duplicate-row candidate count from ONE job —
    * the groupBy on the 8-byte row hash that the dup check needs
    * anyway also carries per-column null sums (identical rows share a
    * null pattern, and partial aggregation collapses them map-side, so
    * the exchange stays ~one narrow row per distinct row). A separate
    * count/NULL-fraction aggregation plus [[requireNoFullRowDups]]
    * costs two full source scans; this costs
    * one on clean data, falling back to the exact hash-collision
    * confirm pass only when candidates exist. Raise order is the
    * contract order: empty, null-pct, dups. Returns the row count. */
  def requireSourceGates(df: DataFrame,
                         maxPct: Double = Contracts.MaxNullPct): Long = {
    val cols = df.columns
    val withH = df.withColumn("_graft_h", xxhash64(cols.map(col): _*))
    val gAggs = count(lit(1)).as("_n") +:
      cols.map(c => sum(col(c).isNull.cast("long")).as(s"_null_$c")).toSeq
    // hash-distribute BEFORE the per-row work (same single exchange
    // the groupBy needs, moved earlier) so null-pattern evaluation and
    // partial aggregation run at full parallelism even when the scan
    // has one split. Scale-neutral trade: this aggregate's partial row
    // (hash + |cols| null sums) is as wide as the data row, so the
    // map-side combine the early exchange gives up was saving nothing
    // on the expected near-zero-dup input.
    val grouped = withH.repartition(col("_graft_h"))
      .groupBy(col("_graft_h"))
      .agg(gAggs.head, gAggs.tail: _*)
    val fAggs = (coalesce(sum(col("_n")), lit(0L)).as("n") +:
      cols.map(c =>
        coalesce(sum(col(s"_null_$c")), lit(0L)).as(s"_null_$c")).toSeq) ++
      Seq(count(when(col("_n") > 1, 1)).as("_n_cand"))
    val row = grouped.agg(fAggs.head, fAggs.tail: _*).first()
    val n = row.getLong(0)
    if (n == 0) throw new DataQualityException("source is empty")
    val bad = cols.zipWithIndex.collect {
      case (c, i) if row.getLong(i + 1) * 100.0 / n > maxPct =>
        f"$c=${row.getLong(i + 1) * 100.0 / n}%.1f%%"
    }
    if (bad.nonEmpty)
      throw new DataQualityException(
        s"columns exceed $maxPct% NULLs: ${bad.mkString(", ")}")
    // dirty path only: re-derive the candidate hashes and confirm
    // exactly (a 64-bit hash WILL collide at 10^12 rows — candidates
    // are never trusted as duplicates without the exact check)
    if (row.getLong(cols.length + 1) > 0) requireNoFullRowDups(df)
    n
  }

  /** Fused PK integrity stats in ONE job: (total rows, rows with a
    * NULL pk column, duplicated pk-value groups). The separate
    * formulation costs two passes over the frame — a scan-aggregate
    * for count+null and a groupBy for dups; this derives all three
    * from the single groupBy(pk) shuffle the dup check needs anyway
    * (partial aggregation collapses unique pks map-side, so the
    * exchange carries ~one row per key either way). Callers raise in
    * their own contract order — computing the numbers together does
    * not reorder the gate failure priority. */
  def pkIntegrityStats(df: DataFrame, pk: Seq[String]): (Long, Long, Long) = {
    val nullPred = pk.map(col(_).isNull).reduce(_ || _)
    val row = df.groupBy(pk.map(col): _*).agg(count(lit(1)).as("_n"))
      .agg(coalesce(sum(col("_n")), lit(0L)).as("n"),
        coalesce(sum(when(nullPred, col("_n"))), lit(0L)).as("n_null"),
        count(when(col("_n") > 1, 1)).as("n_dup_groups"))
      .first()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** T2 gate: no NULL primary-key values
    * (transform_data_modeling.py:312-321; also post-load A5). */
  def requireNoNullPk(df: DataFrame, pk: Seq[String]): Unit = {
    val n = df.filter(pk.map(col(_).isNull).reduce(_ || _)).count()
    if (n > 0)
      throw new DataQualityException(s"$n rows with NULL in PK $pk")
  }

  /** T2 gate: no duplicate primary keys
    * (transform_data_modeling.py:326-335; also post-load D3/A4). */
  def requireNoDupPk(df: DataFrame, pk: Seq[String]): Unit = {
    val n = df.groupBy(pk.map(col): _*).count()
      .filter(col("count") > 1).count()
    if (n > 0)
      throw new DataQualityException(s"$n duplicated PK values for $pk")
  }

  /** T2 gate: modeling must preserve row count
    * (transform_data_modeling.py:340-352). */
  def requireRowCountPreserved(before: Long, after: Long): Unit =
    if (before != after)
      throw new DataQualityException(
        s"row count changed during modeling: $before -> $after")

  /** T2 gate: exact output schema = expected + derived, snake_case names
    * (transform_data_modeling.py:357-383). Metadata-only. */
  def requireContractSchema(df: DataFrame, expected: Seq[String],
                            derived: Seq[String]): Unit = {
    requireSchemaMatch(df, expected ++ derived)
    val bad = df.columns.filterNot(c =>
      Contracts.SnakeCase.pattern.matcher(c).matches())
    if (bad.nonEmpty)
      throw new DataQualityException(
        s"non-snake_case columns: ${bad.mkString(", ")}")
  }

  /** T3 gate: every state must map to a region — NULL region after the
    * lookup is a hard failure (transform_data_modeling.py:142-145). */
  def requireNoUnmappedRegion(df: DataFrame, region: String = "store_region",
                              state: String = "state"): Unit = {
    val bad = df.filter(col(region).isNull)
      .select(col(state)).distinct().limit(10).collect()
    if (bad.nonEmpty)
      throw new DataQualityException(
        s"unmapped states: ${bad.map(_.get(0)).mkString(", ")}")
  }
}
