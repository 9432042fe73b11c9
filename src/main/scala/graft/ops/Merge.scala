package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse maintenance operators the reference's full-refresh-only
  * loader cannot express (etl/load.py rewrites whole tables): keyed
  * MERGE (upsert + delete) and slowly-changing-dimension history.
  * Both are pure declarative plans over immutable inputs — the
  * copy-on-write shape every lakehouse table format executes.
  */
object Merge {

  /** MERGE INTO semantics over immutable storage: the result contains
    * every update row (latest wins over base) plus every base row
    * without a matching update — optionally minus rows the update set
    * flags for deletion (`deleteFlag` column, true = remove; the flag
    * column itself is not part of the output).
    *
    * Shape: ONE anti-join of base against the update keys plus a
    * union. With updates << base (the overwhelmingly common case) the
    * update row count confirms the update set is small and the
    * anti-join broadcasts the update keys — the base never shuffles,
    * the copy-on-write MERGE plan. Above `broadcastKeyRowLimit` rows NO
    * hint is applied and the planner/AQE picks the join — a huge
    * update set degrades gracefully to a shuffled anti-join instead of
    * being force-collected onto the driver, never to a full-table
    * window or driver loop.
    *
    * Update keys must be unique or "latest wins" is ambiguous;
    * `checkDuplicates` enforces it with ONE eager probe,
    * [[Gates.pkIntegrityStats]] (one shuffle of the update set): its
    * duplicate-group count feeds the uniqueness check and its row
    * count decides the broadcast. Callers that guarantee uniqueness by
    * construction (Update-mode streaming aggregation output) pass
    * false; they pay only a bounded row probe (`limit(N+1).count()`,
    * an early-stopping narrow job) for the broadcast decision. */
  def mergeUpsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
                  deleteFlag: Option[String] = None,
                  checkDuplicates: Boolean = true,
                  broadcastKeyRowLimit: Int = 4000000): DataFrame = {
    val outCols = base.columns.filterNot(deleteFlag.contains)
    require(outCols.forall(updates.columns.contains),
      s"updates must carry every base column; missing " +
        s"${outCols.filterNot(updates.columns.contains).toSeq}")
    val updKeys = updates.select(keys.map(col): _*)
    val nUpdates =
      if (checkDuplicates) {
        val (n, _, dupKeys) = Gates.pkIntegrityStats(updates, keys)
        require(dupKeys == 0,
          s"update set has duplicate keys $keys — latest-wins is ambiguous; " +
            "dedupKeepFirst the updates on a version order first")
        n
      } else updKeys.limit(broadcastKeyRowLimit + 1).count()
    val smallEnough = nUpdates <= broadcastKeyRowLimit.toLong
    val probed = if (smallEnough) broadcast(updKeys) else updKeys
    val kept = base.join(probed, keys, "left_anti")
      .select(outCols.map(col): _*)
    val applied = deleteFlag match {
      case Some(f) => updates.filter(!coalesce(col(f), lit(false)))
      case None => updates
    }
    kept.unionByName(applied.select(outCols.map(col): _*))
  }

  /** Slowly-changing-dimension TYPE 2 history from a change log:
    * `changes` carries (key, tracked attributes, change order). Each
    * surviving version gets `valid_from` (its own order value),
    * `valid_to` (the NEXT version's, NULL while current),
    * `is_current`, and a 1-based `version` per key. Consecutive
    * versions whose tracked attributes are identical are collapsed to
    * the FIRST (a change log replaying unchanged rows must not open
    * new validity intervals).
    *
    * `orderCol` must be a total order within each key (enforce with a
    * tiebreak column when the natural timestamp can tie) — otherwise
    * no engine can replay which of two same-instant versions
    * preceded the other.
    *
    * Shape: windows partitioned by the dimension key — state per key
    * is its version count, the shuffle is the one hash exchange on
    * the key, and nothing is globally sorted. The per-key sort is the
    * inherent cost of history reconstruction; at 100 TB the keyspace
    * distributes and each partition sorts only its keys' versions. */
  /** Per-group algebraic aggregate STATE over a value column: count,
    * exact micro-unit sum (floor-quantized BIGINT — order-proof and
    * mergeable where a double sum is neither), min, max. The state a
    * maintained rollup persists per partition/day. */
  def aggState(df: DataFrame, keys: Seq[String], value: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(floor(value * 1000000).cast("long")).as("sum_micro"),
        min(value).as("vmin"), max(value).as("vmax"))

  /** Incremental aggregate maintenance: fold any number of
    * [[aggState]] frames (the standing rollup + the new batch's state)
    * into one WITHOUT rescanning the data that produced them — the
    * pre-aggregation contract that makes a 100 TB rollup affordable:
    * the nightly job aggregates only the new partition
    * (corpus x batch, not corpus x corpus) and merges states, because
    * every state column is algebraic (counts and integer sums add,
    * min/max fold). The merge itself touches rows = groups, metadata
    * scale.
    *
    * The correctness contract — merge(states) == aggState(full data) —
    * is exactly what the oracle row hash-checks: the SQL twin
    * aggregates the full table directly. */
  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeAggStates needs at least one state")
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_micro")).as("sum_micro"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
  }

  def scd2(changes: DataFrame, key: Seq[String], tracked: Seq[String],
           orderCol: Column): DataFrame = {
    val byKey = Window.partitionBy(key.map(col): _*).orderBy(orderCol)
    val attrs = struct(tracked.map(col): _*)
    val deduped = changes
      .withColumn("_prev", lag(attrs, 1).over(byKey))
      // null-safe: first version has NULL _prev and must survive; a
      // tracked attr set equal to the previous row's is a no-op replay
      .filter(!(attrs <=> col("_prev")))
      .drop("_prev")
    deduped
      .withColumn("valid_from", orderCol)
      .withColumn("valid_to", lead(orderCol, 1).over(byKey))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumn("version",
        row_number().over(byKey).cast("long"))
  }
}
