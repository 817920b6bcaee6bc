package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot-level change data capture: the key-level diff of two table
  * versions — what a lake publish needs to emit a change feed (or audit
  * a re-run) without a transaction log. The reference's cron pipeline
  * republishes whole tables each tick (reference: automation.py,
  * queries/update_uid.py's replace-then-merge); diffing consecutive
  * publishes is how a consumer turns that into increments.
  *
  * Output: key columns + `change` ∈ added | removed | changed (+
  * unchanged when asked) + `changed_cols` (the exact columns whose
  * values differ, NULL-safe compared; empty for added/removed).
  *
  * Scale shape: ONE full-outer shuffle join on the key — the minimum
  * for an unordered diff; both sides arrive hash-partitioned on the key,
  * so consecutive diffs against a bucketed-by-key publish skip even
  * that exchange. Column comparison is a codegen conjunction (no
  * per-column jobs, no row serialization); `changed_cols` materializes
  * from the same comparisons via a filtered array literal.
  */
object Cdc {

  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
                   includeUnchanged: Boolean = false,
                   assumeKeysNotNull: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    val compareCols = oldSnap.columns.filterNot(keys.contains)
      .filter(newSnap.columns.contains).toSeq
    require(compareCols.nonEmpty,
      "snapshotDiff: no common non-key columns to compare")
    // presence markers, not key-NULL checks: a legitimately-NULL key
    // (null-safe joined) must not read as absent
    val o = oldSnap.select((keys ++ compareCols).map(c =>
      col(c).as(s"__o_$c")) :+ lit(1).as("__o_present"): _*)
    val n = newSnap.select((keys ++ compareCols).map(c =>
      col(c).as(s"__n_$c")) :+ lit(1).as("__n_present"): _*)
    // assumeKeysNotNull: plain equality instead of <=>. Catalyst rewrites
    // null-safe keys to (coalesce(k, d), isnull(k)) — a partitioning the
    // bucketed scan's HashPartitioning(k) can NOT satisfy, so the <=>
    // form always re-shuffles even over a bucketed-by-key publish. With
    // no NULL keys the two conditions are equivalent and the === form
    // consumes the write-time bucketing (zero Exchange, PlanSpec-pinned).
    // CALLER CONTRACT: under the flag a NULL key never matches and would
    // misreport as an added+removed pair — set it only for publishes
    // whose keys are genuinely non-NULL (e.g. groupBy keys of rollups).
    val cond = keys.map(k =>
      if (assumeKeysNotNull) o(s"__o_$k") === n(s"__n_$k")
      else o(s"__o_$k") <=> n(s"__n_$k")).reduce(_ && _)
    val joined = o.join(n, cond, "full_outer")
    val inOld = col("__o_present").isNotNull
    val inNew = col("__n_present").isNotNull
    val diffs = compareCols.map(c =>
      when(!(col(s"__o_$c") <=> col(s"__n_$c")), lit(c)))
    val changedCols = array_compact(array(diffs: _*))
    val change = when(!inOld, lit("added"))
      .when(!inNew, lit("removed"))
      .when(size(changedCols) > 0, lit("changed"))
      .otherwise(lit("unchanged"))
    val out = joined.select(
      keys.map(k => coalesce(col(s"__o_$k"), col(s"__n_$k")).as(k)) ++
        Seq(change.as("change"),
          when(change.isin("added", "removed"),
            array().cast("array<string>")).otherwise(changedCols)
            .as("changed_cols")): _*)
    if (includeUnchanged) out else out.filter(col("change") =!= "unchanged")
  }

  /** Incremental aggregate maintenance: merge partial aggregate tables
    * (yesterday's published rollup + today's increment rollup) into the
    * up-to-date rollup WITHOUT rescanning history — the aggregation
    * twin of [[snapshotDiff]]'s republish-to-increments move, and the
    * reason additive stats (count/sum/min/max) are the ones worth
    * publishing: at 100 TB the history scan is the cost, and a merge over
    * two already-tiny aggregate tables replaces it entirely. Non-additive
    * stats (avg, ratios) must be DERIVED after the merge from the
    * additive parts — deriving-then-merging is the classic wrong answer
    * and the reason this operator only accepts additive columns.
    *
    * All parts must share the key schema; a key present in one part
    * only passes through (its stats are the merge identity).
    *
    * Scale notes: one union + one map-side-combined hash agg over
    * aggregate-table-sized inputs (≤ Σ distinct keys, not raw rows);
    * decimal sums stay exact through the merge.
    */
  def mergeAdditive(parts: Seq[DataFrame], keys: Seq[String],
                    countCols: Seq[String] = Seq.empty,
                    sumCols: Seq[String] = Seq.empty,
                    minCols: Seq[String] = Seq.empty,
                    maxCols: Seq[String] = Seq.empty): DataFrame = {
    require(parts.size >= 2, "mergeAdditive needs at least two parts")
    require(keys.nonEmpty, "mergeAdditive needs at least one key column")
    val stats = countCols ++ sumCols ++ minCols ++ maxCols
    require(stats.nonEmpty, "mergeAdditive needs at least one stat column")
    require(stats.distinct.size == stats.size, "duplicate stat columns")
    val aggs = countCols.map(c => sum(col(c)).as(c)) ++
      sumCols.map(c => sum(col(c)).as(c)) ++
      minCols.map(c => min(col(c)).as(c)) ++
      maxCols.map(c => max(col(c)).as(c))
    def merge(df: DataFrame): DataFrame =
      df.groupBy(keys.map(col).toIndexedSeq: _*).agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    // each part folds to one row per key BEFORE the union, so the union's
    // children are row-based aggregates, never columnar scans: Spark
    // 4.1's Union reports its children's common hash partitioning, but
    // its columnar path concatenates their partitions instead of zipping
    // them, so a group-by straight over two same-bucketed parquet scans
    // planned no exchange and emitted one row per key per part. The
    // final merge now shuffles the (aggregate-sized) parts
    merge(parts.map(merge).reduce(_ unionByName _))
  }
}
