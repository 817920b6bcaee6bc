package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-entity ordered selection: nth record, top-k per group.
  *
  * Reference semantics: day-1/2/3 vitals tables pick time-offset records
  * per admission (reference: queries/create_summary_day_one_vitals_sql.py,
  * .._day_two_.., .._day_three_..); assorted summaries rank within groups.
  *
  * Scale notes: a window with PARTITION BY key shuffles once on the key and
  * sort-buffers per key — unavoidable for rank semantics. For rank=1 only,
  * prefer [[Dedup.keepLatest]] (aggregation, cheaper). Use these when the
  * ordinal itself (nth, top-k) is required.
  */
object Windows {

  /** The nth row (1-based) per key ordered by `order` (deterministic if
    * `order` is a total order; pass a tie-breaking struct otherwise).
    */
  def nthPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column], nth: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(order.toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === nth).drop("__rn")
  }

  /** Top-k rows per key by `order`, keeping the rank column. */
  def topKPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
                 rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(order.toIndexedSeq: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Day-N slice per entity: rows whose date is exactly `day − 1` days
    * after the entity's FIRST date (reference: day-1/2/3 vitals tables —
    * create_summary_day_one/two/three_vitals_sql.py pick admission-date
    * offset records).
    *
    * The per-entity baseline is an unordered window MIN — partial-agg
    * friendly, no sort buffer (vs an ORDER BY window). One shuffle on the
    * entity key.
    */
  def dayOffsetSlice(df: DataFrame, keys: Seq[String], tsCol: Column, day: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
    df.withColumn("__base_date", min(to_date(tsCol)).over(w))
      .filter(datediff(to_date(tsCol), col("__base_date")) === day - 1)
      .drop("__base_date")
  }

  /** Forward-fill (last observation carried forward): NULLs in each of
    * `cols` are replaced, IN PLACE, by the most recent non-NULL value of
    * the same column earlier in `order` within the same key — the
    * standard gap-fill for sparse time series (sensor dropouts, vitals
    * charted only on change). Rows before a key's first observation stay
    * NULL. Pass a total `order` (e.g. ts + a unique id) — with ties the
    * fill would be nondeterministic.
    *
    * Scale notes: one shuffle on the key, one sort, and ONE window frame
    * shared by every filled column (`last(c, ignoreNulls)` over
    * unbounded-preceding..current) — a running O(1) state per column,
    * not a per-row rescan. All columns fill in the same Window operator;
    * n columns do not cost n sorts.
    */
  def forwardFill(df: DataFrame, keys: Seq[String], order: Seq[Column],
                  cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "forwardFill needs at least one column to fill")
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(order.toIndexedSeq: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumns(cols.map(c => c -> last(col(c), ignoreNulls = true).over(w)).toMap)
  }

  /** Sliding time-window statistics: per key, the row count and mean of
    * `valueCol` over the trailing `windowSec`-second RANGE frame ending
    * at each row (inclusive; rows with equal timestamps are frame peers).
    * The rolling-rate / moving-average primitive — error rates over the
    * last hour, per-sensor rolling means — that tumbling windows (q40)
    * can't express because every row gets ITS OWN trailing frame.
    *
    * The frame is anchored on epoch MICROSECONDS (timestamps cast to
    * session-zone TIMESTAMP first — `unix_micros` rejects NTZ inputs, the
    * q83 lesson), so the window arithmetic is exact integer math. Mean
    * follows the engine-portable float discipline: DECIMAL(18,4) sums
    * cast to double, divided by the frame's non-null count (all-NULL
    * frame → NULL mean).
    *
    * Scale notes: ONE exchange + one sort (the key/ts window); the RANGE
    * frame is maintained incrementally by Spark's window operator —
    * each partition streams once, no per-row rescans. Both added columns
    * share the single Window operator.
    */
  def slidingRangeStats(df: DataFrame, keys: Seq[String], tsCol: Column,
                        valueCol: Column, windowSec: Long,
                        nName: String = "n_win",
                        avgName: String = "avg_win"): DataFrame = {
    require(windowSec > 0, s"windowSec must be > 0, got $windowSec")
    val epochUs = unix_micros(tsCol.cast("timestamp"))
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(epochUs)
      .rangeBetween(-windowSec * 1000000L, 0L)
    // one select, not chained withColumns: both expressions share the
    // same window spec, so Catalyst plans ONE Window operator
    df.select(col("*"),
      count(lit(1)).over(w).as(nName),
      (sum(valueCol.cast("decimal(18,4)")).over(w).cast("double") /
        count(valueCol).over(w)).as(avgName))
  }

  /** Slowly-changing-dimension (SCD type 2) history build: collapse a
    * change-log into validity intervals. Consecutive runs of identical
    * `tracked` values per key (in `order`) become ONE row carrying
    * `valid_from` (the run's first `tsCol`), `valid_to` (the NEXT run's
    * `valid_from` — half-open [from, to) intervals, so an as-of lookup is
    * `from <= t < to`) and `is_current` (1 on each key's last run). The
    * standard Kimball type-2 dimension shape, built from raw events
    * instead of per-load MERGE logic.
    *
    * Tracked-value changes are detected null-safely (NULL → value and
    * value → NULL both open a new interval); a key whose value never
    * changes yields exactly one current row.
    *
    * Scale notes: ONE exchange total. The run-id window shuffles on
    * `keys` and sorts by `order`; the run aggregation groups by
    * (keys, tracked, run) — clustered-satisfied by the window's hash
    * partitioning, no second exchange — and the valid_to lead window
    * rides the same partitioning. Runs, not raw rows, flow into the
    * last two steps.
    */
  def scd2Intervals(df: DataFrame, keys: Seq[String], order: Seq[Column],
                    tracked: Seq[String], tsCol: Column): DataFrame = {
    require(tracked.nonEmpty, "scd2Intervals needs at least one tracked column")
    val reserved = Seq("__chg", "__run", "valid_from", "valid_to", "is_current")
    df.columns.find(c => reserved.exists(_.equalsIgnoreCase(c))).foreach { c =>
      throw new IllegalArgumentException(
        s"scd2Intervals output/working column '$c' already exists on the input")
    }
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(order.toIndexedSeq: _*)
    val cur = struct(tracked.map(col).toIndexedSeq: _*)
    // first row per key: lag is NULL, NULL <=> struct = false → run opens
    val changed = when(!(lag(cur, 1).over(w) <=> cur), 1L).otherwise(0L)
    val runs = df.withColumn("__chg", changed)
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val iv = runs
      .groupBy(((keys ++ tracked).map(col) :+ col("__run")).toIndexedSeq: _*)
      .agg(min(tsCol).as("valid_from"))
    val w2 = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(col("__run"))
    iv.withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .drop("__run")
  }

  /** Rank (quantile) normalization per group: each value maps to its
    * percent rank in [0, 1] within its group — the distribution-free
    * feature transform (uniformize a skewed score before mixing it with
    * others, compare columns on a common scale). Ties SHARE a rank
    * (standard SQL percent_rank), so equal values always get equal
    * normalized scores — deterministic and engine-portable without a
    * tie-break column; rounded to 5 dp. NULL values keep their row with
    * a NULL score but are EXCLUDED from the window itself — a NULL that
    * occupied a rank slot would shift every other score by the engine's
    * NULL sort order (Spark NULLS FIRST, most SQL engines NULLS LAST),
    * the exact portability trap. Single-row groups score 0.0.
    *
    * Scale shape: one shuffle on the group key + a per-group sort —
    * the window IS the operator here (a rank transform needs its
    * group's total order); group count bounds parallelism, so
    * high-cardinality grouping scales and a global (one-group)
    * normalize is the documented anti-scale corner.
    */
  def rankNormalize(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                    outCol: String = "qnorm"): DataFrame = {
    require(groupCols.nonEmpty, "rankNormalize needs at least one group column")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(valueCol.asc)
    df.filter(valueCol.isNotNull)
      .withColumn(outCol, round(percent_rank().over(w), 5))
      .unionByName(df.filter(valueCol.isNull)
        .withColumn(outCol, lit(null).cast("double")))
  }

  /** Interval-overlap sweep: how many intervals are simultaneously active
    * at every boundary instant — "max concurrent sessions", license-seat
    * peaks, overlap-aware capacity planning. Intervals are END-EXCLUSIVE
    * ([start, end) — at `end` the interval no longer counts; a
    * zero-length interval contributes a delta-0 boundary and never
    * raises the count). Output: one row per DISTINCT boundary instant
    * (t, delta, active), where `active` is the count in force AT t.
    * Rows with a NULL bound are excluded (an open interval has no sweep
    * semantics here).
    *
    * Scale notes: starts/ends collapse to per-instant net deltas in ONE
    * map-side-combined aggregation (the only data-sized shuffle). The
    * running sum over global time order is the scale problem: a plain
    * window over ORDER BY t would be a SINGLE-TASK sort. Instead this is
    * the q110 distributed prefix-sum: range-repartition by t,
    * per-partition subtotals (#partitions rows to the driver), broadcast
    * prefix offsets, one fold pass — no window and no single-task sort
    * at any cardinality, and the partitioner is captured once so the
    * offset pass and the fold pass see identical ranges.
    */
  def concurrency(intervals: DataFrame, startCol: String, endCol: String): DataFrame = {
    val bounded = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull)
    val deltas = bounded.select(col(startCol).as("t"), lit(1L).as("d"))
      .unionByName(bounded.select(col(endCol).as("t"), lit(-1L).as("d")))
      .groupBy("t").agg(sum("d").as("delta"))
    val spark = intervals.sparkSession
    val nPart = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val sorted = deltas.repartitionByRange(nPart, col("t"))
      .sortWithinPartitions("t")
    sorted.cache()
    // ONE rdd instantiation: both passes must see the same range bounds
    val rdd = sorted.rdd
    val partTotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(1))
      Iterator.single((pid, s))
    }.collect().sortBy(_._1)
    val prefix: Map[Int, Long] = {
      var acc = 0L
      partTotals.map { case (pid, s) =>
        val out = pid -> acc; acc += s; out
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(prefix)
    val outRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
      var run = bc.value.getOrElse(pid, 0L)
      it.map { r =>
        run += r.getLong(1)
        org.apache.spark.sql.Row(r.get(0), r.getLong(1), run)
      }
    }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val out = spark.createDataFrame(outRdd, StructType(Seq(
      deltas.schema("t"),
      StructField("delta", LongType, nullable = false),
      StructField("active", LongType, nullable = false))))
    // cached blocks are released by the ContextCleaner once `sorted`
    // goes unreferenced; an eager unpersist here would force the fold
    // pass to re-shuffle (same partitioner object, so still correct —
    // just slower) on every downstream action
    out
  }
}
