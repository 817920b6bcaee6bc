package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.broadcast

/** Join-shaped operators from the reference's derive/check stages.
  *
  * Reference semantics:
  *  - admissions ⟕ discharges on uid with derived outcome columns
  *    (reference: derive_data/create_joined_table_and_derived_columns.py:1)
  *  - admissions_without_discharges / discharges_not_matched → anti-joins
  *    (reference: queries/assorted_queries.py)
  *  - check_row_exists_sql.py → semi-join existence checks.
  *
  * Scale notes: dimension tables are broadcast (`broadcast(dim)`) so the
  * fact side never shuffles for the join; fact-fact joins shuffle on the
  * join key and rely on AQE for skew splitting. Anti/semi joins keep only
  * the key columns of the right side on the wire.
  */
object Joins {

  /** Rows of `left` with no match in `right` (reference:
    * admissions_without_discharges). Broadcast the right side when small —
    * anti-join only needs its keys.
    */
  def unmatched(left: DataFrame, right: DataFrame, joinExpr: Column, broadcastRight: Boolean = true): DataFrame =
    left.join(if (broadcastRight) broadcast(right) else right, joinExpr, "left_anti")

  /** Rows of `left` that have at least one match in `right`. */
  def existing(left: DataFrame, right: DataFrame, joinExpr: Column, broadcastRight: Boolean = true): DataFrame =
    left.join(if (broadcastRight) broadcast(right) else right, joinExpr, "left_semi")

  /** Clinical-measurement match score for [[bestMatch]] — the reference's
    * `calculate_match_score` (reference: derive_data/
    * create_joined_table_and_derived_columns.py:268): each (left, right,
    * maxPts, perUnit) pair contributes `max(0, maxPts − |l−r|/perUnit)`
    * when BOTH sides parse as numbers, nothing otherwise; a row where NO
    * pair is comparable scores −1 (the "no data to compare" sentinel that
    * triggers keep-first resolution). Values arrive as strings in the
    * reference (form exports), so both sides go through `try_cast` —
    * garbage skips the comparison instead of throwing under ANSI — and
    * `!isnan` keeps a literal "nan" from poisoning the sum.
    *
    * Pure codegen arithmetic: one projection, no UDF, no extra scan.
    */
  def matchScore(pairs: Seq[(Column, Column, Double, Double)]): Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    require(pairs.nonEmpty, "matchScore needs at least one comparison pair")
    val contribs = pairs.map { case (l, r, maxPts, perUnit) =>
      val a = l.try_cast(DoubleType)
      val b = r.try_cast(DoubleType)
      val comparable = a.isNotNull && !isnan(a) && b.isNotNull && !isnan(b)
      (comparable, greatest(lit(0.0), lit(maxPts) - abs(a - b) / lit(perUnit)))
    }
    val nComparisons = contribs.map { case (c, _) =>
      when(c, 1).otherwise(0) }.reduce(_ + _)
    val total = contribs.map { case (c, v) =>
      when(c, v).otherwise(0.0) }.reduce(_ + _)
    when(nComparisons === 0, lit(-1.0)).otherwise(total)
  }

  /** Best-match left join: each `left` row keeps exactly ONE `right`
    * match — the candidate with the highest `score`, ties and the
    * all-scores-−1 case resolved by SMALLEST `keepFirstBy` (the
    * reference's "keep first discharge" input-order fallback; reference:
    * create_joined_table_and_derived_columns.py:330-395
    * `resolve_duplicate_matches` — `idxmax` over scores ≥ 0, `iloc[0]`
    * when every score is −1). Unmatched left rows survive with null
    * right columns, so the output has exactly one row per distinct
    * `leftId` — a multi-match right side can no longer inflate the left.
    *
    * Right-side columns colliding with left names are suffixed
    * `rightSuffix` (the reference's pandas `suffixes=('', '_discharge')`),
    * so `score`/`keepFirstBy` expressions name columns unambiguously.
    *
    * Scale notes: this is the join's shuffle plus ONE hash aggregation —
    * `graft_max_by(payload, struct(score, …))` ([[graft.functions
    * .HashExtremumBy]]) partial-aggregates map-side and shuffles one row
    * per leftId per map task. When `leftId ⊇ on`, the aggregation reuses
    * the join's hash partitioning (no second exchange). A window
    * `row_number() ... = 1` plan would sort every candidate instead.
    */
  def bestMatch(left: DataFrame, right: DataFrame, on: Seq[String],
                leftId: Seq[String], score: DataFrame => Column,
                keepFirstBy: DataFrame => Column,
                rightSuffix: String = "_r",
                nullSafeOn: Boolean = false): DataFrame = {
    // named import: the wildcard would shadow the left/right params with
    // functions.left/right
    import org.apache.spark.sql.functions.{call_function, col, struct}
    require(rightSuffix.nonEmpty, "rightSuffix must be non-empty")
    graft.functions.GraftFunctions.ensureRegistered(left.sparkSession)
    // case-INSENSITIVE collision check: Spark's default resolver is case-
    // insensitive, so left "temp_value" and right "Temp_value" would be
    // ambiguous post-join even though the names differ byte-wise
    val leftCols =
      left.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val onLower = on.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    // a pre-existing "<col><suffix>" would make the rename COLLIDE (two
    // case-equal names post-join) — refuse rather than bind wrong. The
    // right side can collide too: right {c, c+suffix} with left {c}
    // renames c onto the UNRENAMED right c+suffix.
    val rightLower =
      right.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val suffixLower = rightSuffix.toLowerCase(java.util.Locale.ROOT)
    right.columns.foreach { c =>
      val lc = c.toLowerCase(java.util.Locale.ROOT)
      if (leftCols.contains(lc) && !onLower.contains(lc)) {
        require(!leftCols.contains(lc + suffixLower),
          s"bestMatch rename target '$c$rightSuffix' already exists on the " +
            "left side — pick a different rightSuffix")
        require(!rightLower.contains(lc + suffixLower),
          s"bestMatch rename target '$c$rightSuffix' already exists on the " +
            "right side — pick a different rightSuffix")
      }
    }
    val renamed = right.columns.foldLeft(right) { (df, c) =>
      val lc = c.toLowerCase(java.util.Locale.ROOT)
      if (leftCols.contains(lc) && !onLower.contains(lc))
        df.withColumnRenamed(c, c + rightSuffix)
      else df
    }
    // nullSafeOn: a NULL join-key value matches NULL (pandas merge
    // semantics — the reference joins on (uid, facility) where facility
    // may be missing on BOTH sides of a real pair). Plain using-join
    // EqualTo would silently never match those rows.
    val joined =
      if (!nullSafeOn) left.join(renamed, on, "left")
      else {
        val onSuffix = "__on"
        val rightOn = on.foldLeft(renamed)((df, c) =>
          df.withColumnRenamed(c, c + onSuffix))
        val cond = on.map(c => left(c) <=> rightOn(c + onSuffix)).reduce(_ && _)
        left.join(rightOn, cond, "left").drop(on.map(_ + onSuffix): _*)
      }
    val payload = struct(joined.columns.map(col).toIndexedSeq: _*)
    // Evaluate the (often expensive) score/keepFirstBy expressions ONCE
    // per candidate row in a codegen'd Project below the aggregation —
    // graft_min_by is a TypedImperativeAggregate whose orderExpr is
    // INTERPRETED per input row (HashExtremumBy.update), so leaving the
    // full scoring tree inside `ord` re-ran every try_cast/isnan of
    // matchScore interpreted per candidate (r21: q56 4.03 s isolated,
    // the scoring projection was the cost — guide §4's "built-ins inside
    // codegen" applied to the agg boundary).
    require(!joined.columns.exists(_.equalsIgnoreCase("__bm_s")),
      "bestMatch uses '__bm_s' internally — rename the existing column")
    // min_by over (−score, keyIsNull, key): highest score wins (−score
    // smallest), then the SMALLEST keepFirstBy — negating the score
    // instead of the key keeps `keepFirstBy` free to be any orderable
    // type (timestamp, string), not just numeric. The isNull field keeps
    // a null key from beating real keys under min (nulls-last, the same
    // guard as [[Dedup.keepFirst]]). The whole struct is projected as one
    // column so the aggregate's per-row orderExpr eval is a single bound
    // reference.
    val s = score(joined)
    val kf = keepFirstBy(joined)
    val prepped = joined.withColumn("__bm_s", struct(-s, kf.isNull, kf))
    val ord = col("__bm_s")
    prepped.groupBy(leftId.map(col).toIndexedSeq: _*)
      .agg(call_function("graft_min_by", payload, ord).as("__row"))
      .select(col("__row.*"))
  }

  /** Skew-beating salted equi-join: the big side gets a deterministic salt
    * in [0, buckets) derived from `saltSrc` (any column that spreads rows
    * of one hot key — a unique id, an ingest offset); the small side is
    * replicated once per salt. The shuffle key becomes (key, salt), so a
    * hot key's rows land on `buckets` reducers instead of one.
    *
    * Use when ONE side is skewed and the other is small-ish but too big or
    * too dynamic to broadcast. AQE's skew-join split handles moderate skew
    * without this; salting is the deterministic heavy hammer for known
    * pathological keys at 100 TB.
    */
  def salted(big: DataFrame, small: DataFrame, key: String, saltSrc: Column,
             buckets: Int, how: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions._
    // right/full outer would emit `buckets` null-padded copies of every
    // unmatched small-side row (it was replicated per salt) — reject
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
        .contains(how.toLowerCase.replace("_", "")),
      s"salted join supports inner/left/left_semi/left_anti, not '$how' " +
        "(outer-on-small-side would duplicate unmatched replicated rows)")
    val bigS = big.withColumn("__salt",
      pmod(xxhash64(saltSrc), lit(buckets)).cast("int"))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    bigS.join(smallS, Seq(key, "__salt"), how).drop("__salt")
  }

  /** Binned range (interval) join: every (point, interval) pair with
    * `start <= point <= end` on the same key — ad attribution windows,
    * maintenance/incident windows, price-validity lookups. `keys` may be
    * EMPTY: the pure interval-overlap case, exactly where Spark's own
    * planner degenerates to BroadcastNestedLoopJoin / cartesian because
    * there is no equi-key to hash on.
    *
    * Scale notes: both sides are quantized onto fixed-width time buckets
    * (`bucketWidthSec`) — each interval explodes onto every bucket it
    * overlaps, each point lands in exactly one — and the join becomes a
    * plain equi-join on (keys, bucket) with the exact range predicate as
    * a post-filter. Each qualifying pair meets in EXACTLY one bucket (the
    * point's own), so no dedup pass is needed. Pick `bucketWidthSec`
    * near the typical interval length: much smaller multiplies the
    * interval side by span/width copies, much larger packs unrelated
    * rows into one bucket and pushes work into the post-filter. An
    * interval spanning more than `maxSpanBuckets` buckets fails loudly
    * (a data bug — e.g. an open-ended interval — would otherwise explode
    * the intermediate by millions of copies); invalid intervals
    * (NULL bounds or end < start) can never match and are dropped.
    * The equi-join is hinted shuffle_hash: bucket ids are dense longs and
    * both sides are large — a sort-merge's double sort buys nothing.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keys: Seq[String],
                ptCol: String, startCol: String, endCol: String,
                bucketWidthSec: Long, maxSpanBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, explode, floor, lit,
      raise_error, sequence, unix_micros, when}
    require(bucketWidthSec > 0, s"bucketWidthSec must be > 0, got $bucketWidthSec")
    require(maxSpanBuckets >= 1, s"maxSpanBuckets must be >= 1, got $maxSpanBuckets")
    val pLower = points.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val iLower = intervals.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val keyLower = keys.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val overlap = (pLower & iLower) -- keyLower - "__bucket"
    require(overlap.isEmpty,
      s"rangeJoin requires disjoint non-key columns; rename ${overlap.mkString(", ")}")
    require(!pLower.contains("__bucket") && !iLower.contains("__bucket"),
      "rangeJoin working column '__bucket' already exists")
    val wUs = bucketWidthSec * 1000000L
    // cast-to-TIMESTAMP first: parquet written by other engines often
    // reads back TIMESTAMP_NTZ, which unix_micros rejects; both sides go
    // through the SAME cast so bucketing stays consistent either way
    def bucketOf(c: Column): Column = floor(unix_micros(c.cast("timestamp")) / wUs)
    val pTagged = points.filter(col(ptCol).isNotNull)
      .withColumn("__bucket", bucketOf(col(ptCol)))
    val span = bucketOf(col(endCol)) - bucketOf(col(startCol)) + 1
    val iTagged = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(endCol) >= col(startCol) &&
        keys.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
      .withColumn("__bucket", explode(
        when(span > maxSpanBuckets, raise_error(concat(
          lit(s"rangeJoin: interval spans more than $maxSpanBuckets buckets at "),
          col(startCol).cast("string"), lit(".."), col(endCol).cast("string"),
          lit(" — widen bucketWidthSec or fix the data"))))
          .otherwise(sequence(bucketOf(col(startCol)), bucketOf(col(endCol))))))
    pTagged.hint("shuffle_hash")
      .join(iTagged, keys :+ "__bucket", "inner")
      .filter(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("__bucket")
  }

  /** As-of (temporal) left join: each `left` row picks the LATEST `right`
    * row with `right.tsCol <= left.ts` on the same key — the point-in-time
    * lookup ("what was the last reading/price/click before this event")
    * that equi-joins can't express. Ties on the right timestamp resolve to
    * the LARGEST `tieCol`, so the result is deterministic; `tolerance`
    * (an interval) additionally requires `right.ts >= left.ts − tolerance`
    * — older matches are returned as no-match.
    *
    * Matched right columns come back as `prefix+rightTs` (the matched
    * timestamp) and `prefix+c` for each payload column; unmatched rows
    * (including NULL-key and NULL-timestamp left rows, which per SQL
    * comparison semantics can never match) keep them NULL.
    *
    * Scale notes: NOT a join at all — a per-row probe (theta-join) plan
    * would be quadratic, and a broadcast build requires a small right
    * side. Instead both sides are tagged and unioned, shuffled ONCE on
    * the key, and a single running `last(payload, ignoreNulls)` window
    * carries the newest right payload forward onto every left row — the
    * merge-join formulation of as-of, one exchange + one sort regardless
    * of either side's size or match fan-in. Right rows ride the wire as
    * one slim struct; left columns never duplicate. A hot key is one
    * sort partition — salt upstream or pre-slice by time range if a
    * single key exceeds an executor.
    */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, payloadCols: Seq[String],
           tieCol: String, tolerance: Option[Column] = None,
           prefix: String = "asof_"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // named import: the wildcard would shadow the left/right params with
    // functions.left/right (same trap as bestMatch)
    import org.apache.spark.sql.functions.{col, last, lit, struct, when}
    require(keys.nonEmpty, "asOf needs at least one key column")
    require(prefix.nonEmpty, "asOf needs a non-empty prefix")
    require(!payloadCols.contains(rightTs),
      s"'$rightTs' is returned as '$prefix$rightTs' already — drop it from payloadCols")
    val reserved = Seq("__ts", "__side", "__tie", "__p", "__fill")
    val outCols = (rightTs +: payloadCols).map(prefix + _)
    val leftLower = left.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    (reserved ++ outCols).foreach { c =>
      require(!leftLower.contains(c.toLowerCase(java.util.Locale.ROOT)),
        s"asOf output/working column '$c' already exists on the left side")
    }
    // the right side travels as ONE struct column; rows that can never
    // match (NULL key or NULL timestamp — SQL comparisons with NULL are
    // never true) are dropped before the shuffle
    val pFields = (rightTs +: payloadCols).distinct
    val rightSlim = right
      .filter(col(rightTs).isNotNull && keys.map(col(_).isNotNull).reduce(_ && _))
      .select((keys.map(col) ++ Seq(
        col(rightTs).as("__ts"), lit(0).as("__side"), col(tieCol).as("__tie"),
        struct(pFields.map(col): _*).as("__p"))): _*)
    val pType = rightSlim.schema("__p").dataType
    val tieType = rightSlim.schema("__tie").dataType
    val leftTagged = left.select((left.columns.map(col) ++ Seq(
      col(leftTs).as("__ts"), lit(1).as("__side"),
      lit(null).cast(tieType).as("__tie"), lit(null).cast(pType).as("__p"))): _*)
    // match keys case-insensitively: col("USER_ID") RESOLVES against a
    // physical user_id column, so an exact contains() here would treat
    // the key as a payload column and null it out — silently unmatching
    // every row (the reserved-name checks above are already
    // case-insensitive for the same reason)
    val rightTagged = left.columns.foldLeft(rightSlim) { (df, c) =>
      if (keys.exists(_.equalsIgnoreCase(c))) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    // at equal timestamps right rows (side 0) sort BEFORE the left row —
    // `<=` semantics — and among them the largest tie is nearest the left
    // row, so the running `last` picks exactly (max ts, then max tie)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = leftTagged.unionByName(rightTagged)
      .withColumn("__fill", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    // NULL-key left rows form their own window partitions and could pick
    // up NULL-key right fills — but those were filtered out above, so the
    // only remaining guard is the tolerance cut
    val inRange = tolerance match {
      case Some(tol) => col("__fill").isNotNull &&
        col("__fill")(rightTs) >= col("__ts") - tol
      case None => col("__fill").isNotNull
    }
    val gated = filled.withColumn("__fill",
      when(inRange, col("__fill")).otherwise(lit(null).cast(pType)))
    gated.select((left.columns.map(col) ++
      (rightTs +: payloadCols).map(c => col("__fill")(c).as(prefix + c))): _*)
  }

  /** Narrow a decimal(38,0) metric to long, raising instead of the silent
    * NULL a non-ANSI overflow cast would produce. NULL passes through
    * (no-match aggregates stay NULL).
    */
  private def checkedLong(dec: Column, name: String): Column = {
    import org.apache.spark.sql.functions._
    when(dec.isNull, lit(null).cast("long"))
      .when(dec > lit(Long.MaxValue).cast("decimal(38,0)"),
        raise_error(concat(lit(s"keyProfile: $name overflows long ("), dec.cast("string"), lit(")")))
          .cast("long"))
      .otherwise(dec.cast("long"))
  }

  /** Pre-flight profile of an equi-join BEFORE paying for it — the
    * diagnostics a 100 TB join plan decision needs: per-side row/key
    * censuses, key overlap, the EXACT inner-join output size
    * (Σ_k cL(k)·cR(k) — the number that says whether the join explodes),
    * per-side max key multiplicity and the hottest key's output
    * contribution with its skew ratio vs the average matched key. One
    * summary row: (rows_left, rows_right, null_key_rows_left,
    * null_key_rows_right, distinct_keys_left, distinct_keys_right,
    * matched_keys, left_only_keys, right_only_keys, inner_rows,
    * max_left_mult, max_right_mult, max_key_pair_rows, skew_ratio).
    *
    * Scale notes: one map-side-combined count aggregation per side (the
    * shuffle carries DISTINCT KEYS, not rows — the NULL key group rides
    * the same agg, so the null census costs no extra pass), then every
    * metric derives from the two already-tiny count tables: a full-outer
    * key join for the overlap/product stats plus one single-row agg per
    * side, combined by 1×1 cross joins. Feeds the journaled skew rule:
    * broadcast if a side fits; else AQE skew-split; salt only when AQE
    * can't see the skew. The cL·cR products and their sum accumulate in
    * decimal(38,0) (the count table is tiny, so the widening is free) and
    * fail LOUDLY if the result exceeds long range — a silent 2⁶³ wrap
    * would report a wrong-sign inner_rows on exactly the explosive joins
    * this operator exists to flag.
    */
  def keyProfile(lhs: DataFrame, rhs: DataFrame,
                 leftKey: String, rightKey: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val lc = lhs.groupBy(col(leftKey).as("lk")).agg(count(lit(1)).as("cl"))
    val rc = rhs.groupBy(col(rightKey).as("rk")).agg(count(lit(1)).as("cr"))
    // ONE null-safe full-outer join of the two UNFILTERED count tables:
    // every metric (per-side censuses INCLUDED) derives from this single
    // joined stream, so each input is scanned and shuffled exactly once.
    // (A first cut computed per-side stats from separate branches of
    // lc/rc — Catalyst pushed the join branch's IsNotNull through the
    // aggregates into the scans, the subtrees stopped matching, and each
    // side was scanned twice. The NULL-key groups of the two sides
    // null-safe-match into one row; presence markers + key-nullness
    // separate them from real matches.)
    val j = lc.join(rc, col("lk") <=> col("rk"), "full_outer")
    val lp = col("cl").isNotNull
    val rp = col("cr").isNotNull
    val matched = lp && rp && col("lk").isNotNull
    j.agg(
        coalesce(sum("cl"), lit(0L)).as("rows_left"),
        coalesce(sum("cr"), lit(0L)).as("rows_right"),
        coalesce(sum(when(lp && col("lk").isNull, col("cl"))), lit(0L))
          .as("null_key_rows_left"),
        coalesce(sum(when(rp && col("rk").isNull, col("cr"))), lit(0L))
          .as("null_key_rows_right"),
        count(when(lp && col("lk").isNotNull, 1)).as("distinct_keys_left"),
        count(when(rp && col("rk").isNotNull, 1)).as("distinct_keys_right"),
        count(when(matched, 1)).as("matched_keys"),
        count(when(lp && col("lk").isNotNull && !rp, 1)).as("left_only_keys"),
        count(when(rp && col("rk").isNotNull && !lp, 1)).as("right_only_keys"),
        sum(when(matched,
            col("cl").cast("decimal(38,0)") * col("cr").cast("decimal(38,0)")))
          .as("__inner_raw"),
        max(when(lp && col("lk").isNotNull, col("cl"))).as("max_left_mult"),
        max(when(rp && col("rk").isNotNull, col("cr"))).as("max_right_mult"),
        max(when(matched,
          col("cl").cast("decimal(38,0)") * col("cr").cast("decimal(38,0)")))
          .as("__maxpair_dec"))
      // decimal → long, loud on overflow: the non-ANSI cast would null out
      // silently, so guard explicitly before narrowing. A NULL sum with
      // matched keys can only be decimal(38,0) SUM overflow (each product
      // is < 8.6e37, so no per-row overflow) — raise before the no-match
      // coalesce can masquerade it as inner_rows = 0
      .withColumn("__inner_dec",
        when(col("__inner_raw").isNull && col("matched_keys") > 0,
          raise_error(lit("keyProfile: inner_rows decimal sum overflowed"))
            .cast("decimal(38,0)"))
        .otherwise(coalesce(col("__inner_raw"), lit(0L).cast("decimal(38,0)"))))
      .withColumn("inner_rows", checkedLong(col("__inner_dec"), "inner_rows"))
      .withColumn("max_key_pair_rows",
        checkedLong(col("__maxpair_dec"), "max_key_pair_rows"))
      .withColumn("skew_ratio",
        when(col("inner_rows") > 0, round(
          col("max_key_pair_rows").cast("double") * col("matched_keys") /
            col("inner_rows"), 5)))
      .select("rows_left", "rows_right", "null_key_rows_left",
        "null_key_rows_right", "distinct_keys_left", "distinct_keys_right",
        "matched_keys", "left_only_keys", "right_only_keys", "inner_rows",
        "max_left_mult", "max_right_mult", "max_key_pair_rows", "skew_ratio")
  }
}
