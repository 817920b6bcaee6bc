package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Summary-table operators.
  *
  * Reference semantics: summary_counts = GROUP BY facility × MonthYear of
  * SUM(0/1 outcome flags) (reference: queries/create_summary_counts_sql.py:1);
  * completeness summaries = % non-null per column (reference:
  * queries/create_summary_maternal_completeness_sql.py,
  * nodes_grouped/step_4_nodes/summary_baseline.py).
  *
  * Scale notes: completeness is ONE aggregation pass over all columns
  * (count(col) skips nulls), not a job per column; flag sums partial-
  * aggregate map-side. Decimal sums are exact and order-independent so
  * results are reproducible run-to-run regardless of partitioning.
  */
object Summaries {

  /** GROUP BY `keys`, summing each named conditional flag. */
  def flagCounts(df: DataFrame, keys: Seq[String], flags: Seq[(String, Column)]): DataFrame = {
    val aggs = flags.map { case (name, cond) => sum(when(cond, 1L).otherwise(0L)).as(name) }
    df.groupBy(keys.map(col).toIndexedSeq: _*).agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  /** Multi-granularity rollup summary: row count and Σ`value` at EVERY
    * prefix level of `dims` — (d1, d2, …), (d1, …), …, () grand total —
    * in one result, the classic OLAP subtotal table (SQL `GROUP BY
    * ROLLUP`). `level` is `grouping_id()` (first dim = most significant
    * bit; 0 = finest level, 2^|dims|−1 = grand total) — consult it, not
    * the dim columns, to tell a rolled-up NULL from a genuinely NULL
    * dimension value. `total` is emitted as DOUBLE (both engines cast
    * the same exact decimal sum, so the doubles agree bit-for-bit).
    *
    * Scale notes: TWO-PHASE on purpose. Spark plans `rollup` as
    * Expand × (levels+1) BELOW the aggregation — applied directly to a
    * 100 TB scan that multiplies every input row before the partial agg.
    * Aggregating the finest level FIRST (one ordinary hash agg, output =
    * |distinct dim combos| rows) and rolling up THAT frame runs the
    * Expand over the already-tiny aggregate: the raw data is scanned and
    * partial-aggregated exactly once, identical results (counts sum,
    * sums sum). The rollup phase costs one more (tiny) shuffle.
    */
  def rollupSummary(df: DataFrame, dims: Seq[String], value: Column,
                    nName: String = "n", totalName: String = "total"): DataFrame = {
    require(dims.nonEmpty, "rollupSummary needs at least one dimension")
    val dimCols = dims.map(col)
    val fine = df.groupBy(dimCols.toIndexedSeq: _*)
      .agg(count(lit(1)).as(nName), sum(value).as(totalName))
    val rolled = fine.rollup(dimCols.toIndexedSeq: _*)
      .agg(grouping_id().cast("long").as("level"),
        sum(col(nName)).as(nName),
        sum(col(totalName)).cast("double").as(totalName))
    // SQL GROUP BY ROLLUP (and the DuckDB oracle) emits the grand-total
    // row even for EMPTY input (n = 0, total NULL); Spark's rollup of an
    // empty frame emits nothing. Supply it declaratively: every `fine`
    // row has n >= 1, so coalesce(sum(n), 0) = 0 exactly when the input
    // was empty — the filter keeps this one-row agg only in that case.
    // The second reference to `fine` shares its shuffle subtree, so AQE
    // resolves this branch to a ReusedExchange — ONE physical scan +
    // partial agg at runtime (plan-pinned).
    val grandOnEmpty = fine
      .agg(coalesce(sum(col(nName)), lit(0L)).as(nName),
        sum(col(totalName)).cast("double").as(totalName))
      .filter(col(nName) === 0L)
      .select(dims.map(c =>
        lit(null).cast(df.schema(c).dataType).as(c)) ++ Seq(
        lit(((1L << dims.size) - 1)).as("level"),
        col(nName), col(totalName)): _*)
    rolled.unionByName(grandOnEmpty)
  }

  /** Categorical column profile — per column: exact distinct-value count,
    * null count, and the top-k most frequent values with counts (rank by
    * count desc, tie by value asc). The dataset-card counterpart of
    * [[numericProfile]] for label/enum columns (lang, source, license,
    * split, …). Returns one row per (column, top value):
    * (col_name, n_distinct, n_nulls, value, cnt, rank).
    *
    * Scale notes: the frame unpivots to (col_name, value) pairs in the
    * scan projection (one Generate — the scan is read once, multiplied
    * |cols| times BEFORE the shuffle, with column pruning intact), then
    * ONE hash aggregation with map-side combine produces per-value
    * counts; everything downstream of it aggregates the already-tiny
    * (distinct values × cols) stream: the top-k cut is a
    * `graft_top_k_by` bounded heap per column (no window sort), the
    * distinct/null census is a second agg of the same stream, and the
    * final join broadcasts the tiny top-k side. An
    * `approx_count_distinct` sketch would drop the value-count shuffle
    * entirely — but a dataset card wants exact counts, and the per-value
    * agg IS the exact price.
    *
    * Every requested column gets at least one row: an all-NULL column has
    * no top-k rows, so its census facts (n_distinct = 0, n_nulls = n —
    * the very fact a card must report) ride a single row with NULL
    * value/cnt/rank — the census side of the join is PRESERVED, the
    * psiDrift "every requested column gets a row" discipline.
    */
  def categoricalProfile(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    require(cols.nonEmpty && k >= 1, "categoricalProfile needs columns and k >= 1")
    val stackArgs = cols.flatMap(c => Seq(lit(c), col(c).cast("string")))
    val pairs = df.select(stack(lit(cols.size) +: stackArgs: _*).as(Seq("col_name", "value")))
    val counts = pairs.groupBy(col("col_name"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val census = counts.groupBy(col("col_name")).agg(
      count(when(col("value").isNotNull, 1)).as("n_distinct"),
      sum(when(col("value").isNull, col("cnt")).otherwise(0L)).as("n_nulls"))
    val top = counts.filter(col("value").isNotNull)
      .groupBy(col("col_name"))
      .agg(call_function("graft_top_k_by",
        struct(col("value"), col("cnt")), col("cnt"), col("value"), lit(k)).as("top"))
      .select(col("col_name"), posexplode(col("top")))
      .select(col("col_name"), col("col.value").as("value"),
        col("col.cnt").as("cnt"), (col("pos") + 1).cast("long").as("rank"))
    // right-outer preserving the census: broadcast hint on the STREAMED
    // top-k side (BuildLeft is the only broadcastable side of a right
    // outer join) — both frames are post-agg tiny, the hint just pins
    // the strategy at plan time
    broadcast(top).join(census, Seq("col_name"), "right_outer")
      .select(col("col_name"), col("n_distinct"), col("n_nulls"),
        col("value"), col("cnt"), col("rank"))
  }

  /** (col_name, v) numeric entries for the dataset-card family: every
    * column exploded to rows in the scan projection (one Generate, one
    * data pass, column pruning intact), NULL AND NaN values excluded —
    * the whole card family treats NaN as missing (the SQL aggregate
    * semantic [[exactQuantilesPerColumn]] already applied), so bin
    * counts always agree with cuts computed over the same NaN-free
    * population regardless of which quantile path produced them.
    */
  private def numericEntries(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("double").as("v"))): _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))

  /** Equi-width (lo, binWidth) per column from ONE all-columns min/max
    * pass over the FINITE values of `df`: NaN ≡ missing here, like
    * [[numericEntries]] (a raw max() would return NaN and poison the
    * grid), and ±Inf would make `lo` or the width infinite, so every
    * value would share one bin. ±Inf rows still count: the binning
    * clamps them into the edge bins. Columns with no finite value are
    * absent from the result.
    */
  private def equiWidthBounds(df: DataFrame, cols: Seq[String],
                              nBins: Int): Map[String, (Double, Double)] = {
    val statsRow = {
      val aggs = cols.flatMap { c =>
        val d = col(c).cast("double")
        val fin = when(!isnan(d) && d > Double.NegativeInfinity &&
          d < Double.PositiveInfinity, d)
        Seq(min(fin).as(s"__mn_$c"), max(fin).as(s"__mx_$c"))
      }
      df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head()
    }
    cols.zipWithIndex.flatMap { case (c, i) =>
      if (statsRow.isNullAt(2 * i)) None
      else {
        val lo = statsRow.getDouble(2 * i)
        val hi = statsRow.getDouble(2 * i + 1)
        Some(c -> ((lo, (hi - lo) / nBins)))
      }
    }.toMap
  }

  /** Per-column equi-width histograms — the dataset-card distribution
    * shape companion of [[numericProfile]] (which gives point stats) and
    * [[categoricalProfile]] (discrete values). One row per non-empty bin:
    * (col_name, bin, lo, hi, n); bin width = (max−min)/nBins from a
    * single all-columns stats pass over the finite values, the max value
    * and ±Inf clamped into the edge bins, a constant column (max == min)
    * collapsing to bin 0. NULLs and NaN are excluded (the profile
    * already counts them); empty bins are not emitted.
    *
    * Scale notes: ONE tiny stats job (min/max for every column together —
    * bounds become plan constants), then ONE pass over the data: an
    * all-columns explode + a per-column codegen CASE computes the bin,
    * and a single map-side-combined hash agg counts — at most
    * cols×nBins rows shuffle per map task. No per-column scans, no sort,
    * no percentile buffers. 5-dp-rounded bounds for engine portability.
    */
  def histogram(df: DataFrame, cols: Seq[String], nBins: Int = 10): DataFrame = {
    require(cols.nonEmpty, "histogram needs at least one column")
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    // all-NULL columns produce no rows downstream
    val bounds = equiWidthBounds(df, cols, nBins)
    val entries = numericEntries(df, cols)
    def perCol(f: (String, Double, Double) => Column): Column =
      bounds.foldLeft(lit(null).cast("double")) { case (acc, (c, (lo, w))) =>
        when(col("col_name") === c, f(c, lo, w)).otherwise(acc)
      }
    val bin = perCol { (_, lo, w) =>
      if (w == 0d) lit(0d)
      else least(greatest(floor((col("v") - lo) / w), lit(0d)), lit((nBins - 1).toDouble))
    }.cast("long")
    val binned = entries.withColumn("bin", bin)
      .groupBy("col_name", "bin").agg(count(lit(1)).as("n"))
    binned
      .withColumn("lo", round(perCol((_, lo, w) => lit(lo) + col("bin") * w), 5))
      .withColumn("hi", round(perCol((_, lo, w) => lit(lo) + (col("bin") + 1) * w), 5))
      .select(col("col_name"), col("bin"), col("lo"), col("hi"), col("n"))
  }

  /** Per-column equi-DEPTH (quantile) histograms — the skew-robust
    * companion of [[histogram]]: bin boundaries sit at the j/nBins
    * quantiles, so every bin holds ≈ n/nBins rows no matter how heavy
    * the tail (an equi-width histogram of a power-law column piles
    * everything into bin 0). One row per non-empty bin:
    * (col_name, bin, lo, hi, n) — `lo`/`hi` are the interior cut values
    * (5-dp, the portability discipline), NULL at the outer edges; a row
    * lands in bin Σ(v ≥ cut_j) (strict-< boundaries, the q89 rule, so
    * both engines agree on ties). NULLs are excluded; values tied AT a
    * cut all land in the upper bin, so heavy ties can still skew counts
    * — that is the data, not the operator.
    *
    * Scale notes: exact cuts for ALL columns come from ONE batched
    * [[exactQuantilesPerColumn]] call (all nBins−1 ranks of every column
    * share each pass; a small interval is one collect + sort, a large
    * one O(log) narrowing passes — bounded memory, no value→count
    * buffer anywhere). After that the binning is the histogram
    * pipeline: cuts are plan constants, one explode + codegen CASE + a
    * single map-side-combined hash agg. ±Inf values are counted (an
    * infinite cut puts the finite values below it and the infinities at
    * or above it in adjacent bins).
    */
  def equidepthBins(df: DataFrame, cols: Seq[String], nBins: Int = 4): DataFrame = {
    require(cols.nonEmpty, "equidepthBins needs at least one column")
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val qs = (1 until nBins).map(_.toDouble / nBins)
    // ONE narrowing sequence resolves ALL columns' cuts together; an
    // empty/all-NULL/all-NaN column yields all-None → absent (no rows
    // downstream either)
    val res = exactQuantilesPerColumn(df, cols.map(c => c -> qs))
    val cuts: Map[String, Seq[Double]] = cols.flatMap { c =>
      val vs = res(c)
      if (vs.head.isEmpty) None
      else Some(c -> vs.map(v => round5(v.get)))
    }.toMap
    val entries = numericEntries(df, cols)
    def perCol(f: Seq[Double] => Column): Column =
      cuts.foldLeft(lit(null).cast("double")) { case (acc, (c, cs)) =>
        when(col("col_name") === c, f(cs)).otherwise(acc)
      }
    val bin = perCol(cs =>
      cs.map(cut => when(col("v") >= cut, 1d).otherwise(0d)).reduce(_ + _))
      .cast("long")
    def boundAt(sel: (Seq[Double], Int) => Option[Double]): Column =
      cuts.foldLeft(lit(null).cast("double")) { case (acc, (c, cs)) =>
        val inner = (0 until nBins).foldLeft(lit(null).cast("double")) { (a, b) =>
          sel(cs, b).map(v => when(col("bin") === b, lit(v)).otherwise(a)).getOrElse(a)
        }
        when(col("col_name") === c, inner).otherwise(acc)
      }
    entries.withColumn("bin", bin)
      .groupBy("col_name", "bin").agg(count(lit(1)).as("n"))
      .withColumn("lo", boundAt((cs, b) => if (b > 0) Some(cs(b - 1)) else None))
      .withColumn("hi", boundAt((cs, b) => if (b < nBins - 1) Some(cs(b)) else None))
      .select(col("col_name"), col("bin"), col("lo"), col("hi"), col("n"))
  }

  /** Population-stability-index (PSI) drift between a reference and a
    * current sample, per column — the standard production drift monitor
    * (credit-scoring lineage, now the default ML-ops distribution check;
    * public technique): bin BOTH samples on equi-width bins fixed from
    * the REFERENCE min/max (out-of-range current values clamp into the
    * edge bins, so new mass beyond the old range is still seen), then
    * PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref), with `floor` as
    * the conventional zero-proportion guard. Output one row per column:
    * (col_name, psi, drift) — drift graded on the industry thresholds
    * (< 0.1 stable, < 0.25 moderate, else major). A CONSTANT reference
    * column (min == max) keeps exact matches in bin 0 and sends any
    * deviating current value to the far edge bin — clamping everything
    * into one cell would report psi 0 for a total shift, the one signal
    * a drift monitor must never hide. Every requested column gets a
    * row: zero non-NULL rows on either side (including an all-NULL
    * reference) yields NULL psi/drift — undefined, not NaN and not
    * silently dropped.
    *
    * Float discipline: per-bin terms are 5-dp-rounded and summed as
    * DECIMAL (order-independent, engine-replayable); the drift grade
    * compares the rounded sum. Bins empty in BOTH samples contribute
    * exactly zero (floor vs floor), so the sparse per-bin count frame
    * needs no densification.
    *
    * Scale notes: reference bounds are plan constants (one tiny min/max
    * agg); both samples then flow through ONE union + explode + codegen
    * bin CASE and a single map-side-combined hash agg (at most
    * cols×nBins×2 rows shuffle per map task); everything after operates
    * on the ≤ cols×nBins frame with broadcast totals.
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, cols: Seq[String],
               nBins: Int = 10, floor: Double = 1e-4): DataFrame = {
    require(cols.nonEmpty, "psiDrift needs at least one column")
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    require(floor > 0 && floor < 1, s"floor must be in (0, 1), got $floor")
    val bounds = referenceBins(ref, cols, nBins)
    val entries = numericEntries(ref, cols).withColumn("side", lit("r"))
      .unionByName(numericEntries(cur, cols).withColumn("side", lit("c")))
    val counts = entries.withColumn("bin", psiBinColumn(bounds, nBins))
      .filter(col("bin").isNotNull) // columns with no ref bounds drop out
      .groupBy("col_name", "bin")
      .agg(sum(when(col("side") === "r", 1L).otherwise(0L)).as("cr"),
        sum(when(col("side") === "c", 1L).otherwise(0L)).as("cc"))
    val scored = psiFromBinCounts(counts, Seq("col_name"), floor)
    // a column with an all-NULL reference has no bins and vanished from
    // `counts` — the monitor still owes the caller a row (NULL psi, the
    // same undefined-PSI signal as an empty current side)
    val missing = cols.filterNot(bounds.contains)
    if (missing.isEmpty) scored
    else {
      val spark = ref.sparkSession
      import spark.implicits._
      scored.unionByName(missing.toDF("col_name")
        .withColumn("psi", lit(null).cast("double"))
        .withColumn("drift", lit(null).cast("string")))
    }
  }

  /** Equi-width reference bounds (lo, binWidth) per column from ONE
    * min/max pass over the reference sample — the plan-time constant a
    * drift monitor (batch [[psiDrift]] or a streaming binner) carries.
    * All-NULL/all-NaN columns are absent.
    */
  def referenceBins(ref: DataFrame, cols: Seq[String],
                    nBins: Int): Map[String, (Double, Double)] =
    equiWidthBounds(ref, cols, nBins)

  /** The drift-monitor bin expression over a (col_name, v) entries frame:
    * bounds-clamped equi-width bin, with the constant-reference rule —
    * exact matches of a zero-width reference stay in bin 0, ANY deviation
    * lands in the far edge bin so the shift registers (histogram's bin-0
    * collapse is correct there, where only the reference's own values
    * flow through). NULL for columns without bounds.
    */
  def psiBinColumn(bounds: Map[String, (Double, Double)], nBins: Int): Column =
    bounds.foldLeft(lit(null).cast("double")) { case (acc, (c, (lo, w))) =>
      val b = if (w == 0d) when(col("v") === lo, 0d).otherwise((nBins - 1).toDouble)
        else least(greatest(floor_((col("v") - lo) / w), lit(0d)),
          lit((nBins - 1).toDouble))
      when(col("col_name") === c, b).otherwise(acc)
    }.cast("long")

  /** PSI + grade from per-(key, bin) reference/current counts — the
    * shared finalizer behind [[psiDrift]] and the streaming monitor's
    * per-window close ([[graft.streaming.StreamDrift]]). `keyCols`
    * usually is `col_name`, or (window, col_name) for windowed counts.
    * Proportions are floor-guarded; terms sum as exact decimals
    * (order-independent); a key with an empty side scores NULL.
    */
  def psiFromBinCounts(counts: DataFrame, keyCols: Seq[String],
                       floor: Double = 1e-4): DataFrame = {
    require(keyCols.nonEmpty, "psiFromBinCounts needs at least one key column")
    val totals = counts.groupBy(keyCols.map(col): _*)
      .agg(sum("cr").as("tr"), sum("cc").as("tc"))
    val pr = greatest(col("cr").cast("double") / col("tr"), lit(floor))
    val pc = greatest(col("cc").cast("double") / col("tc"), lit(floor))
    val term = round((pc - pr) * log(pc / pr), 5)
    counts.join(broadcast(totals), keyCols)
      .select(keyCols.map(col) :+
        when(col("tr") === 0 || col("tc") === 0, lit(null).cast("decimal(18,5)"))
          .otherwise(term.cast("decimal(18,5)")).as("t"): _*)
      .groupBy(keyCols.map(col): _*).agg(sum(col("t")).cast("double").as("psi"))
      .withColumn("drift",
        when(col("psi").isNull, lit(null).cast("string"))
          .when(col("psi") < 0.1, lit("stable"))
          .when(col("psi") < 0.25, lit("moderate"))
          .otherwise(lit("major")))
  }

  // psiDrift's `floor` PARAMETER shadows functions.floor inside it
  private def floor_(c: Column): Column = org.apache.spark.sql.functions.floor(c)

  /** Single-row completeness summary: for each column, fraction non-null
    * (4 dp). One pass, one partial-aggregable plan.
    */
  def completeness(df: DataFrame, cols: Seq[String]): DataFrame = {
    // raw double division (no rounding): bit-identical across engines,
    // order-independent — safe for exact result comparison
    val aggs = cols.map { c =>
      (count(col(c)).cast("double") / count(lit(1))).as(s"${c}_complete")
    }
    df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  /** Column name for a quantile stat row/column: p50, p25, p99, p97_5 —
    * the dataset-card convention shared by [[numericProfile]] and
    * [[DatasetCard]].
    */
  def quantileColName(q: Double): String = {
    val pct = q * 100
    if (pct == math.rint(pct)) s"p${pct.toInt}"
    else "p" + BigDecimal(pct).bigDecimal.stripTrailingZeros.toPlainString
      .replace('.', '_')
  }

  /** Per-column numeric profile — one row per column with count / null
    * count / min / max / mean / quantile vector (default just the
    * median; a card typically asks for p25/p50/p75/p95/p99) — the
    * dataset-card statistics a corpus release ships. ONE aggregation
    * pass over all columns, then a `stack` unpivot of the single result
    * row (driver-side-tiny). Output columns: column_name, n_non_null,
    * n_null, min, max, mean, then one [[quantileColName]] column per
    * requested quantile, in request order.
    *
    * Mean follows the float discipline: exact decimal(28,6) sum cast to
    * double, then divided — order-independent, engine-portable. The
    * decimal cast drops NaN and ±Inf, so the divisor is the count of the
    * values the sum admits: the mean is the mean of the finite values.
    * Quantiles are `approx_percentile` (t-digest-style sketch,
    * partial-aggregable, bounded memory) by default; `exact = true`
    * keeps them EXACT while staying memory-bounded: the other stats
    * still run in the ONE aggregation pass, and the whole quantile
    * VECTOR of every column routes through [[exactQuantilesPerColumn]]
    * (one collect + sort for small columns, iterative histogram
    * narrowing for large ones, every rank of every column sharing each
    * pass) — no value→count buffered aggregate anywhere in the plan.
    * That is the 100 TB dataset-card profile: five quantiles of ten
    * columns cost the same pass count as one median of one column.
    *
    * NaN discipline: quantiles exclude NaN in BOTH modes (NaN ≡
    * missing, the narrowing core's semantic). min/max keep the raw
    * aggregate semantics: Spark sorts NaN greatest, so a NaN-bearing
    * column reports `max` NaN and a finite `min`.
    */
  def numericProfile(df: DataFrame, cols: Seq[String],
                     exact: Boolean = false,
                     quantiles: Seq[Double] = Seq(0.5)): DataFrame = {
    require(cols.nonEmpty, "numericProfile needs at least one column")
    require(quantiles.nonEmpty, "numericProfile needs at least one quantile")
    quantiles.foreach(qv =>
      require(qv >= 0 && qv <= 1, s"quantile must be in [0, 1], got $qv"))
    val qNames = quantiles.map(quantileColName)
    require(qNames.distinct.size == qNames.size,
      s"duplicate quantiles: $quantiles")
    // helper aliases go through selectExpr — backtick-quote them (and
    // escape the label literal) so names like `price-usd` or `a.b` don't
    // parse as arithmetic / struct access
    def q(name: String) = "`" + name.replace("`", "``") + "`"
    def lit_(s: String) = "'" + s.replace("'", "''") + "'"
    val aggs = cols.flatMap { c =>
      val d = col(c).cast("double")
      val ps =
        if (exact) Nil // narrowing passes below, not a buffered agg
        else Seq(call_function("approx_percentile", when(!isnan(d), d),
          typedlit(quantiles), lit(10000)).as(s"__qs__$c"))
      Seq(
        count(col(c)).as(s"__n__$c"),
        count(when(col(c).isNull, 1)).as(s"__nn__$c"),
        min(d).as(s"__min__$c"),
        max(d).as(s"__max__$c"),
        sum(col(c).cast("decimal(28,6)")).cast("double").as(s"__sum__$c"),
        count(col(c).cast("decimal(28,6)")).as(s"__nd__$c")) ++ ps
    }
    val one = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    // the sketch array unpivots by 0-based element access; an all-NULL
    // column's NULL array propagates NULL elements, matching the
    // narrowing path's all-None
    val qArgs = (c: String) => quantiles.indices.map(i =>
      if (exact) "CAST(NULL AS DOUBLE)" else s"${q(s"__qs__$c")}[$i]")
      .mkString(", ")
    val stackArgs = cols.map(c =>
      s"${lit_(c)}, ${q(s"__n__$c")}, ${q(s"__nn__$c")}, ${q(s"__min__$c")}, " +
        s"${q(s"__max__$c")}, ${q(s"__sum__$c")}, ${q(s"__nd__$c")}, ${qArgs(c)}")
      .mkString(", ")
    val unpivoted = one.selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        s"(column_name, n_non_null, n_null, min, max, __sum, __nd, " +
        s"${qNames.map(q).mkString(", ")})")
      .withColumn("mean", col("__sum") / col("__nd"))
    val withQs =
      if (!exact) unpivoted
      else {
        // the narrowing jobs run NOW (plan-time, like the centroid
        // collects) and the tiny per-column results re-enter the plan as
        // CASE literals over column_name; ALL quantiles of ALL columns
        // share ONE fused narrowing sequence — same pass count as one
        // median of one column
        val byCol = exactQuantilesPerColumn(df, cols.map(c => c -> quantiles))
        qNames.zipWithIndex.foldLeft(unpivoted) { case (acc, (qn, qi)) =>
          acc.withColumn(qn,
            cols.foldLeft(lit(null).cast("double")) { case (a, c) =>
              when(col("column_name") === c,
                byCol(c)(qi).map(lit(_)).getOrElse(lit(null).cast("double")))
                .otherwise(a)
            })
        }
      }
    withQs.select((Seq("column_name", "n_non_null", "n_null", "min", "max",
      "mean") ++ qNames).map(col): _*)
  }

  /** EXACT interpolated quantiles (percentile_cont semantics — identical
    * to Spark's `percentile` and DuckDB's `quantile_cont`) computed by
    * iterative histogram narrowing instead of buffering every value:
    * each round is one distributed pass that buckets every candidate
    * interval into 128 equal widths and fuses the boundary recounts,
    * each interval narrows to the bucket holding its target rank, and
    * once few enough candidates remain they are collected and selected
    * exactly. O(log) passes, bounded driver data — the 100 TB path for
    * exact medians, where the `percentile` aggregate (which holds a
    * value→count map per partial) stops scaling.
    *
    * ALL requested quantiles of ALL requested columns share one stats
    * pass and ONE narrowing sequence. Ranks whose candidate intervals
    * coincide (interpolation pairs, nearby quantiles) travel in a shared
    * group that splits only when its ranks choose different buckets.
    * Per round, every still-active interval —
    * across every column — is bucket-counted in a SINGLE job over one
    * (column, value) entries stream and recounted/tightened in a SINGLE
    * fused aggregate. A 10-column exact dataset-card profile (or a
    * multi-column equi-depth cut set, or the perplexity-bucket
    * tail/head cutoff pair) therefore costs the same number of passes
    * over the data as one quantile of one column.
    *
    * Per-element semantics: percentile_cont interpolation; ±Infinity
    * values are counted once per column and selected positionally —
    * narrowing runs over the finite range only, so the interval
    * arithmetic can't overflow (width is computed as hi/128 − lo/128
    * for the same reason); massive tie clusters resolve exactly via
    * distinct-value selection; and a narrowing stall on an adversarially
    * dense interval degrades to an exact distributed sort-selection
    * (slower, never a failure — data shape alone can't abort a long
    * pipeline). NaNs are excluded (SQL aggregate semantics);
    * absent/empty/all-NULL columns yield all-None.
    *
    * Cost: one stats pass + two jobs per narrowing round (none while every
    * column holds at most `collectThreshold` finite values) + ONE collect
    * job per `collectThreshold`-sized batch of resolved intervals,
    * whatever the column and interval count; only oversize stalled
    * intervals (dense tie clusters) add their own distinct-value job.
    */
  def exactQuantilesPerColumn(df: DataFrame, colQs: Seq[(String, Seq[Double])],
                              collectThreshold: Int = 1 << 20): Map[String, Seq[Option[Double]]] = {
    require(colQs.nonEmpty, "colQs must be non-empty")
    require(colQs.map(_._1).distinct.size == colQs.size,
      "duplicate columns in colQs")
    colQs.foreach { case (c, qs) =>
      require(qs.nonEmpty, s"no quantiles requested for column $c")
      qs.foreach(q =>
        require(q >= 0 && q <= 1, s"quantile must be in [0, 1], got $q ($c)"))
    }
    require(collectThreshold >= 2, "collectThreshold must be >= 2")
    val colsIn = colQs.map(_._1)
    // ONE (column, value) entries stream feeds every column's narrowing —
    // the whole batch shares each pass over the data
    val entries = df.select(explode(array(colsIn.map(c =>
        struct(lit(c).as("c"), col(c).cast("double").as("v"))).toIndexedSeq: _*)).as("e"))
      .select(col("e.c").as("c"), col("e.v").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    val isFin = col("v") > Double.NegativeInfinity && col("v") < Double.PositiveInfinity
    // ONE stats pass for every column: counts, ±Inf census, finite
    // min/max (the narrowing's starting intervals cost no extra scan)
    final case class ColStats(n: Long, nNeg: Long, nPos: Long,
                              lo0: Double, hi0: Double)
    val stats: Map[String, ColStats] = entries.groupBy(col("c")).agg(
        count(lit(1)), count(when(col("v") === Double.NegativeInfinity, 1)),
        count(when(col("v") === Double.PositiveInfinity, 1)),
        min(when(isFin, col("v"))), max(when(isFin, col("v"))))
      .collect().map { r =>
        r.getString(0) -> ColStats(r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5))
      }.toMap
    val finite = entries.filter(isFin)
    // percentile_cont per column: 0-based real rank r = q(n−1); each
    // quantile interpolates the order statistics at floor(r) and ceil(r).
    // The narrowing resolves the DISTINCT finite ranks each column needs
    // (±Inf ranks resolve positionally, outside the narrowing).
    val ranks: Map[String, Seq[(Double, Long, Long)]] = colQs.map { case (c, qs) =>
      c -> (stats.get(c) match {
        case Some(s) if s.n > 0 => qs.map { q =>
          val r = q * (s.n - 1); (r, math.floor(r).toLong, math.ceil(r).toLong)
        }
        case _ => Nil
      })
    }.toMap

    // One narrowing state per GROUP of ranks sharing a (column, interval);
    // a group splits only when its ranks choose different buckets.
    final case class Group(c: String, lo: Double, hi: Double, below: Long,
                           in: Long, ranks: Seq[Long], stalled: Boolean)
    var groups: List[Group] = colQs.toList.flatMap { case (c, _) =>
      stats.get(c).filter(_.n > 0).flatMap { s =>
        val js = ranks(c).flatMap { case (_, kLo, kHi) => Seq(kLo, kHi) }
          .filter(k => k >= s.nNeg && k < s.n - s.nPos)
          .map(_ - s.nNeg).distinct.sorted
        if (js.isEmpty) None
        else Some(Group(c, s.lo0, s.hi0, 0L, s.n - s.nNeg - s.nPos, js,
          stalled = java.lang.Double.compare(s.lo0, s.hi0) == 0)) // incl. all −0.0 vs 0.0 mixes
      }
    }
    var rounds = 0
    var looping = true
    while (looping && rounds < 80) {
      val act = groups.filter(g => g.in > collectThreshold && !g.stalled)
      if (act.isEmpty) looping = false
      else {
        rounds += 1
        val done = groups.filterNot(g => g.in > collectThreshold && !g.stalled)
        // hi/128 − lo/128, NOT (hi−lo)/128: the subtraction can overflow
        // to Inf when the column spans most of the double range; a
        // non-positive width stalls the group (same as the single-rank
        // narrowing did)
        val (widthOk, widthStalled) =
          act.partition(g => g.hi / 128.0 - g.lo / 128.0 > 0)
        if (widthOk.isEmpty)
          groups = done ++ widthStalled.map(_.copy(stalled = true))
        else {
          val idxd = widthOk.zipWithIndex
          // ONE bucket-count job for ALL active intervals of ALL columns:
          // each row emits one (group, bucket) entry per interval of ITS
          // column containing it
          val parts = idxd.map { case (g, gi) =>
            val w = g.hi / 128.0 - g.lo / 128.0
            // v/w − lo/w keeps the quotient bounded (~±128) for the same
            // overflow reason; clamp float-edge strays into [0, 127]
            val bucket = greatest(least(
              floor(col("v") / lit(w) - lit(g.lo) / lit(w)), lit(127.0)), lit(0.0))
              .cast("int")
            when(col("c") === g.c && col("v") >= g.lo && col("v") <= g.hi,
              struct(lit(gi).as("g"), bucket.as("b")))
          }
          val counts = finite.select(explode(array(parts.toIndexedSeq: _*)).as("p"))
            .filter(col("p").isNotNull)
            .groupBy(col("p.g"), col("p.b")).agg(count(lit(1)).as("cnt"))
            .collect().map(row => (row.getInt(0), row.getInt(1)) -> row.getLong(2))
            .toMap
          // each rank picks the bucket holding it; a group's ranks
          // partition into tentative subgroups by chosen bucket
          final case class Sub(parent: Group, lo2: Double, hi2: Double,
                               ranks: Seq[Long])
          val subs = idxd.flatMap { case (g, gi) =>
            val w = g.hi / 128.0 - g.lo / 128.0
            val byBucket = g.ranks.groupBy { j =>
              var acc = g.below; var chosen = -1; var b = 0
              while (b < 128 && chosen < 0) {
                val cb = counts.getOrElse((gi, b), 0L)
                if (acc + cb > j) chosen = b else acc += cb
                b += 1
              }
              if (chosen < 0) 127 else chosen
            }
            byBucket.toSeq.sortBy(_._1).map { case (chosen, rs) =>
              Sub(g, math.nextDown(g.lo + chosen * w),
                math.nextUp(if (chosen == 127) g.hi else g.lo + (chosen + 1) * w),
                rs)
            }
          }
          // ONE fused recount pass for every tentative subgroup: floor()
          // bucketing is only approximate in float math, so the committed
          // intervals are recounted authoritatively — and TIGHTENED to the
          // candidates' actual min/max, so an interval never crawls
          // through empty value space (a [0, 1e304] bucket holding values
          // ≤ 1e6 collapses to [min, 1e6] in one round instead of
          // 128×-per-round for ~140)
          val aggs = subs.flatMap { s =>
            val mine = col("c") === s.parent.c
            val inI = mine && col("v") >= s.lo2 && col("v") <= s.hi2
            Seq(count(when(mine && col("v") < s.lo2, 1)), count(when(inI, 1)),
              min(when(inI, col("v"))), max(when(inI, col("v"))))
          }
          val re = finite.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head()
          val next = subs.zipWithIndex.flatMap { case (s, i) =>
            val below2 = re.getLong(4 * i); val in2 = re.getLong(4 * i + 1)
            // rank containment must still hold after the recount; ranks
            // the tentative interval lost stall on the PARENT interval
            // (the pre-round state, exactly what the single-rank form
            // kept on stall)
            val (kept, lost) =
              s.ranks.partition(j => in2 > 0 && below2 <= j && j < below2 + in2)
            val stalledLost =
              if (lost.isEmpty) Nil
              else List(s.parent.copy(ranks = lost, stalled = true))
            val keptGroup =
              if (kept.isEmpty) Nil
              else {
                val (lo3, hi3) = (re.getDouble(4 * i + 2), re.getDouble(4 * i + 3))
                // progress = the interval strictly shrank (count-based
                // progress stalls while a wide range collapses onto a
                // dense cluster)
                if (!(lo3 > s.parent.lo || hi3 < s.parent.hi))
                  List(s.parent.copy(ranks = kept, stalled = true))
                else List(Group(s.parent.c, lo3, hi3, below2, in2, kept,
                  stalled = false))
              }
            stalledLost ++ keptGroup
          }
          groups = done ++ widthStalled.map(_.copy(stalled = true)) ++ next
        }
      }
    }
    // round budget exhausted with live oversize groups → treat as stalled
    groups = groups.map(g =>
      if (g.in > collectThreshold && !g.stalled) g.copy(stalled = true) else g)

    // Finalize. Small intervals are packed into batches of at most
    // collectThreshold values in total, and each batch is ONE collect job:
    // every value is tagged with each batch group whose (column, interval)
    // holds it — an explode, not a single tag, because sibling groups can
    // share their boundary values — then each group's values are sorted
    // on the driver and ALL its ranks are read off by index. Oversize
    // stalled intervals resolve by distinct values (tie clusters denser
    // than the threshold — groupBy normalizes −0.0 to 0.0, matching
    // percentile_cont on signed-zero mixes) or, on an adversarially dense
    // MANY-distinct-value interval the histogram rounds can't split, by
    // per-rank exact distributed sort-selection (orderBy range-partitions
    // the interval's rows and zipWithIndex adds one count pass —
    // memory-bounded, just slower; data shape alone can't abort a long
    // pipeline).
    val jToV = scala.collection.mutable.Map.empty[(String, Long), Double]
    val (small, oversize) = groups.toIndexedSeq.partition(_.in <= collectThreshold)
    packBatches(small.map(_.in), collectThreshold).foreach { batch =>
      val members = batch.map(small)
      val tags = members.zipWithIndex.map { case (g, i) =>
        when(col("c") === g.c && col("v") >= g.lo && col("v") <= g.hi, lit(i))
      }
      val values = Array.fill(members.size)(Array.newBuilder[Double])
      finite.select(explode(array(tags: _*)).as("g"), col("v"))
        .filter(col("g").isNotNull).collect()
        .foreach(r => values(r.getInt(0)) += r.getDouble(1))
      members.zip(values).foreach { case (g, b) =>
        val arr = b.result()
        java.util.Arrays.sort(arr)
        g.ranks.foreach(j => jToV((g.c, j)) = arr((j - g.below).toInt))
      }
    }
    oversize.foreach { g =>
      val interval = finite
        .filter(col("c") === g.c && col("v") >= g.lo && col("v") <= g.hi)
        .select(col("v"))
      val dv = interval.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("v")).limit(collectThreshold + 1).collect()
        .map(row => (row.getDouble(0), row.getLong(1)))
      if (dv.length <= collectThreshold) {
        g.ranks.foreach { j =>
          var acc = g.below
          jToV((g.c, j)) = dv.collectFirst {
            case (value, cnt) if { acc += cnt; acc > j } => value
          }.getOrElse(dv.last._1)
        }
      } else {
        g.ranks.foreach { j =>
          val idx = j - g.below
          jToV((g.c, j)) = interval.orderBy(col("v"))
            .rdd.zipWithIndex()
            .filter(_._2 == idx).map(_._1.getDouble(0)).first()
        }
      }
    }
    // ±Inf are positional extremes per column: rank below nNeg is −Inf,
    // rank at or past n − nPos is +Inf, everything between selects among
    // that column's finite values
    colQs.map { case (c, qs) =>
      c -> (stats.get(c) match {
        case Some(s) if s.n > 0 =>
          def orderStat(k: Long): Double =
            if (k < s.nNeg) Double.NegativeInfinity
            else if (k >= s.n - s.nPos) Double.PositiveInfinity
            else jToV((c, k - s.nNeg))
          ranks(c).map { case (r, kLo, kHi) =>
            val loV = orderStat(kLo)
            // exact rank: no interpolation — −Inf + 0·NaN would poison
            // it to NaN
            if (kLo == kHi) Some(loV)
            else {
              val hiV = orderStat(kHi)
              // the WEIGHTED form, not loV + frac·(hiV−loV): it is what
              // Spark's percentile computes, and the two differ by an ulp
              // on some inputs — "identical to percentile" means matching
              // its float ops
              Some((kHi - r) * loV + (r - kLo) * hiV)
            }
          }
        case _ => qs.map(_ => None)
      })
    }.toMap
  }

  /** Greedy in-order packing of interval sizes (each ≤ `cap`) into
    * batches whose summed size stays within `cap`: the finalize of
    * [[exactQuantilesPerColumn]] collects one batch per job, so no single
    * collect returns more than `cap` values. Returns the batches as
    * indices into `sizes`.
    */
  private[graft] def packBatches(sizes: Seq[Long], cap: Long): Seq[Seq[Int]] = {
    require(sizes.forall(_ <= cap), s"an interval exceeds the batch cap $cap")
    sizes.indices.foldLeft(List.empty[(Long, List[Int])]) {
      case ((sum, b) :: done, i) if sum + sizes(i) <= cap => (sum + sizes(i), i :: b) :: done
      case (acc, i) => (sizes(i), List(i)) :: acc
    }.reverse.map(_._2.reverse)
  }

  /** Weekly cohort-retention matrix: entities are grouped into cohorts by
    * the week of their FIRST event; each (cohort_week, week_offset) cell
    * counts how many of that cohort were active `offset` weeks later —
    * the standard retention triangle, plus `n_cohort` so rates are
    * computable without a second query. Weeks are `date_trunc('week')`
    * (ISO Monday) and the offset is exact integer day-arithmetic.
    *
    * Scale notes: first-event aggregation and the per-entity activity
    * distinct are both keyed on the entity id — the join between them
    * reuses that partitioning (no third exchange); the final cell
    * aggregation runs over (entity, week) rows, already collapsed far
    * below event cardinality by the map-side distinct. Cohort sizes ride
    * a broadcast of the tiny per-cohort count.
    */
  def cohortRetention(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val firsts = df.groupBy(col(keyCol))
      .agg(date_trunc("week", min(col(tsCol))).cast("date").as("cohort_week"))
    val active = df.select(col(keyCol),
      date_trunc("week", col(tsCol)).cast("date").as("week")).distinct()
    val cells = active.join(firsts, Seq(keyCol))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = firsts.groupBy("cohort_week").agg(count(lit(1)).as("n_cohort"))
    cells.join(broadcast(sizes), Seq("cohort_week"))
      .select("cohort_week", "week_offset", "n_active", "n_cohort")
  }

  /** Completeness counting only non-null AND non-blank values — the
    * reference's string-column semantics (maternal_completeness treats ''
    * as missing). Same single-pass shape as [[completeness]].
    */
  def completenessNonEmpty(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map { c =>
      (count(when(col(c).isNotNull && length(trim(col(c).cast("string"))) > 0, 1))
        .cast("double") / count(lit(1))).as(s"${c}_complete")
    }
    df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  /** HALF_UP 5-dp rounding of a quantile cut — the SQL round()
    * convention, so an oracle's round(quantile, 5) lands on the same
    * double. ±Inf (an order statistic of a column holding infinities)
    * and NaN come back unchanged: they have no decimal form.
    */
  private[operators] def round5(v: Double): Double =
    if (v.isInfinite || v.isNaN) v
    else BigDecimal(v).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** 5-dp-rounded (median, MAD) per column over the FINITE core — the
    * shared robust-stats base of [[madOutliers]] and [[robustZscore]]:
    * exactly TWO fused [[exactQuantilesPerColumn]] batches for any column
    * count (medians of all columns share batch one, MAD medians of all
    * |x − med| columns share batch two; MAD needs the median first, so
    * two is the floor). Each batch costs one stats pass + its narrowing
    * rounds + one collect job per `collectThreshold`-sized batch of
    * resolved intervals — at sf0.1 (no column above the threshold) two
    * stats passes and two collects in all. No shuffle anywhere.
    */
  private def medMadStats(df: DataFrame, cols: Seq[String])
      : Map[String, (Option[Double], Option[Double])] = {
    // finite core only: ±Inf must not become an order statistic (it
    // would drag the MAD to Inf and the fences to everything)
    val finiteOnly = df.select(cols.map { c =>
      val v = col(c).cast("double")
      when(v > Double.NegativeInfinity && v < Double.PositiveInfinity, v)
        .otherwise(lit(null).cast("double")).as(c)
    }.toIndexedSeq: _*)
    val medians: Map[String, Option[Double]] =
      exactQuantilesPerColumn(finiteOnly, cols.map(c => (c, Seq(0.5))))
        .map { case (c, qs) => c -> qs.head.map(round5) }
    val present = cols.filter(c => medians.get(c).exists(_.isDefined))
    val mads: Map[String, Option[Double]] =
      if (present.isEmpty) Map.empty
      else {
        // |x − med| as derived columns; one second fused batch covers
        // every column's MAD median
        val dev = finiteOnly.select(present.map(c =>
          abs(col(c) - lit(medians(c).get)).as(c)).toIndexedSeq: _*)
        exactQuantilesPerColumn(dev, present.map(c => (c, Seq(0.5))))
          .map { case (c, qs) => c -> qs.head.map(round5) }
      }
    cols.map(c => c -> (medians.getOrElse(c, None), mads.getOrElse(c, None))).toMap
  }

  /** Robust (median/MAD) z-score normalization — appends `<col>_rz` =
    * (x − median)/(1.4826·MAD) per input column: the outlier-insensitive
    * standardization for heavy-tailed quality signals (the transform
    * complement of [[madOutliers]]' fence census — same stats, same two
    * fused narrowing batches, finite-core discipline). NULL/NaN → NULL;
    * ±Inf stays ±Inf (an infinite signal is infinitely many MADs out);
    * a zero/undefined MAD (constant or empty column) yields NULL scores
    * rather than ±Inf noise. The per-row transform is a pure
    * plan-constant codegen projection — no second shuffle.
    */
  def robustZscore(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "robustZscore needs at least one column")
    require(cols.distinct.size == cols.size, "duplicate columns in cols")
    val stats = medMadStats(df, cols)
    cols.foldLeft(df) { (acc, c) =>
      val v = col(c).cast("double")
      val isInf = v === Double.PositiveInfinity || v === Double.NegativeInfinity
      val out = stats(c) match {
        case (Some(m), Some(d)) if d > 0 =>
          when(v.isNull || isnan(v), lit(null).cast("double"))
            .when(isInf, (v - lit(m)) / lit(1.4826 * d))
            .otherwise(round((v - lit(m)) / lit(1.4826 * d), 6))
        case _ => lit(null).cast("double")
      }
      acc.withColumn(s"${c}_rz", out)
    }
  }

  /** Robust (median/MAD) outlier census per numeric column: median, MAD
    * (median absolute deviation), the k·1.4826·MAD cutoffs, and how many
    * values fall outside them. The 1.4826 factor scales MAD to σ for
    * normal data, so `k = 3.0` is the robust analogue of a 3σ rule —
    * unlike mean/stddev cutoffs, the fences themselves can't be dragged
    * by the outliers they're meant to catch.
    *
    * Engine-portability discipline: the median and MAD are rounded to
    * 5 dp BEFORE deriving the cutoffs, so `lo`/`hi` are pure IEEE
    * arithmetic over rounded inputs — any SQL engine computing
    * `round(quantile, 5)` the same way lands on bit-identical fences,
    * making the outlier COUNTS (strict `< lo` / `> hi`) portable too.
    * NaN ≡ missing, like the whole card family ([[numericEntries]]).
    * ±Inf is an OUTLIER, not an order statistic: the median/MAD come
    * from the finite core only (an Inf-contaminated MAD would be Inf
    * and the fences would swallow everything — the exact masking this
    * operator exists to prevent), while the fence comparison counts
    * every ±Inf value outside any finite fence, as it must.
    *
    * Scale shape: exactly TWO fused [[exactQuantilesPerColumn]] batches
    * regardless of column count ([[medMadStats]]), plus one counting
    * aggregation for the fences.
    */
  def madOutliers(df: DataFrame, cols: Seq[String], k: Double = 3.0): DataFrame = {
    require(cols.nonEmpty, "madOutliers needs at least one column")
    require(k > 0, s"k must be positive, got $k")
    val stats = medMadStats(df, cols)
    val medians: Map[String, Option[Double]] = stats.map { case (c, (m, _)) => c -> m }
    val mads: Map[String, Option[Double]] = stats.map { case (c, (_, d)) => c -> d }
    val spark = df.sparkSession
    import spark.implicits._
    val rows = cols.map { c =>
      (c, medians.getOrElse(c, None), mads.getOrElse(c, None))
    }.toDF("column_name", "median", "mad")
    // fences as plain double arithmetic over the rounded stats — the
    // identical expression any oracle engine evaluates
    val fenced = rows
      .withColumn("lo", col("median") - lit(k) * lit(1.4826) * col("mad"))
      .withColumn("hi", col("median") + lit(k) * lit(1.4826) * col("mad"))
    // ONE counting pass for all columns' fences (plan-constant bounds —
    // no join back, the centroid-matrix pattern)
    val fenceMap: Map[String, (Double, Double)] = cols.flatMap { c =>
      for (m <- medians.getOrElse(c, None); d <- mads.getOrElse(c, None))
        yield c -> (m - k * 1.4826 * d, m + k * 1.4826 * d)
    }.toMap
    val countAggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      val nonMissing = v.isNotNull && !isnan(v)
      fenceMap.get(c).map { case (lo, hi) =>
        Seq(count(when(nonMissing, 1)).as(s"__n_$c"),
          count(when(nonMissing && (v < lo || v > hi), 1)).as(s"__o_$c"))
      }.getOrElse(Seq(count(when(nonMissing, 1)).as(s"__n_$c"),
        lit(null).cast("long").as(s"__o_$c")))
    }
    val countsRow = df.agg(countAggs.head, countAggs.tail: _*).head()
    val counts = cols.zipWithIndex.map { case (c, i) =>
      val n = countsRow.getLong(2 * i)
      val o = if (countsRow.isNullAt(2 * i + 1)) None else Some(countsRow.getLong(2 * i + 1))
      (c, n, o)
    }.toDF("column_name", "n_values", "n_outliers")
    fenced.join(counts, Seq("column_name"))
      .withColumn("outlier_ratio",
        when(col("n_values") === 0 || col("n_outliers").isNull,
          lit(null).cast("double"))
          .otherwise(round(col("n_outliers").cast("double") / col("n_values"), 5)))
      .select("column_name", "median", "mad", "lo", "hi",
        "n_values", "n_outliers", "outlier_ratio")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic per column:
    * D = max over jump points of |ECDF_ref(x) − ECDF_cur(x)| — the
    * binning-free complement to [[psiDrift]] (no bin-edge sensitivity;
    * detects any distribution shift, not just mass moved across edges).
    * NaN ≡ missing. Columns with an empty side report NULL d_stat.
    *
    * Scale shape: raw values collapse to per-(column, distinct value)
    * counts first (shuffle on (col, v) with map-side combine — the only
    * data-sized exchange), so the ECDF walk runs over DISTINCT values.
    * The walk is a distributed prefix-sum: range-repartition the count
    * table by (column, value), accumulate per-partition subtotals,
    * collect ONLY the per-partition totals (#partitions rows) to the
    * driver, then a single mapPartitions pass adds each partition's
    * broadcast prefix offset and folds the running max — no window and
    * no single-task sort at any cardinality. The per-column totals come
    * from the same subtotal pass, not a separate aggregation.
    */
  def ksDrift(ref: DataFrame, cur: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "ksDrift needs at least one column")
    require(cols.distinct.size == cols.size, "duplicate columns in cols")
    val entries = numericEntries(ref, cols).withColumn("side", lit("r"))
      .unionByName(numericEntries(cur, cols).withColumn("side", lit("c")))
    // NOTE (r20 probe): do NOT localCheckpoint this frame. Its three
    // readers (totals collect, range-boundary sampling, the repartition)
    // all sit behind the SAME aggregation exchange, which AQE stage
    // reuse already dedups at runtime — an explicit cut ADDED a
    // materialization and lost the reuse (measured 4.3 → 5.4 s at sf0.1).
    val counts = entries.groupBy(col("col_name"), col("v"))
      .agg(sum(when(col("side") === "r", 1L).otherwise(0L)).as("cr"),
        sum(when(col("side") === "c", 1L).otherwise(0L)).as("cc"))
    val spark = ref.sparkSession
    import spark.implicits._
    // The per-column totals come from the subtotal pass, not a separate
    // aggregation: exchange reuse never spans jobs, so a standalone
    // totals collect would be a whole extra corpus pass (r21: folding it
    // away with the one-RDD form measured q110 4.79 → 2.28 s isolated).
    // ONE toRdd instance serves both passes: the second job reuses the
    // first's completed range-shuffle map output (RDD-level stage reuse),
    // so the counts aggregation runs ONCE per execution — a cache() +
    // .rdd form would pay a Row conversion per pass and recompute the
    // aggregation for the range sampler and the cache fill separately.
    val nPart = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val sortedRdd = counts
      .repartitionByRange(nPart, col("col_name"), col("v"))
      .sortWithinPartitions("col_name", "v")
      .select("col_name", "v", "cr", "cc")
      .queryExecution.toRdd
    // per-partition (col -> (sum cr, sum cc)) — #partitions × #cols rows
    val partTotals: Array[(Int, Map[String, (Long, Long)])] =
      sortedRdd.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.Map.empty[String, (Long, Long)]
        it.foreach { r =>
          val c = r.getUTF8String(0).toString
          val (a, b) = m.getOrElse(c, (0L, 0L))
          m(c) = (a + r.getLong(2), b + r.getLong(3))
        }
        Iterator.single((pid, m.toMap))
      }.collect()
    val totals: Map[String, (Long, Long)] = {
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      partTotals.foreach { case (_, m) =>
        m.foreach { case (c, (a, b)) =>
          val (a0, b0) = acc.getOrElse(c, (0L, 0L))
          acc(c) = (a0 + a, b0 + b)
        }
      }
      acc.toMap
    }
    val measurable = totals.filter { case (_, (tr, tc)) => tr > 0 && tc > 0 }
    val dStats: DataFrame =
      if (measurable.isEmpty) Seq.empty[(String, Double)].toDF("col_name", "d_raw")
      else {
        // prefix offset per (partition, column): totals of all EARLIER
        // partitions (range partitioning ⇒ earlier partitions hold
        // strictly smaller (col, v) keys)
        val prefixByPid: Map[Int, Map[String, (Long, Long)]] = {
          val sortedParts = partTotals.sortBy(_._1)
          var acc = Map.empty[String, (Long, Long)]
          sortedParts.map { case (pid, m) =>
            val out = pid -> acc
            acc = (acc.keySet ++ m.keySet).map { c =>
              val (a1, b1) = acc.getOrElse(c, (0L, 0L))
              val (a2, b2) = m.getOrElse(c, (0L, 0L))
              c -> (a1 + a2, b1 + b2)
            }.toMap
            out
          }.toMap
        }
        val bc = spark.sparkContext.broadcast((prefixByPid, measurable))
        val maxed = sortedRdd.mapPartitionsWithIndex { (pid, it) =>
          val (prefixes, tot) = bc.value
          val run = scala.collection.mutable.Map.empty[String, (Long, Long)]
          prefixes.getOrElse(pid, Map.empty).foreach { case (c, p) => run(c) = p }
          val best = scala.collection.mutable.Map.empty[String, Double]
          it.foreach { r =>
            val c = r.getUTF8String(0).toString
            // rows of columns with an empty side flow through — skip them
            tot.get(c).foreach { case (tr, tc) =>
              val (a, b) = run.getOrElse(c, (0L, 0L))
              val (na, nb) = (a + r.getLong(2), b + r.getLong(3))
              run(c) = (na, nb)
              val d = math.abs(na.toDouble / tr - nb.toDouble / tc)
              if (d > best.getOrElse(c, -1.0)) best(c) = d
            }
          }
          best.iterator
        }.collect()
        maxed.groupBy(_._1).map { case (c, ds) => (c, ds.map(_._2).max) }
          .toSeq.toDF("col_name", "d_raw")
      }
    val withTotals = cols.map { c =>
      val (tr, tc) = totals.getOrElse(c, (0L, 0L))
      (c, tr, tc)
    }.toDF("col_name", "n_ref", "n_cur")
    withTotals.join(dStats, Seq("col_name"), "left")
      .select(col("col_name").as("column_name"),
        round(col("d_raw"), 5).as("d_stat"), col("n_ref"), col("n_cur"))
  }

  /** Pearson correlation for every unordered pair of `cols` — the
    * dataset-card association table for numeric features (which columns
    * are redundant, which quality signals move together). One row per
    * pair: (col_x, col_y, n_pairs, mean_x, mean_y, corr); pairwise-
    * complete semantics (a row enters a pair's stats iff BOTH members
    * are non-NULL, non-NaN and finite — NaN ≡ missing like the rest of
    * the card family, and a single ±Inf would otherwise poison every
    * moment it touches).
    *
    * Scale notes: ONE global aggregation pass computes all six moment
    * sums for all C(|cols|,2) pairs together — no shuffle (global agg
    * partial-aggregates map-side to a single 6·pairs-column row), no
    * per-pair scans, no `df.stat.corr` loop (which costs a job per
    * pair). Moment sums accumulate as exact decimals quantized at 4 dp
    * (order-independent and engine-portable — a raw double sum would
    * depend on partition count); the final correlation is pure double
    * arithmetic over those exact sums, identical IEEE ops in any
    * engine, rounded to 6 dp. Zero-variance columns and pairs with
    * n < 2 yield NULL corr rather than NaN.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    require(cols.distinct.size == cols.size, "duplicate columns in cols")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    // Cast-once projection: each column's quantized value and finiteness
    // flag are computed ONE time per row here; the C(k,2) pair conditions
    // below reuse the projected flags — without this every pair condition
    // re-evaluates its two columns' try_casts, O(k) casts per column per
    // row (the q117 2× regression).
    // try_cast: |x| >= 1e14 overflows decimal(18,4) — a plain cast throws
    // under ANSI and silently NULLs otherwise; try_cast yields NULL in
    // BOTH modes, and the finiteness flag folds that NULL into the
    // pairwise-complete condition so out-of-range values are treated as
    // missing consistently in the count AND the moment sums.
    val proj = df.select(cols.zipWithIndex.flatMap { case (c, i) =>
      val v = col(c).cast("double")
      val q = col(c).try_cast("decimal(18,4)")
      val fin = col(c).isNotNull && !isnan(v) &&
        v > Double.NegativeInfinity && v < Double.PositiveInfinity &&
        q.isNotNull
      Seq(q.as(s"__q_$i"), fin.as(s"__f_$i"))
    }.toIndexedSeq: _*)
    val idx = cols.zipWithIndex.toMap
    val aggs = pairs.zipWithIndex.flatMap { case ((x, y), i) =>
      val (qx, qy) = (col(s"__q_${idx(x)}"), col(s"__q_${idx(y)}"))
      val cond = col(s"__f_${idx(x)}") && col(s"__f_${idx(y)}")
      def g(e: Column) = sum(when(cond, e))
      Seq(
        count(when(cond, 1)).as(s"n_$i"),
        g(qx).as(s"sx_$i"), g(qy).as(s"sy_$i"),
        g(qx * qx).as(s"sxx_$i"), g(qy * qy).as(s"syy_$i"),
        g(qx * qy).as(s"sxy_$i"))
    }
    val one = proj.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    val rows = pairs.zipWithIndex.map { case ((x, y), i) =>
      val n = col(s"n_$i").cast("double")
      def d(nm: String) = col(s"${nm}_$i").cast("double")
      val covN = n * d("sxy") - d("sx") * d("sy")
      val varX = n * d("sxx") - d("sx") * d("sx")
      val varY = n * d("syy") - d("sy") * d("sy")
      struct(
        lit(x).as("col_x"), lit(y).as("col_y"),
        col(s"n_$i").as("n_pairs"),
        when(col(s"n_$i") > 0, round(d("sx") / n, 6)).as("mean_x"),
        when(col(s"n_$i") > 0, round(d("sy") / n, 6)).as("mean_y"),
        when(varX > 0 && varY > 0, round(covN / sqrt(varX * varY), 6))
          .as("corr"))
    }
    one.select(explode(array(rows.toIndexedSeq: _*)).as("r")).select("r.*")
  }

  /** Chi-squared association (Cramér's V) for each requested pair of
    * categorical columns — the [[correlationMatrix]] counterpart for
    * label/enum features (is `lang` independent of `source`? does the
    * length bucket track the license?). One row per requested pair:
    * (col_x, col_y, n, r_levels, c_levels, chi2, cramers_v);
    * pairwise-complete (both sides non-NULL). Every requested pair gets
    * a row even if no complete observations exist (n = 0, NULL stats) —
    * the psiDrift discipline.
    *
    * Scale notes: all pairs ride ONE (pair, a, b) joint-count
    * aggregation (the only data-sized shuffle, map-side combined);
    * marginals, level counts and the chi-squared sum all derive from
    * the already-tiny joint table (≤ distinct-combos rows), with the
    * marginal joins broadcast. Uses chi2 = n·Σ o²⁄(ra·cb) − n — only
    * OBSERVED cells contribute, so the r×c grid is never densified.
    * Each cell term is rounded to 9 dp and decimal-summed
    * (order-independent, engine-portable); o, ra, cb are exact longs
    * whose products stay below 2⁵³ for any n < 9·10¹⁵ rows, so the
    * per-cell double division is exact-input arithmetic in any engine.
    */
  def categoricalAssociation(df: DataFrame,
                             pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "categoricalAssociation needs at least one pair")
    require(pairs.distinct.size == pairs.size, "duplicate pairs")
    val spark = df.sparkSession
    val entries = df.select(explode(array(pairs.zipWithIndex.map {
        case ((a, b), i) =>
          struct(lit(i).as("p"), col(a).cast("string").as("a"),
            col(b).cast("string").as("b"))
      }.toIndexedSeq: _*)).as("e"))
      .select(col("e.p").as("p"), col("e.a").as("a"), col("e.b").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val joint = entries.groupBy("p", "a", "b").agg(count(lit(1)).as("o"))
    val rowM = joint.groupBy("p", "a").agg(sum("o").as("ra"))
    val colM = joint.groupBy("p", "b").agg(sum("o").as("cb"))
    val tot = joint.groupBy("p").agg(sum("o").as("n"))
    val rLev = rowM.groupBy("p").agg(count(lit(1)).as("r_levels"))
    val cLev = colM.groupBy("p").agg(count(lit(1)).as("c_levels"))
    val s = joint.join(broadcast(rowM), Seq("p", "a"))
      .join(broadcast(colM), Seq("p", "b"))
      .select(col("p"),
        round(col("o").cast("double") * col("o") / (col("ra") * col("cb")), 9)
          .cast("decimal(28,9)").as("t"))
      .groupBy("p").agg(sum(col("t")).as("s"))
    // seed every requested pair so an all-NULL pair still reports n = 0
    val seed = spark.range(pairs.size).select(col("id").cast("int").as("p"))
    val xNames = array(pairs.map(p => lit(p._1)).toIndexedSeq: _*)
    val yNames = array(pairs.map(p => lit(p._2)).toIndexedSeq: _*)
    val nD = coalesce(col("n"), lit(0L)).cast("double")
    val sD = col("s").cast("double")
    val chi2 = greatest(nD * (sD - 1d), lit(0d))
    val minDf = (least(col("r_levels"), col("c_levels")) - 1).cast("double")
    seed.join(tot, Seq("p"), "left").join(rLev, Seq("p"), "left")
      .join(cLev, Seq("p"), "left").join(s, Seq("p"), "left")
      .select(
        element_at(xNames, col("p") + 1).as("col_x"),
        element_at(yNames, col("p") + 1).as("col_y"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("r_levels"), lit(0L)).as("r_levels"),
        coalesce(col("c_levels"), lit(0L)).as("c_levels"),
        when(col("n") > 0, round(chi2, 6)).as("chi2"),
        when(col("n") > 0 && minDf >= 1d,
          round(sqrt(chi2 / (nD * minDf)), 6)).as("cramers_v"))
  }

  /** Per-group EXACT quantiles at bounded driver memory — the mix
    * report's "length distribution per language / per source / per
    * split" table. Spark's `percentile` buffers every group value in
    * one aggregation buffer (OOM on a 100 TB group) and
    * `percentile_approx` is a sketch; this instead synthesizes one
    * column per group (`when(group = g, value)`) and routes ALL groups ×
    * quantiles through ONE fused [[exactQuantilesPerColumn]] narrowing
    * batch — passes shared across groups, memory bounded by the
    * narrowing, exactness preserved. Cost: the domain collect + one stats
    * pass + the narrowing rounds + one collect job per
    * `collectThreshold`-sized batch of resolved intervals, independent of
    * the group count. The group count is the synthesized
    * column count, so it must be BOUNDED (languages, sources, splits —
    * the use case); `maxGroups` raises loudly rather than explode the
    * batch. One row per (group, quantile); a NULL group is a group;
    * groups with no usable values keep rows with NULL quantiles; cuts
    * round to 5 dp (engine portability), and a cut that lands on ±Inf
    * stays infinite.
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qs: Seq[Double], maxGroups: Int = 100): DataFrame = {
    require(qs.nonEmpty, "groupQuantiles needs at least one quantile")
    qs.foreach(q => require(q >= 0 && q <= 1, s"quantile out of [0,1]: $q"))
    require(qs.distinct.size == qs.size, "duplicate quantiles")
    // limit BEFORE collect: the guard exists to protect driver memory, so
    // it must bound the collect itself — maxGroups+1 rows is enough to
    // know the domain is too large without materializing all of it
    val groups: Seq[Option[String]] = df
      .select(col(groupCol).cast("string").as("g")).distinct()
      .limit(maxGroups + 1)
      .collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getString(0)))
    require(groups.size <= maxGroups,
      s"groupQuantiles saw > maxGroups = $maxGroups distinct groups — " +
        "this operator is for BOUNDED group domains; bucket first or raise maxGroups")
    val spark = df.sparkSession
    import spark.implicits._
    if (groups.isEmpty)
      return Seq.empty[(Option[String], Double, Option[Double])]
        .toDF(groupCol, "quantile", "value")
    val name: Map[Option[String], String] =
      groups.zipWithIndex.map { case (g, i) => g -> s"__g$i" }.toMap
    val wide = df.select(groups.map { g =>
      val cond = g.fold(col(groupCol).isNull)(col(groupCol).cast("string") === _)
      when(cond, col(valueCol).cast("double")).as(name(g))
    }.toIndexedSeq: _*)
    val cuts = exactQuantilesPerColumn(wide, groups.map(g => name(g) -> qs))
    groups.flatMap { g =>
      cuts(name(g)).zip(qs).map { case (v, q) => (g, q, v.map(round5)) }
    }.toDF(groupCol, "quantile", "value")
  }

  /** Per-group label-distribution balance — the split/mix audit every
    * curation pipeline owes its eval sets: is val's source mix
    * representative of train's? did stratification actually balance the
    * classes? One row per group: n (labeled rows), n_null_labels,
    * n_labels, top_label/top_share (majority class), Shannon entropy in
    * bits, normalized entropy (÷ log2 n_labels — 1.0 = perfectly
    * balanced), and Gini impurity. NULL labels are censused, not
    * counted as a class; a NULL group is a group like any other; a
    * group whose labels are ALL NULL keeps its row (n = 0, NULL stats).
    *
    * Scale notes: ONE data-sized map-side-combined (group, label) count
    * shuffle; every statistic derives from the already-tiny count table
    * (≤ groups×labels rows) — the majority class via a `graft_top_k_by`
    * bounded heap (no window sort), entropy/gini as 9-dp-rounded
    * decimal term sums (order-independent, engine-portable), group
    * joins null-safe and broadcast.
    */
  def classBalance(df: DataFrame, groupCol: String, labelCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val counts = df
      .groupBy(col(groupCol).as("g"), col(labelCol).cast("string").as("l"))
      .agg(count(lit(1)).as("cnt"))
    val lab = counts.filter(col("l").isNotNull)
    val per = counts.groupBy("g").agg(
      sum(when(col("l").isNotNull, col("cnt")).otherwise(0L)).as("n"),
      sum(when(col("l").isNull, col("cnt")).otherwise(0L)).as("n_null_labels"),
      count(when(col("l").isNotNull, 1)).as("n_labels"))
    val top = lab.groupBy("g")
      .agg(call_function("graft_top_k_by",
        struct(col("l"), col("cnt")), col("cnt"), col("l"), lit(1)).as("top"))
      .select(col("g"), element_at(col("top"), 1).getField("l").as("top_label"),
        element_at(col("top"), 1).getField("cnt").as("top_cnt"))
    val p = col("cnt").cast("double") / col("n")
    val ent = lab
      .join(broadcast(per.select(col("g").as("g2"), col("n"))),
        col("g") <=> col("g2")).drop("g2")
      .select(col("g"),
        round(-p * log2(p), 9).cast("decimal(19,9)").as("ht"),
        round(p * p, 9).cast("decimal(19,9)").as("gt"))
      .groupBy("g").agg(sum("ht").as("ht"), sum("gt").as("gt"))
    def joinNS(a: DataFrame, b: DataFrame): DataFrame =
      a.join(broadcast(b.withColumnRenamed("g", "g2")),
        col("g") <=> col("g2"), "left").drop("g2")
    joinNS(joinNS(per, top), ent)
      .select(col("g").as(groupCol), col("n"), col("n_null_labels"),
        col("n_labels"), col("top_label"),
        when(col("n") > 0, round(col("top_cnt").cast("double") / col("n"), 5))
          .as("top_share"),
        when(col("n") > 0, round(col("ht").cast("double"), 6)).as("entropy"),
        when(col("n_labels") > 1, round(
          col("ht").cast("double") / log2(col("n_labels").cast("double")), 6))
          .as("norm_entropy"),
        when(col("n") > 0, round(lit(1.0) - col("gt").cast("double"), 6))
          .as("gini"))
  }

  /** Winsorize (clip) numeric columns at the [pLo, pHi] quantiles — the
    * standard robust pre-normalization for heavy-tailed quality signals
    * before they feed a mix weight or a classifier. Appends `<col>_w`
    * per input column; cuts are computed over the FINITE population
    * (the [[madOutliers]] discipline: an Inf order statistic would make
    * its cut Inf and the clip a no-op — exactly the value winsorizing
    * exists to tame), rounded to 5 dp for engine portability. NULL and
    * NaN map to NULL (NaN ≡ missing); ±Inf clip to the cuts.
    *
    * Scale notes: exact cuts route ALL columns' cut pairs through one
    * [[exactQuantilesPerColumn]] batch — bounded driver memory at any
    * cardinality, passes shared across columns. The clip itself is a
    * pure codegen projection with plan-constant cuts — no second
    * shuffle, no window.
    */
  def winsorize(df: DataFrame, cols: Seq[String], pLo: Double = 0.01,
                pHi: Double = 0.99): DataFrame = {
    require(cols.nonEmpty, "winsorize needs at least one column")
    require(cols.distinct.size == cols.size, "duplicate columns in cols")
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, s"need 0 <= pLo <= pHi <= 1")
    val isFin = (c: Column) => !isnan(c) &&
      c > Double.NegativeInfinity && c < Double.PositiveInfinity
    val finite = df.select(cols.map(c =>
      when(isFin(col(c).cast("double")), col(c).cast("double")).as(c))
      .toIndexedSeq: _*)
    val cuts: Map[String, (Option[Double], Option[Double])] =
      exactQuantilesPerColumn(finite, cols.map(c => c -> Seq(pLo, pHi)))
        .map { case (c, qs) => c -> (qs.head.map(round5), qs(1).map(round5)) }
    cols.foldLeft(df) { (acc, c) =>
      val vc = col(c).cast("double")
      val out = cuts(c) match {
        case (Some(lo), Some(hi)) =>
          when(vc.isNull || isnan(vc), lit(null).cast("double"))
            .when(vc < lo, lit(lo)).when(vc > hi, lit(hi)).otherwise(vc)
        // no finite values at all: nothing to clip toward — NULL out
        case _ => lit(null).cast("double")
      }
      acc.withColumn(s"${c}_w", out)
    }
  }

  /** Calibration-bin census for a [0,1] classifier/quality score: bin
    * by equal-width `nBins`, report per bin the observed positive rate
    * vs the mean predicted score — the reliability-diagram table whose
    * per-bin `calibration_gap` says whether a score threshold MEANS what
    * it claims before a curation gate keys on it (a quality filter at
    * "score ≥ 0.8" that is only 40% precise there is a mix bug waiting).
    *
    * Float discipline: binning is `floor(score·nBins)` on the double —
    * both engines compute the identical IEEE product and floor, so edge
    * values bin identically; `mean_score` sums the (4-dp) scores as
    * exact decimals. One hash aggregation; nBins rows out.
    */
  def calibrationBins(df: DataFrame, score: Column, label: Column,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    df.filter(score.isNotNull)
      .select(least(floor(score * nBins).cast("long"), lit(nBins - 1L)).as("bin"),
        score.cast("decimal(18,4)").as("__s"),
        label.cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__s")).as("__ssum"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"),
        (col("__ssum").cast("string").cast("double") / col("n")).as("mean_score"),
        ((col("__ssum").cast("string").cast("double") / col("n"))
          - (col("n_pos").cast("double") / col("n"))).as("calibration_gap"))
  }

  /** EXACT top-k heavy hitters over a key whose cardinality is itself
    * data-scale (the case `groupBy(key).count.orderBy` cannot survive at
    * 100 TB: the full-key shuffle IS the bottleneck). Two passes:
    *
    *  1. a per-partition Misra–Gries summary of `capacity` counters
    *     (bounded state — one O(capacity) map per partition, merged
    *     driver-side into ≤ partitions × capacity candidates, the same
    *     bounded plan-constant narrowing as the centroid matrices). MG
    *     guarantees any key with true count > N/(capacity+1) survives
    *     some partition's summary, so the candidate union misses no
    *     possible top-k member as long as the k-th count clears that
    *     bound;
    *  2. an exact confirm: count ONLY rows whose key is in the candidate
    *     set — an `isin` plan constant when the set is small, a
    *     broadcast semi-join against a candidates frame when it is large
    *     (candidates scale with partitions × capacity; a literal list
    *     would bloat the plan at 100 TB) — non-candidates never shuffle;
    *     order by (count desc, key asc) and take k.
    *
    * The input projection is persisted for the duration of the call so
    * the summary pass, the confirm, and the certificate provably see the
    * same rows even over a non-deterministic upstream; the returned
    * frame is the certified ≤ k rows as a local relation (no re-execution
    * of the input when the caller acts on it).
    *
    * The exactness condition is CHECKED, not assumed: if the k-th
    * confirmed count fails to exceed N/(capacity+1) — the largest count
    * a non-candidate could hide — the operator fails fast with the
    * capacity it would need, rather than return a plausible-but-
    * unprovable top-k (same fail-fast contract as the bloom-gate
    * validation). NULL keys are excluded (a NULL is not a key; count
    * them upstream if they matter). Deterministic: candidate-set
    * membership only widens the confirm filter, so partitioning cannot
    * change the answer.
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int,
                   capacity: Int = 4096,
                   isinThreshold: Int = 8192): DataFrame = {
    require(k >= 1, s"heavyHitters needs k >= 1, got $k")
    require(capacity >= k,
      s"heavyHitters needs capacity >= k, got capacity=$capacity k=$k")
    val spark = df.sparkSession
    import spark.implicits._
    // persisted for the DURATION of the call: the MG pass, the exact
    // confirm, and the certificate must provably see the SAME rows even
    // if the upstream frame is non-deterministic or its source changes
    // between jobs (the returned frame is the certified local rows, so
    // the caller's execution cannot diverge either)
    val keys = df.select(col(keyCol).cast("string").as("k"))
      .where(col("k").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // pass 1: one bounded MG summary per partition + its row count
    val summaries: Array[(Map[String, Long], Long)] =
      keys.as[String].mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        var n = 0L
        it.foreach { key =>
          n += 1
          m.get(key) match {
            case Some(c) => m.update(key, c + 1)
            case None =>
              if (m.size < capacity) m.update(key, 1L)
              else {
                // decrement-all step; drop zeros (classic Misra–Gries).
                // Snapshot first — mutating a mutable.HashMap mid-
                // iteration is undefined. Each step retires capacity+1
                // count units, so steps <= n/(capacity+1): O(n) total.
                val entries = m.toArray
                entries.foreach { case (kk, c) =>
                  if (c == 1L) m.remove(kk) else m.update(kk, c - 1L)
                }
              }
          }
        }
        Iterator.single((m.toMap, n))
      }.collect()
    val nTotal = summaries.map(_._2).sum
    if (nTotal == 0L)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(keyCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType, nullable = false))))
    val candidates: Seq[String] =
      summaries.iterator.flatMap(_._1.keysIterator).toSet.toSeq
    val bound = nTotal / (capacity + 1L) // floor: non-candidate true count <= bound
    // confirm filter: a small candidate set rides the plan as an InSet
    // constant; above the threshold (candidates scale with partitions ×
    // capacity — millions at 100 TB) an In literal list would bloat the
    // plan and driver, so switch to a broadcast semi-join against a
    // candidates frame instead. Either form only WIDENS vs the exact
    // membership test, so the certified answer is identical.
    val candFiltered =
      if (candidates.size <= isinThreshold)
        keys.where(col("k").isin(candidates: _*))
      else
        keys.join(broadcast(candidates.toDF("k")), Seq("k"), "left_semi")
    val top = candFiltered
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("k").asc)
      .limit(k)
      .select(col("k").as(keyCol), col("cnt"))
    val rows = top.collect() // <= k rows, bounded
    if (rows.length == k) {
      // a non-candidate key can hide at most `bound` occurrences; the
      // k-th confirmed count must strictly exceed it or the top-k is
      // not provably exact
      val kth = rows.last.getLong(1)
      require(kth > bound,
        s"heavyHitters(capacity=$capacity) cannot certify exact top-$k: " +
          s"k-th confirmed count $kth <= undetected-key bound $bound " +
          s"(N=$nTotal); raise capacity above ${nTotal / math.max(kth, 1L)}")
    } else {
      // fewer distinct candidates than k: exact only if NO key can have
      // been missed, i.e. the undetected bound is zero (every key with
      // count >= 1 survived some summary => candidates are exhaustive)
      require(bound == 0L,
        s"heavyHitters(capacity=$capacity) found only ${rows.length} < $k " +
          s"candidate keys but bound $bound > 0 permits undetected keys; " +
          s"raise capacity above $nTotal or lower k")
    }
    // return the CERTIFIED rows as a local relation (<= k rows): the
    // caller's execution is exactly what the certificate validated — no
    // third job over the input
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), top.schema)
    } finally keys.unpersist()
  }
}
