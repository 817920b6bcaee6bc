package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed dataset-card profile — ONE published summary table
  * carrying every distribution fact a dataset release (or a pipeline's
  * nightly baseline) ships: per-column numeric stats, categorical top-k,
  * equi-width and equi-depth histograms, and (against an optional
  * reference sample) PSI drift. The reference pipeline publishes the
  * same kind of composed convenience summary as a derived table
  * (reference: queries/create_summary_baselines_sql.py + nodes_grouped/
  * step_4_nodes/summary_baseline.py — a post-join summary table built
  * from the published outputs); this is its profiling analogue over a
  * declared column set, long-format so ONE schema carries every section.
  *
  * Output schema (one row per fact):
  * (section, col_name, item, value_s, value_d, lo, hi, n) where
  *  - section ∈ numeric | categorical | histogram | equidepth | psi |
  *    outliers (the last only with `outlierK` set: median/mad items
  *    plus a "fences" row with lo/hi cutoffs, n = outlier count,
  *    value_d = outlier ratio — [[Summaries.madOutliers]])
  *  - numeric rows: item = stat name (n_non_null/n_null/min/max/mean
  *    plus one row per requested quantile — p25/p50/p75/p95/p99 by
  *    default), value_d = the stat
  *  - categorical rows: item = rank ("1".."k") with value_s = the value
  *    and n = its count, plus census items n_distinct / n_nulls in
  *    value_d
  *  - histogram/equidepth rows: item = bin index, lo/hi = bounds
  *    (equidepth edges NULL at the outer bins), n = bin count
  *  - psi rows: item = "psi", value_d = the index, value_s = the grade
  *    (stable/moderate/major)
  *
  * Scale notes: each section is the corresponding operator's plan —
  * numericProfile's ONE aggregation pass, categoricalProfile's single
  * value-count shuffle with a bounded top-k heap, the histogram family's
  * one explode + codegen CASE + map-side-combined agg, psiDrift's one
  * union pass — and the card is a plan-level unionByName of those
  * five small results (no shuffle of its own). Construction runs the
  * operators' plan-time statistic jobs (equi-width bounds, equi-depth
  * cuts, PSI reference bounds — tiny aggs whose results become plan
  * constants), the same class of driver decision as a centroid matrix.
  * With `exactMedians = true` the numeric quantile VECTOR routes
  * through the batched [[Summaries.exactQuantilesPerColumn]] narrowing —
  * the 100 TB-exact card, where five quantiles of ten columns cost the
  * same pass count as one median of one; the default approx sketch is
  * the cheap production path. Equi-depth cuts are exact in both modes,
  * from the same narrowing.
  */
object DatasetCard {

  def build(df: DataFrame,
            numericCols: Seq[String],
            categoricalCols: Seq[String],
            topK: Int = 5,
            histBins: Int = 10,
            depthBins: Int = 4,
            reference: Option[DataFrame] = None,
            psiBins: Int = 10,
            exactMedians: Boolean = false,
            quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95, 0.99),
            outlierK: Option[Double] = None): DataFrame = {
    require(numericCols.nonEmpty || categoricalCols.nonEmpty,
      "DatasetCard.build needs at least one profiled column")
    val sNull = lit(null).cast("string")
    val dNull = lit(null).cast("double")
    val lNull = lit(null).cast("long")
    def shape(section: String, item: org.apache.spark.sql.Column,
              valueS: org.apache.spark.sql.Column,
              valueD: org.apache.spark.sql.Column,
              lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
              n: org.apache.spark.sql.Column)(src: DataFrame): DataFrame =
      src.select(lit(section).as("section"), col("col_name"),
        item.cast("string").as("item"), valueS.cast("string").as("value_s"),
        valueD.cast("double").as("value_d"), lo.cast("double").as("lo"),
        hi.cast("double").as("hi"), n.cast("long").as("n"))

    val numeric = if (numericCols.isEmpty) Nil else {
      val prof = Summaries.numericProfile(df, numericCols,
        exact = exactMedians, quantiles = quantiles)
      // unpivot the one-row-per-column stats into (item, value_d) facts
      // (numericProfile names its key `column_name`; the card speaks
      // `col_name` like the other sections)
      val statCols = Seq("n_non_null", "n_null", "min", "max", "mean") ++
        quantiles.map(Summaries.quantileColName)
      val stacked = prof.select(col("column_name").as("col_name"),
        stack((lit(statCols.size) +: statCols.flatMap(s =>
          Seq(lit(s), col(s).cast("double")))): _*).as(Seq("item", "v")))
      Seq(shape("numeric", col("item"), sNull, col("v"), dNull, dNull, lNull)(
        stacked))
    }
    val categorical = if (categoricalCols.isEmpty) Nil else {
      val prof = Summaries.categoricalProfile(df, categoricalCols, topK)
      // an all-NULL column's census-only placeholder row (NULL rank) is
      // not a top-k fact — it feeds the census rows below only
      val tops = shape("categorical", col("rank"), col("value"), dNull,
        dNull, dNull, col("cnt"))(prof.filter(col("rank").isNotNull))
      // census facts repeat on every top-k row — emit them once per column
      val census = prof.select(col("col_name"), col("n_distinct"), col("n_nulls"))
        .distinct()
        .select(col("col_name"), stack(lit(2),
          lit("n_distinct"), col("n_distinct").cast("double"),
          lit("n_nulls"), col("n_nulls").cast("double")).as(Seq("item", "v")))
      Seq(tops, shape("categorical", col("item"), sNull, col("v"),
        dNull, dNull, lNull)(census))
    }
    val bins = if (numericCols.isEmpty) Nil else Seq(
      shape("histogram", col("bin"), sNull, dNull, col("lo"), col("hi"),
        col("n"))(Summaries.histogram(df, numericCols, histBins)),
      shape("equidepth", col("bin"), sNull, dNull, col("lo"), col("hi"),
        col("n"))(Summaries.equidepthBins(df, numericCols, depthBins)))
    val drift = reference.toSeq.flatMap { ref =>
      if (numericCols.isEmpty) Nil
      else Seq(shape("psi", lit("psi"), col("drift"), col("psi"),
        dNull, dNull, lNull)(Summaries.psiDrift(ref, df, numericCols, psiBins)))
    }
    // robust-outlier section (opt-in): median/MAD facts plus one fences
    // row carrying the cutoffs, the outlier count, and the ratio — the
    // contamination headline a release card owes its reader
    val outliers = outlierK.toSeq.flatMap { k =>
      if (numericCols.isEmpty) Nil
      else {
        val mo = Summaries.madOutliers(df, numericCols, k)
          .withColumnRenamed("column_name", "col_name")
        val stats = mo.select(col("col_name"), stack(lit(2),
          lit("median"), col("median"),
          lit("mad"), col("mad")).as(Seq("item", "v")))
        Seq(shape("outliers", col("item"), sNull, col("v"),
            dNull, dNull, lNull)(stats),
          shape("outliers", lit("fences"), sNull, col("outlier_ratio"),
            col("lo"), col("hi"), col("n_outliers"))(mo))
      }
    }
    (numeric ++ categorical ++ bins ++ drift ++ outliers).reduce(_.unionByName(_))
  }

  /** Per-column CDF sketch: the one-pass mergeable summary every numeric
    * card section is derived from. `probs`/`values` are the quantile
    * function sampled on a dense grid (approx_percentile — t-digest-style,
    * partial-aggregable, bounded memory); `fLt`/`fLe` invert it into
    * strictly-below / at-or-below mass fractions (plateau-aware, so point
    * masses register between the two).
    */
  final case class CdfSketch(n: Long, nNull: Long, nFin: Long,
                             min: Double, max: Double,
                             minFin: Double, maxFin: Double, mean: Double,
                             probs: Array[Double], values: Array[Double]) {
    /** fraction of non-missing values strictly below x */
    def fLt(x: Double): Double = {
      var i0 = 0
      while (i0 < values.length && values(i0) < x) i0 += 1
      if (i0 == values.length) 1.0
      else if (i0 == 0) 0.0
      else {
        val (v0, v1) = (values(i0 - 1), values(i0))
        probs(i0 - 1) + (probs(i0) - probs(i0 - 1)) * (x - v0) / (v1 - v0)
      }
    }
    /** fraction of non-missing values at or below x */
    def fLe(x: Double): Double = {
      var j = values.length - 1
      while (j >= 0 && values(j) > x) j -= 1
      if (j < 0) 0.0
      else if (j == values.length - 1) 1.0
      else {
        val (v0, v1) = (values(j), values(j + 1))
        probs(j) + (probs(j + 1) - probs(j)) * (x - v0) / (v1 - v0)
      }
    }
    /** quantile from the grid (nearest grid point at or above p) */
    def q(p: Double): Double = {
      var i = 0
      while (i < probs.length - 1 && probs(i) < p) i += 1
      values(i)
    }
  }

  /** ONE aggregation pass builds a [[CdfSketch]] for every column —
    * count/nulls/min/max/exact-decimal mean plus the dense quantile grid
    * evaluated at `gridPoints + 1` evenly spaced probabilities merged with
    * any `extraProbs` the caller needs exactly (requested card quantiles).
    * All-NULL/all-NaN columns are absent from the result.
    */
  def cdfSketches(df: DataFrame, cols: Seq[String], gridPoints: Int = 256,
                  accuracy: Int = 10000,
                  extraProbs: Seq[Double] = Nil): Map[String, CdfSketch] = {
    require(cols.nonEmpty, "cdfSketches needs at least one column")
    require(gridPoints >= 16, s"gridPoints must be >= 16, got $gridPoints")
    val probs = ((0 to gridPoints).map(_.toDouble / gridPoints) ++ extraProbs)
      .distinct.sorted
    val aggs = cols.flatMap { c =>
      val d = col(c).cast("double")
      // the grid (and everything scaled by its mass) sees only FINITE
      // values: NaN would poison approx_percentile and +-Inf would make
      // every width computation degenerate — nFin is the matching
      // denominator (scaling CDF mass by the NaN-inclusive n inflated
      // histogram/equi-depth counts on NaN-bearing columns)
      val fin = when(!isnan(d) && d > Double.NegativeInfinity &&
        d < Double.PositiveInfinity, d)
      Seq(
        count(col(c)).as(s"__n_$c"),
        count(when(col(c).isNull, 1)).as(s"__nn_$c"),
        count(fin).as(s"__nf_$c"),
        min(d).as(s"__mind_$c"), max(d).as(s"__maxd_$c"),
        min(fin).as(s"__minf_$c"), max(fin).as(s"__maxf_$c"),
        sum(col(c).cast("decimal(28,6)")).cast("double").as(s"__sum_$c"),
        call_function("approx_percentile", fin, typedlit(probs),
          lit(accuracy)).as(s"__g_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head()
    val w = 9 // fields per column
    cols.zipWithIndex.flatMap { case (c, i) =>
      if (row.isNullAt(w * i + 8)) None // no finite values: no sketch
      else {
        val n = row.getLong(w * i)
        // the decimal(28,6) cast nulls NaN/±Inf out of the numerator, so
        // the matching denominator is nFin (mean OF FINITE VALUES, the
        // same semantics as minFin/maxFin) — dividing by the NaN-inclusive
        // n would bias the published mean low on NaN/Inf-bearing columns
        val nFin = row.getLong(w * i + 2)
        Some(c -> CdfSketch(n, row.getLong(w * i + 1), nFin,
          row.getDouble(w * i + 3), row.getDouble(w * i + 4),
          row.getDouble(w * i + 5), row.getDouble(w * i + 6),
          row.getDouble(w * i + 7) / nFin,
          probs.toArray, row.getSeq[Double](w * i + 8).toArray))
      }
    }.toMap
  }

  /** The SKETCH-FIRST card — the 100 TB production path. [[build]] with
    * `exactMedians` spends one aggregation pass on the
    * numeric stats and then SEPARATE scans on equi-depth cuts, equi-depth
    * counts, histogram bounds, histogram counts, PSI binning and outlier
    * fences (the exact-yardstick discipline: each value is exact, several
    * full passes). Here EVERY numeric section is instead derived from ONE
    * [[cdfSketches]] pass over `df` (plus one over `reference` when PSI is
    * requested): quantiles read off the grid, equi-depth cuts and counts /
    * equi-width histogram counts / PSI masses by inverting the sketched
    * CDF, robust outliers by a bisection on the CDF for the MAD — all
    * driver-side arithmetic over the small sketch, zero extra data passes.
    * The categorical section keeps its own single value-count shuffle
    * (top-k is not derivable from a quantile sketch).
    *
    * Same long-format schema as [[build]]; values are sketch-approximate
    * (rank error ≤ n/accuracy from approx_percentile plus grid
    * interpolation — spec-gated against the exact card in
    * DatasetCardSketchSpec), which is the documented trade for a card
    * whose quantile family costs ONE pass instead of O(log range)
    * narrowing passes per section. Counts are CDF-mass estimates rounded
    * to longs; empty bins are omitted like the exact card's.
    */
  def buildSketch(df: DataFrame,
                  numericCols: Seq[String],
                  categoricalCols: Seq[String],
                  topK: Int = 5,
                  histBins: Int = 10,
                  depthBins: Int = 4,
                  reference: Option[DataFrame] = None,
                  psiBins: Int = 10,
                  quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95, 0.99),
                  outlierK: Option[Double] = None,
                  gridPoints: Int = 256,
                  accuracy: Int = 10000): DataFrame = {
    require(numericCols.nonEmpty || categoricalCols.nonEmpty,
      "DatasetCard.buildSketch needs at least one profiled column")
    val spark = df.sparkSession
    def round5(v: Double): Double =
      BigDecimal(v).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (section, col, item, value_s, value_d, lo, hi, n)
    type Fact = (String, String, String, Option[String], Option[Double],
      Option[Double], Option[Double], Option[Long])
    val facts = scala.collection.mutable.ArrayBuffer.empty[Fact]
    if (numericCols.nonEmpty) {
      val depthQs = (1 until depthBins).map(_.toDouble / depthBins)
      val sk = cdfSketches(df, numericCols, gridPoints, accuracy,
        extraProbs = quantiles ++ depthQs)
      val refSk = reference.map(r =>
        cdfSketches(r, numericCols, gridPoints, accuracy))
      for (c <- numericCols; s <- sk.get(c)) {
        def fact(section: String, item: String, vd: Double): Unit =
          facts += ((section, c, item, None, Some(vd), None, None, None))
        fact("numeric", "n_non_null", s.n.toDouble)
        fact("numeric", "n_null", s.nNull.toDouble)
        fact("numeric", "min", s.min); fact("numeric", "max", s.max)
        fact("numeric", "mean", s.mean)
        quantiles.foreach(p =>
          fact("numeric", Summaries.quantileColName(p), s.q(p)))
        // equi-width histogram from the NaN-excluded bounds (the
        // equiWidthBounds rule); last bin closes at max
        val (lo0, wid) = (s.minFin, (s.maxFin - s.minFin) / histBins)
        (0 until histBins).foreach { b =>
          val (blo, bhi) = (lo0 + b * wid, lo0 + (b + 1) * wid)
          val mass =
            if (wid == 0d) { if (b == 0) 1.0 else 0.0 }
            else (if (b == histBins - 1) 1.0 else s.fLt(bhi)) - s.fLt(blo)
          val n = math.round(mass * s.nFin)
          if (n > 0)
            facts += (("histogram", c, b.toString, None, None,
              Some(round5(blo)), Some(round5(bhi)), Some(n)))
        }
        // equi-depth: cuts at j/depthBins from the grid (5-dp like the
        // exact path); ties-at-cut land UP via the strictly-below mass
        val cuts = depthQs.map(p => round5(s.q(p)))
        (0 until depthBins).foreach { b =>
          val fLo = if (b == 0) 0.0 else s.fLt(cuts(b - 1))
          val fHi = if (b == depthBins - 1) 1.0 else s.fLt(cuts(b))
          val n = math.round((fHi - fLo) * s.nFin)
          if (n > 0)
            facts += (("equidepth", c, b.toString, None, None,
              (if (b > 0) Some(cuts(b - 1)) else None),
              (if (b < depthBins - 1) Some(cuts(b)) else None), Some(n)))
        }
        // PSI on equi-width bins fixed from the REFERENCE bounds (the
        // psiDrift rule: out-of-range mass clamps into the edge bins;
        // zero-width reference puts any current deviation in the far bin)
        refSk.foreach { rm =>
          rm.get(c) match {
            case None =>
              facts += (("psi", c, "psi", None, None, None, None, None))
            case Some(r) =>
              val (rlo, rw) = (r.minFin, (r.maxFin - r.minFin) / psiBins)
              def masses(x: CdfSketch): Seq[Double] =
                if (rw == 0d) {
                  val at = x.fLe(rlo) - x.fLt(rlo)
                  Seq.tabulate(psiBins)(b =>
                    if (b == 0) at else if (b == psiBins - 1) 1.0 - at else 0.0)
                } else Seq.tabulate(psiBins) { b =>
                  val lo = if (b == 0) 0.0 else x.fLt(rlo + b * rw)
                  val hi = if (b == psiBins - 1) 1.0 else x.fLt(rlo + (b + 1) * rw)
                  hi - lo
                }
              val (pr, pc) = (masses(r), masses(s))
              val psi = pr.zip(pc).map { case (a, b) =>
                val (fa, fb) = (math.max(a, 1e-4), math.max(b, 1e-4))
                round5((fb - fa) * math.log(fb / fa))
              }.sum
              val grade =
                if (psi < 0.1) "stable" else if (psi < 0.25) "moderate" else "major"
              facts += (("psi", c, "psi", Some(grade), Some(round5(psi)),
                None, None, None))
          }
        }
        // robust outliers: median off the grid; MAD by bisection on the
        // CDF (t where mass within [med−t, med+t] reaches 0.5); fences
        // and counts from the same sketch
        outlierK.foreach { k =>
          val med = round5(s.q(0.5))
          val mad = {
            var (lo, hi) = (0.0, math.max(med - s.minFin, s.maxFin - med))
            var it = 0
            while (it < 60 && hi - lo > 1e-12 * math.max(1.0, math.abs(hi))) {
              val mid = (lo + hi) / 2
              if (s.fLe(med + mid) - s.fLt(med - mid) >= 0.5) hi = mid else lo = mid
              it += 1
            }
            round5(hi)
          }
          facts += (("outliers", c, "median", None, Some(med), None, None, None))
          facts += (("outliers", c, "mad", None, Some(mad), None, None, None))
          val (flo, fhi) = (med - k * 1.4826 * mad, med + k * 1.4826 * mad)
          val nOut = math.round((s.fLt(flo) + (1.0 - s.fLe(fhi))) * s.nFin)
          val ratio = if (s.nFin == 0) None
            else Some(round5(nOut.toDouble / s.nFin))
          facts += (("outliers", c, "fences", None, ratio,
            Some(flo), Some(fhi), Some(nOut)))
        }
      }
      // all-NULL columns still owe the census facts (build's numeric
      // section emits them via the profile row)
      for (c <- numericCols if !sk.contains(c)) {
        val row = df.agg(count(col(c)), count(when(col(c).isNull, 1))).head()
        facts += (("numeric", c, "n_non_null", None, Some(row.getLong(0).toDouble),
          None, None, None))
        facts += (("numeric", c, "n_null", None, Some(row.getLong(1).toDouble),
          None, None, None))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("section",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("col_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("item",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("value_s",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("value_d",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("lo",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("hi",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val factDf = spark.createDataFrame(
      java.util.Arrays.asList(facts.toSeq.map { case (s, c, i, vs, vd, lo, hi, n) =>
        org.apache.spark.sql.Row(s, c, i, vs.orNull, vd.orNull, lo.orNull,
          hi.orNull, n.orNull)
      }: _*), schema)
    if (categoricalCols.isEmpty) factDf
    else {
      val prof = Summaries.categoricalProfile(df, categoricalCols, topK)
      val sNull = lit(null).cast("string")
      val dNull = lit(null).cast("double")
      val lNull = lit(null).cast("long")
      def shape(item: org.apache.spark.sql.Column,
                valueS: org.apache.spark.sql.Column,
                valueD: org.apache.spark.sql.Column,
                n: org.apache.spark.sql.Column)(src: DataFrame): DataFrame =
        src.select(lit("categorical").as("section"), col("col_name"),
          item.cast("string").as("item"), valueS.cast("string").as("value_s"),
          valueD.cast("double").as("value_d"), dNull.as("lo"), dNull.as("hi"),
          n.cast("long").as("n"))
      val tops = shape(col("rank"), col("value"), dNull, col("cnt"))(
        prof.filter(col("rank").isNotNull))
      val census = prof.select(col("col_name"), col("n_distinct"), col("n_nulls"))
        .distinct()
        .select(col("col_name"), stack(lit(2),
          lit("n_distinct"), col("n_distinct").cast("double"),
          lit("n_nulls"), col("n_nulls").cast("double")).as(Seq("item", "v")))
      factDf.unionByName(tops)
        .unionByName(shape(col("item"), sNull, col("v"), lNull)(census))
    }
  }
}
