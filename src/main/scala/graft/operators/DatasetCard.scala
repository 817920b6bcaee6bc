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
  * same pass count as one median of one; the default reads them off
  * numericProfile's one-pass quantile sketch. Every other section is
  * exact in both modes: equi-depth cuts come from the same narrowing.
  * Missing-value rules: NULL and NaN are excluded from every
  * section but the numeric census (`max` reports NaN when present);
  * `mean` and the equi-width bounds range over the finite values, and
  * ±Inf rows count in the histogram edge bins and the equi-depth bins,
  * so both histograms carry the same mass.
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
}
