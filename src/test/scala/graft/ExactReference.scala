package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spec-side references for the exact operators, written the plain way
  * the operators avoid: Spark's buffered `percentile` aggregate over the
  * NaN-filtered column, `Window.orderBy` cumulative sums (one
  * single-task sort), and a driver-side Lloyd's loop. The operators
  * answer through `Summaries.exactQuantilesPerColumn`, distributed
  * prefix-sums and `Ann.pqTrainCodebooksExact`; specs pin them to these.
  */
object ExactReference {
  def round5(v: Double): Double =
    BigDecimal(v).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `percentile(c, qs)` over the column with NaN mapped to NULL; None
    * when no value remains. */
  def percentiles(df: DataFrame, c: String, qs: Seq[Double]): Option[Seq[Double]] = {
    val d = col(c).cast("double")
    val row = df.agg(percentile(when(!isnan(d), d), typedLit(qs))).head()
    if (row.isNullAt(0) || row.getSeq[Double](0).isEmpty) None
    else Some(row.getSeq[Double](0))
  }

  /** `Summaries.equidepthBins` rows as sorted strings: cuts are the
    * `percentiles` at j/nBins rounded to 5 dp, and each non-NULL,
    * non-NaN value lands in bin Σ(v ≥ cut), counted on the driver. */
  def equidepthBins(df: DataFrame, cols: Seq[String], nBins: Int): Seq[String] = {
    val qs = (1 until nBins).map(_.toDouble / nBins)
    cols.flatMap { c =>
      percentiles(df, c, qs).toSeq.flatMap { raw =>
        val cuts = raw.map(round5)
        val vs = df.select(col(c).cast("double")).collect()
          .filterNot(_.isNullAt(0)).map(_.getDouble(0)).filterNot(_.isNaN)
        vs.groupBy(v => cuts.count(v >= _)).toSeq.map { case (b, in) =>
          Row(c, b.toLong, if (b > 0) cuts(b - 1) else null,
            if (b < nBins - 1) cuts(b) else null, in.length.toLong).toString
        }
      }
    }.sorted
  }

  /** `Summaries.ksDrift` rows (column, d_stat, n_ref, n_cur): per column,
    * the ECDFs walked by a `Window.orderBy` cumulative sum over the
    * distinct values of both sides. */
  def ksDrift(ref: DataFrame, cur: DataFrame,
              cols: Seq[String]): Seq[(String, Option[Double], Long, Long)] =
    cols.map { c =>
      def side(df: DataFrame, r: Long) = df
        .select(col(c).cast("double").as("v"))
        .filter(col("v").isNotNull && !isnan(col("v")))
        .select(col("v"), lit(r).as("cr"), lit(1L - r).as("cc"))
      val counts = side(ref, 1L).unionByName(side(cur, 0L))
        .groupBy("v").agg(sum("cr").as("cr"), sum("cc").as("cc"))
      val tot = counts.agg(coalesce(sum("cr"), lit(0L)),
        coalesce(sum("cc"), lit(0L))).head()
      val (tr, tc) = (tot.getLong(0), tot.getLong(1))
      val d =
        if (tr == 0 || tc == 0) None
        else {
          val w = Window.orderBy("v")
          Some(counts
            .withColumn("d", abs(sum("cr").over(w).cast("double") / tr -
              sum("cc").over(w).cast("double") / tc))
            .agg(round(max("d"), 5)).head().getDouble(0))
        }
      (c, d, tr, tc)
    }

  /** `Windows.concurrency` as (t, delta, active): per-instant net deltas,
    * then a running sum over a global `Window.orderBy("t")`. */
  def concurrency(intervals: DataFrame, startCol: String, endCol: String): DataFrame = {
    val bounded = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull)
    bounded.select(col(startCol).as("t"), lit(1L).as("d"))
      .unionByName(bounded.select(col(endCol).as("t"), lit(-1L).as("d")))
      .groupBy("t").agg(sum("d").as("delta"))
      .withColumn("active", sum("delta").over(Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
  }

  /** `Ann.kmeansCentroidsExact` on the driver: each vector goes to the
    * nearest centroid by left-to-right double L2² (strict `<`, so ties
    * keep the lower id), clusters sum `floor(v·1e6 + 0.5)` micro-units as
    * longs, the new element is `(sum / n / 1e6).toFloat`, and an empty
    * cluster keeps its centroid. */
  def kmeans(vecs: Seq[Array[Float]], init: Array[Array[Float]],
             iters: Int): Array[Array[Float]] =
    (0 until iters).foldLeft(init) { (cents, _) =>
      val dim = cents.head.length
      val sums = Array.fill(cents.length, dim)(0L)
      val counts = new Array[Long](cents.length)
      vecs.foreach { v =>
        var best = Double.MaxValue
        var cid = 0
        cents.indices.foreach { c =>
          val d = v.indices.foldLeft(0.0) { (acc, i) =>
            val dv = v(i).toDouble - cents(c)(i).toDouble
            acc + dv * dv
          }
          if (d < best) { best = d; cid = c }
        }
        counts(cid) += 1
        v.indices.foreach(i => sums(cid)(i) += math.floor(v(i).toDouble * 1e6 + 0.5).toLong)
      }
      cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(t => (t.toDouble / counts(c) / 1e6).toFloat)
      }.toArray
    }
}
