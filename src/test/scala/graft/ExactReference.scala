package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.Quality

/** Spec-side references for the operators, written the plain way the
  * operators avoid: Spark's buffered `percentile` aggregate over the
  * NaN-filtered column, `Window.orderBy` cumulative sums (one
  * single-task sort), a driver-side Lloyd's loop, `zip_with`/`aggregate`
  * and `filter`/`isin` Column combinators where the operators call one
  * native expression, and explode→groupBy(id) pipelines where they run
  * one kernel per row. The operators answer through
  * `Summaries.exactQuantilesPerColumn`, distributed prefix-sums,
  * `Ann.pqTrainCodebooksExact` and graft's native kernels; specs pin
  * them to these.
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

  // ── vector combinators (`Similarity`'s native kernels) ────────────────

  /** Dot product of two equal-length float arrays (double result). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Squared euclidean distance. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, v) => acc + v)

  /** Random-hyperplane LSH bucket id over the first `dim` elements: plane
    * p's sign at element i is the parity of a cheap integer mix of
    * (p, i, seed); bit p is set when the projection is >= 0.
    */
  def rhpBucket(vec: Column, nPlanes: Int, dim: Int, seed: Int = 42): Column = {
    val bits = (0 until nPlanes).map { p =>
      val contributions = (0 until dim).map { i =>
        val s = ((p * 1103515245 + i * 12345 + seed) >>> 16) & 1
        val sign = if (s == 1) 1.0 else -1.0
        element_at(vec, i + 1) * lit(sign)
      }
      val proj = contributions.reduce(_ + _)
      when(proj >= 0.0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  // ── text combinators (`TextAnalysis`' native kernels) ─────────────────

  /** BPE-ish token estimate by two regex scans: runs of word chars count
    * ceil(len/4) tokens, each punctuation char counts 1. */
  def tokenCountBpe(text: Column): Column = {
    val wordChars  = length(regexp_replace(text, "[^A-Za-z0-9]", ""))
    val punctChars = length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    (ceil(wordChars.cast("double") / 4.0) + punctChars).cast("long")
  }

  /** Ratio of tokens that are stopwords (4 dp), by a `filter`/`isin` HOF. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks  = split(trim(text), "\\s+")
    val stops = filter(toks, t => t.isin(stopwords.map(s => s: Any): _*))
    round(size(stops).cast("double") / greatest(size(toks), lit(1)), 4)
  }

  /** `TextAnalysis.qualityScoreFast` over the HOF [[stopwordRatio]]. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore  = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctPen  = TextAnalysis.punctRatio(text) * 2.0
    val stopScore = least(stopwordRatio(text, stopwords) * 4.0, lit(1.0))
    round(greatest(least((lenScore * 0.5 + stopScore * 0.5) - punctPen, lit(1.0)), lit(0.0)), 4)
  }

  /** Marker-word language ID: one (score, lang) struct per language,
    * `greatest` picks the highest score with ties to the greatest code;
    * "und" when nothing scores. */
  def langId(text: Column, markers: Map[String, Seq[String]]): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(toks, t => t.isin(words.map(w => w: Any): _*)))
      struct(hits.as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored.toIndexedSeq: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  // ── LM / repetition pipelines (`Quality`'s one-pass kernels) ──────────

  /** Null/blank text → no tokens; else lower/trim/whitespace split. */
  private def guardedTokens(textCol: String): Column =
    when(col(textCol).isNull || length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(lower(trim(col(textCol))), "\\s+"))

  /** Word n-gram instances (NOT deduplicated); docs with fewer than n
    * tokens yield an empty array. */
  private def ngramInstances(tokens: Column, n: Int): Column =
    transform(array(tokens), toks => {
      val count = size(toks) - (n - 1)
      when(count < 1, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), count),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
    }).getItem(0)

  /** `Quality.bigramLogProb` as a join pipeline: the (id, prev, tok)
    * context stream exploded, three joins against the vocab tables, and a
    * groupBy(id) for the per-doc mean. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    v: Quality.BigramVocab, alpha: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = guardedTokens(textCol)
    val prevs = concat(array(lit(null).cast("string")),
      slice(t, lit(1), greatest(size(t) - 1, lit(0))))
    val base = docs.select(col(idCol).as("id"),
        explode_outer(zip_with(prevs, t,
          (a, b) => struct(a.as("prev"), b.as("tok")))).as("p"))
      .select(col("id"), col("p.prev").as("prev"), col("p.tok").as("tok"))
    val p1 = coalesce(col("c2").cast("double"), lit(alpha)) /
      lit(v.uni.total.toDouble)
    val lnp = when(col("prev").isNull, round(log(p1), 5))
      .otherwise(round(log(
        (coalesce(col("c12").cast("double"), lit(0.0)) + lit(alpha) * p1) /
          (coalesce(col("c1").cast("double"), lit(0.0)) + lit(alpha))), 5))
    base
      .join(v.uni.top.toDF("tok", "c2"), Seq("tok"), "left")
      .join(v.first.toDF("prev", "c1"), Seq("prev"), "left")
      .join(v.top.toDF("prev", "tok", "c12"), Seq("prev", "tok"), "left")
      .groupBy("id").agg(
        count(col("tok")).as("n_tokens"),
        (sum(when(col("tok").isNotNull, lnp).cast("decimal(18,5)"))
          .cast("double") / count(col("tok"))).as("mean_logprob"))
      .withColumnRenamed("id", idCol)
  }

  /** `Quality.repetitionProfile` as two explode→groupBy(id) chains
    * joined: token stats and n-gram stats. */
  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame = {
    val base = docs.select(col(idCol).as("id"), guardedTokens(textCol).as("t"))
    val realC = when(col("tok").isNotNull, col("c"))
    val tokStats = base
      .select(col("id"), explode_outer(col("t")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        coalesce(max(realC).cast("double") / sum(realC).cast("double"), lit(0.0))
          .as("top_token_frac"),
        coalesce(sum(realC), lit(0L)).cast("long").as("n_tokens"))
    val gramStats = base
      .select(col("id"), explode_outer(ngramInstances(col("t"), n)).as("g"))
      .filter(col("g").isNotNull)
      .groupBy(col("id"), xxhash64(col("g")).as("g")).agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        ((sum("c") - count(lit(1))).cast("double") / sum("c").cast("double"))
          .as("dup_ngram_frac"))
    tokStats.join(gramStats, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"), col("top_token_frac"),
        coalesce(col("dup_ngram_frac"), lit(0.0)).as("dup_ngram_frac"))
  }
}
