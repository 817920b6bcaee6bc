package graft

import org.apache.spark.sql.functions._
import graft.operators.DatasetCard

/** The sketch-first dataset card: ONE aggregation pass per input frame,
  * every numeric section derived from the CDF sketch, values inside a
  * declared error envelope of the exact card (the SketchSpec discipline —
  * approximate is fine, UNBOUNDED error is not).
  */
class DatasetCardSketchSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  test("CdfSketch: fLt/fLe/q invert the grid, plateaus carry point mass") {
    // 1..100 uniform: quantile function is linear, CDF inverts it
    val uni = (1 to 100).map(_.toDouble).toDF("v")
    val s = DatasetCard.cdfSketches(uni, Seq("v"), gridPoints = 100)("v")
    assert(s.n === 100 && s.nNull === 0)
    assert(s.minFin === 1.0 && s.maxFin === 100.0)
    assert(math.abs(s.fLt(50.5) - 0.5) < 0.02)
    assert(s.fLe(100.0) === 1.0 && s.fLt(1.0) === 0.0)
    assert(math.abs(s.q(0.25) - 25) <= 1.0)
    // 60% point mass at 7 between tails: fLe(7) − fLt(7) sees the plateau
    val spike = ((1 to 20).map(_ => 1.0) ++ (1 to 60).map(_ => 7.0) ++
      (1 to 20).map(_ => 9.0)).toDF("v")
    val sp = DatasetCard.cdfSketches(spike, Seq("v"), gridPoints = 100)("v")
    val pointMass = sp.fLe(7.0) - sp.fLt(7.0)
    assert(math.abs(pointMass - 0.6) < 0.05, s"plateau mass $pointMass")
  }

  test("buildSketch numeric-only card is ONE Spark job (one data pass)") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    // AQE off for the pin: adaptive execution reports each query stage of
    // the ONE aggregation as its own job, which would obscure the pass
    // count (the scan itself still happens once either way)
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      spark.sparkContext.setJobGroup("card-sketch-pin",
        "sketch card construction", interruptOnCancel = false)
      val card = try
        DatasetCard.buildSketch(docs, numericCols = Seq("n_chars"),
          categoricalCols = Nil, outlierK = Some(3.0))
      finally spark.sparkContext.clearJobGroup()
      val jobs = spark.sparkContext.statusTracker
        .getJobIdsForGroup("card-sketch-pin")
      assert(jobs.length === 1,
        s"sketch card should cost exactly ONE job, ran ${jobs.length}")
      // ...and the result frame is local facts: collecting it runs NO scan
      assert(card.count() > 0)
      // with a PSI reference: exactly one more pass (the reference sketch)
      spark.sparkContext.setJobGroup("card-sketch-pin-ref",
        "sketch card with reference", interruptOnCancel = false)
      try DatasetCard.buildSketch(docs, Seq("n_chars"), Nil,
        reference = Some(docs.filter(pmod(col("doc_id"), lit(2)) === 0)))
      finally spark.sparkContext.clearJobGroup()
      assert(spark.sparkContext.statusTracker
        .getJobIdsForGroup("card-sketch-pin-ref").length === 2)
    }
  }

  test("buildSketch tracks the exact card inside the error envelope") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    def factMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r)
        .toMap
    val exact = factMap(DatasetCard.build(docs, Seq("n_chars"),
      Seq("lang", "source"), topK = 3, reference = Some(ref),
      exactMedians = true, outlierK = Some(3.0)))
    val sketch = factMap(DatasetCard.buildSketch(docs, Seq("n_chars"),
      Seq("lang", "source"), topK = 3, reference = Some(ref),
      outlierK = Some(3.0)))
    val n = docs.count().toDouble
    val vals = docs.select(col("n_chars").cast("double")).as[Double].collect()
    // quantile facts: rank error ≤ grid step + sketch error (n < accuracy
    // here, so approx_percentile itself is exact — the envelope is the
    // grid interpolation)
    val tol = 1.0 / 256 + 0.005
    for (p <- Seq(0.25, 0.5, 0.75, 0.95, 0.99)) {
      val item = operators.Summaries.quantileColName(p)
      val v = sketch(("numeric", "n_chars", item)).getDouble(4)
      val rankLe = vals.count(_ <= v) / n
      val rankLt = vals.count(_ < v) / n
      assert(rankLe >= p - tol && rankLt <= p + tol,
        f"$item=$v%.1f rank [${rankLt}%.3f, ${rankLe}%.3f] vs p=$p")
    }
    // exact-by-construction facts agree exactly
    for (item <- Seq("n_non_null", "n_null", "min", "max")) {
      assert(sketch(("numeric", "n_chars", item)).getDouble(4) ===
        exact(("numeric", "n_chars", item)).getDouble(4), item)
    }
    assert(math.abs(sketch(("numeric", "n_chars", "mean")).getDouble(4) -
      exact(("numeric", "n_chars", "mean")).getDouble(4)) < 1e-6)
    // histogram + equidepth counts: every bin within 2% of n of the exact
    // count, totals within 1%
    for (section <- Seq("histogram", "equidepth")) {
      val sBins = sketch.filter(_._1._1 == section).map { case (k, r) =>
        k._3 -> r.getLong(7) }
      val eBins = exact.filter(_._1._1 == section).map { case (k, r) =>
        k._3 -> r.getLong(7) }
      assert(math.abs(sBins.values.sum - eBins.values.sum) <= 0.01 * n,
        s"$section total ${sBins.values.sum} vs ${eBins.values.sum}")
      for ((b, en) <- eBins)
        assert(math.abs(sBins.getOrElse(b, 0L) - en) <= 0.02 * n + 2,
          s"$section bin $b: sketch ${sBins.getOrElse(b, 0L)} vs exact $en")
    }
    // PSI: same grade, index within 0.05
    val (sPsi, ePsi) = (sketch(("psi", "n_chars", "psi")),
      exact(("psi", "n_chars", "psi")))
    assert(sPsi.getString(3) === ePsi.getString(3),
      s"psi grade ${sPsi.getString(3)} vs ${ePsi.getString(3)}")
    assert(math.abs(sPsi.getDouble(4) - ePsi.getDouble(4)) < 0.05)
    // outliers: ratio within 2 points, fences bracket the exact fences
    val (sF, eF) = (sketch(("outliers", "n_chars", "fences")),
      exact(("outliers", "n_chars", "fences")))
    assert(math.abs(sF.getDouble(4) - eF.getDouble(4)) < 0.02)
    // categorical section rides its own exact pass — identical facts
    assert(sketch.keys.filter(_._1 == "categorical") ===
      exact.keys.filter(_._1 == "categorical"))
    for (k <- exact.keys if k._1 == "categorical")
      assert(sketch(k).toSeq === exact(k).toSeq, k.toString)
  }

  test("approx quantile paths track their exact yardsticks (q103/q120/q127/q131)") {
    import graft.operators.{Summaries, Sampling}
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val n = docs.count().toDouble
    // q103 equidepthBins: approx cuts → every bin count within 2% of n
    val exactBins = Summaries.equidepthBins(docs, Seq("n_chars"), 4)
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    val approxBins = Summaries.equidepthBins(docs, Seq("n_chars"), 4,
        approx = true)
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(approxBins.keySet === exactBins.keySet)
    for ((b, en) <- exactBins)
      assert(math.abs(approxBins(b) - en) <= 0.02 * n + 2, s"bin $b")
    // q120 winsorize: approx fences clip to values within a hair of exact
    val ex = Summaries.winsorize(docs.select("doc_id", "n_chars"),
      Seq("n_chars"), 0.05, 0.95)
    val ap = Summaries.winsorize(docs.select("doc_id", "n_chars"),
      Seq("n_chars"), 0.05, 0.95, approx = true)
    val joined = ex.select(col("doc_id"), col("n_chars_w").as("e"))
      .join(ap.select(col("doc_id"), col("n_chars_w").as("a")), "doc_id")
    val spread = docs.agg(max("n_chars") - min("n_chars")).head().getLong(0)
    val maxDiff = joined.agg(max(abs(col("e") - col("a")))).head().getDouble(0)
    assert(maxDiff <= 0.02 * spread, s"winsorize fences drifted: $maxDiff")
    // q127 groupQuantiles: approx rides ONE grouped agg (no maxGroups
    // bound) and lands within rank tolerance of exact per group
    val exQ = Summaries.groupQuantiles(docs, "lang", "n_chars", Seq(0.5))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(2)).toMap
    val apQ = Summaries.groupQuantiles(docs, "lang", "n_chars", Seq(0.5),
        approx = true, maxGroups = 1 /* proves the bound is NOT consulted */)
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(2)).toMap
    assert(apQ.keySet === exQ.keySet)
    for ((g, ev) <- exQ) {
      val gi = docs.filter(col("lang") <=> g.orNull)
        .select(col("n_chars").cast("double")).as[Double].collect().sorted
      val rank = gi.count(_ <= apQ(g)) / gi.length.toDouble
      assert(rank >= 0.5 - 0.05 && gi.count(_ < apQ(g)) / gi.length.toDouble
        <= 0.5 + 0.05, s"group $g median ${apQ(g)} vs exact $ev")
    }
    // q131 curriculumManifest: approx cuts produce the same contract —
    // every doc placed exactly once, buckets ordered by difficulty,
    // bucket sizes within tolerance of equi-depth
    val man = Sampling.curriculumManifest(
      docs.select("doc_id", "n_chars"), col("doc_id"), col("n_chars"),
      nBuckets = 4, nShards = 4, approx = true)
    assert(man.count() === docs.count())
    val byBucket = man.groupBy("bucket").agg(count(lit(1)).as("c"),
        min("n_chars").as("mn"), max("n_chars").as("mx"))
      .orderBy("bucket").collect()
    assert(byBucket.length === 4)
    for (i <- 0 until 3)
      assert(byBucket(i).getAs[Long]("mx") <= byBucket(i + 1).getAs[Long]("mn") ||
        byBucket(i).getAs[Long]("mx") <= byBucket(i + 1).getAs[Long]("mx"))
    for (r <- byBucket)
      assert(math.abs(r.getAs[Long]("c") - n / 4) <= 0.05 * n + 2,
        s"bucket ${r.getAs[Int]("bucket")} size ${r.getAs[Long]("c")}")
  }

  test("buildSketch: NaN/Inf values don't inflate histogram or equi-depth masses") {
    // 8 finite values + 4 NaN + 2 Inf: the quantile grid sees only the
    // finite 8, so the CDF-mass scaler must be the FINITE count — the
    // pre-fix scaler used the NaN/Inf-inclusive non-null count (14) and
    // inflated every bin, and +-Inf leaking into the grid degenerated
    // the equi-width bounds
    val vals: Seq[Double] = (1 to 8).map(_.toDouble) ++
      Seq.fill(4)(Double.NaN) ++
      Seq(Double.PositiveInfinity, Double.NegativeInfinity)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val card = DatasetCard.buildSketch(df, Seq("v"), Nil,
      histBins = 4, depthBins = 4)
    def massOf(section: String): Long = card
      .filter(col("section") === section).agg(sum("n")).head().getLong(0)
    assert(massOf("histogram") === 8L)
    assert(massOf("equidepth") === 8L)
    // finite bounds: the histogram must span [1, 8], not [-Inf, Inf]
    val hist = card.filter(col("section") === "histogram")
      .agg(min("lo"), max("hi")).head()
    assert(hist.getDouble(0) === 1.0 && hist.getDouble(1) === 8.0)
    // mean is the mean OF FINITE VALUES (4.5 = 36/8): the decimal-cast
    // numerator drops NaN/Inf, so the denominator must be nFin, not the
    // NaN-inclusive non-null count (36/14 would bias it low)
    val mean = card.filter(col("section") === "numeric" &&
      col("item") === "mean").head().getDouble(4)
    assert(math.abs(mean - 4.5) < 1e-9, s"mean $mean != 4.5")
  }

  test("buildSketch: all-NULL numeric column still publishes its census") {
    val df = Seq((1L, Option.empty[Double]), (2L, None), (3L, None))
      .toDF("id", "v")
    val card = DatasetCard.buildSketch(df, Seq("v"), Nil)
      .collect().map(r => r.getString(2) -> r.getDouble(4)).toMap
    assert(card("n_non_null") === 0.0 && card("n_null") === 3.0)
  }
}
