package graft

import org.apache.spark.sql.functions._
import graft.operators.{Joins, Summaries}

/** Specs for the r10 association/pre-flight additions: correlationMatrix,
  * categoricalAssociation, keyProfile, winsorize.
  */
class AssociationSpec extends SparkSpec {
  import spark.implicits._

  // ── correlationMatrix ──────────────────────────────────────────────────

  test("correlationMatrix: exact ±1 on linear columns, NULL on constants") {
    val df = Seq(
      (1.0, 2.0, 9.0, 7.0),
      (2.0, 4.0, 7.0, 7.0),
      (3.0, 6.0, 5.0, 7.0),
      (4.0, 8.0, 3.0, 7.0)).toDF("x", "y2x", "yneg", "c")
    val out = Summaries.correlationMatrix(df, Seq("x", "y2x", "yneg", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("x", "y2x")).getAs[Double]("corr") === 1.0)
    assert(out(("x", "yneg")).getAs[Double]("corr") === -1.0)
    // zero-variance partner → NULL, not NaN
    assert(out(("x", "c")).isNullAt(out(("x", "c")).fieldIndex("corr")))
    assert(out(("x", "y2x")).getAs[Long]("n_pairs") === 4L)
    assert(out(("x", "y2x")).getAs[Double]("mean_x") === 2.5)
    assert(out(("x", "y2x")).getAs[Double]("mean_y") === 5.0)
  }

  test("correlationMatrix: pairwise-complete — NULL/NaN/Inf drop per pair") {
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val df = Seq(
      (Some(1.0), Some(1.0), Some(5.0)),
      (Some(2.0), None, Some(4.0)),
      (Some(3.0), Some(nan), Some(3.0)),
      (Some(4.0), Some(inf), Some(2.0)),
      (Some(5.0), Some(5.0), Some(1.0))).toDF("a", "b", "c")
    val out = Summaries.correlationMatrix(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // (a,b): only rows 1 and 5 are complete → n=2, corr defined (=1)
    assert(out(("a", "b")).getAs[Long]("n_pairs") === 2L)
    assert(out(("a", "b")).getAs[Double]("corr") === 1.0)
    // (a,c): all five rows complete despite b's holes
    assert(out(("a", "c")).getAs[Long]("n_pairs") === 5L)
    assert(out(("a", "c")).getAs[Double]("corr") === -1.0)
  }

  test("correlationMatrix: decimal-overflow values (|x| >= 1e14) drop from " +
    "the pair, not just the sums") {
    // 1e15 overflows decimal(18,4): must be treated as MISSING (row leaves
    // n_pairs too), not silently dropped from the moments while counted
    val df = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (1e15, 4.0))
      .toDF("a", "b")
    val r = Summaries.correlationMatrix(df, Seq("a", "b")).head()
    assert(r.getAs[Long]("n_pairs") === 3L)
    assert(r.getAs[Double]("mean_x") === 2.0) // the 1e15 row fully excluded
    assert(r.getAs[Double]("corr") === 1.0)
  }

  test("correlationMatrix: matches Spark's corr() within the 4-dp quantization") {
    val rng = new scala.util.Random(7)
    val data = Seq.fill(500)((rng.nextDouble() * 100,
      rng.nextDouble() * 50 + rng.nextGaussian() * 5))
    val df = data.toDF("u", "v")
    val mine = Summaries.correlationMatrix(df, Seq("u", "v"))
      .head().getAs[Double]("corr")
    val ref = df.agg(corr(col("u"), col("v"))).head().getDouble(0)
    assert(math.abs(mine - ref) < 1e-3,
      s"quantized corr $mine vs exact $ref")
  }

  // ── categoricalAssociation ─────────────────────────────────────────────

  test("categoricalAssociation: perfect association → V = 1, independence → V = 0") {
    // perfect: b === a; independent: u cycles within each a level so
    // every (a, u) cell holds exactly 5 rows
    val perfect = (0 until 40).map(i => (s"k${i % 4}", s"k${i % 4}", s"u${(i / 4) % 2}"))
    val df = perfect.toDF("a", "b", "u")
    val out = Summaries.categoricalAssociation(df, Seq(("a", "b"), ("a", "u")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("n") === 40L)
    assert(ab.getAs[Long]("r_levels") === 4L && ab.getAs[Long]("c_levels") === 4L)
    assert(ab.getAs[Double]("cramers_v") === 1.0)
    // i%4 and i%2 over 1..40: each (a, u) cell has exactly 5 rows → chi2 0
    val au = out(("a", "u"))
    assert(au.getAs[Double]("chi2") === 0.0)
    assert(au.getAs[Double]("cramers_v") === 0.0)
  }

  test("categoricalAssociation: chi2 matches the dense-grid formula") {
    // hand grid: a∈{x,y}, b∈{p,q}: (x,p)=10, (x,q)=20, (y,p)=30, (y,q)=5
    val rows = Seq.fill(10)(("x", "p")) ++ Seq.fill(20)(("x", "q")) ++
      Seq.fill(30)(("y", "p")) ++ Seq.fill(5)(("y", "q"))
    val out = Summaries.categoricalAssociation(rows.toDF("a", "b"),
      Seq(("a", "b"))).head()
    val n = 65.0
    val e = Map(("x", "p") -> 30.0 * 40 / n, ("x", "q") -> 30.0 * 25 / n,
      ("y", "p") -> 35.0 * 40 / n, ("y", "q") -> 35.0 * 25 / n)
    val o = Map(("x", "p") -> 10.0, ("x", "q") -> 20.0,
      ("y", "p") -> 30.0, ("y", "q") -> 5.0)
    val chi2 = e.map { case (k, ek) => math.pow(o(k) - ek, 2) / ek }.sum
    assert(math.abs(out.getAs[Double]("chi2") - chi2) < 1e-4)
    val v = math.sqrt(chi2 / (n * 1))
    assert(math.abs(out.getAs[Double]("cramers_v") - v) < 1e-4)
  }

  test("categoricalAssociation: an all-NULL pair still reports a row") {
    val df = Seq((Some("a"), Option.empty[String], Some("z")),
      (Some("b"), None, Some("w"))).toDF("g", "h", "i")
    val out = Summaries.categoricalAssociation(df, Seq(("g", "h"), ("g", "i")))
    assert(out.count() === 2)
    val gh = out.filter(col("col_y") === "h").head()
    assert(gh.getAs[Long]("n") === 0L)
    assert(gh.isNullAt(gh.fieldIndex("chi2")))
    assert(gh.isNullAt(gh.fieldIndex("cramers_v")))
  }

  // ── keyProfile ─────────────────────────────────────────────────────────

  test("keyProfile: hand-computed census on overlapping keys with NULLs") {
    val left = Seq(Some(1), Some(1), Some(2), Some(3), None).toDF("lk")
    val right = Seq(Some(1), Some(2), Some(2), Some(4), None, None).toDF("rk")
    val r = Joins.keyProfile(left, right, "lk", "rk").head()
    assert(r.getAs[Long]("rows_left") === 5L)
    assert(r.getAs[Long]("rows_right") === 6L)
    assert(r.getAs[Long]("null_key_rows_left") === 1L)
    assert(r.getAs[Long]("null_key_rows_right") === 2L)
    assert(r.getAs[Long]("distinct_keys_left") === 3L)
    assert(r.getAs[Long]("distinct_keys_right") === 3L)
    assert(r.getAs[Long]("matched_keys") === 2L)
    assert(r.getAs[Long]("left_only_keys") === 1L)   // key 3
    assert(r.getAs[Long]("right_only_keys") === 1L)  // key 4
    // inner = 2·1 (key 1) + 1·2 (key 2) = 4; NULL keys never match
    assert(r.getAs[Long]("inner_rows") === 4L)
    assert(r.getAs[Long]("max_left_mult") === 2L)
    assert(r.getAs[Long]("max_right_mult") === 2L)
    assert(r.getAs[Long]("max_key_pair_rows") === 2L)
    assert(r.getAs[Double]("skew_ratio") === 1.0) // 2·2/4
  }

  test("keyProfile: inner_rows equals the actual join's row count") {
    val rng = new scala.util.Random(11)
    val left = Seq.fill(300)(rng.nextInt(40)).toDF("k1")
    val right = Seq.fill(500)(rng.nextInt(60)).toDF("k2")
    val predicted = Joins.keyProfile(left, right, "k1", "k2")
      .head().getAs[Long]("inner_rows")
    val actual = left.join(right, col("k1") === col("k2")).count()
    assert(predicted === actual)
  }

  // ── winsorize ──────────────────────────────────────────────────────────

  test("winsorize: hand-computed cuts clip the tails, midrange untouched") {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val out = Summaries.winsorize(df, Seq("x"), pLo = 0.05, pHi = 0.95)
      .collect().map(r => r.getDouble(0) -> r.getAs[Double]("x_w")).toMap
    // percentile_cont over 1..100: p05 rank 4.95 → 5.95; p95 → 95.05
    assert(out(1.0) === 5.95)
    assert(out(3.0) === 5.95)
    assert(out(50.0) === 50.0)
    assert(out(100.0) === 95.05)
    assert(out(99.0) === 95.05)
  }

  test("winsorize: NULL/NaN → NULL; ±Inf clip to the finite cuts") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), Some(5.0),
      Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), None).toDF("x")
    val out = Summaries.winsorize(df, Seq("x"), pLo = 0.0, pHi = 1.0)
    val got = out.collect().map { r =>
      val in = if (r.isNullAt(0)) "null"
        else if (r.getDouble(0).isNaN) "nan" else r.getDouble(0).toString
      in -> (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))
    }.toMap
    assert(got("1.0") === 1.0 && got("5.0") === 5.0) // p0/p100 of the finite core
    assert(got(Double.PositiveInfinity.toString) === 5.0)
    assert(got(Double.NegativeInfinity.toString) === 1.0)
    assert(got("nan") == null)
    assert(got("null") == null)
  }

  test("winsorize: scalable narrowing ≡ percentile yardstick on ties-heavy data") {
    val rng = new scala.util.Random(3)
    val df = Seq.fill(400)(rng.nextInt(20).toDouble).toDF("x")
      .withColumn("id", monotonically_increasing_id())
    val got = Summaries.winsorize(df, Seq("x"), 0.1, 0.9)
      .select("id", "x_w").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference: the percentile aggregate's cuts, clipped on the driver
    val Seq(lo, hi) = ExactReference.percentiles(df, "x", Seq(0.1, 0.9)).get
      .map(ExactReference.round5)
    val want = df.select("id", "x").collect()
      .map(r => r.getLong(0) -> math.min(math.max(r.getDouble(1), lo), hi)).toMap
    assert(got === want)
  }

  test("winsorize: an all-NULL column yields NULL outputs, not a crash") {
    val df = Seq(Option.empty[Double], None, None).toDF("x")
    val out = Summaries.winsorize(df, Seq("x"))
    assert(out.filter(col("x_w").isNotNull).count() === 0)
  }
}
