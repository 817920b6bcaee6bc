package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Funnel, Quality, Summaries}

/** Specs for the r10 engagement/fusion/balance additions:
  * decayedEngagement, rrfFuse, classBalance.
  */
class EngagementFusionSpec extends SparkSpec {
  import spark.implicits._

  private val dayUs = 86400L * 1000000L

  // ── decayedEngagement ─────────────────────────────────────────────────

  test("decayedEngagement: hand-computed half-life ladder") {
    val ref = 100L * dayUs
    def ts(daysBefore: Double) =
      new Timestamp((ref - (daysBefore * dayUs).toLong) / 1000L)
    val df = Seq(
      (1L, ts(0.0), 10.0),   // factor 1
      (1L, ts(7.0), 10.0),   // factor 0.5 (one half-life)
      (1L, ts(14.0), 10.0)   // factor 0.25
    ).toDF("user_id", "ts", "value")
    val r = Funnel.decayedEngagement(df, "user_id", "ts", "value", ref, 7.0).head()
    assert(r.getAs[Long]("n_events") === 3L)
    assert(math.abs(r.getAs[Double]("decayed_value") - 17.5) < 1e-6)
    assert(r.getAs[Timestamp]("last_ts") === ts(0.0))
  }

  test("decayedEngagement: NULL/NaN/Inf values and NULL ts are excluded") {
    val ref = 100L * dayUs
    val t = new Timestamp(ref / 1000L)
    val df = Seq(
      (Some(1L), Some(t), Some(2.0)),
      (Some(1L), Some(t), Some(Double.NaN)),
      (Some(1L), Some(t), Some(Double.PositiveInfinity)),
      (Some(1L), Some(t), None),
      (Some(1L), None, Some(99.0)),
      (None, Some(t), Some(5.0)) // NULL user is its own group
    ).toDF("user_id", "ts", "value")
    val out = Funnel.decayedEngagement(df, "user_id", "ts", "value", ref, 7.0)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r).toMap
    assert(out(1L).getAs[Long]("n_events") === 1L)
    assert(out(1L).getAs[Double]("decayed_value") === 2.0)
    assert(out(-1L).getAs[Double]("decayed_value") === 5.0)
  }

  // ── rrfFuse ───────────────────────────────────────────────────────────

  test("rrfFuse: hand-computed fusion, overlap wins, ties break by id") {
    val a = Seq(("d1", 1L), ("d2", 2L)).toDF("doc_id", "rank")
    val b = Seq(("d2", 1L), ("d3", 2L)).toDF("doc_id", "rank")
    val out = Quality.rrfFuse(Seq(a, b), topK = 10).collect()
    val byRank = out.map(r => r.getAs[Long]("fused_rank") -> r).toMap
    // d2: 1/62 + 1/61 ≈ 0.032520; d1: 1/61; d3: 1/62
    assert(byRank(1L).getString(0) === "d2")
    assert(byRank(1L).getAs[Long]("n_lists") === 2L)
    assert(byRank(2L).getString(0) === "d1")
    assert(byRank(3L).getString(0) === "d3")
    val d2 = byRank(1L).getAs[Double]("rrf_score")
    val expect = BigDecimal(1.0 / 62).setScale(9, BigDecimal.RoundingMode.HALF_UP) +
      BigDecimal(1.0 / 61).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(d2 === expect.toDouble)
    // equal scores (same single-list rank) order by id asc
    val x = Seq(("zz", 1L)).toDF("doc_id", "rank")
    val y = Seq(("aa", 1L)).toDF("doc_id", "rank")
    val tied = Quality.rrfFuse(Seq(x, y), topK = 2).collect()
      .sortBy(_.getAs[Long]("fused_rank")).map(_.getString(0)).toSeq
    assert(tied === Seq("aa", "zz"))
  }

  test("rrfFuse: topK cuts and NULL ids/ranks drop") {
    val a = (1 to 30).map(i => (s"d$i", i.toLong)).toDF("doc_id", "rank")
    val b = Seq((Option.empty[String], Some(1L)), (Some("d1"), Option.empty[Long]))
      .toDF("doc_id", "rank")
    val out = Quality.rrfFuse(Seq(a, b), topK = 5)
    assert(out.count() === 5)
    // the NULL-rank d1 row contributed nothing: d1 still has n_lists 1
    assert(out.filter(col("doc_id") === "d1").head().getAs[Long]("n_lists") === 1L)
  }

  // ── targetMix ─────────────────────────────────────────────────────────

  test("targetMix: largest-remainder allocation hits the declared mix exactly") {
    import graft.operators.Sampling
    val df = (0 until 300).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "g")
    // 10·(0.5, 0.3, 0.2) in doubles: bases (5, 2, 2) — 10·0.3 is
    // 2.999…, 10·0.2 is 2.000…4 — leftover 1 goes to s1's ~1.0 remainder
    val out = Sampling.targetMix(df, col("g"), col("id"),
        Seq(("s0", 0.5), ("s1", 0.3), ("s2", 0.2)), totalK = 10)
      .collect()
    val byG = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byG === Map("s0" -> 5, "s1" -> 3, "s2" -> 2))
    assert(out.length === 10)
  }

  test("targetMix: availability cap keeps the stratum whole, no redistribution") {
    import graft.operators.Sampling
    val df = ((0 until 100).map(i => (i.toLong, "big")) ++
      Seq((1000L, "rare"), (1001L, "rare"))).toDF("id", "g")
    val out = Sampling.targetMix(df, col("g"), col("id"),
        Seq(("big", 0.5), ("rare", 0.5)), totalK = 40).collect()
    val byG = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // rare wanted 20, has 2 → keeps 2; big stays at ITS 20 (the mix the
    // caller asked for is the contract — no silent backfill from big)
    assert(byG === Map("big" -> 20, "rare" -> 2))
  }

  test("targetMix: unlisted strata excluded; layout-independent; ranks dense") {
    import graft.operators.Sampling
    val df = (0 until 200).map(i => (i.toLong, s"s${i % 4}")).toDF("id", "g")
    val sel = Sampling.targetMix(df, col("g"), col("id"),
      Seq(("s0", 0.6), ("s1", 0.4)), totalK = 20)
    val a = sel.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(!a.exists(_._2 == "s2") && !a.exists(_._2 == "s3"))
    val b = Sampling.targetMix(df.repartition(7), col("g"), col("id"),
        Seq(("s0", 0.6), ("s1", 0.4)), totalK = 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(a === b)
    val ranks = a.groupBy(_._2).view.mapValues(_.map(_._3).toSeq.sorted).toMap
    assert(ranks("s0") === (1L to 12L) && ranks("s1") === (1L to 8L))
  }

  // ── curriculumManifest ────────────────────────────────────────────────

  test("curriculumManifest: equi-depth buckets, monotone difficulty, dense pos") {
    import graft.operators.Sampling
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "diff")
    val out = Sampling.curriculumManifest(df, col("id"), col("diff"),
        nBuckets = 4, nShards = 2)
      .select("id", "diff", "bucket", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    // equi-depth on 1..100: four buckets of 25
    val sizes = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes === Map(0 -> 25, 1 -> 25, 2 -> 25, 3 -> 25))
    // bucket is monotone in difficulty: no easy doc lands above a hard one
    val maxByBucket = out.groupBy(_._3).view.mapValues(_.map(_._2).max).toMap
    val minByBucket = out.groupBy(_._3).view.mapValues(_.map(_._2).min).toMap
    (0 to 2).foreach(b => assert(maxByBucket(b) <= minByBucket(b + 1)))
    // pos is dense 1..n within every (bucket, shard)
    out.groupBy(t => (t._3, t._4)).foreach { case (_, rows) =>
      assert(rows.map(_._5).sorted.toSeq === (1 to rows.length))
    }
  }

  test("curriculumManifest: layout-independent; unplaceable rows excluded") {
    import graft.operators.Sampling
    val df = Seq((Some(1L), Some(5.0)), (Some(2L), Some(1.0)),
      (Some(3L), None), (None, Some(2.0)), (Some(4L), Some(Double.NaN)),
      (Some(5L), Some(9.0)), (Some(6L), Some(3.0)), (Some(7L), Some(7.0)))
      .toDF("id", "diff")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.curriculumManifest(d, col("id"), col("diff"),
          nBuckets = 2, nShards = 2)
        .select("id", "bucket", "shard", "pos")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    val a = run(df)
    assert(a.map(_._1) === Set(1L, 2L, 5L, 6L, 7L)) // 3 (NULL diff), 4 (NaN), NULL id out
    assert(a === run(df.repartition(5)))
  }

  test("curriculumManifest: ±Inf difficulty excluded; reserved columns guarded") {
    import graft.operators.Sampling
    // an Inf row on a quantile cut used to throw NumberFormatException in
    // the BigDecimal 5-dp rounding; now it is unplaceable like NaN
    val withInf = Seq((1L, 1.0), (2L, 2.0), (3L, Double.PositiveInfinity),
      (4L, 4.0), (5L, Double.NegativeInfinity)).toDF("id", "diff")
    val out = Sampling.curriculumManifest(withInf, col("id"), col("diff"),
      nBuckets = 2, nShards = 1)
    assert(out.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
    val clash = Seq((1L, 1.0, 9)).toDF("id", "diff", "bucket")
    val e = intercept[IllegalArgumentException] {
      Sampling.curriculumManifest(clash, col("id"), col("diff"),
        nBuckets = 2, nShards = 1)
    }
    assert(e.getMessage.contains("bucket"))
  }

  // ── classBalance ──────────────────────────────────────────────────────

  test("classBalance: hand-computed entropy/gini/top on a balanced group") {
    val df = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "b"),
      ("g2", "x"), ("g2", "x"), ("g2", "x")).toDF("split", "lab")
    val out = Summaries.classBalance(df, "split", "lab")
      .collect().map(r => r.getString(0) -> r).toMap
    val g1 = out("g1")
    assert(g1.getAs[Long]("n") === 4L)
    assert(g1.getAs[Long]("n_labels") === 2L)
    assert(g1.getAs[Double]("entropy") === 1.0)       // two 50% classes
    assert(g1.getAs[Double]("norm_entropy") === 1.0)  // perfectly balanced
    assert(g1.getAs[Double]("gini") === 0.5)
    assert(g1.getAs[String]("top_label") === "a")     // tie → label asc
    assert(g1.getAs[Double]("top_share") === 0.5)
    val g2 = out("g2")
    assert(g2.getAs[Double]("entropy") === 0.0)       // single class
    assert(g2.isNullAt(g2.fieldIndex("norm_entropy"))) // ÷log2(1) undefined
    assert(g2.getAs[Double]("gini") === 0.0)
  }

  test("classBalance: NULL labels censused, all-NULL group keeps its row") {
    val df = Seq(("g1", Some("a")), ("g1", None),
      ("g2", Option.empty[String]), ("g2", None)).toDF("split", "lab")
    val out = Summaries.classBalance(df, "split", "lab")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("g1").getAs[Long]("n") === 1L)
    assert(out("g1").getAs[Long]("n_null_labels") === 1L)
    val g2 = out("g2")
    assert(g2.getAs[Long]("n") === 0L)
    assert(g2.getAs[Long]("n_null_labels") === 2L)
    assert(g2.isNullAt(g2.fieldIndex("top_label")))
    assert(g2.isNullAt(g2.fieldIndex("entropy")))
  }

  test("classBalance: a NULL group is a group like any other") {
    val df = Seq((Some("g1"), "a"), (None, "b"), (None, "b")).toDF("split", "lab")
    val out = Summaries.classBalance(df, "split", "lab")
    assert(out.count() === 2)
    val nullG = out.filter(col("split").isNull).head()
    assert(nullG.getAs[Long]("n") === 2L)
    assert(nullG.getAs[String]("top_label") === "b")
  }
}
