package graft

import org.apache.spark.sql.functions._
import graft.operators.{Quality, Sampling, Summaries}

/** Specs for the r10 census/drift additions: madOutliers, ksDrift,
  * vocabCensus, shardManifest.
  */
class RobustStatsSpec extends SparkSpec {
  import spark.implicits._

  // ── madOutliers ────────────────────────────────────────────────────────

  test("madOutliers: hand-computed median/MAD fences and counts") {
    // sorted {1,9,10,11,19,100}: percentile median = (10+11)/2 = 10.5;
    // |x−10.5| sorted = {0.5,0.5,1.5,8.5,9.5,89.5} → MAD = (1.5+8.5)/2 = 5
    val xs = Seq(1.0, 9.0, 10.0, 11.0, 19.0, 100.0)
    val df = xs.toDF("x")
    val r = Summaries.madOutliers(df, Seq("x"), k = 3.0).head()
    assert(r.getAs[Double]("median") === 10.5)
    assert(r.getAs[Double]("mad") === 5.0)
    val (lo, hi) = (10.5 - 3.0 * 1.4826 * 5.0, 10.5 + 3.0 * 1.4826 * 5.0)
    assert(r.getAs[Double]("lo") === lo)
    assert(r.getAs[Double]("hi") === hi)
    // fences ±22.239 around 10.5 → only 100.0 falls outside
    assert(r.getAs[Long]("n_values") === 6L)
    assert(r.getAs[Long]("n_outliers") === 1L)
    assert(r.getAs[Double]("outlier_ratio") === math.rint(1e5 / 6.0) / 1e5)
  }

  test("madOutliers: a masked outlier cluster the 3σ rule misses") {
    // twenty points at 300 inflate σ until the 3σ fence (≈383) hides
    // them; the MAD fence (≈60 ± 133) is untouched and catches all 20
    val xs = (1 to 99).map(_.toDouble) ++ Seq.fill(20)(300.0)
    val df = xs.toDF("x")
    val stats = df.agg(avg("x"), stddev_pop("x")).head()
    val (mu, sd) = (stats.getDouble(0), stats.getDouble(1))
    val sigmaOutliers = xs.count(x => x < mu - 3 * sd || x > mu + 3 * sd)
    assert(sigmaOutliers === 0) // the classical rule is masked
    val r = Summaries.madOutliers(df, Seq("x"), k = 3.0).head()
    assert(r.getAs[Long]("n_outliers") === 20L)
  }

  test("madOutliers: ±Inf are outliers, never order statistics") {
    // an Inf in the sample must not drag the MAD to Inf (fences would
    // swallow everything) — stats come from the finite core and the Inf
    // rows count at the fence
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val r = Summaries.madOutliers(xs.toDF("x"), Seq("x"), k = 3.0).head()
    assert(r.getAs[Double]("median") === 3.0) // finite core {1..5}
    assert(r.getAs[Double]("mad") === 1.0)
    assert(r.getAs[Long]("n_values") === 7L)  // Infs ARE values
    assert(r.getAs[Long]("n_outliers") === 2L) // both Infs outside the fence
  }

  test("madOutliers: NaN ≡ missing, all-NULL column reports NULL stats") {
    val df = Seq(
      (Some(1.0), Option.empty[Double]),
      (Some(2.0), None),
      (Some(Double.NaN), None),
      (Some(3.0), None)
    ).toDF("x", "y")
    val out = Summaries.madOutliers(df, Seq("x", "y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("x").getAs[Double]("median") === 2.0) // NaN excluded
    assert(out("x").getAs[Long]("n_values") === 3L)  // NaN not counted
    assert(out("y").isNullAt(out("y").fieldIndex("median")))
    assert(out("y").isNullAt(out("y").fieldIndex("n_outliers")))
    assert(out("y").getAs[Long]("n_values") === 0L)
  }

  // ── groupQuantiles ─────────────────────────────────────────────────────

  test("groupQuantiles: hand values, NULL group, all-NULL group keeps rows") {
    val df = Seq(
      (Some("a"), Some(1.0)), (Some("a"), Some(2.0)),
      (Some("a"), Some(3.0)), (Some("a"), Some(4.0)),
      (None, Some(10.0)), (None, Some(20.0)),
      (Some("z"), Option.empty[Double]), (Some("z"), None)
    ).toDF("g", "v")
    val out = Summaries.groupQuantiles(df, "g", "v", Seq(0.5, 1.0))
      .collect().map { r =>
        (if (r.isNullAt(0)) "∅" else r.getString(0), r.getDouble(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      }.toMap
    assert(out(("a", 0.5)) === Some(2.5))
    assert(out(("a", 1.0)) === Some(4.0))
    assert(out(("∅", 0.5)) === Some(15.0)) // NULL group is a group
    assert(out(("z", 0.5)) === None)       // all-NULL group keeps its rows
    assert(out.size === 6)
  }

  test("groupQuantiles: agrees with percentile() per group; maxGroups raises") {
    val rng = new scala.util.Random(13)
    val df = Seq.fill(300)((s"g${rng.nextInt(4)}", rng.nextInt(50).toDouble))
      .toDF("g", "v")
    val mine = Summaries.groupQuantiles(df, "g", "v", Seq(0.25, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val ref = df.groupBy("g")
      .agg(percentile(col("v"), typedLit(Seq(0.25, 0.9))).as("p"))
      .collect().flatMap { r =>
        val ps = r.getSeq[Double](1)
        Seq((r.getString(0), 0.25) -> ps.head, (r.getString(0), 0.9) -> ps(1))
      }.toMap
    ref.foreach { case (k, v) =>
      val got = mine(k)
      assert(math.abs(got - v) < 1e-5, s"$k: $got vs $v")
    }
    intercept[IllegalArgumentException] {
      Summaries.groupQuantiles(df, "g", "v", Seq(0.5), maxGroups = 2)
    }
  }

  // ── robustZscore ───────────────────────────────────────────────────────

  test("robustZscore: hand-computed scores share madOutliers' stats") {
    // {1,2,3,4,5}: median 3, MAD 1 → z(5) = 2/1.4826, z(3) = 0
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("x")
    val out = Summaries.robustZscore(df, Seq("x"))
      .collect().map(r => r.getDouble(0) -> r.getAs[Double]("x_rz")).toMap
    assert(out(3.0) === 0.0)
    val expected = BigDecimal(2.0 / 1.4826)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(5.0) === expected)
    assert(out(1.0) === -expected)
  }

  test("robustZscore: NULL/NaN → NULL, ±Inf stays ±Inf, constant column → NULL") {
    val df = Seq(
      (Some(1.0), Some(7.0)), (Some(2.0), Some(7.0)), (Some(3.0), Some(7.0)),
      (Some(Double.NaN), Some(7.0)), (None, Some(7.0)),
      (Some(Double.PositiveInfinity), Some(7.0))).toDF("x", "c")
    val out = Summaries.robustZscore(df, Seq("x", "c")).collect()
    val byKey = out.map { r =>
      val k = if (r.isNullAt(0)) "null"
        else if (r.getDouble(0).isNaN) "nan" else r.getDouble(0).toString
      k -> r
    }.toMap
    assert(byKey("nan").isNullAt(byKey("nan").fieldIndex("x_rz")))
    assert(byKey("null").isNullAt(byKey("null").fieldIndex("x_rz")))
    assert(byKey(Double.PositiveInfinity.toString)
      .getAs[Double]("x_rz") === Double.PositiveInfinity)
    // constant column: MAD 0 → NULL scores, never ±Inf noise
    out.foreach(r => assert(r.isNullAt(r.fieldIndex("c_rz"))))
  }

  // ── ksDrift ────────────────────────────────────────────────────────────

  test("ksDrift: disjoint supports give D = 1, identical samples give D = 0") {
    val a = (1 to 50).map(_.toDouble).toDF("v")
    val b = (101 to 150).map(_.toDouble).toDF("v")
    val disjoint = Summaries.ksDrift(a, b, Seq("v")).head()
    assert(disjoint.getAs[Double]("d_stat") === 1.0)
    val same = Summaries.ksDrift(a, a, Seq("v")).head()
    assert(same.getAs[Double]("d_stat") === 0.0)
  }

  test("ksDrift: hand case — known ECDF gap") {
    // ref {1,2,3,4}, cur {3,4,5,6}: at v=2 ECDFs are 0.5 vs 0 → D = 0.5
    val r = Summaries.ksDrift(
      Seq(1.0, 2.0, 3.0, 4.0).toDF("v"),
      Seq(3.0, 4.0, 5.0, 6.0).toDF("v"), Seq("v")).head()
    assert(r.getAs[Double]("d_stat") === 0.5)
    assert(r.getAs[Long]("n_ref") === 4L)
    assert(r.getAs[Long]("n_cur") === 4L)
  }

  test("ksDrift: scalable prefix-sum path equals the windowed path") {
    val rnd = new scala.util.Random(7)
    val ref = Seq.fill(400)(rnd.nextGaussian()).map(v => (v, rnd.nextInt(50).toDouble))
      .toDF("g", "u")
    val cur = Seq.fill(300)(rnd.nextGaussian() * 1.3 + 0.2)
      .map(v => (v, rnd.nextInt(40).toDouble)).toDF("g", "u")
    val got = Summaries.ksDrift(ref, cur, Seq("g", "u")).collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Double]),
        r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    assert(got === ExactReference.ksDrift(ref, cur, Seq("g", "u")))
  }

  test("ksDrift: empty side → NULL d_stat but the column keeps its row") {
    val ref = Seq(1.0, 2.0).toDF("v")
    val cur = Seq(Option.empty[Double], None).toDF("v")
    val r = Summaries.ksDrift(ref, cur, Seq("v")).head()
    assert(r.isNullAt(r.fieldIndex("d_stat")))
    assert(r.getAs[Long]("n_ref") === 2L)
    assert(r.getAs[Long]("n_cur") === 0L)
  }

  // ── vocabCensus ────────────────────────────────────────────────────────

  test("vocabCensus: totals, vocab, hapax, and top-k coverage with tie-break") {
    val docs = Seq(
      ("en", "b b b c c a"),  // en counts: b=3, c=2, a=1
      ("en", "d"),            // d=1 → en: total 7, vocab 4, hapax {a, d}
      ("fr", "x x y")
    ).toDF("lang", "text")
    val out = Quality.vocabCensus(docs, "lang", "text", topK = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getAs[Long]("total_tokens") === 7L)
    assert(en.getAs[Long]("vocab_size") === 4L)
    assert(en.getAs[Long]("hapax_count") === 2L)
    assert(en.getAs[Double]("hapax_ratio") === 0.5)
    // top-2 by (count desc, token asc): b(3), c(2) → coverage 5/7
    assert(en.getAs[Double]("topk_coverage") === math.rint(5.0 / 7.0 * 1e5) / 1e5)
    val fr = out("fr")
    assert(fr.getAs[Long]("total_tokens") === 3L)
    assert(fr.getAs[Long]("vocab_size") === 2L)
  }

  test("vocabCensus: rank-boundary ties break by token string deterministically") {
    // three tokens all at count 2 — top-2 must be the lexicographically
    // first two (a, b), not an arbitrary pair
    val docs = Seq(("en", "c a b a b c")).toDF("lang", "text")
    val r = Quality.vocabCensus(docs, "lang", "text", topK = 2).head()
    assert(r.getAs[Double]("topk_coverage") === math.rint(4.0 / 6.0 * 1e5) / 1e5)
  }

  test("vocabCensus: a NULL group is a real group with full stats") {
    // a doc whose group key failed extraction must still be counted —
    // under its NULL key, with working coverage (null-safe join)
    val docs = Seq((Some("en"), "a b"), (Option.empty[String], "x x y"))
      .toDF("lang", "text")
    val r = Quality.vocabCensus(docs, "lang", "text", topK = 1)
      .filter(col("lang").isNull).head()
    assert(r.getAs[Long]("total_tokens") === 3L)
    assert(r.getAs[Long]("vocab_size") === 2L)
    // top-1 is x(2) → coverage 2/3, NOT zero (the null-unsafe-join bug)
    assert(r.getAs[Double]("topk_coverage") === math.rint(2.0 / 3.0 * 1e5) / 1e5)
  }

  test("vocabCensus: all-blank group keeps its census row with zeros") {
    val docs = Seq(("en", "a b"), ("zz", "   "), ("yy", null.asInstanceOf[String]))
      .toDF("lang", "text")
    val out = Quality.vocabCensus(docs, "lang", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    for (g <- Seq("zz", "yy")) {
      assert(out(g).getAs[Long]("total_tokens") === 0L)
      assert(out(g).getAs[Long]("vocab_size") === 0L)
      assert(out(g).isNullAt(out(g).fieldIndex("hapax_ratio")))
      assert(out(g).isNullAt(out(g).fieldIndex("topk_coverage")))
    }
  }

  // ── concurrency ────────────────────────────────────────────────────────

  test("concurrency: hand sweep, end-exclusive, zero-length interval flat") {
    import graft.operators.Windows
    val iv = Seq((1L, 5L), (2L, 4L), (3L, 6L), (7L, 7L)).toDF("s", "e")
    val out = Windows.concurrency(iv, "s", "e")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((1L, 1L)))
    assert(out(2L) === ((1L, 2L)))
    assert(out(3L) === ((1L, 3L)))  // peak
    assert(out(4L) === ((-1L, 2L))) // end-exclusive: [2,4) gone AT 4
    assert(out(5L) === ((-1L, 1L)))
    assert(out(6L) === ((-1L, 0L)))
    assert(out(7L) === ((0L, 0L)))  // zero-length: boundary kept, count flat
  }

  test("concurrency: distributed prefix-sum ≡ single-task window yardstick") {
    import graft.operators.Windows
    val rng = new scala.util.Random(17)
    val iv = Seq.fill(400) {
      val s = rng.nextInt(1000).toLong
      (s, s + 1 + rng.nextInt(50))
    }.toDF("s", "e")
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fast = collectMap(Windows.concurrency(iv, "s", "e"))
    val yard = collectMap(ExactReference.concurrency(iv, "s", "e"))
    assert(fast === yard)
    // a balanced sweep returns to zero at the last boundary
    assert(fast.maxBy(_._1)._2._2 === 0L)
    // NULL-bounded intervals are excluded, not half-counted
    val withNull = iv.unionByName(
      Seq((Option.empty[Long], Some(3L))).toDF("s", "e"))
    assert(collectMap(Windows.concurrency(withNull, "s", "e")) === fast)
  }

  // ── snapshotDiff ───────────────────────────────────────────────────────

  test("snapshotDiff: added/removed/changed with exact changed_cols, NULL-safe") {
    import graft.operators.Cdc
    val oldS = Seq(
      (1L, Some("a"), Some(10.0)),  // unchanged
      (2L, Some("b"), Some(20.0)),  // value changes
      (3L, Some("c"), None),        // NULL -> value = changed
      (4L, Some("d"), Some(40.0))   // removed
    ).toDF("k", "s", "v")
    val newS = Seq(
      (1L, Some("a"), Some(10.0)),
      (2L, Some("b"), Some(21.0)),
      (3L, Some("c"), Some(3.0)),
      (5L, Some("e"), Some(50.0))   // added
    ).toDF("k", "s", "v")
    val out = Cdc.snapshotDiff(oldS, newS, Seq("k"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getSeq[String](2).toList))).toMap
    assert(out === Map(
      2L -> (("changed", List("v"))),
      3L -> (("changed", List("v"))),
      4L -> (("removed", Nil)),
      5L -> (("added", Nil))))
    // unchanged rows appear only on request
    val all = Cdc.snapshotDiff(oldS, newS, Seq("k"), includeUnchanged = true)
    assert(all.filter(col("change") === "unchanged").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("mergeAdditive: merge of disjoint partials ≡ direct full aggregation") {
    import graft.operators.Cdc
    val rng = new scala.util.Random(5)
    val raw = Seq.fill(500)((rng.nextInt(7), rng.nextInt(100) / 4.0))
      .toDF("k", "v")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,4)")).as("s"),
        min("v").as("mn"), max("v").as("mx"))
    val merged = Cdc.mergeAdditive(
      Seq(rollup(raw.filter(col("v") < 12)), rollup(raw.filter(col("v") >= 12))),
      Seq("k"), countCols = Seq("n"), sumCols = Seq("s"),
      minCols = Seq("mn"), maxCols = Seq("mx"))
    val direct = rollup(raw)
    val m = merged.collect().map(r => r.getInt(0) ->
      (r.getLong(1), r.getDecimal(2).doubleValue, r.getDouble(3), r.getDouble(4))).toMap
    val d = direct.collect().map(r => r.getInt(0) ->
      (r.getLong(1), r.getDecimal(2).doubleValue, r.getDouble(3), r.getDouble(4))).toMap
    assert(m === d) // exact, including the decimal sums
  }

  test("mergeAdditive: a key present in one part only passes through") {
    import graft.operators.Cdc
    val a = Seq((1, 2L, 5.0), (2, 1L, 9.0)).toDF("k", "n", "mx")
    val b = Seq((1, 3L, 7.0)).toDF("k", "n", "mx")
    val out = Cdc.mergeAdditive(Seq(a, b), Seq("k"),
        countCols = Seq("n"), maxCols = Seq("mx"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out === Map(1 -> ((5L, 7.0)), 2 -> ((1L, 9.0))))
  }

  test("snapshotDiff: a NULL key is present, not 'added'+'removed'") {
    import graft.operators.Cdc
    val oldS = Seq((Option.empty[Long], "x")).toDF("k", "s")
    val newS = Seq((Option.empty[Long], "y")).toDF("k", "s")
    val out = Cdc.snapshotDiff(oldS, newS, Seq("k")).collect()
    assert(out.length === 1)
    assert(out.head.getString(1) === "changed") // null-safe key match
  }

  // ── rankNormalize ──────────────────────────────────────────────────────

  test("rankNormalize: ties share a rank, NULLs sit outside the window") {
    import graft.operators.Windows
    val df = Seq(
      ("a", 1L, Some(10.0)), ("a", 2L, Some(20.0)), ("a", 3L, Some(20.0)),
      ("a", 4L, Some(30.0)), ("a", 5L, None),
      ("b", 6L, Some(7.0))
    ).toDF("g", "id", "v")
    val out = Windows.rankNormalize(df, Seq("g"), col("v"))
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // group a ranks over the 4 NON-NULL values: 10→0, {20,20}→1/3, 30→1
    assert(out(1L) === Some(0.0))
    assert(out(2L) === Some(math.rint(1e5 / 3.0) / 1e5))
    assert(out(3L) === out(2L)) // tie shares
    assert(out(4L) === Some(1.0))
    assert(out(5L) === None)          // NULL kept, scored NULL
    assert(out(6L) === Some(0.0))     // single-row group
  }

  // ── shardManifest ──────────────────────────────────────────────────────

  test("shardManifest: dense 1..n positions per shard, stable under repartition") {
    val df = (1L to 500L).toDF("id")
    val m = Sampling.shardManifest(df, col("id"), nShards = 8, portable = true)
    val byShard = m.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .collect()
    assert(byShard.map(_.getAs[Long]("n")).sum === 500L)
    byShard.foreach { r =>
      assert(r.getAs[Int]("shard") >= 0 && r.getAs[Int]("shard") < 8)
      assert(r.getAs[Int]("lo") === 1)
      assert(r.getAs[Long]("n") === r.getAs[Int]("hi").toLong) // dense, no gaps
    }
    // pure function of id: physical layout must not change the manifest
    val a = m.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val b = Sampling.shardManifest(df.repartition(13), col("id"), 8, portable = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(a === b)
  }

  // ── weightedExactK ─────────────────────────────────────────────────────

  test("weightedExactK: heavy weights dominate inclusion, light ones still appear") {
    // 2000 ids, weight 9 for evens vs 1 for odds → P(key > t) scales with
    // weight; at k = 500 the even share must sit far above parity but not
    // at 100% (a rank-by-weight, not sample-by-weight, bug would take all
    // evens first)
    val df = (1L to 2000L).map(i => (i, if (i % 2 == 0) 9.0 else 1.0))
      .toDF("id", "w").withColumn("g", lit("all"))
    val kept = Sampling.weightedExactK(df, col("g"), col("id"), col("w"),
      k = 500, portable = true).collect()
    assert(kept.length === 500)
    val evens = kept.count(_.getLong(0) % 2 == 0)
    assert(evens > 350 && evens < 500, s"even share $evens/500")
    // exact-k and dense ranks
    assert(kept.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 500L))
  }

  test("weightedExactK: NULL/zero/negative weights and NULL ids are excluded") {
    val df = Seq(
      (Some(1L), Some(5.0)), (Some(2L), Some(0.0)), (Some(3L), Some(-1.0)),
      (Some(4L), Option.empty[Double]), (Option.empty[Long], Some(5.0)),
      (Some(5L), Some(2.0))
    ).toDF("id", "w").withColumn("g", lit("all"))
    val kept = Sampling.weightedExactK(df, col("g"), col("id"), col("w"),
      k = 10, portable = true).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 5L)) // only the drawable rows
  }

  test("weightedExactK: pure function of (id, weight) — layout-independent") {
    val df = (1L to 300L).map(i => (i, 1.0 + (i % 7))).toDF("id", "w")
      .withColumn("g", pmod(col("id"), lit(3)).cast("string"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedExactK(d, col("g"), col("id"), col("w"), k = 20,
        portable = true).collect()
        .map(r => (r.getString(2), r.getLong(0), r.getAs[Long]("rank")))
        .sortBy(identity)
    assert(run(df).toSeq === run(df.repartition(17)).toSeq)
  }

  test("shardManifest: requireNonNullIds fails loudly on a NULL id") {
    // NULL ids co-locate in the NULL shard with ALL order keys tied —
    // their relative pos is nondeterministic, which a replay-stable
    // manifest must not silently ship
    val df = Seq(Some(1L), Some(2L), None).toDF("id")
    val ok = Sampling.shardManifest(df, col("id"), 4, portable = true)
    assert(ok.count() === 3) // default: NULLs pass through (documented)
    assert(ok.filter(col("id").isNull).head().isNullAt(1)) // NULL shard
    val e = intercept[Throwable] {
      Sampling.shardManifest(df, col("id"), 4, portable = true,
        requireNonNullIds = true).collect()
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("shardManifest"), msgs(e))
  }

  test("shardManifest: order hash is independent of the shard hash") {
    // within a shard, positions ordered by the SECOND hash must not be
    // monotone in id (a correlated hash would feed the tokenizer in
    // near-id order — the bias the shuffle exists to kill)
    val df = (1L to 2000L).toDF("id")
    val m = Sampling.shardManifest(df, col("id"), nShards = 4, portable = true)
      .filter(col("shard") === 0).orderBy("pos")
      .collect().map(_.getLong(0))
    val monotonePairs = m.sliding(2).count { case Array(x, y) => y > x; case _ => false }
    val frac = monotonePairs.toDouble / (m.length - 1)
    assert(frac > 0.35 && frac < 0.65, s"suspiciously ordered: $frac")
  }
}
