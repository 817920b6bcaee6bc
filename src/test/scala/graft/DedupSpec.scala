package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("graft_top_k_by agrees with a row_number window top-k") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(5)
    val df = (1 to 2000).map(i => (rnd.nextInt(10).toLong, i.toLong, rnd.nextInt(500).toDouble))
      .toDF("g", "id", "score")
    val ours = df.groupBy("g")
      .agg(call_function("graft_top_k_by",
        struct(col("id"), col("score")), col("score"), col("id"), lit(7)).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rank"), col("col.id"), col("col.score"))
      .collect().map(_.toString).sorted
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
    val ref = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 7)
      .select(col("g"), col("rank").cast("long"), col("id"), col("score"))
      .collect().map(_.toString).sorted
    assert(ours.sameElements(ref))
  }

  test("graft_top_k_by supports non-numeric tie columns (string ids)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val df = Seq(("g", "docB", 2.0), ("g", "docA", 2.0), ("g", "docC", 5.0), ("g", "docD", 1.0))
      .toDF("g", "id", "score")
    val top = df.groupBy("g")
      .agg(call_function("graft_top_k_by",
        struct(col("id"), col("score")), col("score"), col("id"), lit(3)).as("top"))
      .select(posexplode(col("top"))).select("col.id").as[String].collect().toSeq
    // score desc, tie by id asc: docC(5), then docA before docB at 2.0
    assert(top == Seq("docC", "docA", "docB"))
  }

  test("graft_max_by agrees with builtin max_by on struct payloads") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(3)
    val df = (1 to 500).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong,
      rnd.nextInt(100).toDouble, rnd.nextString(4))).toDF("k", "ord", "v1", "v2")
    val payload = struct(col("k"), col("ord"), col("v1"), col("v2"))
    val ours = df.groupBy("k")
      .agg(call_function("graft_max_by", payload, struct(col("ord"), col("v1"))).as("r"))
      .select("r.*").collect().map(_.toString).sorted
    val builtin = df.groupBy("k")
      .agg(max_by(payload, struct(col("ord"), col("v1"))).as("r"))
      .select("r.*").collect().map(_.toString).sorted
    assert(ours.sameElements(builtin))
    val oursMin = df.groupBy("k")
      .agg(call_function("graft_min_by", payload, struct(col("ord"), col("v1"))).as("r"))
      .select("r.*").collect().map(_.toString).sorted
    val builtinMin = df.groupBy("k")
      .agg(min_by(payload, struct(col("ord"), col("v1"))).as("r"))
      .select("r.*").collect().map(_.toString).sorted
    assert(oursMin.sameElements(builtinMin))
    // why graft_max_by exists: the builtin's struct-field buffer cannot
    // hash-aggregate, so it plans a SortAggregate. When a Spark upgrade
    // fails this assert, the builtin hash-aggregates and HashExtremumBy
    // can be deleted in its favor.
    def plan(agg: org.apache.spark.sql.Column): String = df.groupBy("k").agg(agg.as("r"))
      .queryExecution.executedPlan.toString
    assert(plan(max_by(payload, struct(col("ord"), col("v1")))).contains("SortAggregate"))
    val oursPlan = plan(call_function("graft_max_by", payload, struct(col("ord"), col("v1"))))
    assert(oursPlan.contains("ObjectHashAggregate") && !oursPlan.contains("SortAggregate"),
      oursPlan)
  }
  import spark.implicits._

  test("keepLatest keeps the greatest orderKey per key, ties by tieBreak") {
    val df = Seq(
      (1L, 10L, "old", 100L),
      (1L, 20L, "new", 101L),
      (2L, 5L, "only", 102L),
      (3L, 7L, "tie-lo", 103L),
      (3L, 7L, "tie-hi", 104L)
    ).toDF("uid", "ts", "payload", "id")
    val out = Dedup.keepLatest(df, Seq("uid"), col("ts"), col("id"))
      .orderBy("uid").as[(Long, Long, String, Long)].collect()
    assert(out === Array((1L, 20L, "new", 101L), (2L, 5L, "only", 102L), (3L, 7L, "tie-hi", 104L)))
  }

  test("exactByHash counts duplicates with null-safe column encoding") {
    val df = Seq(
      (1L, Some("a"), Some("b")),
      (2L, Some("a"), Some("b")), // dup of 1
      (3L, Some("a b"), None),    // must NOT collide with ("a","b")
      (4L, None, Some("a b"))     // nor with ("a b", null)
    ).toDF("id", "x", "y")
    val out = Dedup.exactByHash(df, Seq("x", "y"), "id")
      .orderBy("id").as[(Long, Long)].collect()
    assert(out === Array((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("dedupExactRows returns full surviving rows, first occurrence wins") {
    val df = Seq(
      (1L, "dup", 1.5), (2L, "dup", 2.5), (3L, "uniq", 3.5)
    ).toDF("id", "text", "extra")
    val out = Dedup.dedupExactRows(df, Seq("text"), "id")
      .orderBy("id").as[(Long, String, Double)].collect()
    assert(out === Array((1L, "dup", 1.5), (3L, "uniq", 3.5)))
  }

  test("dedupParagraphs: global keep-first, ordered reassembly, full-dup doc -> empty") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha\n\nbeta\n\ngamma"), // first occurrences all kept
      (2L, "beta\n\ndelta"),          // beta seen in doc 1 -> dropped
      (3L, "alpha\n\nbeta"),          // every paragraph seen -> empty doc
      (4L, "eps\n\neps")              // self-repeat: only idx 0 survives
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out === Array(
      (1L, 3L, 3L, "alpha\n\nbeta\n\ngamma"),
      (2L, 2L, 1L, "delta"),
      (3L, 2L, 0L, ""),
      (4L, 2L, 1L, "eps")))
    // NULL text = empty text: the doc survives as one empty paragraph
    // (posexplode of split(NULL) emits ZERO rows and would vanish it)
    val withNull = Seq((7L, Option("alpha")), (8L, None: Option[String]))
      .toDF("doc_id", "text")
    val nulled = Dedup.dedupParagraphs(withNull, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(nulled === Array((7L, 1L, 1L, "alpha"), (8L, 1L, 1L, "")))
    // reserved working names are rejected loudly, not silently shadowed
    val bad = df.withColumn("__idx", lit(1))
    intercept[IllegalArgumentException] {
      Dedup.dedupParagraphs(bad, "doc_id", "text")
    }
  }

  test("connectedComponents: chain, clique, and disjoint pair resolve to min labels") {
    // chain 1-2-3-4 (diameter 3 → needs >1 propagation round),
    // clique {10,11,12}, lone pair {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: a long chain still converges (label shortcuts compound)") {
    // path 0-1-2-...-12: diameter 12, the 15-round cap must suffice and the
    // whole component must collapse to label 0
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(out.length === 13 && out.forall(_._2 === 0L))
  }

  test("keepFirst: a NULL orderKey row loses to every real row (nulls-last)") {
    val df = Seq(
      (1L, "u1", null.asInstanceOf[java.sql.Timestamp]), // garbage ingest ts
      (2L, "u1", java.sql.Timestamp.valueOf("2026-01-02 00:00:00")),
      (3L, "u1", java.sql.Timestamp.valueOf("2026-01-03 00:00:00"))
    ).toDF("id", "uid", "ts")
    val kept = Dedup.keepFirst(df, Seq(col("uid")), col("ts"), col("id"))
      .select("id").as[Long].head()
    assert(kept === 2L) // NOT the null-ts row (struct ordering is nulls-first)
    // an all-null group still yields a row
    val allNull = Seq((9L, "u2", null.asInstanceOf[java.sql.Timestamp]))
      .toDF("id", "uid", "ts")
    assert(Dedup.keepFirst(allNull, Seq(col("uid")), col("ts"), col("id")).count() === 1)
  }

  test("labelPropagation: non-convergence returns None, never split components") {
    // a 10-node path needs 9 rounds; maxIter 3 must report non-convergence,
    // not silently hand back a partially-merged labeling
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(Dedup.labelPropagation(pairs, "id_a", "id_b", maxIter = 3).isEmpty)
    assert(Dedup.labelPropagation(pairs, "id_a", "id_b", maxIter = 15).isDefined)
  }

  test("connectedComponents auto: long-chain graph falls back to star-contraction and converges") {
    // a 30-node path: label propagation needs 29 rounds, past its 15-round
    // cap, so the auto fallback runs and must produce the exact labeling
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(Dedup.labelPropagation(pairs, "id_a", "id_b", maxIter = 15).isEmpty)
    val out = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(out.length === 30 && out.forall(_._2 === 0L))
  }

  test("connectedComponentsStar: chain converges in O(log² n) rounds (in-bound maxIter)") {
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // 12 rounds ≈ (log₂ 1000)² / 8 headroom — far below the 999 rounds
    // min-propagation would need; a blown bound throws rather than lies
    val out = Dedup.connectedComponentsStar(pairs, maxIter = 12)
      .as[(Long, Long)].collect()
    assert(out.length === 1000 && out.forall(_._2 === 0L))
  }

  test("connectedComponentsStar: exceeding maxIter throws, never split components") {
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsStar(pairs, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponentsStar equals label propagation on random graphs (property)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 30 + trial * 10
      val edges = (0 until n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val pairs = edges.toDF("id_a", "id_b")
        val star = Dedup.connectedComponentsStar(pairs)
          .as[(Long, Long)].collect().toMap
        val label = Dedup.labelPropagation(pairs, "id_a", "id_b", maxIter = 50)
          .getOrElse(fail(s"trial $trial: label propagation did not converge"))
          .as[(Long, Long)].collect().toMap
        assert(star === label, s"trial $trial: star/label disagree")
      }
    }
  }

  test("keepBestPerComponent keeps the highest score per group, ties to smallest id") {
    val docs = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.9), // cluster {1,2,3}: 2 and 3 tie at 0.9 → 2
      (5L, 0.1), (6L, 0.8),            // cluster {5,6}: 6 wins
      (7L, 0.0)                        // singleton: survives despite score 0
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.keepBestPerComponent(docs, "doc_id", pairs, col("quality"))
      .select("comp", "doc_id").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (5L, 6L), (7L, 7L)))
  }

  test("keepBestPerComponent: null scores never win; null-id rows all pass through") {
    val docs = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Double.valueOf(0.2)),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[java.lang.Double]), // failed score
      (null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(0.5)),
      (null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(0.6))
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.keepBestPerComponent(docs, "doc_id", pairs, col("quality"))
      .select("doc_id", "quality").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
    // cluster {1,2}: the real score wins over null; BOTH null-id rows survive
    assert(out.count(_._1 == 1L) === 1 && out.count(_._1 == -1L) === 2)
    assert(!out.exists(_._1 == 2L))
  }

  test("bloomGate flags true membership exactly, null text counts as new") {
    import spark.implicits._
    val hist = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val inc = Seq((10L, "alpha"), (11L, "delta"), (12L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.bloomGate(inc, hist, "text", expectedItems = 100)
      .select("doc_id", "is_new").as[(Long, Boolean)].collect().toMap
    assert(out === Map(10L -> false, 11L -> true, 12L -> true))
  }

  test("bloomGate stays exact under heavy bloom false positives") {
    import spark.implicits._
    // a 1-slot-ish filter over 200 history docs: nearly everything probes
    // "maybe" — the confirming join must still separate real dups exactly
    val hist = (0 until 200).map(i => (i.toLong, s"hist_$i")).toDF("doc_id", "text")
    val inc = ((0 until 50).map(i => (1000L + i, s"hist_$i")) ++ // true dups
      (0 until 50).map(i => (2000L + i, s"new_$i"))).toDF("doc_id", "text")
    val out = Dedup.bloomGate(inc, hist, "text",
        expectedItems = 2, fpp = 0.5) // deliberately undersized
      .select("doc_id", "is_new").as[(Long, Boolean)].collect()
    assert(out.count(!_._2) === 50 && out.count(_._2) === 50)
    assert(out.filter(!_._2).map(_._1).forall(_ < 2000L))
  }

  test("bloomGate broadcastConfirm=false: same answer, nothing broadcast") {
    import spark.implicits._
    // the escape hatch for increments that are mostly dups of a huge
    // history: the maybe-set ≈ the whole increment, so NEITHER maybe-set
    // join may driver-collect/broadcast it — both must shuffle
    Sessions.withConfIsolated(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"
    ) { s =>
      import s.implicits._
      val h = (0 until 200).map(i => (i.toLong, s"hist_$i")).toDF("doc_id", "text")
      val i2 = ((0 until 50).map(i => (1000L + i, s"hist_$i")) ++
        (0 until 50).map(i => (2000L + i, s"new_$i"))).toDF("doc_id", "text")
      val out = Dedup.bloomGate(i2, h, "text", expectedItems = 100,
        broadcastConfirm = false)
      val got = out.select("doc_id", "is_new").collect()
        .map(r => (r.getLong(0), r.getBoolean(1)))
      assert(got.count(!_._2) === 50 && got.count(_._2) === 50)
      assert(got.filter(!_._2).map(_._1).forall(_ < 2000L))
      out.collect() // finalize AQE
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"), p.take(2000))
    }
  }

  test("bloomGate and bloomGateWith broadcast the confirm joins into the history scan") {
    // the gate's scale contract: history rows never reshuffle. With
    // auto-broadcast off only the gate's own hints can broadcast, so the
    // plan must join by broadcast, never sort-merge, and its only hash
    // exchanges are the two (dup-sized) maybe/confirm key sets
    val dir = java.nio.file.Files.createTempDirectory("bloom_gate_plan").toString
    Sessions.withConfIsolated(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"
    ) { s =>
      import s.implicits._
      (0 until 200).map(i => (i.toLong, s"hist_$i")).toDF("doc_id", "text")
        .write.parquet(s"$dir/history")
      val h = s.read.parquet(s"$dir/history")
      val inc = ((0 until 20).map(i => (1000L + i, s"hist_$i")) ++
        (0 until 80).map(i => (2000L + i, s"new_$i"))).toDF("doc_id", "text")
      val bloom = Dedup.historyBloom(h, "text", expectedItems = 1000L)
      for (gated <- Seq(Dedup.bloomGate(inc, h, "text", expectedItems = 1000L),
                        Dedup.bloomGateWith(inc, h, bloom, "text"))) {
        assert(gated.collect().count(r => !r.getAs[Boolean]("is_new")) === 20)
        val p = gated.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head // AQE echoes the pre-run plan below
        assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p.take(3000))
        assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(3000))
      }
    }
  }

  test("bloomGate refuses colliding working columns and bad params") {
    import spark.implicits._
    val df = Seq((1L, "a", true)).toDF("doc_id", "text", "is_new")
    intercept[IllegalArgumentException] {
      Dedup.bloomGate(df, df.drop("is_new"), "text", expectedItems = 10)
    }
    intercept[IllegalArgumentException] {
      Dedup.bloomGate(df.drop("is_new"), df, "text", expectedItems = 0)
    }
  }

  test("persistent filter: gateWith exact across increments, extra filter entries harmless") {
    import spark.implicits._
    val exp = 1000L
    val hist1 = (0 until 100).map(i => (i.toLong, s"h$i")).toDF("doc_id", "text")
    val standing0 = Dedup.historyBloom(hist1, "text", exp)
    // increment 1: 30 dups of hist1 + 70 new; gate against the standing filter
    val inc1 = ((0 until 30).map(i => (1000L + i, s"h$i")) ++
      (0 until 70).map(i => (2000L + i, s"n$i"))).toDF("doc_id", "text")
    val g1 = Dedup.bloomGateWith(inc1, hist1, standing0, "text")
      .select("doc_id", "is_new").as[(Long, Boolean)].collect()
    assert(g1.count(!_._2) === 30 && g1.count(_._2) === 70)
    // admit the new docs; increment 2 carries dups of BOTH generations +
    // fresh docs
    val admitted1 = inc1.filter(col("doc_id") >= 2000L)
    val hist2 = hist1.unionByName(admitted1)
    val inc2 = (Seq((3000L, "h5"), (3001L, "n5"), (3002L, "n69")) ++
      (0 until 40).map(i => (4000L + i, s"x$i"))).toDF("doc_id", "text")
    // a filter that COVERS the history plus extra entries (here: every
    // fresh doc of increment 2, each a guaranteed false positive) must
    // still gate exactly — the confirm join resolves every maybe
    val covering = Dedup.historyBloom(hist2.unionByName(inc2), "text", exp)
    val viaCovering = Dedup.bloomGateWith(inc2, hist2, covering, "text")
      .select("doc_id", "is_new").as[(Long, Boolean)].collect().toMap
    val viaRebuild = Dedup.bloomGate(inc2, hist2, "text", expectedItems = exp)
      .select("doc_id", "is_new").as[(Long, Boolean)].collect().toMap
    assert(viaCovering === viaRebuild)
    assert(viaCovering(3000L) === false && viaCovering(3001L) === false &&
      viaCovering(3002L) === false && viaCovering(4000L) === true)
    assert(viaCovering.count(_._2) === 40)
  }

  test("attritionReport: exact vs near-dup losses attribute to the dropped instance's source") {
    import spark.implicits._
    val t1 = "unique first text with no overlap at all here"
    val t2 = "a b c d e f g h i j k l"          // 6 7-gram shingles
    val t2b = t2 + " m"                          // near-dup: jaccard 6/7
    val docs = Seq(
      (1L, Some("A"), t1),   // exact-rep (min id)
      (2L, Some("A"), t1),   // exact dup of 1 → A loses it in stage 1
      (3L, Some("A"), t2),   // near-dup of 5, SHORTER → loses stage 2
      (4L, Some("B"), "completely different content sits here unshared"),
      (5L, Some("B"), t2b),  // longer → higher score → wins the component
      (6L, None, "null source doc stands alone entirely unshared tokens")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.attritionReport(docs, "doc_id", "text", "source",
        length(col("text")).cast("double"))
      .collect().map(r => (if (r.isNullAt(0)) "∅" else r.getString(0)) -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_in") === 3L)
    assert(a.getAs[Long]("n_exact_dropped") === 1L)   // doc 2
    assert(a.getAs[Long]("n_neardup_dropped") === 1L) // doc 3 lost to 5
    assert(a.getAs[Long]("n_kept") === 1L)            // doc 1
    assert(a.getAs[Double]("retention") === 0.33333)
    val b = out("B")
    assert(b.getAs[Long]("n_exact_dropped") === 0L)
    assert(b.getAs[Long]("n_neardup_dropped") === 0L)
    assert(b.getAs[Long]("n_kept") === 2L)
    assert(b.getAs[Double]("retention") === 1.0)
    val n = out("∅") // NULL source is a group like any other
    assert(n.getAs[Long]("n_in") === 1L && n.getAs[Long]("n_kept") === 1L)
  }
}
