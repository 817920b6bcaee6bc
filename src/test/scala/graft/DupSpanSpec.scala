package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Exact duplicated-substring removal ([[Dedup.stripDupSpans]], q154):
  * planted-boilerplate scenarios with hand-computed spans, the
  * interval-merge rules, passthrough edges, and partition invariance.
  */
class DupSpanSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("shared k-gram across two docs is cut from both; unique prose stays") {
    // k=3: "one two three" appears in both docs at different offsets
    val out = Dedup.stripDupSpans(docs(
      1L -> "alpha beta one two three gamma",
      2L -> "one two three delta epsilon zeta"), "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("dup_spans") == 1L)
    assert(out(0).getAs[Long]("dup_tokens") == 3L)
    assert(out(0).getAs[String]("clean_text") == "alpha beta gamma")
    assert(out(1).getAs[String]("clean_text") == "delta epsilon zeta")
    assert(out(1).getAs[Double]("dup_ratio") == 0.5)
  }

  test("overlapping duplicated grams merge into one maximal span") {
    // the shared run is 5 tokens = three overlapping 3-grams -> ONE span
    val out = Dedup.stripDupSpans(docs(
      1L -> "u1 a b c d e v1",
      2L -> "u2 u3 a b c d e"), "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("dup_spans") == 1L)
      assert(r.getAs[Long]("dup_tokens") == 5L)
    }
    assert(out(0).getAs[String]("clean_text") == "u1 v1")
  }

  test("disjoint duplicated regions stay separate spans; adjacent runs merge") {
    // doc 1 shares its head with doc 2 and its tail with doc 3, a unique
    // middle keeps them apart -> 2 spans; doc 4 shares BOTH back-to-back
    // with doc 5 -> contiguous cover merges to 1 span
    val head = "h1 h2 h3"
    val tail = "t1 t2 t3"
    val out = Dedup.stripDupSpans(docs(
      1L -> s"$head mid1 mid2 $tail",
      2L -> s"$head x1 x2 x3 x4",
      3L -> s"y1 y2 y3 y4 $tail",
      4L -> s"$head $tail z1",
      5L -> s"w1 $head $tail"), "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("dup_spans") == 2L)
    assert(out(0).getAs[Long]("dup_tokens") == 6L)
    assert(out(0).getAs[String]("clean_text") == "mid1 mid2")
    assert(out(3).getAs[Long]("dup_spans") == 1L) // head+tail contiguous
    assert(out(3).getAs[Long]("dup_tokens") >= 6L)
    assert(out(3).getAs[String]("clean_text") == "z1")
  }

  test("a gram repeated only WITHIN one doc is not duplicated (>=2 distinct docs rule)") {
    val out = Dedup.stripDupSpans(docs(
      1L -> "r1 r2 r3 mid r1 r2 r3",
      2L -> "other words entirely here now"), "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("dup_spans") == 0L)
      assert(r.getAs[Long]("dup_tokens") == 0L)
    }
    assert(out(0).getAs[String]("clean_text") == "r1 r2 r3 mid r1 r2 r3")
  }

  test("docs shorter than k tokens pass through untouched") {
    val out = Dedup.stripDupSpans(docs(
      1L -> "a b",
      2L -> "a b"), "doc_id", "text", k = 3).orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == 2L)
      assert(r.getAs[Long]("dup_spans") == 0L)
      assert(r.getAs[String]("clean_text") == "a b")
    }
  }

  test("fully-duplicated doc empties: ratio 1.0, clean_text empty string") {
    val out = Dedup.stripDupSpans(docs(
      1L -> "c1 c2 c3 c4",
      2L -> "c1 c2 c3 c4"), "doc_id", "text", k = 4).orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[Double]("dup_ratio") == 1.0)
      assert(r.getAs[String]("clean_text") == "")
    }
  }

  test("winnow guarantee: a shared run of exactly k+w-1 tokens is detected in both docs") {
    // k=4, w=3: guarantee threshold is 6 shared tokens; each doc wraps
    // the run in unique junk so only the run can duplicate
    val run = "s1 s2 s3 s4 s5 s6"
    val out = Dedup.stripDupSpans(docs(
      1L -> s"j1 j2 j3 $run j4 j5",
      2L -> s"j6 j7 $run j8 j9 j10"), "doc_id", "text", k = 4, winnow = 3)
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("dup_tokens") >= 4L, r.toString) // >= one k-gram
      assert(r.getAs[Long]("dup_spans") >= 1L, r.toString)
    }
  }

  test("winnow coverage is conservative: contained in the exact (winnow=1) coverage") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val boiler = (1 to 30).map("b" + _).mkString(" ") // 30-token shared block
    val rows = (0L until 150L).map { i =>
      val uniq = Seq.fill(25)("w" + rnd.nextInt(100000)).mkString(" ")
      (i, if (i % 3 == 0) s"$boiler $uniq" else s"$uniq $boiler")
    }
    val df = rows.toDF("doc_id", "text")
    def byDoc(w: Int): Map[Long, (Long, String)] =
      Dedup.stripDupSpans(df, "doc_id", "text", k = 6, winnow = w)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("dup_tokens"), r.getAs[String]("clean_text")))).toMap
    val exact = byDoc(1)
    val winnowed = byDoc(4)
    assert(winnowed.keySet == exact.keySet)
    winnowed.foreach { case (id, (dt, clean)) =>
      val (dtExact, cleanExact) = exact(id)
      assert(dt <= dtExact, s"doc $id: winnow covered MORE than exact")
      // every token the winnowed run kept cut must also be cut by exact:
      // exact's clean text is a subsequence of winnowed's clean text
      val wToks = clean.split(" ").filter(_.nonEmpty)
      val eToks = cleanExact.split(" ").filter(_.nonEmpty).toSet
      // 30-token boilerplate >> k+w-1 = 9: detection must not be missed
      assert(dt >= 6L, s"doc $id: winnow missed the 30-token boilerplate")
      assert(eToks.subsetOf(wToks.toSet) || eToks.isEmpty,
        s"doc $id: exact kept a token winnow cut")
    }
  }

  test("dupGramIndex + stripKnownSpans: increments gate against the standing index") {
    val footer = "all rights reserved contact support team"
    val history = docs((1L to 10L).map(i =>
      i -> s"h$i a$i b$i $footer"): _*)
    val index = Dedup.dupGramIndex(history, "doc_id", "text", k = 3)
    assert(index.columns.toSeq == Seq("gram"))
    val inc = docs(
      101L -> s"x1 x2 $footer y1",
      102L -> "n1 n2 incA incB incC n3",
      103L -> "m1 m2 incA incB incC m3")
    val out = Dedup.stripKnownSpans(inc, "doc_id", "text", index, k = 3)
      .orderBy("doc_id").collect()
    // history-known footer is cut from the increment doc that carries it
    assert(out(0).getAs[String]("clean_text") == "x1 x2 y1")
    assert(out(0).getAs[Long]("dup_spans") == 1L)
    // increment-only duplication is INVISIBLE to the standing index by
    // contract (fold the increment's own index in to catch it)
    assert(out(1).getAs[Long]("dup_tokens") == 0L)
    assert(out(2).getAs[Long]("dup_tokens") == 0L)
    val updated = index
      .union(Dedup.dupGramIndex(inc, "doc_id", "text", k = 3)).distinct()
    val out2 = Dedup.stripKnownSpans(inc, "doc_id", "text", updated, k = 3)
      .orderBy("doc_id").collect()
    assert(out2(1).getAs[String]("clean_text") == "n1 n2 n3")
    assert(out2(2).getAs[String]("clean_text") == "m1 m2 m3")
  }

  test("stripKnownSpans agrees with stripDupSpans on history-known grams; empty index is a passthrough") {
    val boiler = "the quick brown fox jumps over the lazy dog"
    val history = docs((1L to 6L).map(i => i -> s"u$i v$i $boiler w$i"): _*)
    val inc = docs(201L -> s"p1 $boiler p2 p3", 202L -> "q1 q2 q3 q4 q5")
    val index = Dedup.dupGramIndex(history, "doc_id", "text", k = 4)
    val viaIndex = Dedup.stripKnownSpans(inc, "doc_id", "text", index, k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    // the combined-batch answer for docs whose only duplication is the
    // history boilerplate must match the incremental gate's answer
    val combined = Dedup.stripDupSpans(
        history.union(inc), "doc_id", "text", k = 4)
      .filter(col("doc_id") >= 200L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(viaIndex == combined)
    assert(viaIndex(202L) == "q1 q2 q3 q4 q5")
    // empty index: nothing known, increment passes through untouched
    val empty = index.filter(lit(false))
    val out = Dedup.stripKnownSpans(inc, "doc_id", "text", empty, k = 4)
      .orderBy("doc_id").collect()
    assert(out.forall(_.getAs[Long]("dup_tokens") == 0L))
  }

  test("a winnowed index still gates increments (probe is always winnow=1)") {
    // footer is 9 tokens >= k+w-1 = 3+2-1... use k=3, index winnow=3:
    // guarantee threshold k+w-1 = 5 <= 9, so the winnowed index holds at
    // least one footer gram; the increment probes every offset
    val footer = "all rights reserved contact support team extra words here"
    val history = docs((1L to 8L).map(i => i -> s"h$i a$i $footer"): _*)
    val index = Dedup.dupGramIndex(history, "doc_id", "text", k = 3, winnow = 3)
    val inc = docs(301L -> s"z1 z2 z3 $footer z4")
    val out = Dedup.stripKnownSpans(inc, "doc_id", "text", index, k = 3)
      .collect()(0)
    assert(out.getAs[Long]("dup_tokens") >= 3L) // at least one known gram cut
    assert(out.getAs[String]("clean_text").startsWith("z1 z2 z3"))
  }

  test("collapseExact twin equals the per-instance form on a dup-heavy corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val boiler = "shared promo sentence with enough tokens to form grams"
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    (0 until 60).foreach { g =>
      val uniq = Seq.fill(10)("w" + rnd.nextInt(100000)).mkString(" ")
      val text = g % 4 match {
        case 0 => s"$boiler $uniq"
        case 1 => s"$uniq $boiler"
        case 2 => uniq            // unique, no boiler
        case _ => "tiny doc"      // shorter than k, replicated
      }
      val copies = 1 + (g % 5)    // multiplicities 1..5
      (0 until copies).foreach { _ => rows += ((id, text)); id += 1 }
    }
    val df = rows.toSeq.toDF("doc_id", "text")
    for (w <- Seq(1, 3)) {
      val plain = Dedup.stripDupSpans(df, "doc_id", "text", k = 4, winnow = w)
        .collect().map(_.toString).sorted
      val collapsed = Dedup.stripDupSpans(df, "doc_id", "text", k = 4,
        winnow = w, collapseExact = true)
        .collect().map(_.toString).sorted
      assert(plain.sameElements(collapsed), s"winnow=$w")
      assert(plain.length == rows.length)
    }
  }

  test("NULL-text rows pass through both forms with null stats, not dropped") {
    val boiler = "common promo line shared by several docs here"
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, s"$boiler alpha beta"),
        org.apache.spark.sql.Row(2L, s"$boiler gamma delta"),
        org.apache.spark.sql.Row(3L, null),
        org.apache.spark.sql.Row(4L, null),
        org.apache.spark.sql.Row(5L, "a unique doc with no shared text at all")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    for (collapse <- Seq(false, true)) {
      val out = Dedup.stripDupSpans(df, "doc_id", "text", k = 3,
        collapseExact = collapse)
      assert(out.count() == 5L, s"collapse=$collapse lost rows")
      val nullRows = out.where(org.apache.spark.sql.functions.col("doc_id")
        .isin(3L, 4L)).collect()
      assert(nullRows.length == 2, s"collapse=$collapse dropped null-text rows")
      nullRows.foreach { r =>
        assert(r.isNullAt(r.fieldIndex("clean_text")))
        assert(r.isNullAt(r.fieldIndex("dup_ratio")))
      }
    }
    // the two forms remain row-identical with nulls present
    val a = Dedup.stripDupSpans(df, "doc_id", "text", k = 3)
      .collect().map(_.toString).sorted
    val b = Dedup.stripDupSpans(df, "doc_id", "text", k = 3,
      collapseExact = true).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("land = true severs lineage: downstream plan sees a leaf, same rows") {
    import spark.implicits._
    val boiler = "footer text repeated across documents for span tests"
    val df = (1L to 6L).map(i => (i, s"u$i v$i $boiler")).toDF("doc_id", "text")
    val unlanded = Dedup.stripDupSpans(df, "doc_id", "text", k = 3)
    val landed = Dedup.stripDupSpans(df, "doc_id", "text", k = 3, land = true)
    assert(landed.queryExecution.optimizedPlan.collectLeaves().size == 1)
    // the landed plan must NOT still contain the occurrence/confirm join tree
    assert(landed.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty)
    assert(unlanded.collect().map(_.toString).sorted
      .sameElements(landed.collect().map(_.toString).sorted))
  }

  test("r21 kernels == combinator formulations (rolling gram hash, span cut; fuzz)") {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(20260819L)
    val words = Seq("a", "bb", "ccc", "dd", "e", "😀", "ff", "g", "hh", "i")
    val texts = (1 to 200).map { _ =>
      Seq.fill(rnd.nextInt(30))(words(rnd.nextInt(words.length))).mkString(" ")
    } ++ Seq("", "   ", "a b c")
    val k = 1 + rnd.nextInt(4)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), split(trim(col("t")), " ").as("__toks"))
    // rolling gram hashes: kernel vs the transform/aggregate/slice chain
    val th = transform(col("__toks"), t => xxhash64(t))
    val n = size(col("__toks"))
    val starts = when(n >= k, sequence(lit(0), n - k))
      .otherwise(array().cast("array<int>"))
    val fold = (hs: org.apache.spark.sql.Column) =>
      aggregate(hs, lit(-7046029254386353131L),
        (acc, h) => (shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)))
          .bitwiseXOR(h))
    val oldArr = transform(starts, i => fold(slice(th, i + lit(1), lit(k))))
    val cmp = df.select(col("id"), oldArr.as("o"),
      call_function("graft_gram_hashes_rolling", col("__toks"), lit(k)).as("kk"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"gram hashes, id ${r.getLong(0)}")
    }
    // span cut: kernel vs the fold + filter/exists combinators, random
    // sorted distinct starts
    val withStarts = df.withColumn("__starts",
      array_distinct(sort_array(when(n >= k,
        filter(sequence(lit(0), n - k), s => pmod(xxhash64(s), lit(3)) === 0))
        .otherwise(array().cast("array<int>")))))
    val e = lit(k - 1)
    val stOld = aggregate(col("__starts"),
      struct(lit(0L).as("spans"), lit(0L).as("toks"), lit(-2L).as("pe")),
      (acc, s0) => {
        val s = s0.cast("long")
        val end = s + e
        struct(
          (acc.getField("spans") +
            when(s > acc.getField("pe") + 1, 1L).otherwise(0L)).as("spans"),
          (acc.getField("toks") +
            greatest(end - greatest(acc.getField("pe"), s - 1), lit(0L))).as("toks"),
          greatest(acc.getField("pe"), end).as("pe"))
      })
    val cleanOld = array_join(
      filter(col("__toks"), (t, i) =>
        !exists(col("__starts"), s => s <= i && i < s + lit(k))), " ")
    val out = withStarts
      .withColumn("__k", call_function("graft_span_cut",
        col("__toks"), col("__starts"), lit(k)))
      .select(col("id"), stOld.getField("spans").as("os"),
        stOld.getField("toks").as("ot"), cleanOld.as("oc"),
        col("__k.spans").as("ks"), col("__k.toks").as("kt"),
        col("__k.clean").as("kc"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(4), s"spans, id ${r.getLong(0)}")
      assert(r.getLong(2) === r.getLong(5), s"toks, id ${r.getLong(0)}")
      assert(r.getString(3) === r.getString(6), s"clean, id ${r.getLong(0)}")
    }
  }

  test("partition-invariant: repartitioned input gives identical rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val boiler = "the quick brown fox jumps over the lazy dog again"
    val rows = (0L until 200L).map { i =>
      val uniq = Seq.fill(12)("w" + rnd.nextInt(50000)).mkString(" ")
      (i, if (i % 2 == 0) s"$boiler $uniq" else s"$uniq $boiler")
    }
    val df = rows.toDF("doc_id", "text")
    val a = Dedup.stripDupSpans(df.repartition(1), "doc_id", "text", k = 5)
      .collect().map(_.toString).sorted
    val b = Dedup.stripDupSpans(df.repartition(17), "doc_id", "text", k = 5)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(a.length == 200)
  }
}
