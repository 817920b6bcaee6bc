package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val stop = Seq("the", "a", "of")

  test("tokenCountWs: empty and blank → 0; multiple spaces collapse") {
    val out = Seq("", "   ", "one", "one  two   three").toDF("text")
      .select(TextAnalysis.tokenCountWs(col("text"))).as[Int].collect()
    assert(out === Array(0, 0, 1, 3))
  }

  test("tokenCountBpe: 4 word chars per token plus punctuation") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val out = Seq(("abcd", 1L), ("abcde", 2L), ("ab, cd!", 3L), ("", 0L)).toDF("text", "want")
      .select(TextAnalysis.bpeishFromProfile(TextAnalysis.tokenProfile(col("text"))).as("got"),
        col("want"))
      .as[(Long, Long)].collect()
    out.foreach { case (got, want) => assert(got === want) }
  }

  test("ratios stay in [0,1] and quality is bounded") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val docs = Seq("", "the the the", "!!!!", "normal text of the day", "x" * 1000).toDF("text")
    val out = docs.select(
      TextAnalysis.punctRatio(col("text")).as("p"),
      TextAnalysis.stopwordRatioFast(col("text"), stop).as("s"),
      TextAnalysis.qualityScoreFast(col("text"), stop).as("q")
    ).as[(Double, Double, Double)].collect()
    out.foreach { case (p, s, q) =>
      assert(p >= 0 && p <= 1); assert(s >= 0 && s <= 1); assert(q >= 0 && q <= 1)
    }
  }

  test("langId picks the marker-heavy language, 'und' when no markers") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val markers = Map("en" -> Seq("the"), "es" -> Seq("el"))
    val out = Seq("the cat the dog", "el gato", "zzz yyy").toDF("text")
      .select(TextAnalysis.langIdFast(col("text"), markers)).as[String].collect()
    assert(out === Array("en", "es", "und"))
  }

  test("fingerprint canonicalizes case and whitespace") {
    val out = Seq("Hello   World", "hello world", "hello  worlds").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(out(0) === out(1))
    assert(out(0) !== out(2))
  }

  test("cleanForTraining strips markup and redacts emails/phones") {
    val out = Seq(
      "<p>hello <b>world</b></p> mail a.b+c@test.org now",
      "call +263 771 234 567 or (555) 123-4567 today",
      "no pii here at all").toDF("t")
      .select(TextAnalysis.cleanForTraining(col("t"))).as[String].collect()
    assert(out(0) === "hello world mail <EMAIL> now")
    assert(out(1) === "call <PHONE> or <PHONE> today")
    assert(out(2) === "no pii here at all")
  }

  test("redactIps: octet validation and word boundaries") {
    val out = Seq(
      "from 192.168.0.1 and 8.8.8.8 done",
      "not an ip 300.1.2.3 nor 1.2.3.4567",
      "quad at end 255.255.255.255").toDF("t")
      .select(TextAnalysis.redactIps(col("t"))).as[String].collect()
    assert(out(0) === "from <IP> and <IP> done")
    assert(out(1) === "not an ip 300.1.2.3 nor 1.2.3.4567")
    assert(out(2) === "quad at end <IP>")
  }

  test("luhnValid: checksum arithmetic and the length envelope") {
    val out = Seq(
      "4111111111111111", // classic valid 16
      "4111111111111112", // bad check digit
      "79927398713",      // valid checksum but 11 digits — outside envelope
      "4222222222222"     // valid 13
    ).toDF("d").select(TextAnalysis.luhnValid(col("d"))).as[Boolean].collect()
    assert(out.toSeq === Seq(true, false, false, true))
  }

  test("redactCards: Luhn-valid runs only; invalid falls through to phones") {
    val out = Seq(
      "pay 4111 1111 1111 1111 now",
      "ref 4111 1111 1111 1112 now", // fails Luhn — not a card
      "code 12345 stays").toDF("t")
      .select(TextAnalysis.redactCards(col("t"))).as[String].collect()
    assert(out(0) === "pay <CARD> now")
    assert(out(1) === "ref 4111 1111 1111 1112 now")
    assert(out(2) === "code 12345 stays")
  }

  test("cleanForTrainingFull: stage order — email, card, ip, then phone") {
    val out = Seq(
      "<b>x</b> 1234567890123@host.com then 4111-1111-1111-1111 " +
        "at 10.0.0.1 call 555 123 4567").toDF("t")
      .select(TextAnalysis.cleanForTrainingFull(col("t"))).as[String].collect()
    // the 13-digit email local part must be eaten by <EMAIL>, never <CARD>
    assert(out(0) === "x <EMAIL> then <CARD> at <IP> call <PHONE>")
    // parity: the legacy stack is unchanged by the new stages
    val legacy = Seq("mail a@b.co call 555 123 4567").toDF("t")
      .select(TextAnalysis.cleanForTraining(col("t"))).as[String].collect()
    assert(legacy(0) === "mail <EMAIL> call <PHONE>")
  }

  test("tokenBudgetPerStratum: per-stratum cut keeps the budget-crossing doc") {
    val docs = Seq(
      (1L, "en", 40L), (2L, "en", 50L), (3L, "en", 30L), // cum 40,90,120
      (4L, "de", 80L), (5L, "de", 10L)                   // cum 80,90
    ).toDF("doc_id", "lang", "n_tok")
    val kept = graft.operators.Sampling.tokenBudgetPerStratum(
        docs, col("lang"), Seq(col("doc_id")), col("n_tok"), budget = 85L)
      .select("doc_id").as[Long].collect().toSet
    // en: doc2 crosses 85 (started at 40 < 85) → kept; doc3 starts at 90 → cut
    // de: doc5 starts at 80 < 85 → kept
    assert(kept === Set(1L, 2L, 4L, 5L))
  }

  test("packSequences assigns chunk id and offset of each doc's first token") {
    val docs = Seq(
      (1L, "en", 40L), (2L, "en", 50L), (3L, "en", 30L), // starts 0, 40, 90
      (4L, "de", 80L)                                    // starts 0
    ).toDF("doc_id", "lang", "n_tok")
    val out = graft.operators.Sampling.packSequences(
        docs, col("lang"), Seq(col("doc_id")), col("n_tok"), seqLen = 64L)
      .select("doc_id", "seq_id", "seq_offset").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // en: doc1 @0 → (0,0); doc2 @40 → (0,40); doc3 @90 → (1,26)
    assert(out === Array((1L, 0L, 0L), (2L, 0L, 40L), (3L, 1L, 26L), (4L, 0L, 0L)))
  }

  test("numericProfile: one row per column, exact stats") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (2.0, null), (3.0, 30.0), (4.0, null))
      .toDF("a", "b")
    val out = graft.operators.Summaries.numericProfile(df, Seq("a", "b"), exact = true)
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toList
    assert(out(0) === (("a", 4L, 0L, 1.0, 4.0, 2.5, 2.5)))
    assert(out(1) === (("b", 2L, 2L, 10.0, 30.0, 20.0, 20.0)))
  }

  test("numericProfile survives non-bare-identifier column names") {
    val df = Seq((1.0, 2.0)).toDF("price-usd", "it's")
    val out = graft.operators.Summaries.numericProfile(
        df, Seq("price-usd", "it's"), exact = true)
      .select("column_name", "mean").as[(String, Double)].collect().sortBy(_._1)
    assert(out === Array(("it's", 2.0), ("price-usd", 1.0)))
  }

  test("chunkTokens windows with overlap; tail chunk kept; edge docs covered") {
    def chunks(text: String, size: Int, overlap: Int) =
      Seq(text).toDF("t")
        .select(explode(TextAnalysis.chunkTokens(col("t"), size, overlap)).as("c"))
        .select("c.chunk_idx", "c.chunk_text", "c.n_tok")
        .as[(Int, String, Int)].collect().toSeq
    // 10 tokens, size 4, overlap 1 → ceil((10−1)/3) = 3 chunks; the last
    // starts at 6 and covers the tail exactly
    assert(chunks("a b c d e f g h i j", 4, 1) === Seq(
      (0, "a b c d", 4), (1, "d e f g", 4), (2, "g h i j", 4)))
    // 11 tokens: a short tail chunk appears
    assert(chunks("a b c d e f g h i j k", 4, 1) === Seq(
      (0, "a b c d", 4), (1, "d e f g", 4), (2, "g h i j", 4), (3, "j k", 2)))
    // doc shorter than overlap still gets its chunk
    assert(chunks("x", 4, 1) === Seq((0, "x", 1)))
    // null/blank → no chunks
    for (t <- Seq(null.asInstanceOf[String], "   "))
      assert(chunks(t, 4, 1).isEmpty)
    // every token appears in some chunk (coverage property)
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 20) {
      val n = rnd.nextInt(40) + 1
      val words = (1 to n).map(i => s"w$i")
      val (z, v) = (rnd.nextInt(8) + 2, rnd.nextInt(2))
      val got = chunks(words.mkString(" "), z, v)
      assert(got.flatMap(_._2.split(" ")).toSet === words.toSet,
        s"n=$n size=$z overlap=$v")
      assert(got.map(_._1) === got.indices.toSeq) // contiguous chunk ids
    }
  }

  test("tokenBudgetMix applies per-stratum budgets and drops unlisted strata") {
    import graft.operators.Sampling
    val docs = Seq(
      (1L, "en", 40L), (2L, "en", 50L), (3L, "en", 30L), // en cum 40,90,120
      (4L, "de", 80L), (5L, "de", 10L),                  // de cum 80,90
      (6L, "zh", 5L)                                     // unlisted → dropped
    ).toDF("doc_id", "lang", "n_tok")
    val kept = Sampling.tokenBudgetMix(docs, col("lang"), Seq(col("doc_id")),
        col("n_tok"), Map("en" -> 85L, "de" -> 50L))
      .select("doc_id").as[Long].collect().toSet
    // en: 1, 2 (crosses 85 having started at 40); de: 4 (crosses 50 at 0)
    assert(kept === Set(1L, 2L, 4L))
  }

  test("upsampleByFactor repeats whole factors and hash-decides the fraction") {
    import graft.operators.Sampling
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    val out = Sampling.upsampleByFactor(docs, col("lang"), col("doc_id"),
      Map("de" -> 2.5, "zh" -> 0.0))
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") === 200L) // default factor 1.0: unchanged
    // de: 200 ids × (2 + Bernoulli(0.5)) → between 400 and 600, ≈ 500
    assert(byLang("de") >= 440L && byLang("de") <= 560L, byLang.toString)
    // copies are distinguishable and contiguous per id
    val reps = out.filter(col("lang") === "de").groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("repeat").as("mx"))
      .as[(Long, Long, Int)].collect()
    assert(reps.forall(r => r._3 === r._2 - 1))
    // determinism across repartition
    val again = Sampling.upsampleByFactor(docs.repartition(7), col("lang"),
      col("doc_id"), Map("de" -> 2.5, "zh" -> 0.0))
      .select("doc_id", "repeat").as[(Long, Int)].collect().toSet
    assert(again === out.select("doc_id", "repeat").as[(Long, Int)].collect().toSet)
  }

  test("packSequences agrees with tokenBudgetPerStratum at chunk boundaries") {
    import graft.operators.Sampling
    // for budget = m × seqLen, "kept by the budget cut" must equal
    // "starts in one of the first m sequences" — the two operators are
    // views of the same running sum
    val rnd = new scala.util.Random(7)
    val docs = (1 to 300).map(i =>
      (i.toLong, s"s${i % 3}", (rnd.nextInt(120) + 1).toLong))
      .toDF("doc_id", "lang", "n_tok")
    val (seqLen, m) = (64L, 5L)
    val kept = Sampling.tokenBudgetPerStratum(docs, col("lang"),
        Seq(col("doc_id")), col("n_tok"), budget = seqLen * m)
      .select("doc_id").as[Long].collect().toSet
    val packed = Sampling.packSequences(docs, col("lang"),
        Seq(col("doc_id")), col("n_tok"), seqLen)
      .filter(col("seq_id") < m).select("doc_id").as[Long].collect().toSet
    assert(packed === kept)
  }

  test("assignSplit is deterministic, stable under corpus growth, and ~honors weights") {
    import graft.operators.Sampling
    val small = spark.range(0, 1000).toDF("id")
    val big = spark.range(0, 5000).toDF("id")
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    def labels(df: org.apache.spark.sql.DataFrame) =
      Sampling.assignSplit(df, col("id"), splits)
        .select("id", "split").as[(Long, String)].collect().toMap
    val a = labels(small); val b = labels(big)
    // growing the corpus never reassigns an existing id
    assert(a.forall { case (id, s) => b(id) == s })
    val frac = b.values.groupBy(identity).view.mapValues(_.size / 5000.0)
    assert(math.abs(frac("train") - 0.8) < 0.03, frac.toMap.toString)
    assert(math.abs(frac("val") - 0.1) < 0.03, frac.toMap.toString)
    // fast (xxhash64) path: same API, same determinism
    val f1 = Sampling.assignSplit(small, col("id"), splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    val f2 = Sampling.assignSplit(small.repartition(7), col("id"), splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(f1 === f2)
  }

  test("stratifiedFractions is deterministic and repartition-stable") {
    val df = spark.range(0, 2000).toDF("id")
      .withColumn("lang", when(pmod(col("id"), lit(2)) === 0, "en").otherwise("de"))
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.stratifiedFractions(d, col("lang"), col("id"),
        Map("en" -> 0.5, "de" -> 0.1)).select("id").as[Long].collect().toSet
    val a = run(df)
    assert(a === run(df.repartition(7))) // pure function of (id, seed)
    val enN = a.count(_ % 2 == 0).toDouble / 1000
    val deN = a.count(_ % 2 == 1).toDouble / 1000
    assert(math.abs(enN - 0.5) < 0.1 && math.abs(deN - 0.1) < 0.06)
    // unknown stratum → dropped
    val b = graft.operators.Sampling.stratifiedFractions(df, col("lang"), col("id"),
      Map("en" -> 0.5)).select("lang").as[String].collect().toSet
    assert(b === Set("en"))
  }

  test("stratifiedExactK keeps exactly k smallest-hash rows, grow-stable, no window") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("lang", when(pmod(col("id"), lit(4)) === 0, "en")
        .when(pmod(col("id"), lit(4)) === 1, "de").otherwise("fr"))
    def run(d: org.apache.spark.sql.DataFrame, k: Int) =
      graft.operators.Sampling.stratifiedExactK(d, col("lang"), col("id"), k)
        .select("id", "lang", "rank").as[(Long, String, Long)].collect()
    val a = run(df, 10)
    // exact k per stratum, ranks 1..k dense
    assert(a.groupBy(_._2).view.mapValues(_.map(_._3).sorted.toSeq).toMap ===
      Map("en" -> (1L to 10L), "de" -> (1L to 10L), "fr" -> (1L to 10L)))
    // repartition-stable
    assert(a.toSet === run(df.repartition(13), 10).toSet)
    // grow-stable: the k=10 sample of a GROWN corpus still contains every
    // survivor of the old corpus that wasn't displaced — and displacement
    // only ever comes from NEW smaller hashes, so old ids selected at
    // k=5 must be a subset of ids selected at k=10
    val small = run(df, 5).map(r => (r._1, r._2)).toSet
    assert(small.subsetOf(a.map(r => (r._1, r._2)).toSet))
    // stratum smaller than k → whole stratum survives
    val tiny = df.filter(col("id") < 3)
    assert(run(tiny, 10).length === 3)
    // null ids are excluded (sampling keys on identity)
    val withNull = df.withColumn("id",
      when(col("id") === 0, lit(null).cast("long")).otherwise(col("id")))
    assert(!run(withNull, 10).exists(r => r._1 == 0))
    // bounded-heap plan: no Window, no global Sort of the input
    val p = graft.operators.Sampling.stratifiedExactK(df, col("lang"), col("id"), 10)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(1200))
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
  }

  test("dropRepeatedParagraphs: local keep-first only — other docs don't suppress") {
    import graft.functions.TextAnalysis
    val df = Seq(
      (1L, "x\n\ny\n\nx\n\nz\n\ny"), // x and y repeat within the doc
      (2L, "x\n\ny")                 // same paragraphs — but doc-local, all kept
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.dropRepeatedParagraphs(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_paras"), col("r.n_kept"), col("r.clean_text"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out === Set(
      (1L, 5L, 3L, "x\n\ny\n\nz"),
      (2L, 2L, 2L, "x\n\ny")))
  }

  test("temperatureFractions: alpha endpoints, the cap, and null strata") {
    import graft.operators.Sampling
    // en 800, de 200, fr 8 (+ null rows that must not contribute)
    val df = spark.range(0, 1008).toDF("id").withColumn("lang",
      when(col("id") < 800, "en").when(col("id") < 1000, "de")
        .when(col("id") < 1004, "fr").otherwise(lit(null).cast("string")))
      .filter(col("id") < 1004 || col("id") >= 1000) // 800 en, 200 de, 4 fr, 4 null
    // alpha = 1: proportional — every stratum keeps the same fraction T/N
    val p1 = Sampling.temperatureFractions(df, col("lang"), total = 502, alpha = 1.0)
    assert(p1.keySet === Set("en", "de", "fr"))
    assert(p1.values.forall(f => math.abs(f - 502.0 / 1004) < 1e-6), p1.toString)
    // alpha = 0: equal target takes (T/3 each); tiny fr caps at 1.0
    val p0 = Sampling.temperatureFractions(df, col("lang"), total = 90, alpha = 0.0)
    assert(math.abs(p0("en") - 30.0 / 800) < 1e-6, p0.toString)
    assert(math.abs(p0("de") - 30.0 / 200) < 1e-6, p0.toString)
    assert(p0("fr") === 1.0) // 30 wanted, only 4 exist
    // intermediate alpha upweights small strata relative to their size
    val p5 = Sampling.temperatureFractions(df, col("lang"), total = 100, alpha = 0.5)
    assert(p5("de") > p5("en"), p5.toString)
  }

  test("temperatureFractions + stratifiedFractions accept non-string strata") {
    import graft.operators.Sampling
    // a numeric stratum must not ClassCastException — it casts to the
    // same string key space stratifiedFractions joins on
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("year", (lit(2020) + pmod(col("id"), lit(2))).cast("int"))
    val fr = Sampling.temperatureFractions(df, col("year"), total = 500, alpha = 1.0)
    assert(fr.keySet === Set("2020", "2021"), fr.toString)
    assert(fr.values.forall(f => math.abs(f - 0.5) < 1e-6), fr.toString)
    // and the fractions feed straight back into the filter on the same
    // numeric column (cast inside element_at's key lookup)
    val kept = Sampling.stratifiedFractions(df, col("year"),
      col("id"), fr).count()
    assert(math.abs(kept - 500.0) < 80, kept.toString)
  }

  test("stratifiedExactK rejects reserved working-column names") {
    val bad = spark.range(0, 10).toDF("pos").withColumn("lang", lit("en"))
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.stratifiedExactK(bad, col("lang"), col("pos"), 3)
    }
    val bad2 = spark.range(0, 10).toDF("id").withColumn("COL", lit("x"))
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.stratifiedExactK(bad2, col("COL"), col("id"), 3)
    }
  }

  test("assignSplit requireNonNullIds fails loudly on NULL ids") {
    import graft.operators.Sampling
    val splits = Seq(("train", 0.9), ("eval", 0.1))
    val df = spark.range(0, 100).toDF("id").withColumn("id",
      when(col("id") === 13, lit(null).cast("long")).otherwise(col("id")))
    // default: NULL falls through to the last split (documented CASE
    // fall-through) — no error
    val quiet = Sampling.assignSplit(df, col("id"), splits)
      .filter(col("id").isNull).select("split").collect()
    assert(quiet.map(_.getString(0)).toSeq === Seq("eval"))
    // strict: the same frame raises instead of silently assigning
    val e = intercept[Throwable] {
      Sampling.assignSplit(df, col("id"), splits,
        requireNonNullIds = true).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("assignSplit"), msgs)
    // and with no NULLs the strict mode is a no-op
    val clean = spark.range(0, 100).toDF("id")
    val a = Sampling.assignSplit(clean, col("id"), splits, requireNonNullIds = true)
      .select("id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val b = Sampling.assignSplit(clean, col("id"), splits)
      .select("id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a === b)
  }

  test("uniform01 routes NULL ids to a NULL draw in every sampler") {
    import graft.operators.Sampling
    val splits = Seq(("train", 0.8), ("test", 0.1), ("eval", 0.1))
    val df = spark.range(0, 200).toDF("id")
      .withColumn("id",
        when(col("id") % 7 === 0, lit(null).cast("long")).otherwise(col("id")))
      .withColumn("stratum", when(col("id") % 2 === 0, "a").otherwise("b"))
    // NULL id → NULL draw (never one shared constant that would route all
    // failed-id rows into whichever split/fraction it lands in)
    val drawn = df.select(col("id"), Sampling.uniform01(col("id")).as("u")).collect()
    drawn.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null-id/null-draw must pair, got $r")
    }
    // assignSplit: every NULL id lands in the LAST split
    val sp = Sampling.assignSplit(df, col("id"), splits)
      .filter(col("id").isNull).select("split").distinct().collect()
    assert(sp.map(_.getString(0)).toSeq === Seq("eval"))
    // stratifiedFractions: NULL-id rows are excluded, not block-kept
    val kept = Sampling.stratifiedFractions(df, col("stratum"), col("id"),
      Map("a" -> 1.0, "b" -> 1.0))
      .filter(col("id").isNull).count()
    assert(kept === 0L)
    // upsampleByFactor: NULL-id rows keep their whole repeats (factor 1.5
    // → exactly one copy, never the fractional extra)
    val ups = Sampling.upsampleByFactor(df, col("stratum"), col("id"),
      Map("a" -> 1.5, "b" -> 1.5))
      .filter(col("id").isNull).groupBy().count().collect()
    assert(ups.head.getLong(0) === df.filter(col("id").isNull).count())
  }
}
