package graft

import org.apache.spark.sql.functions._
import graft.operators.Quality

class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("contaminationHits counts distinct leaked n-grams per doc") {
    // bench doc: "a b c d e" → 2-grams {a b, b c, c d, d e}
    val bench = Seq("a b c d e").toDF("text")
    val corpus = Seq(
      (1L, "a b c x"),       // shares {a b, b c} → 2 hits
      (2L, "x y z"),         // clean
      (3L, "d e d e d e"),   // shares {d e} (distinct per doc) → 1 hit
      (4L, "A B c")          // lowercased → shares {a b, b c} → 2 hits
    ).toDF("doc_id", "text")
    val out = Quality.contaminationHits(corpus, bench, "doc_id", "text", n = 2)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(out === Array((1L, 2L), (3L, 1L), (4L, 2L)))
  }

  test("contaminationHits respects minOverlap and short-doc edge") {
    val bench = Seq("a b c d e").toDF("text")
    val corpus = Seq((1L, "a b c x"), (3L, "d e q"), (5L, "a")).toDF("doc_id", "text")
    val out = Quality.contaminationHits(corpus, bench, "doc_id", "text",
      n = 2, minOverlap = 2).as[(Long, Long)].collect()
    assert(out === Array((1L, 2L)))
  }

  test("contaminationHits broadcasts the benchmark side") {
    val bench = Seq("a b c d e").toDF("text")
    val corpus = Seq((1L, "a b c x")).toDF("doc_id", "text")
    val p = Quality.contaminationHits(corpus, bench, "doc_id", "text", n = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // only the benchmark-side distinct and the hit-count aggregation may
    // shuffle — the corpus stream itself must not
    assert(p.split("Exchange hashpartitioning").length - 1 == 2, p.take(2000))
  }

  test("gopherFilter: each rule fires on its own signal; clean doc keeps") {
    import spark.implicits._
    val stops = Seq("the", "a", "of")
    val docs = Seq(
      (1L, "the cat sat on a mat with the dog of the house now"), // clean
      (2L, "the cat"),                                            // too few words
      (3L, "cat dog bird fish mouse horse cow sheep goat pig hen duck"), // no stopwords
      (4L, "the supercalifragilistic extraordinarily incomprehensible " +
           "anthropomorphic a electroencephalographically the of"), // long words
      (5L, "the !!! ??? *** ((( ))) $$$ %%% @@@ a of ###")          // symbol soup
    ).toDF("doc_id", "text")
    val out = Quality.gopherFilter(docs, "doc_id", "text", stops,
        minWords = 5, maxWords = 50, minMeanLen = 2.0, maxMeanLen = 8.0,
        maxSymbolRatio = 0.5, minStopRatio = 0.1)
      .select("doc_id", "fails", "keep").as[(Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === (("", 1)))
    assert(out(2L) === (("too_few_words", 0)))
    assert(out(3L) === (("stopword_ratio_low", 0)))
    assert(out(4L)._1.contains("mean_word_len_high") && out(4L)._2 === 0)
    assert(out(5L)._1.contains("symbol_ratio_high") && out(5L)._2 === 0)
  }

  test("gopherFilter rejects NULL text instead of passing it") {
    import spark.implicits._
    // NULL text NULLs every signal, so no threshold rule can fire — the
    // explicit null_text rule must catch it (keep=1 here would pass the
    // junkiest possible row through a quality gate)
    val docs = Seq((1L, Option("the cat sat on a mat okay fine yes")),
      (2L, None: Option[String])).toDF("doc_id", "text")
    val out = Quality.gopherFilter(docs, "doc_id", "text", Seq("the", "a"),
        minWords = 2, maxWords = 50, minMeanLen = 1.0, maxMeanLen = 8.0,
        maxSymbolRatio = 0.5, minStopRatio = 0.01)
      .select("doc_id", "fails", "keep").as[(Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === (("", 1)))
    assert(out(2L) === (("null_text", 0)))
  }

  test("mooreLewisScore separates in-domain from out-of-domain docs") {
    import spark.implicits._
    val inDomain = Seq(
      (1L, "spark join shuffle spark join shuffle spark plan"),
      (2L, "spark shuffle plan spark join plan")).toDF("doc_id", "text")
    val general = Seq(
      (1L, "spark join shuffle spark join shuffle spark plan"),
      (2L, "spark shuffle plan spark join plan"),
      (3L, "cooking pasta with tomato sauce and basil leaves"),
      (4L, "garden tomato plants need water and sunshine daily")).toDF("doc_id", "text")
    val inV = Quality.unigramVocab(inDomain, "text", maxVocab = 16)
    val genV = Quality.unigramVocab(general, "text", maxVocab = 16)
    val out = Quality.mooreLewisScore(general, "doc_id", "text", inV, genV)
      .select("doc_id", "ml_score").as[(Long, Double)].collect().toMap
    // Moore-Lewis is a RANKING: spark-y docs must outscore cooking docs
    // (the absolute sign shifts with the two corpora's totals — the OOV
    // floor alpha/total is generous when the in-domain corpus is small)
    assert(out(1L) > out(3L) && out(1L) > out(4L), out.toString)
    assert(out(2L) > out(3L) && out(2L) > out(4L), out.toString)
  }

  test("perplexityBuckets splits the corpus into score-ordered thirds") {
    import spark.implicits._
    // 9 scorable docs with clearly separated fluency levels (repeated
    // common tokens score high; rare-token soup scores low) + 1 empty
    val docs = (Seq.tabulate(3)(i => (i.toLong, "the the the the the the")) ++
      Seq.tabulate(3)(i => (i + 3L, "the cat sat on the mat")) ++
      Seq.tabulate(3)(i => (i + 6L, s"zzq$i wxv$i qqj$i kkp$i mmr$i ttb$i")) :+
      (9L, "")).toDF("doc_id", "text")
    val v = Quality.unigramVocab(docs, "text", maxVocab = 8)
    val out = Quality.perplexityBuckets(docs, "doc_id", "text", v)
      .select("doc_id", "mean_logprob", "bucket")
      .as[(Long, Option[Double], Option[String])].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // empty doc: NULL score, NULL bucket — but the row survives
    assert(byId(9L)._2.isEmpty && byId(9L)._3.isEmpty)
    // buckets are monotone in score: every head score >= every middle
    // score >= every tail score
    val g = out.filter(_._3.nonEmpty)
      .groupBy(_._3.get).view.mapValues(_.flatMap(_._2)).toMap
    assert(g.keySet === Set("head", "middle", "tail"), g.toString)
    assert(g("head").min >= g("middle").max, g.toString)
    assert(g("middle").min >= g("tail").max, g.toString)
    // thirds: 9 scorable docs, 3 per bucket at the default quantiles
    assert(g("head").size === 3 && g("middle").size === 3 && g("tail").size === 3)
  }

  test("hashedLinearScore is the mean hashed-bucket weight; empty docs keep NULL") {
    import spark.implicits._
    val w = Quality.demoWeights(64)
    def bucket(tok: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(8), 16) % 64).toInt
    }
    val docs = Seq(
      (1L, "alpha alpha alpha"),            // 3× one bucket → score = w[b]
      (2L, "alpha beta"),                   // mean of two bucket weights
      (3L, "")).toDF("doc_id", "text")
    val out = Quality.hashedLinearScore(docs, "doc_id", "text", w)
      .select("doc_id", "n_tokens", "score", "keep")
      .as[(Long, Long, Option[Double], Option[Int])].collect()
      .map(r => r._1 -> r).toMap
    val wa = BigDecimal(w(bucket("alpha"))).setScale(5, BigDecimal.RoundingMode.HALF_UP)
    val wb = BigDecimal(w(bucket("beta"))).setScale(5, BigDecimal.RoundingMode.HALF_UP)
    assert(out(1L)._3.get === wa.toDouble)
    assert(out(2L)._3.get === ((wa + wb) / 2).toDouble)
    assert(out(1L)._4.get === (if (wa >= 0) 1 else 0))
    assert(out(3L)._2 === 0L && out(3L)._3.isEmpty && out(3L)._4.isEmpty)
  }

  test("bm25TopK ranks rarer matched terms above common ones, tf saturates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "rare common common filler filler filler"),
      (2L, "common filler filler filler filler filler"),
      (3L, "rare rare rare filler filler filler"),   // tf saturation: > doc1 but < 3x
      (4L, "filler filler filler filler filler filler"), // no hit → absent
      (5L, "")).toDF("doc_id", "text")
    val out = Quality.bm25TopK(docs, "doc_id", "text", Seq("rare", "common"),
        topK = 10)
      .select("doc_id", "bm25", "rank").as[(Long, Double, Long)].collect()
      .sortBy(_._3)
    assert(out.map(_._1).toSeq.sorted === Seq(1L, 2L, 3L)) // only hit docs
    val score = out.map(r => r._1 -> r._2).toMap
    // idf: 'rare' (df=2) outweighs 'common' (df=2)? both df=2 here — doc1
    // matches BOTH terms so it must outrank single-term docs
    assert(out.head._1 === 1L, out.mkString(","))
    // tf saturation: 3x tf of 'rare' scores less than 3x the single-tf doc
    val rareOnly = score(3L)
    assert(rareOnly < 3 * (score(1L) - score(2L)) + 1e-9 || rareOnly < score(1L) * 3)
    // duplicate query terms don't double-count
    val dup = Quality.bm25TopK(docs, "doc_id", "text",
      Seq("rare", "rare", "common"), topK = 10)
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    assert(dup === score)
  }

  test("bm25TopK returns empty (not NPE) when no document survives the text guard") {
    import spark.implicits._
    // count=0 / sum(size)=NULL at plan build — the avgdl read must not
    // unbox the NULL
    val docs = Seq((1L, None: Option[String]), (2L, Option("   ")))
      .toDF("doc_id", "text")
    val out = Quality.bm25TopK(docs, "doc_id", "text", Seq("rare"), topK = 5)
    assert(out.count() === 0)
  }

  test("invertedIndex emits per-term stats and tf-ranked postings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "banana banana banana"),
      (4L, "")).toDF("doc_id", "text")
    val out = Quality.invertedIndex(docs, "doc_id", "text", topPostings = 2)
      .select("term", "n_docs", "total_tf", "doc_id", "tf", "rank")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val apple = out.filter(_._1 == "apple").sortBy(_._6)
    // apple: df=2, total=3; postings ranked tf desc then doc asc
    assert(apple.map(r => (r._2, r._3, r._4, r._5, r._6)).toSeq ===
      Seq((2L, 3L, 1L, 2L, 1L), (2L, 3L, 2L, 1L, 2L)))
    val banana = out.filter(_._1 == "banana").sortBy(_._6)
    assert(banana.map(r => (r._4, r._5, r._6)).toSeq ===
      Seq((3L, 3L, 1L), (1L, 1L, 2L)))
    // topPostings caps the posting list, stats stay corpus-wide
    val capped = Quality.invertedIndex(docs, "doc_id", "text", topPostings = 1)
    assert(capped.filter(col("term") === "apple").count() === 1)
    // empty doc contributes nothing; no joins/windows in the plan
    val p = Quality.invertedIndex(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1200))
  }

  test("collocations surfaces high-PMI adjacent pairs above the count floor") {
    import spark.implicits._
    // "new york" always adjacent (PMI high); "the", "cat" frequent but
    // unattached; "rare pair" appears only once → under minCount
    val docs = Seq.tabulate(6)(i =>
      (i.toLong, s"new york the cat sat $i times")).toDF("doc_id", "text")
      .unionByName(Seq((10L, "rare pair")).toDF("doc_id", "text"))
    val out = Quality.collocations(docs, "text", minCount = 3, topK = 5)
      .select("w1", "w2", "n_pair").as[(String, String, Long)].collect()
    // exactly 4 pairs recur in every doc: new-york, york-the, the-cat,
    // cat-sat (the "sat <i> times" tail varies per doc)
    assert(out.length === 4)
    assert(out.map(r => (r._1, r._2)).contains(("new", "york")))
    assert(!out.map(r => (r._1, r._2)).contains(("rare", "pair")))
    val ny = out.find(r => (r._1, r._2) == (("new", "york"))).get
    assert(ny._3 === 6L)
    // top entry is deterministic: pmi desc, then "w1 w2" asc
    val full = Quality.collocations(docs, "text", minCount = 3, topK = 100)
      .select("w1", "w2", "pmi").as[(String, String, Double)].collect()
    val expected = full.sortBy(r => (-r._3, r._1 + " " + r._2)).take(4)
      .map(r => (r._1, r._2)).toSeq
    assert(out.map(r => (r._1, r._2)).toSeq === expected)
  }

  test("tfidfTopTerms ranks distinctive terms above ubiquitous ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared shared quantum"),
      (2L, "shared shared shared plasma"),
      (3L, "shared shared shared shared"),
      (4L, null.asInstanceOf[String]), // no tokens → no rows, but counts in N
      (5L, "  ")
    ).toDF("doc_id", "text")
    val out = Quality.tfidfTopTerms(docs, "doc_id", "text", topK = 2)
      .select("doc_id", "term", "rank").as[(Long, String, Long)].collect()
    // 'shared' is in every tokenized doc but N=5 counts the empty ones,
    // so ln(5/3) > 0 — still, the unique term must outrank it
    assert(out.filter(_._1 == 1L).minBy(_._3)._2 === "quantum")
    assert(out.filter(_._1 == 2L).minBy(_._3)._2 === "plasma")
    assert(!out.exists(r => r._1 == 4L || r._1 == 5L))
    assert(out.count(_._1 == 3L) === 1) // only one distinct term exists
  }

  test("unigramLogProb scores docs under the capped corpus distribution") {
    // vocab: a×2, b×1, z×1 → total 4; maxVocab=1 keeps only 'a'
    // (count desc, tok tie-break); b and z take the 1/total floor
    val docs = Seq((1L, "a a b"), (2L, "z"), (3L, null))
      .toDF("doc_id", "text")
    val out = Quality.unigramLogProb(docs, "doc_id", "text", maxVocab = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    val lnA = BigDecimal(math.log(2.0 / 4.0)).setScale(5, BigDecimal.RoundingMode.HALF_UP)
    val lnF = BigDecimal(math.log(1.0 / 4.0)).setScale(5, BigDecimal.RoundingMode.HALF_UP)
    // Spark divides AFTER the decimal→double cast — mirror that exactly
    assert(out(0) === ((1L, 3L, (lnA * 2 + lnF).toDouble / 3)))
    assert(out(1) === ((2L, 1L, lnF.toDouble / 1)))
    assert(out(2) === ((3L, 0L, null))) // empty doc: row kept, null score
  }

  test("unigramLogProb survives an all-blank corpus") {
    val blank = Seq((1L, null.asInstanceOf[String]), (2L, "  "))
      .toDF("doc_id", "text")
    val out = Quality.unigramLogProb(blank, "doc_id", "text", maxVocab = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2)))
    assert(out === Array((1L, 0L, true), (2L, 0L, true)))
  }

  test("repetitionProfile computes exact fractions; null/blank docs get zero rows") {
    val docs = Seq(
      (1L, "a a a b"),   // 4 toks, top a=3/4; 3-grams: [a a a, a a b] → 0 dups
      (2L, "a b a b a b a b"), // 8 toks, top 4/8; 3-grams: aba×3, bab×3 → 6 inst, 2 distinct → 4/6
      (3L, "x y"),       // shorter than n → dup frac 0.0
      (4L, "c c c c"),   // 4 toks top 1.0; 3-grams: ccc ccc → 1/2
      (5L, null),        // failed extraction: still profiled, zeros
      (6L, "   ")        // blank: zero tokens (tokenCountWs semantics)
    ).toDF("doc_id", "text")
    val out = Quality.repetitionProfile(docs, "doc_id", "text", n = 3)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out.length === 6) // EVERY doc gets a row — quality gates join this
    assert(out(0) === ((1L, 4L, 0.75, 0.0)))
    assert(out(1) === ((2L, 8L, 0.5, 4.0 / 6.0)))
    assert(out(2) === ((3L, 2L, 0.5, 0.0)))
    assert(out(3) === ((4L, 4L, 1.0, 0.5)))
    assert(out(4) === ((5L, 0L, 0.0, 0.0)))
    assert(out(5) === ((6L, 0L, 0.0, 0.0)))
  }

  test("repetitionProfile is a zero-shuffle kernel projection since r15") {
    val docs = Seq((1L, "a a b"), (2L, "x y z")).toDF("doc_id", "text")
    val p = Quality.repetitionProfile(docs, "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    // the aggregate form shuffled the token stream twice and the gram
    // hashes once purely to take per-doc ratios; the kernel projection
    // has no exchanges, joins, or generates at all
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Join") && !p.contains("Generate"), p.take(3000))
  }

  test("contaminationScore: graded ratios, short docs NULL, one corpus scan") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d x"),           // shingles {a b c d, b c d x} → 1 hit
      (2L, "zz yy"),               // < 4 tokens → no shingles → NULL
      (3L, "p q r s t u"),         // 3 shingles, 0 hits → 0.0
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Quality.contaminationScore(corpus, bench, "doc_id", "text", n = 4)
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Long]("n_shingles") === 2L)
    assert(byId(1L).getAs[Long]("n_hits") === 1L)
    assert(byId(1L).getAs[Double]("contamination") === 0.5)
    assert(byId(2L).getAs[Long]("n_shingles") === 0L)
    assert(byId(2L).isNullAt(byId(2L).fieldIndex("contamination")))
    assert(byId(3L).getAs[Double]("contamination") === 0.0)
    assert(byId(4L).isNullAt(byId(4L).fieldIndex("contamination")))
    assert(out.count() === 4) // every corpus doc keeps its row
    // one corpus scan: the totals and hits must NOT be separate branches
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.split("LocalTableScan").length - 1 <= 2, p.take(2000)) // corpus + benchmark
  }

  test("bigramLogProb: word order matters (unigram cannot see it), edges stay q65-shaped") {
    val fluent = Seq.fill(6)("the cat sat on the mat").zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val docs = (fluent ++ Seq(
      (100L, "the cat sat on the mat"),     // in-order: every bigram seen
      (101L, "mat the on sat cat the"),     // same BAG of tokens, shuffled
      (102L, "solo"),                       // single token: unigram-only path
      (103L, ""), (104L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val v = Quality.bigramVocab(docs, "text", maxBigrams = 64, maxVocab = 16)
    val out = Quality.bigramLogProb(docs, "doc_id", "text", v)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // the bigram LM separates order; the unigram scores the two equal
    val uni = Quality.scoreUnderVocab(docs, "doc_id", "text",
        Quality.unigramVocab(docs, "text", 16))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(uni(100L) === uni(101L), "unigram must be order-blind")
    assert(out(100L)._2.get > out(101L)._2.get,
      s"bigram should prefer fluent order: ${out(100L)} vs ${out(101L)}")
    // edges: empty/null docs keep a NULL-score row; single token scores
    // under the unigram branch only
    assert(out(103L) === ((0L, None)) && out(104L) === ((0L, None)))
    assert(out(102L)._1 === 1L && out(102L)._2.isDefined)
    // model tables are bounded plan constants
    assert(v.top.size <= 64 && v.first.size <= 16 && v.uni.top.size <= 16)
    // training is partitioning-invariant (exact counts)
    val v7 = Quality.bigramVocab(docs.repartition(7), "text", 64, 16)
    assert(v7.top === v.top && v7.first === v.first && v7.uni === v.uni)
  }

  test("charEntropyProfile: exact small cases, codepoints, tails, NULL edges") {
    val docs = Seq(
      (1L, "aaaa"),                 // one symbol: entropy 0
      (2L, "ab"),                   // two equiprobable: ln 2
      (3L, "日本語日本語"),          // multi-byte codepoints: ln 3, n_cp 6
      (4L, ""), (5L, null.asInstanceOf[String]),
      (6L, "la la la la la la la"),                  // repeated filler: low
      (7L, "the cat sat on the warm mat today"),     // prose: middle
      (8L, "zq xv jk wp fy bg md ct ls rn hw"))      // near-uniform: high
      .toDF("doc_id", "text")
    val out = Quality.charEntropyProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) === 0.0)
    assert(math.abs(out(2L).getDouble(3) - math.log(2)) < 1e-4)
    assert(out(3L).getLong(1) === 6L && out(3L).getLong(2) === 3L)
    assert(math.abs(out(3L).getDouble(3) - math.log(3)) < 1e-4)
    for (id <- Seq(4L, 5L)) {
      assert(out(id).isNullAt(2) && out(id).isNullAt(3))
    }
    assert(out(4L).getLong(1) === 0L && out(5L).isNullAt(1))
    // the quality-signal ordering: filler < prose < near-uniform mash
    assert(out(6L).getDouble(3) < out(7L).getDouble(3))
    assert(out(7L).getDouble(3) < out(8L).getDouble(3))
  }

  test("bpePairCounts: frequency-weighted, within-word repeats, tie order") {
    // "the" x3 and "then" x1: pair "th" occurs in both words -> 3+1 = 4;
    // "he" likewise 4; "en" only in "then" -> 1; "aaa" x2 contributes
    // "aa" TWICE per occurrence -> 4
    val docs = Seq(
      (1L, "the the then aaa"),
      (2L, "the aaa"),
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Quality.bpePairCounts(docs, "text", topK = 10)
      .collect().map(r => r.getString(1) -> (r.getLong(0), r.getLong(2))).toMap
    assert(out("th")._2 === 4L && out("he")._2 === 4L)
    assert(out("aa")._2 === 4L && out("en")._2 === 1L)
    // rank ties break on the pair string ascending
    val byRank = out.toSeq.sortBy(_._2._1).map(_._1)
    assert(byRank.take(3) === Seq("aa", "he", "th")) // all count 4, lexical
    // single-char words and blank/null docs contribute nothing
    val solo = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(Quality.bpePairCounts(solo, "text").count() === 0L)
  }

  test("bpeTrain: greedy merges, frequency ties, overlap rule, early stop") {
    // "aaab" x3, "ab" x2: (a,a) = 2*3 = 6 beats (a,b) = 3+2 = 5 ->
    // merge 1 = (a,a); then (a,b) = 5 beats (aa,a) = 3 -> merge 2;
    // then only (aa,ab) = 3 remains -> merge 3; corpus exhausted ->
    // early stop with 3 of the 5 requested merges
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab")).toDF("doc_id", "text")
    val merges = Quality.bpeTrain(docs, "text", numMerges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(merges === Seq(
      (1L, "a", "a", 6L), (2L, "a", "b", 5L), (3L, "aa", "ab", 3L)))
    // greedy left-to-right overlap: "aaaa" under merge (a,a) becomes
    // aa|aa (NOT a|aa|a), so the second round counts (aa,aa) once
    val quad = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m2 = Quality.bpeTrain(quad, "text", numMerges = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(m2 === Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
  }

  test("bpeEncode: counts under learned merges, untouched words, NULL edges") {
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab"),
      (3L, "zz"), (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // the q137 merge sequence for this corpus: (a,a), (a,b), (aa,ab) —
    // "aaab" encodes to ONE token, "ab" to one, "zz" stays 2 chars
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"))
    val out = Quality.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 3L && out(1L).getLong(2) === 3L) // 3 words, 1 tok each
    assert(out(2L).getLong(1) === 2L && out(2L).getLong(2) === 2L)
    assert(out(3L).getLong(2) === 2L) // no merge covers zz: stays per-char
    assert(out(3L).getDouble(3) === 2.0)
    for (id <- Seq(4L, 5L)) {
      assert(out(id).isNullAt(1) && out(id).isNullAt(2) && out(id).isNullAt(3))
    }
    // empty merge table = pure char tokenizer
    val none = Quality.bpeEncode(docs.filter(col("doc_id") === 1L),
      "doc_id", "text", Nil).head()
    assert(none.getLong(2) === 4L + 4L + 2L)
  }

  test("bpe: merges never fuse across symbol boundaries (the 'aba' trap)") {
    // word "aba" under merges (a,b),(b,a): after (a,b) the symbols are
    // [ab, a] — merge (b,a)'s key must NOT match the b␟a inside ab|a.
    // Reference BPE (Sennrich 2016 symbol-list semantics) yields 2
    // tokens; the pre-fix flat-string replace fused it to ONE.
    val docs = Seq((1L, "aba")).toDF("doc_id", "text")
    val out = Quality.bpeEncode(docs, "doc_id", "text",
      Seq(("a", "b"), ("b", "a"))).head()
    assert(out.getLong(2) === 2L)

    // train-side: corpus where the flat replace corrupted the dict
    // mid-training. merges: (x,l) n=4, then (l,r) n=2 — the old replace
    // key l␟r matched inside word "xlr"'s dict entry xl␟r and fused the
    // whole word, losing merge 3 = (xl,r) n=1
    val corpus = Seq((1L, "xl xl xl lr lr xlr")).toDF("doc_id", "text")
    val merges = Quality.bpeTrain(corpus, "text", numMerges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(merges === Seq(
      (1L, "x", "l", 4L), (2L, "l", "r", 2L), (3L, "xl", "r", 1L)))
  }

  test("bpe kernel == sequential symbol-list fold (fuzz, arbitrary tables)") {
    // reference: fold merges in rank order, each a greedy left-to-right
    // non-overlapping fuse on the symbol list — the training semantics
    def fuseRef(syms: List[String], l: String, r: String): List[String] =
      syms match {
        case a :: b :: rest if a == l && b == r => (l + r) :: fuseRef(rest, l, r)
        case a :: rest => a :: fuseRef(rest, l, r)
        case Nil => Nil
      }
    def encodeRef(word: String, merges: Seq[(String, String)]): Int =
      merges.foldLeft(word.map(_.toString).toList) {
        case (syms, (l, r)) => fuseRef(syms, l, r)
      }.size
    val rnd = new scala.util.Random(20260814L)
    val alpha = "abc"
    def sym(): String =
      (0 until (1 + rnd.nextInt(2))).map(_ => alpha(rnd.nextInt(3))).mkString
    for (_ <- 1 to 2000) {
      val word = (0 until rnd.nextInt(9)).map(_ => alpha(rnd.nextInt(3))).mkString
      val merges = (0 until rnd.nextInt(6)).map(_ => (sym(), sym()))
      val kernel = new graft.functions.TextKernels.BpeKernel(merges)
      val got = kernel.tokenCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(word))
      assert(got === encodeRef(word, merges),
        s"word=$word merges=$merges")
    }
  }

  test("bpe kernel rescan mode == HF reference encoder; fold == rescan on training-order tables") {
    // independent HF/GPT-2 reference loop: find the lowest-ranked pair
    // present ANYWHERE, fuse all its occurrences greedy-LTR, repeat from
    // rank 0 — no monotone floor
    def fuseRef(syms: List[String], l: String, r: String): List[String] =
      syms match {
        case a :: b :: rest if a == l && b == r => (l + r) :: fuseRef(rest, l, r)
        case a :: rest => a :: fuseRef(rest, l, r)
        case Nil => Nil
      }
    def encodeHfRef(word: String, merges: Seq[(String, String)]): Int = {
      val rank = merges.zipWithIndex.groupBy(_._1)
        .map { case (p, vs) => p -> vs.map(_._2).min }
      var syms = word.map(_.toString).toList
      var go = syms.size >= 2
      while (go) {
        val present = syms.zip(syms.tail).flatMap(p => rank.get(p).map((_, p)))
        if (present.isEmpty) go = false
        else {
          val (_, (l, r)) = present.minBy(_._1)
          syms = fuseRef(syms, l, r)
          go = syms.size >= 2
        }
      }
      syms.size
    }
    // the divergence witness from the contract note: rank-1 (a,b) creates
    // "ab", re-enabling rank-0 ("ab","c") that the fold has already passed
    val trap = Seq(("ab", "c"), ("a", "b"))
    val u = org.apache.spark.unsafe.types.UTF8String.fromString("abc")
    assert(new graft.functions.TextKernels.BpeKernel(trap).tokenCount(u) === 2)
    assert(new graft.functions.TextKernels.BpeKernel(trap, rescan = true)
      .tokenCount(u) === 1)
    assert(encodeHfRef("abc", trap) === 1)
    // fuzz: rescan kernel == HF reference on ARBITRARY tables
    val rnd = new scala.util.Random(20260815L)
    val alpha = "abc"
    def sym(): String =
      (0 until (1 + rnd.nextInt(2))).map(_ => alpha(rnd.nextInt(3))).mkString
    for (_ <- 1 to 2000) {
      val word = (0 until rnd.nextInt(9)).map(_ => alpha(rnd.nextInt(3))).mkString
      val merges = (0 until rnd.nextInt(6)).map(_ => (sym(), sym()))
      val got = new graft.functions.TextKernels.BpeKernel(merges, rescan = true)
        .tokenCount(org.apache.spark.unsafe.types.UTF8String.fromString(word))
      assert(got === encodeHfRef(word, merges), s"word=$word merges=$merges")
    }
    // contract claim: on a REAL training-order table the fold default and
    // the HF rescan encode agree word-for-word (why fold stays default)
    val words = (1 to 120).flatMap { i =>
      Seq.fill(1 + 240 / i)(java.lang.Long.toString(i.toLong + 7, 7))
    }
    val corpus = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val trained = Quality.bpeTrain(corpus, "text", numMerges = 60).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val fold = new graft.functions.TextKernels.BpeKernel(trained)
    val hf = new graft.functions.TextKernels.BpeKernel(trained, rescan = true)
    words.distinct.foreach { w =>
      val uw = org.apache.spark.unsafe.types.UTF8String.fromString(w)
      assert(fold.tokenCount(uw) === hf.tokenCount(uw), s"word=$w")
    }
    // DataFrame surface: bpeEncode(hfCompat = true) routes the flag
    val foreignDocs = Seq((1L, "abc abc xyz")).toDF("doc_id", "text")
    val viaDf = Quality.bpeEncode(foreignDocs, "doc_id", "text", trap,
        hfCompat = true)
      .select("n_bpe_tokens").collect()(0).getLong(0)
    assert(viaDf === 1L + 1L + 3L) // "abc"→1 (HF), "abc"→1, "xyz"→3
  }

  test("graft_bpe_pairs kernel == substr/split/zip_with formulation (fuzz)") {
    // the r21 per-round hot kernel must replay the combinator chain it
    // replaced bit-for-bit, including the ugly corners: empty symbols,
    // symbols CONTAINING a single separator, astral chars, and the
    // degenerate "" empty-word wrap
    val sep = ""
    val rnd = new scala.util.Random(20260818L)
    val alphabet = Seq("a", "b", "ab", "😀", "xy", "", "cd")
    val seqs = (1 to 300).map { _ =>
      val n = rnd.nextInt(6)
      val syms = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
      sep + syms.mkString(sep + sep) + sep
    } ++ Seq("", sep, sep + sep, sep + "a" + sep)
    val df = seqs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "seq")
    val syms = split(col("seq").substr(lit(2), length(col("seq")) - 2),
      java.util.regex.Pattern.quote(sep + sep))
    val oldPairs = zip_with(
      slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      (a, b) => struct(a.as("l"), b.as("r")))
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val out = df.select(col("id"), oldPairs.as("o"),
      call_function("graft_bpe_pairs", col("seq"), lit(sep)).as("k")).collect()
    out.foreach { r =>
      val o = r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getString(0), p.getString(1)))
      val k = r.getSeq[org.apache.spark.sql.Row](2)
        .map(p => (p.getString(0), p.getString(1)))
      assert(o === k, s"seq #${r.getLong(0)}")
    }
  }

  private def tups(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    .toSeq

  // An INDEPENDENT driver-side BPE trainer (plain Scala maps/lists, no
  // Spark, no string-replace representation, a full recount each round)
  private def fuse(syms: List[String], l: String, r: String): List[String] =
    syms match {
      case a :: b :: rest if a == l && b == r => (l + r) :: fuse(rest, l, r)
      case a :: rest => a :: fuse(rest, l, r)
      case Nil => Nil
    }
  private def refTrain(freq: Seq[(String, Long)],
                       numMerges: Int): Seq[(Long, String, String, Long)] = {
    var dict = freq.map { case (w, f) => (w.map(_.toString).toList, f) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var done = false
    while (out.size < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- dict; w <- syms.sliding(2) if w.size == 2)
        counts((w.head, w(1))) = counts.getOrElse((w.head, w(1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((out.size + 1L, l, r, n))
        dict = dict.map { case (syms, f) => (fuse(syms, l, r), f) }
      }
    }
    out.toSeq
  }

  // deterministic Zipf-ish corpus over a 7-digit alphabet: word i is the
  // base-7 rendering of i+7, repeated ~240/i times — rich enough that
  // batched rounds genuinely accept multiple independent merges
  private def zipfText: String = (1 to 120).flatMap { i =>
    Seq.fill(1 + 240 / i)(java.lang.Long.toString(i.toLong + 7, 7))
  }.mkString(" ")

  test("batched rounds == sequential rounds (topK = 1), in fewer jobs") {
    import org.apache.spark.grafttest.JobCounter
    val docs = Seq((1L, zipfText)).toDF("doc_id", "text")
    val (seqOut, seqJobs) = JobCounter(spark.sparkContext)(
      tups(Quality.batchedTrain(docs, "text", numMerges = 60, topK = 1)))
    val (batOut, batJobs) = JobCounter(spark.sparkContext)(
      tups(Quality.batchedTrain(docs, "text", numMerges = 60)))
    assert(batOut === seqOut)            // bit-identical merge table
    assert(seqJobs >= seqOut.size)       // sequential: a job per merge
    assert(batJobs < seqJobs,            // batched: strictly fewer jobs
      s"batched used $batJobs jobs vs sequential $seqJobs")
    // the adversarial boundary corpus batches safely too
    val trap = Seq((1L, "xl xl xl lr lr xlr")).toDF("doc_id", "text")
    assert(tups(Quality.batchedTrain(trap, "text", numMerges = 5)) ===
      tups(Quality.batchedTrain(trap, "text", numMerges = 5, topK = 1)))
  }

  test("batched rounds: alias-prone small-alphabet corpora stay exact") {
    // A candidate pair whose concatenation spells a PRE-EXISTING symbol
    // ('aba' via (a,ba) when (ab,a) already created 'aba') would make
    // post-merge counts SUM pre-existing and created occurrences, which
    // the pre-r15 created-only bound under-counted. Under this trainer's
    // all-at-once corpus-wide merge application the alias precondition
    // appears unreachable (a 10k-corpus driver probe found zero alias
    // pairs with nonzero count — every occurrence of a symbol is created
    // at its single merge step, so a string-identical pair with a
    // different split never forms), but the acceptance bound no longer
    // RELIES on that conjecture: the batched rounds track prior merge
    // concatenations and add the aliased-pair mass into the bound.
    // This fuzz pins batched == sequential on the alias-PRONE regime
    // (tiny alphabet, small topK stressing the truncation floor)
    // against the independent reference trainer.
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(97L + seed)
      val freq = (0 until 40).map { i =>
        val w = (0 until (2 + rnd.nextInt(9)))
          .map(_ => "ab" (rnd.nextInt(2))).mkString
        w -> (1L + rnd.nextInt(50))
      }.groupBy(_._1).map { case (w, g) => w -> g.map(_._2).sum }.toSeq
      val docs = freq.zipWithIndex.map { case ((w, f), i) =>
        (i.toLong, (w + " ") * f.toInt)
      }.toDF("doc_id", "text")
      val want = refTrain(freq, 40)
      assert(tups(Quality.batchedTrain(docs, "text", numMerges = 40,
        topK = 6)) === want, s"seed=$seed")
      // the driver-side trainer must land on the same table from the
      // same alias-prone regime (heap + incremental updates vs the
      // reference's full recount each round)
      assert(tups(Quality.bpeTrain(docs, "text", numMerges = 40)) === want,
        s"driver seed=$seed")
    }
  }

  test("bpeTrain at 1024 merges == independent reference, both branches") {
    // the >= 1k-merge certification the unrolled DuckDB oracle can't
    // reach (binder depth caps it ~300 iterations; see bpeTrainDeepOracle)
    // Zipf-weighted md5-hex vocabulary: 60 distinct 32-char words over a
    // 16-symbol alphabet (1860 possible merges), word i repeated
    // 1 + 600/(i+1) times — skew makes batch rounds genuinely multi-merge
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val freq = (0 until 60).map(i => hex(i.toString) -> (1L + 600 / (i + 1)))
    val docs = freq.zipWithIndex.map { case ((w, f), i) =>
      (i.toLong, (w + " ") * f.toInt)
    }.toDF("doc_id", "text")
    val want = refTrain(freq, 1024)
    // over the cap: the batched distributed rounds
    val got = tups(Quality.trainRouted(docs, "text", numMerges = 1024,
      maxDictWords = 1))
    assert(got.size === want.size)
    assert(got === want)
    // under the cap: the driver-side trainer
    assert(tups(Quality.bpeTrain(docs, "text", numMerges = 1024)) === want)
  }

  test("bpeTrain: jobs flat in numMerges; over the cap, one word count") {
    import org.apache.spark.grafttest.JobCounter
    val sc = spark.sparkContext
    // the corpus comes from a NAMED RDD, so a stage that scans it (the
    // corpus-sized word count) is recognisable in its StageInfo
    val docs = sc.parallelize(Seq((1L, zipfText)), 2).setName("bpe-corpus")
      .toDF("doc_id", "text")
    def corpusScans(stages: Seq[org.apache.spark.scheduler.StageInfo]) =
      stages.count(_.rddInfos.exists(_.name == "bpe-corpus"))
    val seqOut = tups(Quality.batchedTrain(docs, "text", numMerges = 60,
      topK = 1))
    // (a) under the cap the merge loop runs on the driver: the job count
    // does not grow with numMerges
    val (out8, jobs8, stages8) = JobCounter.withStages(sc)(
      tups(Quality.bpeTrain(docs, "text", numMerges = 8)))
    val (out60, jobs60, _) = JobCounter.withStages(sc)(
      tups(Quality.bpeTrain(docs, "text", numMerges = 60)))
    assert(out60 === seqOut && out8 === seqOut.take(8))
    assert(jobs8 > 0 && jobs60 === jobs8, s"8 merges: $jobs8 jobs, 60: $jobs60")
    assert(corpusScans(stages8) === 1)
    // (b) over the cap (forced low) the batched rounds give the same table
    val (over, overJobs, overStages) = JobCounter.withStages(sc)(
      tups(Quality.trainRouted(docs, "text", numMerges = 60,
        maxDictWords = 3)))
    assert(over === seqOut)
    assert(overJobs > jobs60, s"over the cap: $overJobs jobs, under: $jobs60")
    // (c) ... and the corpus-sized word count still runs once
    assert(corpusScans(overStages) === 1)
    // the boundary trap (xl+r vs x+lr spellings) holds on both branches
    val trap = Seq((1L, "xl xl xl lr lr xlr")).toDF("doc_id", "text")
    val trapSeq = tups(Quality.batchedTrain(trap, "text", numMerges = 5,
      topK = 1))
    assert(tups(Quality.bpeTrain(trap, "text", numMerges = 5)) === trapSeq)
    assert(tups(Quality.trainRouted(trap, "text", numMerges = 5,
      maxDictWords = 1)) === trapSeq)
  }

  test("bpeTrain: count ties break in UTF-8 byte order, not UTF-16") {
    // U+FFFD (UTF-8 EF BF BD) vs U+1F600 (UTF-8 F0 9F 98 80): Spark's
    // UTF8String order puts U+FFFD FIRST; Java String.compareTo puts the
    // emoji's surrogates first. Two pairs tied at count 2 expose which
    // rule a trainer uses — the driver-side trainer must match the engine.
    val docs = Seq(
      (1L, "�z 😀z �z 😀z"))
      .toDF("doc_id", "text")
    val seqOut = tups(Quality.batchedTrain(docs, "text", numMerges = 2,
      topK = 1))
    assert(seqOut.head._2 === "�") // pin the engine's direction
    assert(tups(Quality.bpeTrain(docs, "text", numMerges = 2)) === seqOut)
  }

  test("bpe kernel: plan size stays O(1) at production merge counts") {
    // 30k merges through the old literal-replace chain exploded the
    // expression tree / Janino; the kernel ships the table as ONE
    // reference object — the encode of a doc must run fine at 30k
    val merges = (0 until 30000).map(i => (s"x$i", s"y$i")) ++
      Seq(("a", "a"), ("aa", "b"))
    val docs = Seq((1L, "aab aab zz")).toDF("doc_id", "text")
    val out = Quality.bpeEncode(docs, "doc_id", "text", merges).head()
    assert(out.getLong(2) === 1L + 1L + 2L) // aab -> [aab] via (a,a),(aa,b)
  }

  test("c4LineFilter: per-line rules, doc flags, NULL edges") {
    val docs = Seq(
      (1L, "This line ends properly.\nshort.\nno terminal punct here\n" +
        "Another good line stays!\ncontains javascript so it drops."),
      (2L, "lorem ipsum dolor sit amet.\nA perfectly fine line."),
      (3L, "var x = { a: 1 };\nGood line here though."),
      (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Quality.c4LineFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 5 lines; kept = the two well-formed sentences (short. has
    // < 3 words; the unpunctuated and the javascript lines drop)
    assert(out(1L).getLong(1) === 5L && out(1L).getLong(2) === 2L)
    assert(out(1L).getString(4) ===
      "This line ends properly.\nAnother good line stays!")
    assert(out(1L).getInt(3) === 0)
    // doc-level flags fire on lorem ipsum and on '{'
    assert(out(2L).getInt(3) === 1 && out(3L).getInt(3) === 1)
    // ...but line cleaning still runs on flagged docs
    assert(out(2L).getLong(2) === 2L)
    for (id <- Seq(4L, 5L)) assert(out(id).isNullAt(1) && out(id).isNullAt(4))
    assert(math.abs(out(1L).getDouble(5) - 0.4) < 1e-9)
    // EMPTY doc-flag list = doc flagging disabled (never flagged), not a
    // crash — reduce over Seq.empty threw before the foldLeft fix
    val off = Quality.c4LineFilter(docs, "doc_id", "text",
        badDocSubstrings = Seq.empty)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(Seq(1L, 2L, 3L).forall(id => off(id).getInt(3) === 0))
    assert(off(4L).isNullAt(3) && off(5L).isNullAt(3))
  }
}
