package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-corpus quality operators: benchmark decontamination and
  * repetition profiling (the Gopher-style heuristics from Rae et al. 2021,
  * "Scaling Language Models", appendix A1.1 — public paper).
  *
  * Scale notes:
  *  - Decontamination joins the corpus shingle stream against the
  *    BENCHMARK shingle set. Benchmarks (eval suites) are tiny relative
  *    to a 100 TB corpus — thousands of documents — so the benchmark side
  *    is collected into a broadcast and the corpus side never shuffles for
  *    the join; the only exchange is the per-doc hit count aggregation
  *    (map-side partial combine on an 8-byte id).
  *  - Repetition profiling is explode → two-level hash aggregation. The
  *    per-(doc, token) partial aggregates combine map-side, so the shuffle
  *    carries one row per distinct token per doc, not one per token
  *    instance. No windows, no sorts, no per-doc quadratic higher-order
  *    functions (a `transform × filter` counting loop would be O(doc²)
  *    per row and hostile to 100k-token documents).
  */
object Quality {

  /** THE tokenization of this module — every operator here (and its
    * oracle) derives from this one expression, so a change can't drift
    * one gate away from another.
    */
  private[operators] def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Distinct n-gram hashes of a text column via the codegen kernel. */
  private[operators] def ngramHashesOf(text: Column, n: Int): Column =
    call_function("graft_ngram_hashes", tokens(text), lit(n))

  /** Per-document contamination hits against a benchmark corpus: the
    * number of distinct word n-grams of each corpus doc that also appear
    * anywhere in the benchmark. Docs with no overlap are dropped (the
    * common case — emitting them would be a full-corpus output).
    *
    * This is the standard n-gram decontamination step of an LLM training
    * pipeline (remove training docs that leak eval data). The benchmark
    * shingle set is deduplicated then broadcast; disable via
    * `broadcastBenchmark = false` only if the benchmark is too large for
    * an executor broadcast (then the join shuffles both sides on the
    * 8-byte shingle hash).
    *
    * Output: (idCol, n_hits) for docs with n_hits >= minOverlap.
    */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, n: Int,
                        minOverlap: Int = 1,
                        broadcastBenchmark: Boolean = true): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    // join on the 8-byte hash of the shingle, not the string: smaller
    // broadcast, codegen'd long equality. Same collision stance as
    // ngramJaccardPairs (NearDup.scala): a 64-bit collision adds ~0
    // expected false hits at 10^9 distinct shingles. Hashes come from the
    // graft_ngram_hashes kernel (one pass, per-doc distinct, no string
    // array materialization — measured 7× over the concat_ws/transform
    // form at sf0.1), exploded OUTER so Catalyst's inferred size>0 filter
    // can't duplicate the kernel below the Generate (q26's lesson).
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    def shingleHashes(df: DataFrame, extra: Column*): DataFrame = df
      .select(extra :+ explode_outer(ngramHashesOf(col(textCol), n)).as("h"): _*)
      .filter(col("h").isNotNull)
    val benchSh = shingleHashes(benchmark).distinct()
    val bench = if (broadcastBenchmark) broadcast(benchSh) else benchSh
    shingleHashes(corpus, col(idCol).as("id"))
      .join(bench, "h")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minOverlap)
      .withColumnRenamed("id", idCol)
  }

  /** Per-document contamination SCORE — the graded companion of
    * [[contaminationHits]]' binary gate: (n_shingles, n_hits,
    * contamination = hits/shingles) for EVERY corpus document, so a
    * curation run can threshold ("drop > 20% overlap"), audit the
    * distribution, or report near-misses instead of deciding from a
    * bare flag (the n-gram-overlap decontamination measure of the
    * public LM-eval-hygiene literature). Documents too short to form a
    * single n-gram score NULL (no evidence either way), not 0.
    *
    * Scale notes: ONE corpus pass — the per-doc distinct shingle-hash
    * kernel explodes once, LEFT-joins the broadcast benchmark hash set
    * with a hit marker, and a single map-side-combined agg counts both
    * totals and hits (a totals-branch + hits-branch composition would
    * scan the corpus twice — the q119 lesson, avoided by construction).
    */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         broadcastBenchmark: Boolean = true): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val benchSh = benchmark
      .select(explode_outer(ngramHashesOf(col(textCol), n)).as("h"))
      .filter(col("h").isNotNull).distinct()
      .withColumn("__hit", lit(1L))
    val bench = if (broadcastBenchmark) broadcast(benchSh) else benchSh
    corpus
      .select(col(idCol).as("id"),
        explode_outer(ngramHashesOf(col(textCol), n)).as("h"))
      .join(bench, Seq("h"), "left")
      .groupBy("id")
      .agg(count(col("h")).as("n_shingles"),
        count(col("__hit")).as("n_hits"))
      .withColumn("contamination",
        when(col("n_shingles") > 0,
          round(col("n_hits").cast("double") / col("n_shingles"), 5)))
      .withColumnRenamed("id", idCol)
  }

  /** Unigram language-model quality score: mean natural-log probability
    * of the document's tokens under the corpus's own unigram
    * distribution, vocabulary capped at the `maxVocab` most frequent
    * tokens (ties broken by token) with out-of-vocabulary tokens taking
    * the `alpha / total` smoothing floor. The CCNet-style perplexity
    * filter's statistical stand-in when no external LM is available:
    * boilerplate and natural text score high, token soup scores low.
    *
    * Output: (idCol, n_tokens, mean_logprob); docs with zero tokens
    * (null/blank text) keep a row with a NULL score.
    *
    * Float discipline: per-token ln p is rounded to 5 dp and summed as an
    * exact decimal, so the mean is order-independent and engine-portable
    * (p itself is a ratio of exact counts — identical doubles in any
    * IEEE engine; only ln's last ulp varies, which 5 dp absorbs).
    *
    * Shuffle shape: ONE (tok) aggregation job computes the corpus total
    * AND the top-K vocabulary together (`graft_top_k_by` — bounded-heap
    * aggregate, never a full sort); both are collected at CONSTRUCTION
    * as plan constants (the same plan-time-decision class as
    * ngramJaccard's profile — at most maxVocab+1 values reach the
    * driver). The scoring pass then BROADCAST-joins the capped
    * vocabulary onto the token stream and aggregates per doc: two scans
    * of the token stream total. The vocabulary cap is what keeps the
    * join broadcastable at any corpus size — vocabulary grows
    * sublinearly but unboundedly; the tail lives in the smoothing floor.
    *
    * [[unigramVocab]] exposes the vocabulary build on its own so a model
    * trained on ONE corpus can score ANOTHER ([[scoreUnderVocab]]) — the
    * primitive behind [[mooreLewisScore]]'s cross-entropy-difference
    * data selection.
    */
  /** Gopher-style document quality gate (Rae et al. 2021 "Scaling
    * Language Models", appendix A1.1 quality rules — public paper):
    * word-count window, mean-word-length window, symbol-to-word ratio
    * cap, minimum stopword ratio. Emits the measured signals, the
    * comma-joined FAILED-rule names, and the keep verdict instead of
    * silently dropping rows — the reference's exceptions-table philosophy
    * (q45's validation engine) applied to corpus curation, so a curation
    * run can audit WHY each document died.
    *
    * Scale notes: one pure codegen projection — zero shuffles, zero UDFs,
    * zero HOFs (the fail list is `concat_ws`, which skips NULL branches,
    * not a filtered array). Thresholds compare against the 4-dp-rounded
    * signals so the emitted signal and the verdict can never disagree.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String],
                   minWords: Long = 50, maxWords: Long = 100000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1,
                   minStopRatio: Double = 0.02): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val text = col(textCol)
    val nWords = graft.functions.TextAnalysis.tokenCountWs(text).cast("long")
    val meanLen = round(length(regexp_replace(text, "\\s", "")).cast("double") /
      greatest(nWords, lit(1L)), 4)
    val symRatio = round(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
      greatest(nWords, lit(1L)), 4)
    val stopRatio = graft.functions.TextAnalysis.stopwordRatioFast(text, stopwords)
    // NULL text would NULL every signal, skip every when() branch and
    // sail through with keep=1 — the one row a quality gate must never
    // pass. An explicit first rule catches it (the other branches stay
    // NULL and concat_ws skips them, so fails = "null_text" exactly).
    val checks: Seq[(String, Column)] = Seq(
      "null_text"          -> text.isNull,
      "too_few_words"      -> (nWords < minWords),
      "too_many_words"     -> (nWords > maxWords),
      "mean_word_len_low"  -> (meanLen < minMeanLen),
      "mean_word_len_high" -> (meanLen > maxMeanLen),
      "symbol_ratio_high"  -> (symRatio > maxSymbolRatio),
      "stopword_ratio_low" -> (stopRatio < minStopRatio))
    val fails = concat_ws(",", checks.map { case (n, c) => when(c, n) }: _*)
    df.select(col(idCol), nWords.as("n_words"), meanLen.as("mean_word_len"),
      symRatio.as("symbol_ratio"), stopRatio.as("stop_ratio"),
      fails.as("fails"), (fails === "").cast("int").as("keep"))
  }

  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     maxVocab: Int = 1 << 16, alpha: Double = 1.0): DataFrame =
    scoreUnderVocab(docs, idCol, textCol,
      unigramVocab(docs, textCol, maxVocab), alpha)

  /** A capped unigram language model: the `maxVocab` most frequent tokens
    * with counts, plus the corpus token total. At most maxVocab values —
    * a plan constant, broadcastable at any corpus size.
    */
  case class UnigramVocab(top: Seq[(String, Long)], total: Long)

  /** Build the capped vocabulary of `corpus` — ONE aggregation job
    * computes the total and the top-K (bounded-heap) together; at most
    * maxVocab+1 values reach the driver.
    */
  def unigramVocab(corpus: DataFrame, textCol: String,
                   maxVocab: Int = 1 << 16): UnigramVocab =
    parseUnigramRow(unigramVocabFrame(corpus, textCol, maxVocab).head(),
      "t", "top")

  /** The ONE-ROW (t, top) frame behind [[unigramVocab]] — exposed so the
    * bigram/trigram builders can ride it in the SAME collect job as
    * their own aggregates (independent single-row aggregate frames
    * crossJoined into one action run their stages CONCURRENTLY and share
    * exchanges within the job; as separate head() calls each pays its
    * own sequential corpus pass — measured r20: q173's vocab build went
    * from 4 sequential jobs to 1).
    */
  private[graft] def unigramVocabFrame(corpus: DataFrame, textCol: String,
                                       maxVocab: Int): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    tokenStream(corpus, lit(0L), textCol).filter(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("t"),
        call_function("graft_top_k_by",
          struct(col("tok"), col("c")), col("c"), col("tok"), lit(maxVocab)).as("top"))
  }

  /** Parse a (total, top) pair out of a row BY FIELD NAME — the crossJoin
    * readers (bigramVocab/trigramVocab) resolve aliases via fieldIndex so
    * a future column reorder mis-binds loudly instead of silently
    * (adjacent heap fields share types — r20 advice).
    */
  private def parseUnigramRow(r: org.apache.spark.sql.Row,
                              tField: String, topField: String): UnigramVocab = {
    // empty/all-blank corpus: sum is NULL, top is empty — total clamps to
    // 1 and every (nonexistent) token would take the floor; no NPE
    val ti = r.fieldIndex(tField)
    val total = (if (r.isNullAt(ti)) 1L else r.getLong(ti)).max(1L)
    UnigramVocab(rowsByName(r, topField)
      .map(x => (x.getString(0), x.getLong(1))), total)
  }

  /** Seq[Row]-valued field by NAME, empty when NULL — same coupling-to-
    * aliases rationale as [[parseUnigramRow]].
    */
  private def rowsByName(r: org.apache.spark.sql.Row,
                         name: String): Seq[org.apache.spark.sql.Row] = {
    val i = r.fieldIndex(name)
    if (r.isNullAt(i)) Seq.empty else r.getSeq[org.apache.spark.sql.Row](i)
  }

  /** The (id, tok) token stream with the null/blank guard — one row per
    * token, one NULL-token row for empty docs so they keep a result row.
    */
  private def tokenStream(docs: DataFrame, id: Column, textCol: String): DataFrame = {
    val toksArr = when(col(textCol).isNull || length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(tokens(col(textCol)))
    docs.select(id.as("id"), explode_outer(toksArr).as("tok"))
  }

  /** The token → 5-dp ln-p table of `v` in exact 1e-5 micro-units, plus
    * the OOV floor — the `graft_vocab_lnp` kernel's plan constant.
    * `BigDecimal(x).setScale(5, HALF_UP)` is the precise code path
    * Spark's `round(col, 5)` runs on doubles, so these driver-side
    * values are bit-identical to what the old per-token expression
    * produced; `movePointRight(5).longValueExact` extracts the integer
    * micro count with no float step at all.
    */
  private def lnpMicros(v: UnigramVocab,
                        alpha: Double): (Seq[(String, Long)], Long) = {
    def micro(x: Double): Long =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.movePointRight(5).longValueExact
    (v.top.map { case (t, c) =>
      t -> micro(math.log(c.toDouble / v.total.toDouble)) },
      micro(math.log(alpha / v.total.toDouble)))
  }

  /** The guarded token array (empty for NULL/blank docs) every kernel
    * scorer feeds from — same rule as [[tokenStream]].
    */
  private def tokensGuarded(textCol: String): Column =
    when(col(textCol).isNull || length(trim(col(textCol))) === 0,
      array().cast("array<string>"))
      .otherwise(tokens(col(textCol)))

  /** Score `docs` under an EXTERNALLY-built vocabulary — the corpus that
    * trained the model need not be the corpus being scored.
    *
    * Scale notes: a PURE zero-shuffle projection. The old form exploded
    * the token stream, broadcast-joined the vocabulary, and re-grouped
    * by doc — a full token-stream exchange whose only purpose was the
    * per-doc mean. The `graft_vocab_lnp` kernel computes (n_tokens,
    * exact micro-unit lnp sum) in one pass per row with the vocabulary
    * shipped once per plan, and the micro sum / 1e5 is the identical
    * double the decimal(18,5) sum produced (every 5-dp value is an
    * exact multiple of 1e-5) — oracle-pinned across q65/q81/q89.
    */
  def scoreUnderVocab(docs: DataFrame, idCol: String, textCol: String,
                      v: UnigramVocab, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val (entries, floor) = lnpMicros(v, alpha)
    val k = call_function("graft_vocab_lnp", tokensGuarded(textCol),
      lit(graft.functions.GraftFunctions.encodeVocabLnp(entries)),
      lit(floor.toString))
    // let-binding rule: one kernel evaluation feeds n and the mean
    val packed = transform(array(k), kk => struct(
      element_at(kk, 1).as("n_tokens"),
      when(element_at(kk, 1) > 0,
        (element_at(kk, 2).cast("double") / lit(100000.0)) / element_at(kk, 1))
        .as("mean_logprob"))).getItem(0)
    docs.select(col(idCol), packed.as("__s"))
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        col("__s.mean_logprob").as("mean_logprob"))
  }

  /** Moore-Lewis data selection score (Moore & Lewis 2010, "Intelligent
    * Selection of Language Model Training Data" — public paper): the
    * cross-entropy DIFFERENCE of each document under an in-domain LM vs
    * a general LM, here with the capped-unigram models of
    * [[unigramVocab]]. `ml_score` = mean ln p_in − mean ln p_gen:
    * HIGHER ⇒ the doc looks more like the in-domain corpus than the
    * general one — the standard cheap filter for mining domain-relevant
    * training data out of a web-scale pool. Use it as a RANKING (top-N
    * or a threshold swept on held-out data, as the paper does): the
    * absolute sign shifts with the two corpora's totals, because the
    * OOV floor alpha/total is generous when the in-domain corpus is
    * small.
    *
    * Scale notes: a PURE zero-shuffle projection — one tokenization, two
    * `graft_vocab_lnp` kernel passes over the same token array (both
    * capped vocabularies ride the plan as single reference objects),
    * identical per-value arithmetic to the old broadcast-join + decimal
    * sum pipeline (see [[scoreUnderVocab]]).
    */
  def mooreLewisScore(docs: DataFrame, idCol: String, textCol: String,
                      inDomain: UnigramVocab, general: UnigramVocab,
                      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val (entIn, floorIn) = lnpMicros(inDomain, alpha)
    val (entGen, floorGen) = lnpMicros(general, alpha)
    def kernel(toks: Column, entries: Seq[(String, Long)], floor: Long) =
      call_function("graft_vocab_lnp", toks,
        lit(graft.functions.GraftFunctions.encodeVocabLnp(entries)),
        lit(floor.toString))
    def meanOf(kk: Column): Column =
      when(element_at(kk, 1) > 0,
        (element_at(kk, 2).cast("double") / lit(100000.0)) / element_at(kk, 1))
    // let-binding rule: tokenize once, evaluate each kernel once
    val packed = transform(array(tokensGuarded(textCol)), toks =>
      transform(array(struct(
          kernel(toks, entIn, floorIn).as("a"),
          kernel(toks, entGen, floorGen).as("b"))), p => struct(
        element_at(p.getField("a"), 1).as("n_tokens"),
        meanOf(p.getField("a")).as("mean_logprob_in"),
        meanOf(p.getField("b")).as("mean_logprob_gen"))).getItem(0))
      .getItem(0)
    docs.select(col(idCol), packed.as("__s"))
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        col("__s.mean_logprob_in").as("mean_logprob_in"),
        col("__s.mean_logprob_gen").as("mean_logprob_gen"))
      .withColumn("ml_score",
        col("mean_logprob_in") - col("mean_logprob_gen"))
  }

  /** C4-style LINE-level cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2 — public paper): keep only lines that end in
    * terminal punctuation, carry at least `minWordsPerLine` words, and
    * contain none of `badLineSubstrings` (the "javascript" rule); flag
    * whole documents containing any of `badDocSubstrings` ("lorem
    * ipsum", "{" — C4 drops those docs outright). Output: (idCol,
    * n_lines, n_kept, kept_ratio, doc_flagged, clean_text) — the caller
    * filters on the flag and ratio; NULL/blank docs keep NULL stats.
    *
    * Scale notes: a PURE projection — split / higher-order filter /
    * re-join on each row, zero shuffles, zero UDFs, streaming-safe; the
    * substring lists ride the plan as literals.
    */
  def c4LineFilter(docs: DataFrame, idCol: String, textCol: String,
                   minWordsPerLine: Int = 3,
                   badLineSubstrings: Seq[String] = Seq("javascript"),
                   badDocSubstrings: Seq[String] = Seq("lorem ipsum", "{"))
      : DataFrame = {
    require(minWordsPerLine >= 1,
      s"minWordsPerLine must be >= 1, got $minWordsPerLine")
    def lineOk(l: Column): Column = {
      val tl = trim(l)
      val base = tl.rlike("[.!?\"]$") &&
        size(split(tl, "\\s+")) >= minWordsPerLine
      badLineSubstrings.foldLeft(base)((acc, b) =>
        acc && !contains(lower(l), lit(b)))
    }
    // let-binding rule: `kept` feeds two outputs (count + re-join) — a
    // bare val would run the per-line rule filter twice per row
    val stats = transform(array(split(col(textCol), "\n")), lines =>
      transform(array(filter(lines, lineOk _)), kept =>
        struct(size(lines).cast("long").as("n_lines"),
          size(kept).cast("long").as("n_kept"),
          array_join(kept, "\n").as("clean_text"))).getItem(0)).getItem(0)
    // foldLeft, not reduce: an EMPTY doc-flag list (the natural way to
    // disable doc-level flagging) must mean "never flagged", not throw
    val flagged = badDocSubstrings
      .map(b => contains(lower(col(textCol)), lit(b)))
      .foldLeft(lit(false))(_ || _)
    val empty = col(textCol).isNull || length(trim(col(textCol))) === 0
    docs.select(col(idCol),
        when(empty, lit(null).cast("struct<n_lines:bigint,n_kept:bigint,clean_text:string>"))
          .otherwise(stats).as("__s"),
        when(empty, lit(null).cast("int"))
          .otherwise(flagged.cast("int")).as("doc_flagged"))
      .select(col(idCol), col("__s.n_lines").as("n_lines"),
        col("__s.n_kept").as("n_kept"), col("doc_flagged"),
        col("__s.clean_text").as("clean_text"))
      .withColumn("kept_ratio",
        when(col("n_lines") > 0,
          round(col("n_kept").cast("double") / col("n_lines"), 5)))
  }

  /** Per-document code-point entropy profile: (idCol, n_cp,
    * n_distinct_cp, char_entropy) — Shannon entropy of the character
    * distribution in nats. The cheap gibberish / boilerplate signal that
    * complements token-level [[repetitionProfile]]: keyboard mash scores
    * HIGH (near-uniform characters), repeated filler scores LOW; natural
    * prose sits in a band between (gate on both tails). NULL text and
    * empty text keep NULL stats (failed extractions stay visible).
    *
    * Scale notes: ONE codegen kernel call per row (`graft_char_entropy`
    * — a single pass over the code points with exact micro-unit terms,
    * order-independent and DuckDB-replayed), zero shuffles, zero UDFs;
    * streaming-safe projection.
    */
  def charEntropyProfile(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val k = call_function("graft_char_entropy", col(textCol))
    val empty = col(textCol).isNull || length(col(textCol)) === 0
    docs.select(col(idCol),
      when(col(textCol).isNull, lit(null).cast("long"))
        .otherwise(length(col(textCol)).cast("long")).as("n_cp"),
      when(empty, lit(null).cast("long"))
        .otherwise(element_at(k, 2)).as("n_distinct_cp"),
      when(empty, lit(null).cast("double"))
        .otherwise(element_at(k, 1).cast("double") / 100000.0)
        .as("char_entropy"))
  }

  /** zlib compression profile per document — the Gopher/Dolma-family
    * boilerplate/gibberish signal next to [[charEntropyProfile]]:
    * (idCol, n_bytes, zlib_bytes, zlib_ratio, zlib_flag) where ratio =
    * zlib/raw at a fixed deflate level and the flag buckets the two
    * failure tails — 'repetitive' (ratio < loCut: machine-repeated
    * boilerplate compresses away) and 'incompressible' (ratio > hiCut:
    * random-ish gibberish/encoded blobs), 'ok' between. NULL text keeps
    * NULL measurements, empty text flags 'repetitive' at ratio 0 (zero
    * information). A pure one-kernel projection — zero shuffles,
    * streaming-safe. SPEC-pinned, not oracled: an external SQL engine
    * cannot replay deflate (the HLL-sketch precedent) — ZlibSpec pins
    * the reference recompute, tail ordering, determinism, and null
    * shape instead.
    */
  def compressionProfile(docs: DataFrame, idCol: String, textCol: String,
                         level: Int = 6, loCut: Double = 0.30,
                         hiCut: Double = 0.95): DataFrame = {
    require(level >= 1 && level <= 9, s"deflate level must be 1..9, got $level")
    require(loCut > 0 && loCut < hiCut,
      s"cuts must satisfy 0 < loCut < hiCut, got $loCut/$hiCut")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // let-binding rule: ONE kernel evaluation feeds every output column
    val packed = transform(array(
        call_function("graft_zlib_lens", col(textCol), lit(level))), k =>
      struct(element_at(k, 1).as("n_bytes"),
        element_at(k, 2).as("zlib_bytes"),
        // two whens, no otherwise: NULL text must keep a NULL ratio
        // (when's null condition falls through to the implicit NULL)
        when(element_at(k, 1) > 0,
          element_at(k, 2).cast("double") / element_at(k, 1).cast("double"))
          .when(element_at(k, 1) === 0, lit(0.0)).as("zlib_ratio"))).getItem(0)
    docs.select(col(idCol), packed.as("__z"))
      .select(col(idCol), col("__z.n_bytes").as("n_bytes"),
        col("__z.zlib_bytes").as("zlib_bytes"),
        col("__z.zlib_ratio").as("zlib_ratio"),
        when(col("__z.n_bytes").isNull, lit(null).cast("string"))
          .when(col("__z.zlib_ratio") < loCut, lit("repetitive"))
          .when(col("__z.zlib_ratio") > hiCut, lit("incompressible"))
          .otherwise(lit("ok")).as("zlib_flag"))
  }

  /** Corpus-wide adjacent-character pair counts — the merge-selection
    * statistic of BPE tokenizer training (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units" — public
    * paper): the top-`topK` (pair, Σ occurrences) table a trainer picks
    * its next merge from. One row per ranked pair:
    * (rank, pair, n_occurrences), rank by (count desc, pair asc) so both
    * engines agree on ties.
    *
    * COLLAPSE-FIRST like every content-keyed operator: pair counting
    * runs over the DISTINCT-WORD frequency dictionary (exactly how
    * reference BPE trainers structure the count — word "the" appearing
    * 10⁹ times contributes its pairs once, weighted by frequency), so
    * the char-pair explode is bounded by vocabulary size, not corpus
    * size. Repeated pairs WITHIN a word count per occurrence ("aaa" →
    * "aa" twice). Scale shape: one word-count shuffle (map-side
    * combined), one pair-sum shuffle over the vocab-sized dictionary, a
    * bounded-heap top-K — only topK rows reach the driver side of the
    * plan.
    */
  def bpePairCounts(docs: DataFrame, textCol: String,
                    topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val words = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    // regexp_extract_all('.') iterates CODE POINTS in both Spark (Java
    // regex matches supplementary chars whole) and DuckDB (RE2) — a
    // split-by-empty would cut astral chars into surrogate halves
    val chars = regexp_extract_all(col("w"), lit("(?s)."), lit(0))
    val pairs = zip_with(
      slice(chars, lit(1), greatest(size(chars) - 1, lit(0))),
      slice(chars, lit(2), greatest(size(chars) - 1, lit(0))),
      (a, b) => concat(a, b))
    val counted = words.select(explode(pairs).as("pair"), col("f"))
      .groupBy("pair").agg(sum("f").as("n"))
    counted.agg(call_function("graft_top_k_by",
        struct(col("pair"), col("n")), col("n"), col("pair"), lit(topK)).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.pair").as("pair"), col("col.n").as("n_occurrences"))
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016): run `numMerges`
    * greedy merge iterations over the corpus and return the learned
    * merge table — one row per merge:
    * (merge_rank, left, right, n_occurrences), the artifact a tokenizer
    * ships. Each iteration picks the most frequent adjacent symbol pair
    * (ties by (left, right) in UTF-8 byte order, so engines agree) and
    * fuses it everywhere as one greedy left-to-right non-overlapping
    * pass per word ("aaa" under merge (a,a) → "aa"+"a"). Stops early
    * (fewer rows) if the corpus runs out of pairs.
    *
    * Scale shape: ONE corpus-sized word-count job collapses the corpus
    * to the distinct-word frequency dictionary ([[wordDict]]), and the
    * landed dictionary's statistics carry its exact row count, so
    * routing costs no job. A dictionary of at most [[DictCap]] words
    * crosses to the driver and the whole merge loop runs in
    * [[trainDict]]: the job count does not grow with `numMerges`. The
    * r15 probe (bpe_scale_r15.json) is why: 30 000 merges over a 60 k-
    * word Zipf vocabulary took 15.1 s on the driver against 3,626 s of
    * batched distributed rounds (16,876 count rounds, avg batch 1.78 —
    * Zipf count plateaus tie with the truncation floor, where the
    * exactness rule must stop). Budget ~1 KB of driver heap per
    * dictionary word (symbol buffers + the inverted pair→words index),
    * so the 4 M cap needs a ~4-6 GB driver. A larger dictionary stays
    * distributed and runs [[batchedRounds]] on the same landed frame,
    * so either branch counts the corpus once. Both branches emit the
    * same table (spec-pinned against an independent reference trainer;
    * q145's DuckDB oracle replays the sequential trainer, q142's
    * certifies the batched rounds at 128 merges).
    */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int): DataFrame =
    trainRouted(docs, textCol, numMerges, DictCap)

  /** [[bpeTrain]] with the driver cap as an argument, so a spec can
    * force the over-cap branch on a small corpus.
    */
  private[graft] def trainRouted(docs: DataFrame, textCol: String,
      numMerges: Int, maxDictWords: Long): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val (dict, words) = wordDict(docs, textCol)
    val merges =
      if (words <= maxDictWords) trainDict(dictRows(dict), numMerges)
      else batchedRounds(dict, numMerges, BatchTopK)
    mergeTableFrame(docs.sparkSession, merges)
  }

  /** [[batchedRounds]] straight from the corpus, whatever the
    * dictionary size. q142 runs it so that its DuckDB oracle, which
    * replays the strictly sequential trainer, certifies the batched
    * rounds at depth; specs run it with `topK = 1` as the sequential
    * reference (one merge per round).
    */
  private[graft] def batchedTrain(docs: DataFrame, textCol: String,
      numMerges: Int, topK: Int = BatchTopK): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    mergeTableFrame(docs.sparkSession,
      batchedRounds(wordDict(docs, textCol)._1, numMerges, topK))
  }

  /** Driver cap, in rows, on a collected word dictionary: BPE trains on
    * the driver at or below it, the unigram trainer fails fast above it.
    */
  private[operators] val DictCap = 4000000L

  /** Symbol separator of the batched rounds' sequence strings. */
  private val Sep = "\u001f"

  /** Pair-table rows each batched round fetches. */
  private val BatchTopK = 512

  /** The distributed merge loop over a landed (w, f) dictionary, with
    * BATCHED merge selection: each round runs ONE pair-count job,
    * fetches the top-`topK` pairs, and accepts the longest prefix of
    * candidates that is PROVABLY what the sequential trainer would pick
    * — so the merge table is bit-identical to [[trainDict]]'s while the
    * driver round-trip count drops from one job per merge to one job
    * per BATCH.
    *
    * Representation: each distinct word is a SEPARATOR-WRAPPED symbol
    * sequence string `␟s1␟␟s2␟␟s3␟` (every symbol enclosed in [[Sep]],
    * so boundaries between symbols are `sep·sep` and the edges carry one
    * `sep` each); a merge is one
    * `replace(seq, sep+l+sep+sep+r+sep, sep+l+r+sep)` — a left-to-right
    * non-overlapping string replace, which IS BPE's greedy within-word
    * merge order, and is bit-identical in any SQL engine (the whole
    * trainer is DuckDB-replayed by unrolled CTEs). Because the key
    * anchors BOTH symbols at `sep` boundaries, a merge can never fuse
    * across a symbol boundary even when one symbol's string is a
    * suffix/prefix of another's (word "aba" under merges (a,b),(b,a)
    * stays ["ab","a"] — a bare `l+sep+r` key would match the "b␟a"
    * inside "ab␟a" and fuse the whole word). Every round is
    * VOCABULARY-bounded: a pair-count aggregation over the dictionary
    * and a codegen replace projection per accepted merge; the driver
    * holds only the round's top-K pair table, and an `Iterative.cut`
    * every 8 merges cuts the replace-chain lineage.
    *
    * Exactness argument (why a batch prefix is safe). Candidates are
    * scanned in the engine-portable order (n DESC, l, r). Candidate `c`
    * joins the batch after accepted set `A` only if BOTH hold:
    *  1. SYMBOL-DISJOINT: {l, r, l+r} of c shares nothing with {l, r,
    *     l+r} of any a in A. Then applying A neither destroys nor
    *     creates occurrences of c (destroyed pairs touch an a-symbol;
    *     created pairs contain the concatenated a-symbol — including
    *     the case where a pre-existing symbol spells the same string,
    *     which the l+r term catches), so c's count and rank stay exact.
    *  2. NO CREATED PAIR CAN OUTRANK c: a merge a=(l,r) creates only
    *     pairs (x, lr) — at most count(x, l) occurrences each — and
    *     (lr, y) — at most count(r, y). So the max over the fetched
    *     table of {n_q : q.right = l or q.left = r}, capped at n_a and
    *     floored by the (topK+1)-th count when the table was truncated
    *     (an unseen pair can't exceed it), bounds every created pair's
    *     count. When a symbol spelled l+r ALREADY EXISTS in the dict
    *     (it must be a previous merge's concatenation — tracked exactly
    *     on the driver), a created pair like (lr, y) is string-identical
    *     to a pre-existing pair on the aliased symbol and their counts
    *     SUM, so the bound adds the max count of any fetched pair whose
    *     l or r equals l+r (floored by the truncation floor for unseen
    *     aliased pairs). Require the bound STRICTLY below n_c (a tie
    *     could re-order under the lexicographic rule). For an l=r merge
    *     the scan picks up `a` itself (bound n_a >= n_c), so a
    *     run-parity merge always closes its batch — conservative and
    *     automatic.
    * The scan STOPS at the first rejected candidate (never skips): a
    * candidate ranked above c that conflicts with A would make every
    * later acceptance unsound, because sequential might re-rank it
    * after applying A. Decreased pairs need no check — any pair ranked
    * above c is in A by construction, and pairs below c only decrease.
    */
  private def batchedRounds(words: DataFrame, numMerges: Int,
      topK: Int): Seq[(Long, String, String, Long)] = {
    val spark = words.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // Right-size the landed dictionary the way phashDedup sizes its
    // signature leaf: the vocabulary-bounded frame materializes with the
    // word-count aggregation's shuffle-partition count, and EVERY merge
    // round's pair-count job (plus each periodic re-checkpoint) then
    // schedules that many tasks over what is usually a few-hundred-KB
    // dictionary — measured q142 at sf0.1: ~65 rounds × 32 tasks over 500
    // rows, ~16 s of pure task overhead. The cut carries EXACT
    // statistics, so the coalesce target derives from real size vs the
    // session's advisory partition size (scale-adaptive: a 1e9-word dict
    // keeps hundreds of partitions); the narrowed count propagates through
    // the re-checkpoints because replace is a narrow projection.
    val sized = {
      val advisory = math.max(1L, spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      val stats = words.queryExecution.analyzed.stats
      val target = ((stats.sizeInBytes + advisory - 1) / advisory)
        .max(1).min(10000).toInt
      if (target < words.rdd.getNumPartitions) words.coalesce(target) else words
    }
    var dict = sized.select(concat(lit(Sep),
        array_join(regexp_extract_all(col("w"), lit("(?s)."), lit(0)), Sep + Sep),
        lit(Sep)).as("seq"), col("f"))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var sinceCheckpoint = 0
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      // adjacent symbol pairs in ONE codegen'd kernel call per word —
      // replaces the substr/split/zip_with/slice combinator chain, which
      // ran INTERPRETED per row (zip_with/slice are CodegenFallback
      // higher-order functions) and Pattern.compiled the split regex per
      // row: measured r21 ~150 ms task CPU per merge round over the
      // 500-word q142 dict (~10 s of its 16 s). Semantics fuzz-pinned
      // equal to the old formulation in QualitySpec.
      val pairs = call_function("graft_bpe_pairs", col("seq"), lit(Sep))
      // global top-(K+1) over the VOCAB-bounded pair table: orderBy+limit
      // is a TakeOrderedAndProject (no full sort materialization), and
      // the (n desc, l, r) tuple order is the engine-portable tie rule;
      // the +1 sentinel row detects truncation (and floors unseen counts)
      // NOTE (r21 probe): AQE stays ON here. It does split every round
      // into two driver jobs (shuffle-stage job + result job — 148 vs 82
      // jobs over q142's 65 rounds), but scoping adaptive.enabled=false
      // around this collect measured NO win once the pair kernel landed
      // (10.51 → 10.62 s isolated) — the second job is ~13 ms and the
      // non-AQE single job pays the same stages.
      val table = dict.select(explode(pairs).as("p"), col("f"))
        .groupBy("p").agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("p.l"), col("p.r"))
        .limit(topK + 1).collect()
        .map(r => (r.getStruct(0).getString(0), r.getStruct(0).getString(1),
          r.getLong(1)))
      if (table.isEmpty) exhausted = true
      else {
        val floor = if (table.length > topK) table(topK)._3 else 0L
        val considered = table.take(topK)
        // Symbols spelled like a candidate's concatenation can PRE-EXIST:
        // every multi-char symbol in the dict is the concatenation of an
        // earlier accepted merge (single-char symbols can't alias an l+r
        // of length >= 2), so the driver knows the exact alias universe.
        // When merge a's l+r aliases such a symbol, the post-merge count
        // of a pair like (lr, y) is the SUM of its pre-existing
        // occurrences (the string-identical pair on the aliased symbol)
        // and the newly created ones — bounding only the created part
        // would under-count and break the bit-identical contract.
        val priorConcat: Set[String] =
          merges.iterator.map(m => m._2 + m._3).toSet
        // tightest provable bound on the post-batch count of any pair
        // CREATED (or alias-boosted) by accepted merge a
        def createdBound(a: (String, String, Long)): Long = {
          val adj = considered.iterator
            .filter(q => q._2 == a._1 || q._1 == a._2).map(_._3)
            .foldLeft(floor)(math.max)
          val created = math.min(a._3, adj)
          val concat = a._1 + a._2
          if (!priorConcat.contains(concat)) created
          else {
            // pre-existing occurrences of a pair whose l or r is the
            // aliased symbol: its table count if seen, else <= floor
            val aliasedPre = considered.iterator
              .filter(q => q._1 == concat || q._2 == concat).map(_._3)
              .foldLeft(floor)(math.max)
            created + aliasedPre
          }
        }
        val accepted = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var stop = false
        var i = 0
        while (!stop && i < considered.length &&
            merges.size + accepted.size < numMerges) {
          val c = considered(i)
          val cSyms = Set(c._1, c._2, c._1 + c._2)
          val ok = accepted.isEmpty || accepted.forall { a =>
            Set(a._1, a._2, a._1 + a._2).intersect(cSyms).isEmpty &&
              createdBound(a) < c._3
          }
          if (ok) accepted += c else stop = true
          i += 1
        }
        accepted.foreach { case (l, r, n) =>
          merges += ((merges.size + 1L, l, r, n))
          dict = dict.select(
            org.apache.spark.sql.functions.replace(col("seq"),
              lit(Sep + l + Sep + Sep + r + Sep),
              lit(Sep + l + r + Sep)).as("seq"), col("f"))
        }
        sinceCheckpoint += accepted.size
        if (sinceCheckpoint >= 8) {
          dict = dict.transform(graft.plans.Iterative.cut)
          sinceCheckpoint = 0
        }
      }
    }
    merges.toSeq
  }

  /** The (merge_rank, left, right, n_occurrences) result frame every
    * trainer entry point emits.
    */
  private def mergeTableFrame(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(Long, String, String, Long)]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("merge_rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("left",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("right",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_occurrences",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(merges.map {
      case (mr, l, r, n) => org.apache.spark.sql.Row(mr, l, r, n)
    }: _*), schema)
  }

  /** Spark's string ordering for the tie rule: unsigned UTF-8 byte
    * comparison (`UTF8String.compareTo`). Java's `String.compareTo` is
    * UTF-16 code-UNIT order, which DISAGREES above the BMP (a
    * supplementary character's surrogates sort below U+E000..U+FFFF),
    * so a driver-side trainer that used it would pick a different merge
    * than the distributed trainer on a count tie between, e.g., U+FFFD
    * and an emoji — spec-pinned in QualitySpec.
    */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The exact sequential BPE training loop over an in-memory word
    * dictionary — every semantics choice mirrors the distributed
    * trainer bit-for-bit (spec-pinned against [[bpeTrain]] and the
    * independent reference trainer): adjacent pairs counted
    * OVERLAPPING ("aaa" holds (a,a) twice), selection by (count desc,
    * left, right) under UTF-8 byte order, application as ONE
    * left-to-right non-overlapping fuse pass per word, reported
    * n_occurrences = the global count at selection time.
    *
    * Cost shape: a lazy max-heap over pair counts (stale entries are
    * dropped on pop; every count change pushes a fresh entry) plus an
    * inverted pair→words index, so each merge touches only the words
    * that actually contain its pair — the classic single-node trainer,
    * O(touched symbols) per merge, no quadratic rescans.
    */
  private[graft] def trainDict(freq: IndexedSeq[(String, Long)],
      numMerges: Int): Seq[(Long, String, String, Long)] = {
    final case class PE(l: String, r: String, n: Long)
    val cmp = new java.util.Comparator[PE] {
      def compare(a: PE, b: PE): Int = {
        if (a.n != b.n) return java.lang.Long.compare(b.n, a.n)
        val c = utf8Cmp(a.l, b.l)
        if (c != 0) c else utf8Cmp(a.r, b.r)
      }
    }
    val syms = new Array[scala.collection.mutable.ArrayBuffer[String]](freq.length)
    val f = new Array[Long](freq.length)
    val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val members = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
    var wi = 0
    while (wi < freq.length) {
      val (w, fw) = freq(wi)
      // one symbol per CODE POINT (the distributed trainer splits with a
      // DOTALL regex "."), not per UTF-16 char — a surrogate pair is one
      // symbol there and must be one symbol here
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      var ci = 0
      while (ci < w.length) {
        val cp = w.codePointAt(ci)
        val n = Character.charCount(cp)
        b += w.substring(ci, ci + n)
        ci += n
      }
      syms(wi) = b; f(wi) = fw
      var i = 0
      while (i < b.length - 1) {
        val p = (b(i), b(i + 1))
        cnt.update(p, cnt.getOrElse(p, 0L) + fw)
        members.getOrElseUpdate(p,
          scala.collection.mutable.HashSet.empty[Int]) += wi
        i += 1
      }
      wi += 1
    }
    val pq = new java.util.PriorityQueue[PE](math.max(cnt.size, 16), cmp)
    cnt.foreach { case ((l, r), n) => pq.add(PE(l, r, n)) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    val localOld = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val localNew = scala.collection.mutable.HashMap.empty[(String, String), Long]
    while (out.size < numMerges && !pq.isEmpty) {
      val top = pq.poll()
      if (cnt.get((top.l, top.r)).contains(top.n)) {
        val (l, r, n) = (top.l, top.r, top.n)
        out += ((out.size + 1L, l, r, n))
        val lr = l + r
        val touched = members.getOrElse((l, r),
          scala.collection.mutable.HashSet.empty[Int]).toArray
        java.util.Arrays.sort(touched) // deterministic walk (not required
        // for correctness — global counts are order-free — but keeps any
        // future debugging reproducible)
        var ti = 0
        while (ti < touched.length) {
          val w = touched(ti)
          val s = syms(w)
          localOld.clear(); localNew.clear()
          var i = 0
          while (i < s.length - 1) {
            val p = (s(i), s(i + 1))
            localOld.update(p, localOld.getOrElse(p, 0L) + 1L)
            i += 1
          }
          val ns = scala.collection.mutable.ArrayBuffer.empty[String]
          i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
              ns += lr; i += 2
            } else { ns += s(i); i += 1 }
          }
          syms(w) = ns
          i = 0
          while (i < ns.length - 1) {
            val p = (ns(i), ns(i + 1))
            localNew.update(p, localNew.getOrElse(p, 0L) + 1L)
            i += 1
          }
          (localOld.keySet ++ localNew.keySet).foreach { p =>
            val o = localOld.getOrElse(p, 0L)
            val nw = localNew.getOrElse(p, 0L)
            if (o != nw) {
              val updated = cnt.getOrElse(p, 0L) + (nw - o) * f(w)
              if (updated <= 0L) cnt.remove(p)
              else { cnt.update(p, updated); pq.add(PE(p._1, p._2, updated)) }
            }
            if (o > 0L && nw == 0L) members.get(p).foreach(_ -= w)
            else if (o == 0L && nw > 0L)
              members.getOrElseUpdate(p,
                scala.collection.mutable.HashSet.empty[Int]) += w
          }
          ti += 1
        }
        members.remove((l, r))
      }
    }
    out.toSeq
  }

  /** The trainers' shared corpus collapse: ONE corpus-sized job lands
    * the distinct-word frequency dictionary (w, f) as a cut, returned
    * with its exact row count — which the cut's statistics carry, so
    * sizing the dictionary costs no second job.
    */
  private[operators] def wordDict(docs: DataFrame,
      textCol: String): (DataFrame, Long) = {
    val dict = graft.plans.Iterative.cut(docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f")))
    (dict, dict.queryExecution.analyzed.stats.rowCount.get.toLong)
  }

  /** A landed [[wordDict]] on the driver; check its row count against
    * [[DictCap]] first.
    */
  private[operators] def dictRows(dict: DataFrame): IndexedSeq[(String, Long)] =
    dict.collect().map(r => (r.getString(0), r.getLong(1))).toIndexedSeq

  /** BPE ENCODE under a learned merge table ([[bpeTrain]]'s output):
    * per-document token counts under the REAL tokenizer — the number a
    * token-budget cut or packing plan should use instead of the
    * whitespace proxy. Output: (idCol, n_tokens_ws, n_bpe_tokens,
    * bpe_per_word = round5(bpe/ws)); NULL/blank docs keep NULL stats.
    *
    * Scale notes: a PURE codegen projection — the merge table ships ONCE
    * per plan as a single `graft_bpe_count` kernel constant (a rank map,
    * NOT one expression node per merge, so plan size and Janino compile
    * time stay O(1) at a production tokenizer's 30k-50k merges) and each
    * word runs the sequential-by-rank greedy symbol-list fuse
    * ([[graft.functions.TextKernels.BpeKernel]] — the exact semantics
    * [[bpeTrain]]'s boundary-anchored replace applies, spec-pinned
    * against the fold and fuzzed against a reference implementation), so
    * encoding is zero-shuffle, streaming-safe, and embarrassingly
    * parallel at any corpus size.
    *
    * MERGE-TABLE CONTRACT: by default `merges` must be a TRAINING-ORDER
    * table with fold semantics — each merge is applied corpus-wide in
    * rank order, exactly what [[bpeTrain]] emits. The
    * kernel's fuse loop exploits the monotone rank floor that
    * training-order tables guarantee (a merge never becomes newly
    * applicable at a rank below one already passed). For an ARBITRARY
    * externally-supplied table (e.g. an HF-style tokenizer's merges.txt,
    * where encode re-scans for the lowest-ranked applicable pair after
    * every application and a later-created symbol can re-enable an
    * earlier rank) pass `hfCompat = true`: the kernel drops the floor and
    * runs the HF/GPT-2 reference loop, so foreign tables count correctly
    * (fuzz-pinned against an independent reference encoder; on
    * training-order tables the two modes are spec-pinned EQUAL, which is
    * why the cheaper fold stays the default).
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)],
                keepCols: Seq[String] = Nil,
                hfCompat: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val enc = graft.functions.GraftFunctions.encodeMerges(merges)
    val perWord: Column => Column = w =>
      if (hfCompat) call_function("graft_bpe_count", w, lit(enc), lit(1))
      else call_function("graft_bpe_count", w, lit(enc))
    val empty = col(textCol).isNull || length(trim(col(textCol))) === 0
    val counts = transform(tokens(col(textCol)), perWord)
    docs.select(col(idCol) +: keepCols.map(col) :+
      when(empty, lit(null).cast("long"))
        .otherwise(size(tokens(col(textCol))).cast("long")).as("n_tokens_ws") :+
      when(empty, lit(null).cast("long"))
        .otherwise(aggregate(counts, lit(0L), (a, x) => a + x.cast("long")))
        .as("n_bpe_tokens"): _*)
      .withColumn("bpe_per_word",
        round(col("n_bpe_tokens").cast("double") / col("n_tokens_ws"), 5))
  }

  /** Tokenizer fertility census per stratum (language/source) under the
    * REAL trained tokenizer: tokens-per-word (fertility) and
    * chars-per-token (compression) are THE mixture-design inputs that a
    * whitespace proxy gets wrong for non-Latin scripts and code — a
    * token budget split by whitespace counts over-allocates exactly the
    * strata the tokenizer fragments most (Rust/Ács fertility metric
    * from the multilingual-BPE literature).
    *
    * Scale notes: [[bpeEncode]] is a zero-shuffle kernel projection
    * (merge table ships once per plan), so the census adds ONE hash
    * aggregation on the stratum key — exact integer sums; the two
    * ratios derive from them in deterministic double arithmetic.
    * Null/blank docs carry no tokens and are excluded (fertility is
    * undefined on empty docs).
    */
  def tokenizerFertility(docs: DataFrame, textCol: String, stratumCol: String,
                         merges: Seq[(String, String)],
                         charCountCol: String): DataFrame =
    bpeEncode(docs, stratumCol, textCol, merges, keepCols = Seq(charCountCol))
      .filter(col("n_tokens_ws").isNotNull)
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens_ws")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(col(charCountCol)).as("n_chars"))
      .select(col(stratumCol), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        (col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))

  /** A capped BIGRAM language model: the `maxBigrams` most frequent
    * (prev, tok) pairs with counts, the per-first-token continuation
    * totals (top `maxVocab` first tokens), and the [[UnigramVocab]]
    * backoff model. All three tables are bounded plan constants —
    * broadcastable at any corpus size.
    */
  case class BigramVocab(top: Seq[(String, String, Long)],
                         first: Seq[(String, Long)], uni: UnigramVocab)

  /** The (id, prev, tok) context stream: one row per token with its
    * predecessor (NULL prev for a doc's first token), plus one all-NULL
    * row for empty/blank docs so they keep a result row (the
    * [[tokenStream]] rule).
    */
  private def contextStream(docs: DataFrame, id: Column,
                            textCol: String): DataFrame = {
    val t = when(col(textCol).isNull || length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(tokens(col(textCol)))
    val prevs = concat(array(lit(null).cast("string")),
      slice(t, lit(1), greatest(size(t) - 1, lit(0))))
    docs.select(id.as("id"),
        explode_outer(zip_with(prevs, t,
          (a, b) => struct(a.as("prev"), b.as("tok")))).as("p"))
      .select(col("id"), col("p.prev").as("prev"), col("p.tok").as("tok"))
  }

  /** Train the capped bigram model of `corpus`. ONE data-sized shuffle
    * (the (prev, tok) pair count — distinct bigrams can approach corpus
    * size, so this is the honest cost), then the two caps derive from
    * the already-grouped table: top bigrams via the bounded heap, first
    * -token totals via a groupBy of the GROUPED table (small); the
    * unigram backoff reuses [[unigramVocab]]'s single pass. Only
    * maxBigrams + 2·maxVocab rows reach the driver.
    */
  /** The two capped aggregation frames behind [[bigramVocab]], exposed
    * so the plan pin and the q149 build probe can see the chain BEFORE
    * the driver-side head(): `top` = one row holding the maxBigrams
    * bounded heap (ordered c DESC, then the space-joined pair), `first`
    * = one row holding the maxVocab per-first-token totals. The pinned
    * scale shape: ONE data-sized Exchange (the (prev, tok) hash
    * partition) per frame — everything after it groups the already-
    * collapsed table; no window, no sort-aggregate.
    */
  private[graft] def bigramVocabFrames(corpus: DataFrame, textCol: String,
                                       maxBigrams: Int,
                                       maxVocab: Int): (DataFrame, DataFrame) = {
    require(maxBigrams >= 1, s"maxBigrams must be >= 1, got $maxBigrams")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val pairs = contextStream(corpus, lit(0L), textCol)
      .filter(col("prev").isNotNull && col("tok").isNotNull)
      .groupBy("prev", "tok").agg(count(lit(1)).as("c"))
    // tokens are whitespace-split, so the space-joined pair is a unique,
    // engine-reproducible tie-break (ORDER BY c DESC, prev || ' ' || tok)
    val topF = pairs.agg(call_function("graft_top_k_by",
      struct(col("prev"), col("tok"), col("c")), col("c"),
      concat_ws(" ", col("prev"), col("tok")), lit(maxBigrams)).as("top"))
    val firstF = pairs.groupBy("prev").agg(sum("c").as("c1"))
      .agg(call_function("graft_top_k_by", struct(col("prev"), col("c1")),
        col("c1"), col("prev"), lit(maxVocab)).as("first"))
    (topF, firstF)
  }

  def bigramVocab(corpus: DataFrame, textCol: String,
                  maxBigrams: Int = 1 << 18,
                  maxVocab: Int = 1 << 16): BigramVocab = {
    // ONE action over all three single-row aggregate frames (crossJoin
    // of 1-row frames): the pair heap and the context heap share the
    // (prev, tok) aggregation EXCHANGE within the job (separate head()
    // calls re-ran it — reuse never spans jobs), and the unigram stream
    // runs concurrently instead of as a fourth sequential pass.
    // NOTE: one-row crossJoins plan as BroadcastNestedLoopJoin, so the
    // corpus-sized aggregations build UNDER a BroadcastExchange — with
    // AQE on (graft's session default, Sessions.tune) the shuffle stages
    // materialize as their own jobs outside the broadcast thread; a
    // non-AQE deployment must finish each sub-plan within
    // spark.sql.broadcastTimeout or raise it.
    val (topF, firstF) =
      bigramVocabFrames(corpus, textCol, maxBigrams, maxVocab)
    val row = topF.select(col("top").as("__bi_top"))
      .crossJoin(firstF.select(col("first").as("__bi_first")))
      .crossJoin(unigramVocabFrame(corpus, textCol, maxVocab)
        .select(col("t").as("__uni_t"), col("top").as("__uni_top")))
      .head()
    BigramVocab(
      rowsByName(row, "__bi_top")
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))),
      rowsByName(row, "__bi_first").map(r => (r.getString(0), r.getLong(1))),
      parseUnigramRow(row, "__uni_t", "__uni_top"))
  }

  /** Score docs under a capped bigram LM with unigram-backoff
    * interpolation: a doc's first token scores ln p₁(tok) (the q65
    * unigram floor — OOV → alpha/total), every later token scores
    * ln ((c(prev,tok) + alpha·p₁(tok)) / (c₁(prev) + alpha)) — absent
    * bigrams (unseen OR cap-evicted) count 0 and fall back toward the
    * unigram, unknown first-tokens get the pure-backoff denominator
    * alpha. Output: (idCol, n_tokens, mean_logprob); empty docs score
    * NULL, not 0 (a failed extraction must stay visible).
    *
    * The fluency-scoring upgrade of [[unigramLogProb]]: a unigram LM
    * cannot see word ORDER, so shuffled text scores identically — the
    * bigram's conditional catches it (spec-pinned). Same float
    * discipline: 5-dp per-token ln p, exact decimal(18,5) sums,
    * order-independent means — engine-portable, DuckDB-replayed.
    *
    * Scale notes: ONE pass over the context stream with all three model
    * tables broadcast (left joins on (prev, tok) / prev / tok), one
    * per-doc aggregation; zero UDFs, zero windows.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    v: BigramVocab, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val k = call_function("graft_bigram_lnp", tokensGuarded(textCol),
      lit(graft.functions.GraftFunctions.encodeBigramCounts(v.top)),
      lit(graft.functions.GraftFunctions.encodeVocabLnp(v.first)),
      lit(graft.functions.GraftFunctions.encodeVocabLnp(v.uni.top)),
      lit(v.uni.total.toString), lit(alpha.toString))
    // let-binding rule: one kernel evaluation feeds n and the mean
    val packed = transform(array(k), kk => struct(
      element_at(kk, 1).as("n_tokens"),
      when(element_at(kk, 1) > 0,
        (element_at(kk, 2).cast("double") / lit(100000.0)) / element_at(kk, 1))
        .as("mean_logprob"))).getItem(0)
    docs.select(col(idCol), packed.as("__s"))
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        col("__s.mean_logprob").as("mean_logprob"))
  }

  /** A capped TRIGRAM language model: the `maxTrigrams` most frequent
    * (prev2, prev, tok) triples with counts, over a [[BigramVocab]]
    * (whose capped pair table doubles as the trigram CONTEXT table —
    * self-consistent capped backoff). All tables are bounded plan
    * constants — broadcastable at any corpus size.
    */
  case class TrigramVocab(top: Seq[(String, String, String, Long)],
                          bi: BigramVocab)

  /** The (id, prev2, prev, tok) context stream — [[contextStream]] with
    * one more order (NULL prev2 for a doc's first two tokens).
    */
  private def contextStream3(docs: DataFrame, id: Column,
                             textCol: String): DataFrame = {
    val t = when(col(textCol).isNull || length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(tokens(col(textCol)))
    // both shifted streams sliced to EXACTLY size(t): prepending the
    // nulls then slicing keeps 0- and 1-token docs from padding the
    // zip_with to the longer array and emitting phantom NULL-tok rows
    // (harmless under trigramVocabFrame's not-null filter, but the
    // contextStream contract is one row per token).
    val prevs = slice(concat(array(lit(null).cast("string")), t),
      lit(1), size(t))
    val prevs2 = slice(concat(array(lit(null).cast("string"),
      lit(null).cast("string")), t), lit(1), size(t))
    docs.select(id.as("id"),
        explode_outer(zip_with(zip_with(prevs2, prevs,
            (a, p) => struct(a.as("prev2"), p.as("prev"))), t,
          (ap, b) => struct(ap.getField("prev2").as("prev2"),
            ap.getField("prev").as("prev"), b.as("tok")))).as("p"))
      .select(col("id"), col("p.prev2").as("prev2"),
        col("p.prev").as("prev"), col("p.tok").as("tok"))
  }

  /** The capped trigram-count frame behind [[trigramVocab]]: one row
    * holding the maxTrigrams bounded heap (ordered c DESC, then the
    * space-joined triple). Same pinned scale shape as
    * [[bigramVocabFrames]]: ONE data-sized Exchange (the (prev2, prev,
    * tok) hash partition), then the bounded heap — no window, no global
    * sort; adding the third order costs exactly one more corpus-sized
    * shuffle on top of the bigram build.
    */
  private[graft] def trigramVocabFrame(corpus: DataFrame, textCol: String,
                                       maxTrigrams: Int): DataFrame = {
    require(maxTrigrams >= 1, s"maxTrigrams must be >= 1, got $maxTrigrams")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val triples = contextStream3(corpus, lit(0L), textCol)
      .filter(col("prev2").isNotNull && col("prev").isNotNull &&
        col("tok").isNotNull)
      .groupBy("prev2", "prev", "tok").agg(count(lit(1)).as("c"))
    triples.agg(call_function("graft_top_k_by",
      struct(col("prev2"), col("prev"), col("tok"), col("c")), col("c"),
      concat_ws(" ", col("prev2"), col("prev"), col("tok")),
      lit(maxTrigrams)).as("top"))
  }

  def trigramVocab(corpus: DataFrame, textCol: String,
                   maxTrigrams: Int = 1 << 19,
                   maxBigrams: Int = 1 << 18,
                   maxVocab: Int = 1 << 16): TrigramVocab = {
    // all four single-row aggregates in ONE action — see [[bigramVocab]]
    // (incl. its non-AQE broadcastTimeout note)
    val (topF, firstF) =
      bigramVocabFrames(corpus, textCol, maxBigrams, maxVocab)
    val row = trigramVocabFrame(corpus, textCol, maxTrigrams)
      .select(col("top").as("__tri_top"))
      .crossJoin(topF.select(col("top").as("__bi_top")))
      .crossJoin(firstF.select(col("first").as("__bi_first")))
      .crossJoin(unigramVocabFrame(corpus, textCol, maxVocab)
        .select(col("t").as("__uni_t"), col("top").as("__uni_top")))
      .head()
    val tri = rowsByName(row, "__tri_top")
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    TrigramVocab(tri, BigramVocab(
      rowsByName(row, "__bi_top")
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))),
      rowsByName(row, "__bi_first").map(r => (r.getString(0), r.getLong(1))),
      parseUnigramRow(row, "__uni_t", "__uni_top")))
  }

  /** Score docs under a capped TRIGRAM LM with interpolated backoff —
    * [[bigramLogProb]] plus one more order: a doc's first token scores
    * ln p₁, its second ln p₂ = ln((c12 + α·p₁)/(c1 + α)), every later
    * token ln p₃ = ln((c123 + α·p₂)/(c12ctx + α)) with p₂ the unrounded
    * bigram probability and c12ctx the context pair's count from the
    * SAME capped pair table — unseen or cap-evicted trigrams fall back
    * toward the bigram, which itself backs off toward the unigram
    * (interpolated-backoff lite: absolute counts, not Kneser-Ney
    * continuation counts — the public-formula core without KN's
    * discount estimation). The fluency ceiling over q133: shuffled or
    * collaged text that keeps plausible PAIRS still breaks triple
    * continuity (spec-pinned). Same 5-dp micro discipline, exact
    * decimal sums, order-independent means — DuckDB-replayed.
    *
    * Scale notes: pure zero-shuffle projection — ONE kernel call per
    * doc with all four tables riding the plan as one reference object;
    * empty docs score NULL, not 0.
    */
  def trigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     v: TrigramVocab, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val k = call_function("graft_trigram_lnp", tokensGuarded(textCol),
      lit(graft.functions.GraftFunctions.encodeTrigramCounts(v.top)),
      lit(graft.functions.GraftFunctions.encodeBigramCounts(v.bi.top)),
      lit(graft.functions.GraftFunctions.encodeVocabLnp(v.bi.first)),
      lit(graft.functions.GraftFunctions.encodeVocabLnp(v.bi.uni.top)),
      lit(v.bi.uni.total.toString), lit(alpha.toString))
    val packed = transform(array(k), kk => struct(
      element_at(kk, 1).as("n_tokens"),
      when(element_at(kk, 1) > 0,
        (element_at(kk, 2).cast("double") / lit(100000.0)) / element_at(kk, 1))
        .as("mean_logprob"))).getItem(0)
    docs.select(col(idCol), packed.as("__s"))
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        col("__s.mean_logprob").as("mean_logprob"))
  }

  /** Score docs under the capped trigram tables with interpolated
    * KNESER-NEY smoothing (Kneser & Ney 1995; Chen & Goodman 1998's
    * interpolated form with a fixed discount) — the public-standard
    * smoothing next to [[trigramLogProb]]'s absolute-count backoff lite.
    * The KN signature move: lower orders score CONTINUATION type counts
    * (how many distinct contexts a word completes), not raw frequencies
    * — "san francisco" gives "francisco" a huge unigram count but only
    * one continuation, so KN stops over-rewarding it in fresh contexts.
    * All continuation statistics derive from the SAME two capped tables
    * ([[TrigramVocab]]'s trigram + bigram counts) as exact folds at
    * kernel construction — the model stays a bounded plan constant, and
    * the DuckDB oracle replays the folds as aggregations over its
    * replayed capped tables. Token 1 scores ln P1 (continuation
    * unigram), token 2 ln P2, later tokens ln P3; 5-dp micro rounding
    * per term, exact decimal sums (the [[trigramLogProb]] discipline).
    *
    * Scale notes: identical plan shape to [[trigramLogProb]] — pure
    * zero-shuffle projection, ONE kernel call per doc, both tables ride
    * the plan as one reference object; empty docs score NULL.
    */
  def trigramLogProbKN(docs: DataFrame, idCol: String, textCol: String,
                       v: TrigramVocab, discount: Double = 0.75,
                       alpha: Double = 1.0): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val k = call_function("graft_trigram_kn", tokensGuarded(textCol),
      lit(graft.functions.GraftFunctions.encodeTrigramCounts(v.top)),
      lit(graft.functions.GraftFunctions.encodeBigramCounts(v.bi.top)),
      lit(discount.toString), lit(alpha.toString))
    val packed = transform(array(k), kk => struct(
      element_at(kk, 1).as("n_tokens"),
      when(element_at(kk, 1) > 0,
        (element_at(kk, 2).cast("double") / lit(100000.0)) / element_at(kk, 1))
        .as("mean_logprob"))).getItem(0)
    docs.select(col(idCol), packed.as("__s"))
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        col("__s.mean_logprob").as("mean_logprob"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data" —
    * public paper): score every document under a (capped-unigram) language
    * model, then split the corpus into `head` / `middle` / `tail` thirds
    * by LM-score quantile — head is the most-fluent slice that CCNet
    * keeps for pretraining, tail the least. Output: the [[scoreUnderVocab]]
    * columns plus a `bucket` column; docs with no tokens score NULL and
    * bucket NULL (a downstream gate must see failed extractions, the q60
    * rule).
    *
    * Bucket rule (strict-< boundaries so both engines agree on ties):
    * score < q(qLow) ⇒ 'tail'; < q(qHigh) ⇒ 'middle'; else 'head'.
    *
    * Scale notes: the cutoffs are TWO scalar quantiles computed by ONE
    * batched [[Summaries.exactQuantilesPerColumn]] narrowing (O(log) fused passes
    * shared by both ranks, never a value→count buffered aggregate), after
    * which the
    * bucketing itself is a pure plan-constant projection — no global
    * sort, no rank window over the corpus. The scored frame is persisted
    * (memory-and-disk, one slim row per doc) ONLY for the duration of the
    * narrowing passes and unpersisted before returning — no cache outlives
    * the call; the returned frame re-scores once when executed.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        v: UnigramVocab, alpha: Double = 1.0,
                        qLow: Double = 1.0 / 3,
                        qHigh: Double = 2.0 / 3): DataFrame = {
    require(qLow > 0 && qHigh < 1 && qLow < qHigh,
      s"need 0 < qLow < qHigh < 1, got ($qLow, $qHigh)")
    val scored = scoreUnderVocab(docs, idCol, textCol, v, alpha)
    val cached = scored
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucket = try {
      // BOTH cutoffs in one batched narrowing — shared stats/min-max
      // passes and fused per-round jobs; two independent single-quantile
      // narrowings would double every full-corpus scan (measured as the
      // q89 24-job cascade at sf0.1)
      Summaries.exactQuantilesPerColumn(cached,
          Seq("mean_logprob" -> Seq(qLow, qHigh)))("mean_logprob") match {
        case Seq(Some(lo), Some(hi)) =>
          when(col("mean_logprob").isNull, lit(null).cast("string"))
            .when(col("mean_logprob") < lit(lo), lit("tail"))
            .when(col("mean_logprob") < lit(hi), lit("middle"))
            .otherwise(lit("head"))
        case _ => lit(null).cast("string") // no scored docs at all
      }
    } finally cached.unpersist(blocking = false)
    scored.withColumn("bucket", bucket)
  }

  /** Linear quality classifier over hashed token features — the
    * fastText-style filter (Joulin et al. 2017, "Bag of Tricks for
    * Efficient Text Classification"; the GPT-3/WebText curation pattern:
    * train a cheap linear model offline, score the whole crawl with it).
    * Each token hashes into one of `weights.length` buckets (the hashing
    * trick — no vocabulary table at all); a document's score is the mean
    * bucket weight (+ `bias`), `keep` = score ≥ `threshold`. Docs with no
    * tokens score NULL and keep NULL — the row survives for downstream
    * gates.
    *
    * The hash is the PORTABLE md5 form (first 8 hex chars as an int), so
    * an external trainer — or the DuckDB oracle — can reproduce bucket
    * assignment exactly; per-token weights are 5-dp-rounded and summed as
    * DECIMAL(18,5) (the q65 float discipline: order-independent,
    * engine-portable means).
    *
    * Scale notes: the weight vector is a plan-constant array literal —
    * scoring is ONE codegen projection + one per-doc hash aggregation;
    * zero joins, zero broadcasts, no vocabulary shuffle at any corpus
    * size. This is what makes classifier-scoring 100 TB-viable: the
    * model rides in the plan, the corpus streams through it.
    */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        weights: Array[Double], bias: Double = 0.0,
                        threshold: Double = 0.0): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val nB = weights.length
    val base = tokenStream(docs, col(idCol), textCol)
    val bucket = conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("long") % nB
    val wt = round(element_at(typedlit(weights.toSeq),
      (bucket + 1).cast("int")), 5)
    val mean = sum(when(col("tok").isNotNull, wt).cast("decimal(18,5)"))
      .cast("double") / count(col("tok"))
    val score = if (bias == 0.0) mean else mean + lit(bias)
    base.groupBy("id").agg(
        count(col("tok")).as("n_tokens"),
        score.as("score"))
      .withColumn("keep", (col("score") >= lit(threshold)).cast("int"))
      .withColumnRenamed("id", idCol)
  }

  /** A deterministic demo weight vector for [[hashedLinearScore]] —
    * Knuth-hash integers quantized to 5 dp in [−1, 1], reproducible in
    * any engine (the catalog's oracle interpolates the same values).
    * Stands in for offline-trained weights; not a trained model.
    */
  def demoWeights(n: Int): Array[Double] =
    Array.tabulate(n)(i => ((i * 2654435761L) % 200001L - 100000L) / 1e5)

  /** Inverted-index build: one row per (term, posting) with per-term
    * document frequency, total term count, and the `topPostings`
    * highest-tf documents (tf desc, doc asc; 1-based rank). The
    * search/retrieval-side index the corpus tooling needs — keyword
    * lookup, BM25-style retrieval feeds, duplicate-query mining — built
    * as a table, not an in-memory structure.
    *
    * Scale notes: two map-side-combined hash aggregations — (doc, term)
    * tf, then per-term stats + a `graft_top_k_by` bounded-heap posting
    * cut (≤ topPostings rows per term per map task) — zero joins, zero
    * windows, no global sort. Terms are the natural shuffle key; a
    * skewed stop-word term still moves only its k-row partials.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    topPostings: Int = 10): DataFrame = {
    require(topPostings >= 1, s"topPostings must be >= 1, got $topPostings")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val tf = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term", "id").agg(count(lit(1)).as("tf"))
    tf.groupBy("term").agg(
        count(lit(1)).as("n_docs"),
        sum("tf").as("total_tf"),
        call_function("graft_top_k_by",
          struct(col("id"), col("tf")), col("tf"), col("id"),
          lit(topPostings)).as("top"))
      .select(col("term"), col("n_docs"), col("total_tf"), posexplode(col("top")))
      .select(col("term"), col("n_docs"), col("total_tf"),
        col("col.id").as(idCol), col("col.tf").as("tf"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Corpus collocation mining: the topK adjacent word pairs by pointwise
    * mutual information, PMI = ln(n_pair · N / (n_w1 · n_w2)) with an
    * `minCount` occurrence floor — the phrase-detection score family of
    * Mikolov et al. 2013 ("Distributed Representations of Words and
    * Phrases", public paper; their discounted ratio and this PMI rank the
    * same way for fixed counts). Used to find multi-word units worth
    * treating as single tokens before training.
    *
    * Scale notes: two map-side-combined hash aggregations (unigram and
    * bigram counts — the bigram stream is one `zip_with` projection, no
    * self-join), the `minCount` floor cuts the pair table BEFORE the two
    * count-lookup joins (shuffle_hash on the word key — vocabulary is
    * unbounded so neither side broadcasts), and the final top-K is ONE
    * bounded-heap aggregation (`graft_top_k_by`, k rows per map task —
    * no global sort). Token total = one scalar scan, a plan constant.
    * Same 5-dp float discipline as [[unigramLogProb]].
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5,
                   topK: Int = 100): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val toksArr = when(col(textCol).isNull || length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(tokens(col(textCol)))
    val toksDf = docs.select(toksArr.as("t"))
    val totalRow = toksDf.agg(sum(size(col("t")))).head()
    val total = (if (totalRow.isNullAt(0)) 1L else totalRow.getLong(0)).max(1L)
    val uni = toksDf.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_w"))
    val pairs = toksDf
      .select(explode(zip_with(col("t"),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .filter(col("p.w2").isNotNull)
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val scored = pairs
      .hint("shuffle_hash")
      .join(uni.select(col("tok").as("w1"), col("n_w").as("n_w1")), Seq("w1"))
      .hint("shuffle_hash")
      .join(uni.select(col("tok").as("w2"), col("n_w").as("n_w2")), Seq("w2"))
      .withColumn("pmi", round(log(
        (col("n_pair").cast("double") * lit(total.toDouble)) /
          (col("n_w1").cast("double") * col("n_w2"))), 5))
    scored.agg(call_function("graft_top_k_by",
        struct(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
          col("pmi")),
        col("pmi"), concat_ws(" ", col("w1"), col("w2")), lit(topK)).as("top"))
      .select(explode(col("top")).as("r")).select(col("r.*"))
  }

  /** TF-IDF keyword extraction: the topK terms per document by
    * (n_td / len_d) · ln(N / df_t) — term frequency normalized by
    * document length, weighted by inverse document frequency (classic
    * Salton/Sparck-Jones weighting; public). N = ALL documents
    * (including empty ones); a term in every document scores 0;
    * documents with no tokens emit no rows. Ties resolve (score desc,
    * term asc) — deterministic output.
    *
    * Scale notes: ONE scan, guaranteed — no fork that could silently
    * rescan the corpus if exchange reuse doesn't fire. Document length
    * rides the explode projection (`size` of the same token array), so
    * no length window and no length join exist; document frequency is an
    * UNORDERED count window over the term partition (key sort only, no
    * frame buffer, no df join — the vocabulary is unbounded, so the join
    * alternative can't broadcast either side). Per-doc top-K is
    * `graft_top_k_by` (bounded heap, k rows per doc per map task — no
    * rank window). The whole plan is: one (doc, term) hash agg, one
    * term-keyed window, one top-K agg — zero joins, one corpus scan.
    * N is one scalar count, a plan constant. 5-dp score rounding for
    * engine portability.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    topK: Int = 5): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val nDocs = docs.count().max(1L)
    // explode_outer: plain explode makes Catalyst infer `size(arr) > 0`
    // and push it BELOW the projection, re-evaluating the tokenization
    // per row (the r2 journal lesson) — outer + null filter avoids it
    val tf = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), size(col("__toks")).as("len"),
        explode_outer(col("__toks")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("id", "term").agg(count(lit(1)).as("n_td"), max("len").as("len"))
    val scored = tf
      .withColumn("df_t", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .withColumn("score", round(
        (col("n_td").cast("double") / col("len")) *
          log(lit(nDocs.toDouble) / col("df_t")), 5))
    scored.groupBy("id")
      .agg(call_function("graft_top_k_by",
        struct(col("term"), col("n_td"), col("score")),
        col("score"), col("term"), lit(topK)).as("top"))
      .select(col("id"), posexplode(col("top")))
      .select(col("id").as(idCol), col("col.term").as("term"),
        col("col.n_td").as("n_td"), col("col.score").as("score"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** BM25 retrieval scoring (Robertson/Spärck Jones; the Lucene
    * `ln(1 + (N − df + 0.5)/(df + 0.5))` idf form): the topK documents
    * for a fixed query-term set. The ranked-retrieval counterpart of
    * [[invertedIndex]] — candidate mining, eval-set construction,
    * "find docs about X" over a curation corpus.
    *
    * Float discipline: idf is computed at PLAN time and 5-dp-rounded,
    * per-(doc, term) partial scores are 5-dp-rounded and summed as
    * DECIMAL — order-independent and engine-replayable; ranking is
    * (score desc, id asc).
    *
    * Scale notes: corpus size/average-length are one scalar aggregation
    * and per-term document frequencies one ≤|terms|-row aggregation —
    * both plan-time constants (the query is fixed; the corpus is not).
    * Scoring is then ONE token pass filtered to the query terms BEFORE
    * the explode (`array_intersect`/`filter` on the token array), a
    * (doc, term) hash agg, and a global bounded-heap top-k — no joins
    * against the corpus, no window sort.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], topK: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val terms = queryTerms.distinct
    val termsLit = typedlit(terms)
    val base = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val statsRow = base.agg(count(lit(1)), sum(size(col("toks")))).head()
    val nDocs = math.max(statsRow.getLong(0), 1L)
    // every-doc-null/blank corpus: count is 0 and sum is NULL — clamp
    // avgdl to 1 instead of unboxing the NULL (the tf frame is empty, so
    // the result is correctly empty either way)
    val avgdl = (if (statsRow.isNullAt(1)) 1L else statsRow.getLong(1))
      .toDouble / nDocs
    val dfMap = base
      .select(explode(array_intersect(col("toks"), termsLit)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = terms.map { t =>
      val d = dfMap.getOrElse(t, 0L).toDouble
      t -> BigDecimal(math.log((nDocs - d + 0.5) / (d + 0.5) + 1.0))
        .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val tf = base
      .select(col("id"), size(col("toks")).as("len"),
        explode(filter(col("toks"), x => array_contains(termsLit, x))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
    val num = col("tf") * lit(k1 + 1.0)
    val den = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * (col("len").cast("double") / lit(avgdl)))
    val part = round(element_at(typedlit(idf), col("term")) * num / den, 5)
    tf.select(col("id"), part.cast("decimal(18,5)").as("s"))
      .groupBy("id").agg(sum(col("s")).cast("double").as("bm25"))
      .groupBy()
      .agg(call_function("graft_top_k_by",
        struct(col("id"), col("bm25")), col("bm25"), col("id"), lit(topK)).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as(idCol), col("col.bm25").as("bm25"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Per-document repetition profile: token count, fraction of token
    * instances that are the single most frequent token, and fraction of
    * word n-gram instances that are repeats of an earlier instance
    * (1 − distinct/total). High values on either fraction mark the
    * boilerplate / degenerate-repetition docs the Gopher rules cut.
    *
    * Docs with fewer than n tokens have dup_ngram_frac = 0.0 (nothing can
    * repeat). Tokenization matches the rest of the text stack: lower,
    * trim, split on whitespace runs.
    *
    * Shuffle shape: two independent two-level aggregations (token stats,
    * n-gram stats), each keyed by doc id after its first level, then an
    * id-equality join — both sides arrive hash-partitioned on id from
    * their final aggregate, so the join itself adds no exchange.
    */
  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2 for repetition analysis, got $n")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // null/blank text → ZERO tokens (tokenCountWs semantics), and the
    // doc still gets an output row (zeros) — a downstream quality gate
    // that joins against this profile must see failed-extraction docs,
    // not silently pass them through. The graft_rep_profile kernel
    // computes the four per-doc counts in ONE pass per row; the old
    // two-explode→groupBy(id) form shuffled the token stream twice and
    // the gram-hash stream once purely to take per-doc ratios (kept as
    // the spec-side reference KernelPropertySpec pins it against).
    val k = call_function("graft_rep_profile", tokensGuarded(textCol), lit(n))
    // let-binding rule: one kernel evaluation feeds all four outputs
    val packed = transform(array(k), kk => struct(
      element_at(kk, 1).as("n_tokens"),
      when(element_at(kk, 1) > 0,
        element_at(kk, 2).cast("double") / element_at(kk, 1).cast("double"))
        .otherwise(lit(0.0)).as("top_token_frac"),
      when(element_at(kk, 3) > 0,
        (element_at(kk, 3) - element_at(kk, 4)).cast("double") /
          element_at(kk, 3).cast("double"))
        .otherwise(lit(0.0)).as("dup_ngram_frac"))).getItem(0)
    docs.select(col(idCol), packed.as("__r"))
      .select(col(idCol), col("__r.n_tokens").as("n_tokens"),
        col("__r.top_token_frac").as("top_token_frac"),
        col("__r.dup_ngram_frac").as("dup_ngram_frac"))
  }

  /** Per-group vocabulary census — the corpus-composition overview a
    * training-mix decision reads: total token count, vocabulary size,
    * hapax (frequency-1) count and ratio, and what fraction of all
    * tokens the top-`topK` types cover. A high hapax ratio flags noisy
    * extraction; low top-k coverage flags vocabulary-diverse sources.
    * Tokenization is [[tokens]] (lower + whitespace), the module-wide
    * contract. Groups whose every text is NULL/blank report zeros
    * (the group must not vanish from a census).
    *
    * Scale shape: ONE data-sized shuffle — (group, token) counts with
    * map-side combine (the token stream never shuffles raw). Everything
    * downstream runs over the collapsed type table: per-group totals are
    * a second tiny aggregation, and the top-k sum rides a rank window
    * over (group) whose input is already one row per TYPE, not per
    * token. Ties at rank `topK` break by token string, so coverage is
    * deterministic and engine-portable. A NULL group value is a group
    * like any other (the census must not silently merge or drop rows
    * whose group key failed extraction) — the final join is null-safe.
    */
  def vocabCensus(docs: DataFrame, groupCol: String, textCol: String,
                  topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val toksArr = when(col(textCol).isNull || length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(tokens(col(textCol)))
    // explode_outer keeps all-blank groups alive as one NULL token row
    val stream = docs.select(col(groupCol).as("grp"), explode_outer(toksArr).as("tok"))
    val types = stream.groupBy("grp", "tok").agg(count(lit(1)).as("c"))
    val realC = when(col("tok").isNotNull, col("c"))
    val perGroup = types.groupBy("grp").agg(
      coalesce(sum(realC), lit(0L)).as("total_tokens"),
      count(realC).as("vocab_size"),
      count(when(col("tok").isNotNull && col("c") === 1, 1)).as("hapax_count"))
    val w = Window.partitionBy("grp").orderBy(col("c").desc, col("tok").asc)
    val topSum = types.filter(col("tok").isNotNull)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .groupBy("grp").agg(sum("c").as("topk_tokens"))
      .withColumnRenamed("grp", "grp_t")
    perGroup.join(topSum, perGroup("grp") <=> topSum("grp_t"), "left")
      .drop("grp_t")
      .select(col("grp").as(groupCol), col("total_tokens"), col("vocab_size"),
        col("hapax_count"),
        when(col("vocab_size") === 0, lit(null).cast("double"))
          .otherwise(round(col("hapax_count").cast("double") / col("vocab_size"), 5))
          .as("hapax_ratio"),
        when(col("total_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(coalesce(col("topk_tokens"), lit(0L)).cast("double") /
            col("total_tokens"), 5)).as("topk_coverage"))
  }

  /** Reciprocal-rank fusion of N retrieval rankings — the standard hybrid-
    * search combiner (BM25 ⊕ embedding ANN ⊕ anything rank-shaped):
    * score(d) = Σ_lists 1/(rrfK + rank_list(d)), documents missing from a
    * list contribute nothing. Rank-only fusion needs NO score
    * calibration between systems — exactly why RRF is the production
    * default. Emits (id, n_lists, rrf_score, fused_rank) for the top-k
    * fused candidates; ties break by id.
    *
    * Precondition: each ranking holds one row per id (true of every graft
    * top-k producer). NULL ids/ranks are dropped.
    *
    * Scale notes: inputs are already top-k lists (≤ Σ k_i rows total —
    * post-retrieval tiny at any corpus size), so fusion is one union +
    * one hash agg + one bounded-heap global top-k (`graft_top_k_by`, no
    * window sort). Each 1/(rrfK+rank) term is exact-input double
    * arithmetic rounded to 9 dp and decimal-summed — order-independent
    * and engine-portable.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String = "doc_id",
              rankCol: String = "rank", rrfK: Int = 60,
              topK: Int = 20): DataFrame = {
    require(rankings.size >= 2, "rrfFuse needs at least two rankings")
    require(rrfK >= 1 && topK >= 1, "rrfK and topK must be >= 1")
    graft.functions.GraftFunctions.ensureRegistered(rankings.head.sparkSession)
    val tagged = rankings.map { r =>
      r.select(col(idCol).as("id"), col(rankCol).cast("long").as("rank"))
        .filter(col("id").isNotNull && col("rank").isNotNull)
    }.reduce(_ unionByName _)
    val scored = tagged
      .select(col("id"),
        round(lit(1.0) / (lit(rrfK) + col("rank")), 9)
          .cast("decimal(19,9)").as("t"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_lists"), sum(col("t")).cast("double").as("s"))
    scored.groupBy()
      .agg(call_function("graft_top_k_by",
        struct(col("id"), col("n_lists"), col("s")),
        col("s"), col("id"), lit(topK)).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as(idCol), col("col.n_lists").as("n_lists"),
        col("col.s").as("rrf_score"),
        (col("pos") + 1).cast("long").as("fused_rank"))
  }
}
