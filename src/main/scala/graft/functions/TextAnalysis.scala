package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for LLM training-data pipelines: token counting,
  * quality scoring, language ID, fingerprinting.
  *
  * All pure Column expressions → whole-stage codegen, no UDFs; each scales
  * linearly with the scan and never shuffles on its own.
  */
object TextAnalysis {

  /** Whitespace token count (0 for empty/blank strings). */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** One-pass token/char profile: `graft_token_profile` returns
    * [n_tokens_ws, word_chars, punct_chars] from a single code-point
    * walk, where the regex Column forms cost THREE scans per row
    * ([[tokenCountWs]] and the spec-side BPE-ish reference; pinned
    * bit-equal in KernelPropertySpec). Caller must have run
    * `GraftFunctions.ensureRegistered`. NULL text stays NULL.
    */
  def tokenProfile(text: Column): Column =
    call_function("graft_token_profile", text)

  /** BPE-ish token estimate from a [[tokenProfile]] array: runs of word
    * chars count ceil(len/4) tokens, each punctuation char counts 1 (a
    * cheap, deterministic stand-in for a subword tokenizer's count).
    */
  def bpeishFromProfile(profile: Column): Column =
    (ceil(profile.getItem(1).cast("double") / 4.0).cast("long") +
      profile.getItem(2)).cast("long")

  /** Ratio of punctuation characters to total characters (4 dp). */
  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
      greatest(length(text), lit(1)), 4)

  /** Ratio of tokens that are stopwords (4 dp), via the native set-probe
    * expression — stays inside whole-stage codegen (a `filter`/`isin` HOF
    * form is CodegenFallback). Caller must have run
    * `GraftFunctions.ensureRegistered`.
    */
  def stopwordRatioFast(text: Column, stopwords: Seq[String]): Column = {
    val toks = split(trim(text), "\\s+")
    round(call_function("graft_count_in_set", toks,
      lit(stopwords.mkString(","))).cast("double") / greatest(size(toks), lit(1)), 4)
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, penalizes
    * punctuation soup and stopword-free keyword stuffing. Deterministic,
    * expressible in ANSI SQL for oracle checks; the stopword term is the
    * codegen'd counter of [[stopwordRatioFast]].
    */
  def qualityScoreFast(text: Column, stopwords: Seq[String]): Column = {
    val lenScore  = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctPen  = punctRatio(text) * 2.0
    val stopScore = least(stopwordRatioFast(text, stopwords) * 4.0, lit(1.0))
    round(greatest(least((lenScore * 0.5 + stopScore * 0.5) - punctPen, lit(1.0)), lit(0.0)), 4)
  }

  /** Marker-word language ID: score each language by marker hits, argmax
    * with deterministic tie-break on language code (ties go to the
    * greatest code; "und" when nothing scores). `markers` maps lang →
    * marker words. One tokenize + one pass over the tokens in the native
    * expression, where a combinator form re-tokenizes once per language
    * (HOF lambdas are CodegenFallback, so the inlined `split` is not
    * subexpression-eliminated); specs pin the two equal. Caller must have
    * run `GraftFunctions.ensureRegistered`.
    */
  def langIdFast(text: Column, markers: Map[String, Seq[String]]): Column =
    call_function("graft_lang_id", split(lower(trim(text)), "\\s+"),
      lit(GraftFunctions.encodeMarkers(markers)))

  /** Content fingerprint: md5 of the canonicalized text (lowercase,
    * whitespace collapsed) — the exact-dup key for documents
    * (reference analogue: regenerate_unique_key.py's content-derived keys).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  // ── cleaning (CCNet/Dolma-style pre-tokenization scrubs) ──────────────
  // Patterns stay in the Java-regex ∩ RE2 common subset so the DuckDB
  // oracle reproduces them verbatim (no lookarounds, no backrefs).

  /** Strip markup tags and collapse the leftover whitespace — the cheap
    * `<[^>]*>` cut, not an HTML parser (good enough for tag-debris
    * removal in crawled text; a real extraction belongs upstream).
    */
  def stripHtml(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "<[^>]*>", " "), "\\s+", " "))

  /** Redact email addresses with a placeholder token. */
  def redactEmails(text: Column, token: String = "<EMAIL>"): Column =
    regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", token)

  /** Redact phone-shaped digit runs (7+ digits with optional +, spaces,
    * dashes, parens). Deliberately conservative: plain long numbers in
    * prose DO match — PII scrubbing errs toward redaction.
    */
  def redactPhones(text: Column, token: String = "<PHONE>"): Column =
    regexp_replace(text, "[+(]?[0-9][0-9()\\- ]{5,}[0-9]", token)

  /** Redact IPv4 addresses (octet-validated: 0-255 per component, word
    * boundaries both sides — "300.1.2.3" and digit runs inside longer
    * numbers don't match). Version-like dotted quads DO match — the
    * conservative PII rule (Dolma's IP scrub makes the same trade).
    */
  def redactIps(text: Column, token: String = "<IP>"): Column =
    regexp_replace(text,
      "\\b((25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\\.){3}" +
        "(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\\b", token)

  /** Luhn checksum validity of a digit string (mod-10, right-to-left
    * doubling — the public card-number check). Pure builtin-HOF
    * arithmetic (sequence/aggregate — codegen'd, no UDF), so any engine
    * with integer arithmetic replays it digit for digit. True only for
    * 13–19 digits (the card length envelope).
    */
  def luhnValid(digits: Column): Column =
    // let-binding rule (the q27 lesson): bind `digits` ONCE as a lambda
    // argument — referencing the caller's Column inside the aggregate
    // lambda would re-evaluate its whole subtree (a regexp_replace at
    // the q172 call site) once per digit position
    transform(array(digits), ds => {
      val n = length(ds)
      val total = aggregate(sequence(lit(1), n), lit(0L), (acc, i) => {
        val d = ds.substr(i, lit(1)).cast("long")
        // position from the right = n - i + 1; doubled on even positions
        val c = when(pmod(n - i, lit(2)) === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + c
      })
      n >= 13 && n <= 19 && pmod(total, lit(10)) === 0
    }).getItem(0)

  /** Redact Luhn-VALID card numbers: 13–19 digit runs (single space/dash
    * separators allowed) whose digits pass [[luhnValid]]. A digit run
    * that fails the checksum is left for the coarser [[redactPhones]]
    * rule — validation prevents the card token from swallowing order
    * numbers and timestamps wholesale. Candidate extraction is one
    * regexp_extract_all; validation + replacement fold over the (per-row
    * bounded) candidate list with builtin HOFs — a pure projection,
    * streaming-safe, zero shuffles.
    */
  def redactCards(text: Column, token: String = "<CARD>"): Column = {
    val cands = regexp_extract_all(text,
      lit("\\b(?:[0-9][ -]?){12,18}[0-9]\\b"), lit(0))
    val valid = filter(cands, c =>
      luhnValid(regexp_replace(c, "[^0-9]", "")))
    // literal (non-regex) replace, folded in match order — both the
    // extraction order and replace-all semantics are engine-portable
    aggregate(valid, text, (acc, c) => replace(acc, c, lit(token)))
  }

  /** The standard scrub stack: strip markup, then redact emails/phones.
    * Kept at its original email+phone breadth — [[cleanForTrainingFull]]
    * is the widened stack.
    */
  def cleanForTraining(text: Column): Column =
    redactPhones(redactEmails(stripHtml(text)))

  /** The full PII scrub stack (Dolma-breadth): markup strip, then
    * emails → Luhn-valid cards → IPv4 → phones. Order is load-bearing:
    * emails go first (digit-heavy local parts must not feed the card
    * matcher), cards before phones (the conservative phone rule would
    * swallow card-shaped runs before validation could see them), and
    * the residual phone pass still catches checksum-failing digit runs.
    *
    * Cost shape (r20 probe, the q172 100×-cost question): the chain's
    * per-row cost is spread UNIFORMLY across the passes (~0.1–0.2 s
    * each at sf0.1, linear in bytes; the card stage's extract+Luhn+fold
    * is no more expensive than a plain regexp_replace pass) — there is
    * no q175-style service-overhead hotspot to cut. A single fused
    * alternation pass cannot preserve the sequential semantics above
    * precisely where they are load-bearing (match classes interact:
    * each pass must see the PREVIOUS pass's output), so the ~7
    * sequential passes are the honest price of the spec-pinned
    * ordering. Zero shuffles, embarrassingly parallel — the 100× wall
    * time is pure per-byte scrub work spread across all cores.
    */
  def cleanForTrainingFull(text: Column): Column =
    redactPhones(redactIps(redactCards(redactEmails(stripHtml(text)))))

  /** Remove WITHIN-document repeated paragraphs, keeping each paragraph's
    * first occurrence in order — the local boilerplate scrub (repeated
    * nav bars, footers, chorus lines) that complements the corpus-wide
    * [[graft.operators.Dedup.dedupParagraphs]]: no cross-document state,
    * so this one is a pure projection — zero shuffles, applicable inside
    * a streaming select. Returns (n_paras, n_kept, clean_text) as a
    * struct; the seen-before probe is O(paragraphs²) per document —
    * bounded by a single document, never the corpus.
    */
  def dropRepeatedParagraphs(text: Column, sepPattern: String = "\n{2,}",
                             joinSep: String = "\n\n"): Column = {
    // let-binding rule (the q27 lesson): bind the split ONCE as a lambda
    // argument — referencing a `val paras = split(...)` Column inside the
    // seen-probe lambda re-ran the split per PARAGRAPH per row, and
    // referencing `kept` in two struct fields ran the whole O(paras²)
    // filter twice
    transform(array(split(text, sepPattern)), paras =>
      transform(array(filter(paras, (p, i) =>
          array_position(slice(paras, lit(1), i), p) === 0)), kept =>
        struct(
          org.apache.spark.sql.functions.size(paras).cast("long").as("n_paras"),
          org.apache.spark.sql.functions.size(kept).cast("long").as("n_kept"),
          array_join(kept, joinSep).as("clean_text"))).getItem(0)
    ).getItem(0)
  }

  /** Overlapping token-window chunks as an array of (chunk_idx,
    * chunk_text, n_tok) structs — the RAG / long-context splitting step.
    * Chunks start every `size - overlap` tokens and carry up to `size`
    * tokens; the final chunk may be shorter (it is never dropped — the
    * tail tokens must land somewhere). Null/blank text yields an empty
    * array. A pure projection: explode the result for one row per chunk,
    * and partition count/pruning carry over from the parent scan.
    */
  def chunkTokens(text: Column, size: Int, overlap: Int): Column = {
    require(size >= 1, s"chunk size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap (size $size)")
    val step = size - overlap
    // let-binding rule: bind the split ONCE — the per-chunk slice would
    // otherwise re-run it once per chunk per row
    transform(array(when(text.isNull || length(trim(text)) === 0,
        array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))), toks => {
      // the `size` param shadows functions.size — qualify the array length
      val nToks = org.apache.spark.sql.functions.size(toks)
      // ceil((T − overlap)/step), floored at 1 for any non-empty doc (a
      // doc with tokens ≤ overlap still gets its one chunk); the empty
      // branch guards sequence(0, −1), which would run DESCENDING
      val nChunks = greatest(
        ceil((nToks - lit(overlap)).cast("double") / lit(step.toDouble)).cast("int"),
        lit(1))
      when(nToks === 0,
          array().cast("array<struct<chunk_idx:int,chunk_text:string,n_tok:int>>"))
        .otherwise(transform(sequence(lit(0), nChunks - 1),
          k => struct(
            k.as("chunk_idx"),
            concat_ws(" ", slice(toks, k * step + 1, lit(size))).as("chunk_text"),
            least(lit(size), nToks - k * step).as("n_tok"))))
    }).getItem(0)
  }

  /** Sentence-boundary-aware greedy chunks as an array of (chunk_idx,
    * n_sentences, n_tok, chunk_text) structs — the RAG splitting step
    * that never cuts mid-sentence (unlike [[chunkTokens]]'s fixed token
    * windows): sentences end after `.`/`!`/`?` + whitespace; each chunk
    * takes whole sentences greedily until adding the next would exceed
    * `maxTokens`; a single sentence longer than the budget becomes its
    * own oversize chunk (never split, never dropped). Null/blank text
    * yields an empty array — no chunks to emit.
    *
    * A PURE projection (zero shuffles, streaming-safe): the greedy scan
    * is an `aggregate` fold over per-sentence token counts INSIDE the
    * row, then per-chunk text/counters assemble from the assignment
    * array. Per-row cost is O(sentences × chunks) — chunks per doc is
    * budget-bounded and small, and nothing leaves the partition.
    */
  def chunkSentences(text: Column, maxTokens: Int): Column = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    val sep = "\u0001" // boundary sentinel: RE2 engines lack lookbehind,
                         // so both sides mark boundaries then split on the mark
    val outType = "array<struct<chunk_idx:int,n_sentences:int,n_tok:int,chunk_text:string>>"
    // let-binding rule: bind the sentence list ONCE as a lambda argument
    transform(array(when(text.isNull || length(trim(text)) === 0,
        array().cast("array<string>"))
      .otherwise(filter(
        split(regexp_replace(trim(text), "([.!?])\\s+", "$1" + sep), sep),
        s => length(s) > 0))), sents => {
      val counts = transform(sents,
        s => org.apache.spark.sql.functions.size(split(s, "\\s+")))
      // greedy fold: (ids, cur, cum) — start a new chunk only when the
      // current one is non-empty and the sentence would overflow it
      val folded = aggregate(counts,
        struct(array().cast("array<int>").as("ids"),
          lit(0).as("cur"), lit(0).as("cum")),
        (st, c) => when(
          st.getField("cum") > 0 && st.getField("cum") + c > maxTokens,
          struct(
            concat(st.getField("ids"), array(st.getField("cur") + 1)).as("ids"),
            (st.getField("cur") + 1).as("cur"), c.as("cum")))
          .otherwise(struct(
            concat(st.getField("ids"), array(st.getField("cur"))).as("ids"),
            st.getField("cur").as("cur"),
            (st.getField("cum") + c).as("cum"))))
      val ids = folded.getField("ids")
      val zs = zip_with(sents, ids, (s, i) => struct(i.as("cid"), s.as("s")))
      val zc = zip_with(counts, ids, (c, i) => struct(i.as("cid"), c.as("c")))
      when(org.apache.spark.sql.functions.size(sents) === 0, array().cast(outType))
        .otherwise(transform(sequence(lit(0), element_at(ids, -1)), k => struct(
          k.as("chunk_idx"),
          org.apache.spark.sql.functions.size(
            filter(zs, p => p.getField("cid") === k)).as("n_sentences"),
          aggregate(filter(zc, p => p.getField("cid") === k), lit(0),
            (a, p) => a + p.getField("c")).as("n_tok"),
          array_join(transform(filter(zs, p => p.getField("cid") === k),
            p => p.getField("s")), " ").as("chunk_text"))))
    }).getItem(0)
  }

  // ── URL curation (web-crawl canonicalization; C4/RefinedWeb-class) ────

  /** The one-walk URL kernel: [canon_url, host, registered_domain] (NULL
    * elements for unparseable input). Prefer this single call + indexing
    * when a projection needs more than one part — identical calls
    * dedupe under Spark's subexpression elimination either way. Requires
    * [[GraftFunctions.ensureRegistered]]. Rule list in
    * [[TextKernels.urlParts]]; the whole family is a pure codegen
    * projection (zero shuffles, plan-pinned).
    */
  def urlParts(url: Column): Column = call_function("graft_url_canon", url)

  /** [[urlParts]] with an explicit registered-domain suffix set (a full
    * public-suffix-list snapshot INCLUDING private registries, expanded
    * to plain multi-label entries). The set rides the plan as one
    * reference object — no join, no broadcast, any snapshot size.
    */
  def urlParts(url: Column, suffixes: Seq[String]): Column =
    call_function("graft_url_canon", url, lit(suffixes.mkString(",")))

  /** Canonical URL: fragment/tracking-param/default-port/www stripped,
    * scheme+host lowercased, empty path → "/". Collapses the
    * impression-level variants of one page to one key — the FIRST
    * dedup/rollup step of web-crawl curation.
    */
  def canonicalUrl(url: Column): Column = urlParts(url).getItem(0)

  /** Lowercased, www- and port-stripped host of a URL. */
  def urlHost(url: Column): Column = urlParts(url).getItem(1)

  /** Registered domain (eTLD+1 under the built-in public + private
    * registry suffix set — see [[TextKernels.urlParts]]): the per-site
    * rollup/cap/blocklist key. Private-registry suffixes matter here:
    * `user1.github.io` and `user2.github.io` are DIFFERENT registered
    * domains, so per-domain caps hit each platform site separately.
    */
  def registeredDomain(url: Column): Column = urlParts(url).getItem(2)

  /** [[registeredDomain]] under an explicit suffix-set snapshot. */
  def registeredDomain(url: Column, suffixes: Seq[String]): Column =
    urlParts(url, suffixes).getItem(2)

  /** TRUE when the registered domain sits on the blocklist (lowercase
    * literal membership — a plan-constant IN list, the broadcast-free
    * small-set gate shape). NULL domain (unparseable URL) gates FALSE:
    * the caller decides separately what to do with unparseable rows.
    */
  def domainBlocked(domain: Column, blocked: Seq[String]): Column =
    coalesce(domain.isin(blocked.map(_.toLowerCase(java.util.Locale.ROOT)): _*),
      lit(false))

  // ── HTML main-content extraction (crawl → text, before line filters) ──

  /** One-walk HTML main-content extraction (jusText/trafilatura-class
    * text-vs-link-density block scoring): [clean_text, n_blocks, n_kept,
    * total_chars, kept_chars] (counts as decimal strings — cast, or use
    * the named projections below). The step every real crawl pays
    * between the URL gate ([[canonicalUrl]]) and every text operator:
    * nav/footer/link-list boilerplate is dropped, content blocks join
    * into `clean_text`. Rule list in [[TextKernels.htmlMain]]; a pure
    * codegen projection — zero shuffles, streaming-safe. Requires
    * [[graft.functions.GraftFunctions.ensureRegistered]].
    */
  def htmlMain(html: Column, minWords: Int = 5,
               maxLinkDensity: Double = 0.5): Column =
    call_function("graft_html_main", html, lit(minWords),
      lit(maxLinkDensity.toString))

  /** Kept-block text of [[htmlMain]], newline-joined. */
  def htmlMainText(html: Column, minWords: Int = 5,
                   maxLinkDensity: Double = 0.5): Column =
    htmlMain(html, minWords, maxLinkDensity).getItem(0)

  /** Unicode NFC normalization — [[graft.functions.TextKernels.nfc]]
    * behind `graft_nfc` (Spark has no builtin; q155's oracle replays it
    * with DuckDB `nfc_normalize`). Stays in whole-stage codegen.
    */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Zero-width / BOM code points a web corpus carries invisibly:
    * U+200B..U+200D, U+2060 word joiner, U+FEFF. Kept as one string so
    * the `translate` strip and the count formula share one source.
    */
  val zeroWidthChars: String = "\u200B\u200C\u200D\u2060\uFEFF"

  /** Control characters to strip (C0 minus \t \n, plus DEL), as a Java/
    * RE2-compatible character class — the q155 oracle uses the same
    * class text in DuckDB `regexp_replace`.
    */
  val controlClass: String = "[\\x00-\\x08\\x0B-\\x1F\\x7F]"

  /** One normalization pass a training corpus wants before any text
    * operator: strip zero-width/BOM code points, strip control chars
    * (keeping \t and \n), then compose to NFC. Returns a struct column
    * `(clean_text, n_zero_width, n_control, nfc_changed)` — counts are
    * exact (every stripped code point is one character), `nfc_changed`
    * flags strings whose byte form changed under composition (the
    * mojibake / decomposed-input signal worth a census). All column
    * arithmetic + one codegen kernel; zero shuffles.
    */
  def normalizeUnicode(text: Column): Column = {
    val noZw = translate(text, zeroWidthChars, "")
    val noCtl = regexp_replace(noZw, controlClass, "")
    val clean = nfc(noCtl)
    struct(
      clean.as("clean_text"),
      (length(text) - length(noZw)).cast("long").as("n_zero_width"),
      (length(noZw) - length(noCtl)).cast("long").as("n_control"),
      (clean =!= noCtl).as("nfc_changed"))
  }
}
