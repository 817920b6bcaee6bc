package graft.functions

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text kernels behind graft's native expressions.
  *
  * Why not Column combinators: language scoring composes N `filter(toks,
  * isin)` higher-order functions — HOFs are CodegenFallback, so the
  * tokenizing `split` gets inlined (and re-executed) once per language and
  * nothing runs in generated code. N-gram shingling via `transform` +
  * `slice` + `concat_ws` + `array_distinct` materializes every n-word
  * string twice. These kernels do one pass over the token array each.
  */
object TextKernels {

  /** Marker-word language ID: one pass over the token array. Language
    * codes sort ascending, each marker maps to a language bitmask, every
    * token votes for the languages whose markers it is, and the argmax
    * breaks ties to the lexicographically greatest code (matches
    * `greatest(struct(score, lang))` semantics); "und" when nothing
    * scores. Built once per plan, shipped inside the expression.
    */
  final class LangIdKernel(markers: Seq[(String, Seq[String])]) extends Serializable {
    // votes pack into an Int bitmask: 1 << 32 silently wraps to 1 and
    // credits votes to the wrong language — refuse rather than corrupt
    require(markers.size <= 32,
      s"LangIdKernel supports at most 32 languages, got ${markers.size}")
    private val langs: Array[UTF8String] =
      markers.map(_._1).sorted.map(UTF8String.fromString).toArray
    private val masks: java.util.HashMap[UTF8String, Integer] = {
      val m = new java.util.HashMap[UTF8String, Integer]()
      val idx = markers.map(_._1).sorted.zipWithIndex.toMap
      markers.foreach { case (lang, words) =>
        val bit = 1 << idx(lang)
        words.foreach { w =>
          val k = UTF8String.fromString(w)
          val prev = m.get(k)
          m.put(k, if (prev == null) bit else prev | bit)
        }
      }
      m
    }
    private val und = UTF8String.fromString("und")

    def eval(toks: ArrayData): UTF8String = {
      val counts = new Array[Int](langs.length)
      val n = toks.numElements()
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        val mask = if (t == null) null else masks.get(t)
        if (mask != null) {
          var m = mask.intValue()
          while (m != 0) {
            counts(java.lang.Integer.numberOfTrailingZeros(m)) += 1
            m &= m - 1
          }
        }
        i += 1
      }
      var best = 0
      var bi = -1
      i = 0
      // ascending scan with >= keeps the GREATEST lang code among ties
      while (i < langs.length) {
        if (counts(i) >= best && counts(i) > 0) { best = counts(i); bi = i }
        i += 1
      }
      if (bi < 0) und else langs(bi)
    }
  }

  /** Portable hash bucket of a char n-gram: first 4 md5 bytes as an
    * unsigned int, mod `nBuckets` — the q90 hashing-trick discipline
    * (identical to SQL's `conv(substr(md5(g),1,8),16,10) % nBuckets`),
    * so an external trainer or the DuckDB oracle reproduces bucket
    * assignment exactly. md5 costs ~µs per DISTINCT gram; callers memo.
    */
  def md5Bucket(gram: String, nBuckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % nBuckets).toInt
  }

  /** Weight-vector language ID scorer (the fastText-style hashed-linear
    * move applied to langid, replacing set-membership voting with a
    * TRAINED model): every char n-gram of the lowercased text hashes
    * into one of `nBuckets` buckets ([[md5Bucket]] — oracle-replayable);
    * each language contributes its bucket's naive-Bayes log-probability
    * weight (5-dp-scaled LONGS — exact integer summation, the q65 float
    * discipline). One text walk scores ALL languages: returns
    * [n_grams, sum_lang0, …, sum_langL−1] as longs; argmax/margin/mean
    * arithmetic is Column-side (replayed verbatim by the oracle).
    * Distinct-gram → bucket memo (bounded) amortizes the md5: corpus
    * trigram space is tiny next to corpus size. The weight matrix rides
    * the plan as ONE reference object — no vocabulary join at any scale.
    */
  final class LangIdVecKernel(langsIn: Seq[String], weightsIn: Seq[Array[Long]],
                              n: Int) extends Serializable {
    require(langsIn.nonEmpty && langsIn.size == weightsIn.size,
      s"langs (${langsIn.size}) and weight vectors (${weightsIn.size}) must align")
    require(n >= 1, s"n must be >= 1, got $n")
    val langs: Array[String] = langsIn.toArray
    private val weights: Array[Array[Long]] = weightsIn.toArray
    private val nBuckets = weights(0).length
    require(nBuckets > 0 && weights.forall(_.length == nBuckets),
      "every language weight vector must have the same positive length")
    @transient private lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private def bucket(gram: String): Int = {
      val c = memo.get(gram)
      if (c != null) return c.intValue()
      val b = md5Bucket(gram, nBuckets)
      if (memo.size < (1 << 17)) memo.put(gram, Integer.valueOf(b))
      b
    }
    def eval(text: UTF8String): ArrayData = {
      val s = text.toString.toLowerCase(java.util.Locale.ROOT)
      val L = langs.length
      val out = new Array[Long](L + 1)
      val last = s.length - n
      var i = 0
      while (i <= last) {
        val b = bucket(s.substring(i, i + n))
        out(0) += 1
        var l = 0
        while (l < L) { out(l + 1) += weights(l)(b); l += 1 }
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Count of tokens that belong to a fixed word set (stopword counting).
    * One hash-set probe per token; the combinator form (`filter(toks,
    * isin)`) is a CodegenFallback lambda that linearly scans the word list
    * per token AND kicks the enclosing Project out of whole-stage codegen.
    */
  final class TokenSetKernel(words: Seq[String]) extends Serializable {
    private val set = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => set.add(UTF8String.fromString(w)))
    def count(toks: ArrayData): Int = {
      val n = toks.numElements()
      var c = 0
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        if (t != null && set.contains(t)) c += 1
        i += 1
      }
      c
    }
  }

  /** Distinct xxhash64 values of the word n-grams of a token array: the
    * hashed-shingle set for Jaccard/minhash work, without materializing
    * any n-gram string. Hashes each n-gram's bytes (tokens joined by a
    * single space — the same text a string shingle would hold) via a
    * reused buffer, dedups in a long-keyed hash set.
    */
  def ngramHashes(toks: ArrayData, n: Int): ArrayData = {
    val total = toks.numElements()
    val count = total - (n - 1)
    if (count < 1) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long](count * 2)
    val out = new Array[Long](count)
    var m = 0
    var i = 0
    val sp = UTF8String.fromString(" ")
    while (i < count) {
      // concat n tokens with single spaces; UTF8String.concat is one
      // allocation over the exact byte length
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        val t = toks.getUTF8String(i + j)
        parts(2 * j) = if (t == null) UTF8String.EMPTY_UTF8 else t
        if (j < n - 1) parts(2 * j + 1) = sp
        j += 1
      }
      val ng = UTF8String.concat(parts: _*)
      val h = XxHash64Function.hash(ng, StringType, 42L)
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == count) out else java.util.Arrays.copyOf(out, m))
  }

  /** Adjacent (l, r) symbol pairs of ONE separator-wrapped BPE dictionary
    * word — the per-round hot kernel of `Quality`'s batched BPE rounds.
    * Replays EXACTLY the combinator formulation it replaced (fuzz-pinned
    * in QualitySpec):
    *
    *   syms  = substr(seq, 2, numChars-2).split(Pattern.quote(sep+sep), -1)
    *   pairs = zip(syms.init, syms.tail) as struct(l, r)
    *
    * i.e. strip the single edge separator on each side, split LEFT-TO-
    * RIGHT non-overlapping on the doubled separator (limit -1 — Java
    * split keeps trailing empties), and pair adjacent symbols. The
    * combinator form ran INTERPRETED per row (zip_with / slice are
    * higher-order CodegenFallback expressions) and recompiled the split
    * regex per row (UTF8String.split Pattern.compiles per call) —
    * measured r21: ~150 ms of task CPU per merge round over a 500-word
    * dictionary, ~10 s of q142's 16 s. This kernel is one codegen'd pass.
    */
  def bpePairs(seq: UTF8String, sep: UTF8String): ArrayData = {
    val body = seq.substringSQL(2, seq.numChars() - 2).toString
    val bound = sep.toString
    val bb = bound + bound
    val syms = new scala.collection.mutable.ArrayBuffer[String](8)
    var i = 0
    var scanning = true
    while (scanning) {
      val j = body.indexOf(bb, i)
      if (j < 0) { syms += body.substring(i); scanning = false }
      else { syms += body.substring(i, j); i = j + bb.length }
    }
    val m = syms.length - 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var k = 0
    var prev = UTF8String.fromString(syms(0))
    while (k < m) {
      val next = UTF8String.fromString(syms(k + 1))
      out(k) = org.apache.spark.sql.catalyst.InternalRow(prev, next)
      prev = next
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Rolling k-gram hashes of a token array — the span-strip family's
    * occurrence-stream hash (Dedup.spanOccurrences) in ONE compiled pass.
    * Replays the combinator formulation bit-for-bit (spec-pinned in
    * DupSpanSpec): per gram start i (0-based), fold the k token hashes
    * h = xxhash64(token, seed 42) through
    * acc' = (acc <<< 5) ^ h starting at -7046029254386353131L — the
    * rotate-xor of `gramHashFold`. Returns n-k+1 hashes, or EMPTY when
    * the array has fewer than k tokens (the allStarts guard). The old
    * form — transform(starts, i => aggregate(slice(__th, i+1, k), …)) —
    * ran INTERPRETED per gram with a slice allocation each (r21: the
    * 1-task ~1 s CPU stages of q154/q157/q158).
    */
  def rollingGramHashes(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      // a NULL token leaves xxhash64 at its seed (Spark skips nulls)
      th(i) = if (t == null) 42L else XxHash64Function.hash(t, StringType, 42L)
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    var s = 0
    while (s <= n - k) {
      var acc = -7046029254386353131L
      var j = 0
      while (j < k) {
        acc = ((acc << 5) | (acc >>> 59)) ^ th(s + j)
        j += 1
      }
      out(s) = acc
      s += 1
    }
    new GenericArrayData(out)
  }

  /** The span-strip family's per-document cover fold + token cut in ONE
    * compiled pass (Dedup.cutCovered's tail): given the token array, the
    * SORTED distinct duplicated-gram starts and k, returns
    * (dup_spans, dup_tokens, clean_text) with exactly the combinator
    * semantics (spec-pinned in DupSpanSpec):
    *  - spans/tokens via the (spans, toks, pe) fold — a new span opens
    *    when s > pe + 1; covered tokens accumulate end − max(pe, s−1)
    *    clamped at 0; pe = max(pe, s+k−1);
    *  - clean_text = tokens whose index is covered by NO start, joined
    *    by single spaces (starts sorted ⇒ the cover test is a merge, not
    *    the old O(tokens × starts) interpreted exists-filter);
    *  - a NULL token array yields NULL clean_text but still folds the
    *    starts (matching filter(null…) → null under the old form).
    */
  def spanCut(toks: ArrayData, starts: ArrayData, k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val g = starts.numElements()
    var spans = 0L
    var cov = 0L
    var pe = -2L
    var si = 0
    while (si < g) {
      val s = starts.getInt(si).toLong
      val end = s + (k - 1)
      if (s > pe + 1) spans += 1
      val add = end - math.max(pe, s - 1)
      if (add > 0) cov += add
      if (end > pe) pe = end
      si += 1
    }
    val clean: UTF8String =
      if (toks == null) null
      else {
        val n = toks.numElements()
        val keep = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
        var coverEnd = -1L
        var j = 0
        var i = 0
        while (i < n) {
          while (j < g && starts.getInt(j) <= i) {
            val e2 = starts.getInt(j).toLong + (k - 1)
            if (e2 > coverEnd) coverEnd = e2
            j += 1
          }
          if (i > coverEnd) {
            val t = toks.getUTF8String(i)
            if (t != null) keep += t // array_join drops null elements
          }
          i += 1
        }
        if (keep.isEmpty) UTF8String.EMPTY_UTF8
        else {
          val parts = new Array[UTF8String](2 * keep.length - 1)
          val sp = UTF8String.fromString(" ")
          var m = 0
          while (m < keep.length) {
            parts(2 * m) = keep(m)
            if (m < keep.length - 1) parts(2 * m + 1) = sp
            m += 1
          }
          UTF8String.concat(parts: _*)
        }
      }
    org.apache.spark.sql.catalyst.InternalRow(spans, cov, clean)
  }

  /** Per-document character-entropy summary in ONE pass over the code
    * points: returns [entropy_micro_units, n_distinct_codepoints] where
    * entropy = units / 1e5 nats — Shannon entropy −Σ p ln p of the code
    * -point distribution. Each distinct character contributes an exact
    * long term floor((p·ln p)·1e5 + 0.5), so the sum is order-independent
    * and the whole statistic is bit-replayable by an external SQL engine
    * (the graft micro-unit discipline). Empty string → [0, 0] (callers
    * NULL-guard; a failed extraction must stay visible).
    */
  def charEntropy(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1
    }
    if (n == 0) return new GenericArrayData(Array(0L, 0L))
    var acc = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / n
      acc += math.floor(p * math.log(p) * 100000.0 + 0.5).toLong
    }
    new GenericArrayData(Array(-acc, counts.size().toLong))
  }

  /** zlib compression census of one document: [raw_bytes, zlib_bytes]
    * over the UTF-8 payload at a FIXED deflate level (plan constant) —
    * the Gopher/Dolma-class boilerplate/gibberish signal next to
    * [[charEntropy]]: heavily repeated text compresses far below prose,
    * random-ish gibberish barely compresses at all. JDK `Deflater`,
    * default strategy, nowrap=false (the stock zlib stream); the ratio
    * itself stays OUTSIDE the kernel as one double divide so callers
    * pick their own quantization. Deterministic for a given (payload,
    * level) within a JVM — an external SQL engine cannot replay deflate,
    * so this signal is spec-pinned rather than oracled (the HLL
    * precedent). One Deflater per call, `end()`ed in finally — deflate
    * holds native memory, and executor-thread reuse would leak it
    * otherwise.
    */
  def zlibLens(s: UTF8String, level: Int): ArrayData = {
    val raw = s.getBytes
    if (raw.length == 0) return new GenericArrayData(Array(0L, 0L))
    val d = new java.util.zip.Deflater(level, false)
    try {
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](8192)
      var out = 0L
      while (!d.finished()) out += d.deflate(buf)
      new GenericArrayData(Array(raw.length.toLong, out))
    } finally d.end()
  }

  /** Capped-unigram LM scoring in ONE pass over the token array: returns
    * [n_tokens, sum_micro] where sum_micro is the exact long sum of each
    * token's 5-dp ln-probability in 1e-5 micro-units (vocabulary misses
    * take the smoothing-floor micro value). Replaces the
    * explode → broadcast-join → groupBy scoring pipeline with a pure
    * projection — the per-doc mean needed corpus-wide was the ONLY
    * reason the token stream shuffled, and an exact integer sum is
    * order-independent, so the whole LM score needs zero exchanges.
    * Numerically identical to the decimal(18,5) sum path: every 5-dp
    * value is an exact multiple of 1e-5, so the long micro sum, divided
    * once by 1e5 in double, is the correctly-rounded double of the same
    * exact decimal the old sum produced.
    */
  final class VocabLnpKernel(entries: Seq[(String, Long)], floorMicro: Long)
      extends Serializable {
    private val map = {
      val m = new java.util.HashMap[UTF8String, java.lang.Long](entries.size * 2)
      entries.foreach { case (t, u) => m.put(UTF8String.fromString(t), u) }
      m
    }
    /** [n_tokens, sum_micro_lnp] over the token array (null tokens skipped). */
    def eval(toks: ArrayData): ArrayData = {
      val n = toks.numElements()
      var i = 0
      var sum = 0L
      var cnt = 0L
      while (i < n) {
        val t = toks.getUTF8String(i)
        if (t != null) {
          cnt += 1
          val u = map.get(t)
          sum += (if (u == null) floorMicro else u.longValue())
        }
        i += 1
      }
      new GenericArrayData(Array(cnt, sum))
    }
  }

  /** BPE merge-table application (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units" — public paper): fuse
    * a word's code-point symbol sequence under a RANKED merge table and
    * report the resulting token count. Semantics are SEQUENTIAL-BY-RANK —
    * merge 1 applied everywhere (greedy left-to-right, non-overlapping:
    * "aaa" under (a,a) → ["aa","a"]), then merge 2 on the result, and so
    * on — i.e. exactly the fold a trainer performs, operating on SYMBOL
    * LISTS so a merge can never fuse across a symbol boundary (word "aba"
    * under merges (a,b),(b,a) stays ["ab","a"]; a flat-string replace
    * would fuse it to one token).
    *
    * Cost is O(len × merges-applied), INDEPENDENT of table size: instead
    * of scanning the table, each step looks up the adjacent pairs present
    * in a rank map and applies the lowest-ranked one at or above a
    * monotone floor (a merge whose rank has passed is never revisited —
    * the sequential contract; on real training outputs this also equals
    * the reference apply-lowest-rank-first encode loop, since a merge's
    * constituents always fused at earlier ranks). CONTRACT: the default
    * mode therefore expects a TRAINING-ORDER table (graft.operators
    * .Quality bpeTrain output or fold-consistent equivalent); for an
    * arbitrary FOREIGN table (an HF-style tokenizer's merges.txt) where
    * a later merge can create a symbol that re-enables an earlier rank,
    * pass `rescan = true` — the floor stays at 0 and every application
    * re-scans from rank 0, which IS the HF/GPT-2 reference encode loop
    * (lowest-ranked pair anywhere, all occurrences fused greedy-LTR,
    * repeat; fuzz-pinned against an independent reference encoder and
    * against the fold's provable equality on training-order tables).
    * The table ships ONCE
    * per plan as a reference object, never as per-merge expression nodes
    * — plan size stays O(1) at a production tokenizer's 30k-50k merges.
    */
  final class BpeKernel(merges: Seq[(String, String)],
                        rescan: Boolean = false) extends Serializable {
    private val table: Array[(String, String)] = merges.toArray
    private val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.size * 2)
      var i = 0
      while (i < table.length) {
        val k = table(i)._1 + '\u001f' + table(i)._2
        if (!m.containsKey(k)) m.put(k, i) // duplicate pair: lowest rank wins
        i += 1
      }
      m
    }

    /** The word's symbol sequence after every merge has been applied. */
    def encodeSymbols(word: String): java.util.ArrayList[String] = {
      var syms = new java.util.ArrayList[String](word.length)
      var i = 0
      while (i < word.length) {
        val w = Character.charCount(word.codePointAt(i))
        syms.add(word.substring(i, i + w))
        i += w
      }
      var floor = 0
      var done = syms.size < 2
      while (!done) {
        // lowest-ranked (>= floor) pair present anywhere in the word
        var best = Int.MaxValue
        var j = 0
        while (j < syms.size - 1) {
          val r = rank.get(syms.get(j) + '\u001f' + syms.get(j + 1))
          if (r != null && r >= floor && r < best) best = r
          j += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          val (l, rr) = table(best)
          val out = new java.util.ArrayList[String](syms.size)
          var p = 0
          while (p < syms.size) { // greedy LTR non-overlapping fuse
            if (p + 1 < syms.size && syms.get(p) == l && syms.get(p + 1) == rr) {
              out.add(l + rr); p += 2
            } else { out.add(syms.get(p)); p += 1 }
          }
          syms = out
          // rescan (HF-compat) mode: a freshly-fused symbol may re-enable
          // an EARLIER rank, so the floor never advances — the loop still
          // terminates because every applied merge shrinks the list.
          // Default (fold) mode keeps the monotone floor: training-order
          // tables guarantee no earlier rank ever re-enables, making the
          // two modes provably equal there (spec-pinned) and the fold
          // cheaper on long words.
          floor = if (rescan) 0 else best + 1
          done = syms.size < 2
        }
      }
      syms
    }

    /** Token count of one word under the table. */
    def tokenCount(word: UTF8String): Int = encodeSymbols(word.toString).size
  }

  /** Viterbi segmentation of ONE word under a unigram-LM piece table
    * (Kudo 2018 "Subword Regularization" / SentencePiece inference, the
    * exact-integer face): pieces carry INTEGER micro-unit costs
    * (−round(ln p × 1e5), see [[graft.operators.UnigramLm]]), so the DP
    * is exact arithmetic with NO floating point — the same best path on
    * every engine. Tie rule, DP-composable and oracle-replayable: minimum
    * total cost, then the LEXICOGRAPHICALLY SMALLEST piece sequence under
    * UTF-8 byte order (two tied candidates are distinct segmentations of
    * the same prefix, so neither is a list-prefix of the other and the
    * first differing element always decides — matching DuckDB's native
    * VARCHAR[] ordering). A position no piece reaches falls back to a
    * single-code-point UNK step at a large constant cost, so coverage is
    * total even off the training corpus (on it, the retained single-char
    * pieces make UNK unreachable). The table ships ONCE per plan as a
    * reference object — plan size is O(1) in vocabulary size.
    */
  final class UnigramKernel(entries: Seq[(String, Long)]) extends Serializable {
    require(entries.nonEmpty, "unigram piece table must be non-empty")
    private val costs: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](entries.size * 2)
      entries.foreach { case (p, c) =>
        require(p.nonEmpty, "unigram pieces must be non-empty")
        val prev = m.get(p)
        if (prev == null || c < prev) m.put(p, c) // dup piece: cheapest wins
      }
      m
    }
    private val maxLen: Int =
      entries.iterator.map(e => e._1.codePointCount(0, e._1.length)).max
    private val UnkCost = 100000000L // >> any real path; word_len × this fits a Long

    private def utf8Cmp(a: String, b: String): Int = {
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
    private def pathCmp(a: IndexedSeq[String], b: IndexedSeq[String]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = utf8Cmp(a(i), b(i))
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }

    /** Best (min-cost, then lex-min) piece sequence for `word`. */
    def bestPath(word: String): IndexedSeq[String] = {
      // split to code points once; DP over code-point positions
      val cps = new scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < word.length) {
        val w = Character.charCount(word.codePointAt(i))
        cps += word.substring(i, i + w)
        i += w
      }
      val n = cps.length
      if (n == 0) return Vector.empty
      val bestCost = new Array[Long](n + 1)
      val bestPathArr = new Array[Vector[String]](n + 1)
      bestPathArr(0) = Vector.empty
      var pos = 1
      while (pos <= n) {
        var bc = Long.MaxValue
        var bp: Vector[String] = null
        var l = 1
        while (l <= math.min(maxLen, pos)) {
          val piece = cps.slice(pos - l, pos).mkString
          val c = costs.get(piece)
          if (c != null) {
            val cand = bestCost(pos - l) + c.longValue()
            if (cand < bc) { bc = cand; bp = bestPathArr(pos - l) :+ piece }
            else if (cand == bc) { // tie: lex-min full piece sequence
              val candPath = bestPathArr(pos - l) :+ piece
              if (pathCmp(candPath, bp) < 0) bp = candPath
            }
          }
          l += 1
        }
        if (bp == null) { // unreachable: single-code-point UNK step
          bc = bestCost(pos - 1) + UnkCost
          bp = bestPathArr(pos - 1) :+ cps(pos - 1)
        }
        bestCost(pos) = bc
        bestPathArr(pos) = bp
        pos += 1
      }
      bestPathArr(n)
    }

    // per-word piece counts are a pure function of (word, table) and the
    // table is fixed for the kernel's lifetime, so counts memoize: one
    // kernel instance serves a whole stage (addReferenceObj), natural
    // text is Zipf-distributed, and the DP + path tie-breaking is the
    // expensive part (measured 50 s vs BPE's 2.8 s at 100× before the
    // memo; ~3 s after). Bounded (2^16 entries ≈ a few MB) and
    // thread-safe — over-cap words just compute uncached. Purely a
    // speed cache: results are identical with or without it.
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val MemoCap = 1 << 16

    /** Piece count of one word under the table. */
    def pieceCount(word: UTF8String): Int = {
      val s = word.toString
      val cached = memo.get(s)
      if (cached != null) return cached.intValue()
      val n = bestPath(s).length
      if (memo.size < MemoCap) memo.put(s, Integer.valueOf(n))
      n
    }
  }

  /** Deletion neighborhood (the SymSpell / FastSS blocking key — public
    * algorithm): every DISTINCT string reachable from `s` by deleting up
    * to `d` code points, the string itself included. If
    * `levenshtein(a, b) <= d` the neighborhoods of a and b intersect
    * (delete the sub/del positions of an optimal alignment from a and the
    * sub/ins positions from b — both sides reach the matched-character
    * string in <= d deletions), so joining on a shared variant is a
    * lossless candidate filter for edit-distance <= d.
    *
    * Variant count is bounded by C(len, <=d) — callers bound len (the
    * editDistancePairs short band caps it at 2·maxDist). BFS by rounds so
    * each variant string is built exactly once; dedup in one hash set.
    */
  def deletionVariants(s: UTF8String, d: Int): ArrayData = {
    val base = s.toString
    val seen = new java.util.LinkedHashSet[String]()
    seen.add(base)
    var frontier = new java.util.ArrayList[String]()
    frontier.add(base)
    var round = 0
    while (round < d && !frontier.isEmpty) {
      val next = new java.util.ArrayList[String]()
      val it = frontier.iterator()
      while (it.hasNext) {
        val cur = it.next()
        var i = 0
        while (i < cur.length) {
          val w = Character.charCount(cur.codePointAt(i))
          val v = cur.substring(0, i) + cur.substring(i + w)
          if (seen.add(v)) next.add(v)
          i += w
        }
      }
      frontier = next
      round += 1
    }
    val out = new Array[Any](seen.size)
    var m = 0
    val it = seen.iterator()
    while (it.hasNext) { out(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(out)
  }

  /** One-pass capped-BIGRAM LM scoring over a token array: [n_tokens,
    * sum_micro] where each token contributes the 5-dp micro-units of its
    * conditional ln-probability — first token ln((c2|alpha)/total),
    * later tokens ln((c12 + alpha·p1)/(c1 + alpha)) — under three
    * vocabulary maps shipped as ONE reference object. Arithmetic is the
    * join pipeline's exact double sequence, and the per-term rounding is
    * `BigDecimal(x).setScale(5, HALF_UP)` — the same code path Spark's
    * `round(_, 5)` takes, so the long micro sum equals the old
    * decimal(18,5) sum times 1e5 bit-for-bit (spec-pinned equality with
    * the join form). Replaces the context-stream explode → 3 broadcast
    * joins → groupBy(id) re-shuffle with a pure projection: the per-doc
    * mean was the only reason the token stream shuffled.
    */
  final class BigramLnpKernel(pairs: Seq[(String, String, Long)],
      firsts: Seq[(String, Long)], unis: Seq[(String, Long)],
      total: Long, alpha: Double) extends Serializable {
    private def micro(x: Double): Long =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.movePointRight(5).longValueExact
    // raw counts (the double math below must replay the join pipeline's
    // exact operation order)
    private val c1m = {
      val m = new java.util.HashMap[UTF8String, java.lang.Long](firsts.size * 2)
      firsts.foreach { case (p, c) => m.put(UTF8String.fromString(p), c) }
      m
    }
    private val c2m = {
      val m = new java.util.HashMap[UTF8String, java.lang.Long](unis.size * 2)
      unis.foreach { case (t, c) => m.put(UTF8String.fromString(t), c) }
      m
    }
    private def p1Of(tok: UTF8String): Double = {
      val c2 = c2m.get(tok)
      (if (c2 == null) alpha else c2.doubleValue()) / total.toDouble
    }
    private def termMicro(c12v: Double, c1v: Double, p1: Double): Long =
      micro(math.log((c12v + alpha * p1) / (c1v + alpha)))
    // PRECOMPUTED micro terms — the rounding (a BigDecimal construction
    // per value) is ~100× a hash probe, so it must happen once per
    // DISTINCT input, not once per token: first-token terms per vocab
    // entry + one OOV constant, and the conditional term of every pair
    // in the c12 table. OOV-pair terms (c12 = 0) depend only on
    // (c1(prev), c2(tok)|alpha) — memoized on first sight, keyed by the
    // packed count pair, with a direct-compute guard for counts beyond
    // 2^31 or a saturated memo (exactness never depends on the cache).
    private val firstMicro = {
      val m = new java.util.HashMap[UTF8String, java.lang.Long](unis.size * 2)
      unis.foreach { case (t, c) =>
        m.put(UTF8String.fromString(t), micro(math.log(c.toDouble / total.toDouble))) }
      m
    }
    private val firstOovMicro = micro(math.log(alpha / total.toDouble))
    private val pairMicro = {
      val m = new java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]]()
      pairs.foreach { case (p, t, c12) =>
        val pu = UTF8String.fromString(p)
        val tu = UTF8String.fromString(t)
        var inner = m.get(pu)
        if (inner == null) {
          inner = new java.util.HashMap[UTF8String, java.lang.Long]()
          m.put(pu, inner)
        }
        val c1 = c1m.get(pu)
        inner.put(tu, termMicro(c12.toDouble,
          if (c1 == null) 0.0 else c1.doubleValue(), p1Of(tu)))
      }
      m
    }
    @transient private lazy val oovMemo =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    private val memoCap = 1 << 20
    def eval(toks: ArrayData): ArrayData = {
      val n = toks.numElements()
      var sum = 0L
      var prev: UTF8String = null
      var i = 0
      while (i < n) {
        val tok = toks.getUTF8String(i)
        if (i == 0) {
          val fm = firstMicro.get(tok)
          sum += (if (fm == null) firstOovMicro else fm.longValue())
        } else {
          val inner = pairMicro.get(prev)
          val pm: java.lang.Long = if (inner == null) null else inner.get(tok)
          if (pm != null) sum += pm.longValue()
          else {
            val c1 = c1m.get(prev)
            val c1v = if (c1 == null) 0L else c1.longValue()
            val c2 = c2m.get(tok)
            val c2k = if (c2 == null) 0L else c2.longValue() + 1L // 0 = OOV
            if (c1v < Int.MaxValue && c2k < Int.MaxValue) {
              val key: java.lang.Long = (c1v << 31) | c2k
              var v = oovMemo.get(key)
              if (v == null) {
                v = termMicro(0.0, c1v.toDouble, p1Of(tok))
                if (oovMemo.size < memoCap) oovMemo.put(key, v)
              }
              sum += v.longValue()
            } else sum += termMicro(0.0, c1v.toDouble, p1Of(tok))
          }
        }
        prev = tok
        i += 1
      }
      new GenericArrayData(Array(n.toLong, sum))
    }
  }

  /** One-pass capped-TRIGRAM LM scoring over a token array: [n_tokens,
    * sum_micro] — the [[BigramLnpKernel]] with one more order of
    * interpolated backoff. Per token: first ln p₁ (unigram, OOV→alpha),
    * second ln p₂ = ln((c12 + α·p₁)/(c1 + α)) (the bigram term), third+
    * ln p₃ = ln((c123 + α·p₂)/(c12ctx + α)) where p₂ is the UNROUNDED
    * double bigram probability and c12ctx is the context pair's count
    * from the SAME capped bigram table (self-consistent capped model —
    * a cap-evicted context backs off exactly like an unseen one). Same
    * 5-dp HALF_UP micro rounding per term, so the long sum replays in
    * any engine with IEEE doubles. All four tables are precomputed into
    * micro/double maps at construction (one reference object per plan);
    * the OOV-trigram path memoizes micro terms two-level on (p₂ bits,
    * context count) — exactness never depends on the cache, only cost.
    */
  final class TrigramLnpKernel(tris: Seq[(String, String, String, Long)],
      pairs: Seq[(String, String, Long)], firsts: Seq[(String, Long)],
      unis: Seq[(String, Long)], total: Long, alpha: Double)
      extends Serializable {
    private def micro(x: Double): Long =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.movePointRight(5).longValueExact
    private val c1m = {
      val m = new java.util.HashMap[UTF8String, java.lang.Long](firsts.size * 2)
      firsts.foreach { case (p, c) => m.put(UTF8String.fromString(p), c) }
      m
    }
    private val c2m = {
      val m = new java.util.HashMap[UTF8String, java.lang.Long](unis.size * 2)
      unis.foreach { case (t, c) => m.put(UTF8String.fromString(t), c) }
      m
    }
    // (prev -> tok -> c12): numerator table for p2 AND context table for p3
    private val c12m = {
      val m = new java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]]()
      pairs.foreach { case (p, t, c) =>
        var inner = m.get(UTF8String.fromString(p))
        if (inner == null) {
          inner = new java.util.HashMap[UTF8String, java.lang.Long]()
          m.put(UTF8String.fromString(p), inner)
        }
        inner.put(UTF8String.fromString(t), c)
      }
      m
    }
    private def p1Of(tok: UTF8String): Double = {
      val c2 = c2m.get(tok)
      (if (c2 == null) alpha else c2.doubleValue()) / total.toDouble
    }
    private def c1Of(prev: UTF8String): Double = {
      val c1 = c1m.get(prev)
      if (c1 == null) 0.0 else c1.doubleValue()
    }
    private def c12Of(a: UTF8String, b: UTF8String): Double = {
      val inner = c12m.get(a)
      if (inner == null) return 0.0
      val c = inner.get(b)
      if (c == null) 0.0 else c.doubleValue()
    }
    /** Unrounded double bigram probability — the p₂ the trigram term
      * interpolates toward (the join pipeline's exact operation order).
      */
    private def p2Of(prev: UTF8String, tok: UTF8String): Double =
      (c12Of(prev, tok) + alpha * p1Of(tok)) / (c1Of(prev) + alpha)
    // micro term tables: first-token + bigram (the BigramLnpKernel
    // shapes) + every trigram table entry
    private val firstMicro = {
      val m = new java.util.HashMap[UTF8String, java.lang.Long](unis.size * 2)
      unis.foreach { case (t, c) =>
        m.put(UTF8String.fromString(t), micro(math.log(c.toDouble / total.toDouble))) }
      m
    }
    private val firstOovMicro = micro(math.log(alpha / total.toDouble))
    private val pairMicro = {
      val m = new java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]]()
      pairs.foreach { case (p, t, _) =>
        val pu = UTF8String.fromString(p)
        val tu = UTF8String.fromString(t)
        var inner = m.get(pu)
        if (inner == null) {
          inner = new java.util.HashMap[UTF8String, java.lang.Long]()
          m.put(pu, inner)
        }
        inner.put(tu, micro(math.log(p2Of(pu, tu))))
      }
      m
    }
    private def triTermMicro(c123: Double, p2: Double, ctx: Double): Long =
      micro(math.log((c123 + alpha * p2) / (ctx + alpha)))
    private val triMicro = {
      val m = new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]]]()
      tris.foreach { case (p2s, p, t, c123) =>
        val ku = UTF8String.fromString(p2s)
        val pu = UTF8String.fromString(p)
        val tu = UTF8String.fromString(t)
        var l1 = m.get(ku)
        if (l1 == null) {
          l1 = new java.util.HashMap[UTF8String,
            java.util.HashMap[UTF8String, java.lang.Long]]()
          m.put(ku, l1)
        }
        var l2 = l1.get(pu)
        if (l2 == null) {
          l2 = new java.util.HashMap[UTF8String, java.lang.Long]()
          l1.put(pu, l2)
        }
        l2.put(tu, triTermMicro(c123.toDouble, p2Of(pu, tu), c12Of(ku, pu)))
      }
      m
    }
    // OOV-pair p2 doubles memoized on (c1, c2|oov) like the bigram
    // kernel's micro memo (doubles here — the rounding happens at the
    // trigram term); OOV-trigram micro terms memoized two-level on
    // (p2 bits, context count)
    @transient private lazy val p2OovMemo =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Double]()
    @transient private lazy val triOovMemo =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long,
        java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]]()
    private val memoCap = 1 << 20
    private def p2Memoized(prev: UTF8String, tok: UTF8String): Double = {
      val inner = c12m.get(prev)
      val c12 = if (inner == null) null else inner.get(tok)
      if (c12 != null) return p2Of(prev, tok) // table pair: direct, cheap
      val c1 = c1m.get(prev)
      val c1v = if (c1 == null) 0L else c1.longValue()
      val c2 = c2m.get(tok)
      val c2k = if (c2 == null) 0L else c2.longValue() + 1L // 0 = OOV
      if (c1v < Int.MaxValue && c2k < Int.MaxValue) {
        val key: java.lang.Long = (c1v << 31) | c2k
        var v = p2OovMemo.get(key)
        if (v == null) {
          v = p2Of(prev, tok)
          if (p2OovMemo.size < memoCap) p2OovMemo.put(key, v)
        }
        v.doubleValue()
      } else p2Of(prev, tok)
    }
    def eval(toks: ArrayData): ArrayData = {
      val n = toks.numElements()
      var sum = 0L
      var prev: UTF8String = null
      var prev2: UTF8String = null
      var i = 0
      while (i < n) {
        val tok = toks.getUTF8String(i)
        if (i == 0) {
          val fm = firstMicro.get(tok)
          sum += (if (fm == null) firstOovMicro else fm.longValue())
        } else if (i == 1) {
          val inner = pairMicro.get(prev)
          val pm: java.lang.Long = if (inner == null) null else inner.get(tok)
          sum += (if (pm != null) pm.longValue()
                  else micro(math.log(p2Memoized(prev, tok))))
        } else {
          val l1 = triMicro.get(prev2)
          val l2 = if (l1 == null) null else l1.get(prev)
          val tm: java.lang.Long = if (l2 == null) null else l2.get(tok)
          if (tm != null) sum += tm.longValue()
          else {
            val p2 = p2Memoized(prev, tok)
            val ctxv = c12Of(prev2, prev)
            val ctxl = ctxv.toLong
            val p2Bits: java.lang.Long = java.lang.Double.doubleToLongBits(p2)
            var inner = triOovMemo.get(p2Bits)
            if (inner == null) {
              inner = new java.util.concurrent.ConcurrentHashMap[
                java.lang.Long, java.lang.Long]()
              if (triOovMemo.size < memoCap) triOovMemo.put(p2Bits, inner)
            }
            var v = inner.get(ctxl)
            if (v == null) {
              v = triTermMicro(0.0, p2, ctxv)
              if (inner.size < memoCap) inner.put(ctxl, v)
            }
            sum += v.longValue()
          }
        }
        prev2 = prev
        prev = tok
        i += 1
      }
      new GenericArrayData(Array(n.toLong, sum))
    }
  }

  /** One-pass capped-trigram KNESER-NEY scoring of a token array —
    * [n_tokens, sum_micro_lnp] under interpolated KN smoothing (Kneser &
    * Ney 1995 / Chen & Goodman 1998's interpolated form) with a FIXED
    * discount D, self-consistently derived from the SAME two capped
    * tables the lite kernel ships (trigram + bigram counts): every
    * continuation statistic is an exact fold over the capped entries at
    * construction, so the whole model stays a bounded plan constant and
    * replays in SQL as aggregations over the replayed capped tables.
    *
    * Level structure (per token; D = discount, α the unigram OOV floor):
    * {{{
    *   P1(w)     = (N1+(·w) + α) / (B + α)              B = |bigram table|
    *   P2(w|v)   = (max(N1+(·vw)−D, 0) + D·N1+(v·)·P1(w)) / N1+(·v·)
    *               when v occurs as a trigram MIDDLE; else P1(w)
    *   P3(w|u,v) = (max(c(uvw)−D, 0) + D·N1+(uv·)·P2(w|v)) / c(uv)
    *               when (u,v) has BOTH a bigram count and ≥1 capped
    *               trigram continuation; else P2(w|v)
    * }}}
    * N1+ counts are continuation/follower TYPE counts over the capped
    * tables (N1+(·w) = distinct predecessors of w in the bigram table;
    * N1+(·vw)/N1+(v·)/N1+(·v·)/N1+(uv·) over the trigram table). The
    * α floor keeps P1 finite for OOV tokens; the double back-off guard
    * on P3 (counts AND continuations present) is what caps make
    * necessary — a pair kept by the bigram cap whose trigrams were all
    * evicted must back off, or its discounted numerator could be an
    * exact zero. Token i=0 scores ln P1, i=1 ln P2, i≥2 ln P3; every ln
    * is 5-dp HALF_UP micro-rounded and the long sum replays exactly.
    * Probability doubles are computed in the written operation order
    * (max, then D·f·p, then add, then divide) so IEEE results match the
    * SQL replay bit-for-bit. One shared micro-ln memo keyed by the
    * probability's raw bits — exactness never depends on the cache.
    */
  final class TrigramKnKernel(tris: Seq[(String, String, String, Long)],
      pairs: Seq[(String, String, Long)], discount: Double, alpha: Double)
      extends Serializable {
    private def micro(x: Double): Long =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.movePointRight(5).longValueExact
    // raw count tables
    private val c12m = {
      val m = new java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]]()
      pairs.foreach { case (p, t, c) =>
        var inner = m.get(UTF8String.fromString(p))
        if (inner == null) {
          inner = new java.util.HashMap[UTF8String, java.lang.Long]()
          m.put(UTF8String.fromString(p), inner)
        }
        inner.put(UTF8String.fromString(t), c)
      }
      m
    }
    private val c3m = {
      val m = new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]]]()
      tris.foreach { case (a, p, t, c) =>
        val au = UTF8String.fromString(a)
        var l1 = m.get(au)
        if (l1 == null) {
          l1 = new java.util.HashMap[UTF8String,
            java.util.HashMap[UTF8String, java.lang.Long]]()
          m.put(au, l1)
        }
        val pu = UTF8String.fromString(p)
        var l2 = l1.get(pu)
        if (l2 == null) {
          l2 = new java.util.HashMap[UTF8String, java.lang.Long]()
          l1.put(pu, l2)
        }
        l2.put(UTF8String.fromString(t), c)
      }
      m
    }
    // continuation/follower TYPE counts — exact folds over the capped
    // entries (entries are distinct by construction, so row counts ARE
    // type counts)
    private val npm = { // N1+(·w) over the bigram table
      val m = new java.util.HashMap[UTF8String, java.lang.Long]()
      pairs.foreach { case (_, t, _) =>
        val tu = UTF8String.fromString(t)
        val old = m.get(tu)
        m.put(tu, if (old == null) 1L else old.longValue() + 1L)
      }
      m
    }
    private val bTypes: Long = pairs.size.toLong
    private val nvm = { // N1+(·v·): trigram rows with middle v
      val m = new java.util.HashMap[UTF8String, java.lang.Long]()
      tris.foreach { case (_, p, _, _) =>
        val pu = UTF8String.fromString(p)
        val old = m.get(pu)
        m.put(pu, if (old == null) 1L else old.longValue() + 1L)
      }
      m
    }
    private val f2m = { // N1+(v·): DISTINCT w with middle v in the trigram table
      val seen = new java.util.HashSet[(String, String)]()
      val m = new java.util.HashMap[UTF8String, java.lang.Long]()
      tris.foreach { case (_, p, t, _) =>
        if (seen.add((p, t))) {
          val pu = UTF8String.fromString(p)
          val old = m.get(pu)
          m.put(pu, if (old == null) 1L else old.longValue() + 1L)
        }
      }
      m
    }
    private val cont2m = { // N1+(·vw): distinct predecessors of (v,w) in tris
      val m = new java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]]()
      tris.foreach { case (_, p, t, _) =>
        val pu = UTF8String.fromString(p)
        var inner = m.get(pu)
        if (inner == null) {
          inner = new java.util.HashMap[UTF8String, java.lang.Long]()
          m.put(pu, inner)
        }
        val tu = UTF8String.fromString(t)
        val old = inner.get(tu)
        inner.put(tu, if (old == null) 1L else old.longValue() + 1L)
      }
      m
    }
    private val f3m = { // N1+(uv·): trigram rows with prefix (u,v)
      val m = new java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]]()
      tris.foreach { case (a, p, _, _) =>
        val au = UTF8String.fromString(a)
        var inner = m.get(au)
        if (inner == null) {
          inner = new java.util.HashMap[UTF8String, java.lang.Long]()
          m.put(au, inner)
        }
        val pu = UTF8String.fromString(p)
        val old = inner.get(pu)
        inner.put(pu, if (old == null) 1L else old.longValue() + 1L)
      }
      m
    }
    private def longOf(m: java.util.HashMap[UTF8String, java.lang.Long],
                       k: UTF8String): Long = {
      val v = m.get(k)
      if (v == null) 0L else v.longValue()
    }
    private def longOf2(m: java.util.HashMap[UTF8String,
        java.util.HashMap[UTF8String, java.lang.Long]],
        a: UTF8String, b: UTF8String): Long = {
      val inner = m.get(a)
      if (inner == null) return 0L
      val v = inner.get(b)
      if (v == null) 0L else v.longValue()
    }
    private def p1Of(w: UTF8String): Double =
      (longOf(npm, w).toDouble + alpha) / (bTypes.toDouble + alpha)
    private def p2Of(v: UTF8String, w: UTF8String): Double = {
      val nv = longOf(nvm, v)
      if (nv == 0L) p1Of(w)
      else {
        val cnt = longOf2(cont2m, v, w).toDouble
        (math.max(cnt - discount, 0.0) +
          discount * longOf(f2m, v).toDouble * p1Of(w)) / nv.toDouble
      }
    }
    private def p3Of(u: UTF8String, v: UTF8String, w: UTF8String): Double = {
      val f3 = longOf2(f3m, u, v)
      val c12 = longOf2(c12m, u, v)
      if (f3 == 0L || c12 == 0L) p2Of(v, w)
      else {
        val c3 = {
          val l1 = c3m.get(u)
          val l2 = if (l1 == null) null else l1.get(v)
          val c = if (l2 == null) null else l2.get(w)
          if (c == null) 0.0 else c.doubleValue()
        }
        (math.max(c3 - discount, 0.0) +
          discount * f3.toDouble * p2Of(v, w)) / c12.toDouble
      }
    }
    // one shared micro-ln memo: micro(ln x) depends only on x's bits
    @transient private lazy val lnMemo =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    private val memoCap = 1 << 20
    private def lnMicro(x: Double): Long = {
      val bits: java.lang.Long = java.lang.Double.doubleToLongBits(x)
      var v = lnMemo.get(bits)
      if (v == null) {
        v = micro(math.log(x))
        if (lnMemo.size < memoCap) lnMemo.put(bits, v)
      }
      v.longValue()
    }
    def eval(toks: ArrayData): ArrayData = {
      val n = toks.numElements()
      var sum = 0L
      var prev: UTF8String = null
      var prev2: UTF8String = null
      var i = 0
      while (i < n) {
        val tok = toks.getUTF8String(i)
        if (i == 0) sum += lnMicro(p1Of(tok))
        else if (i == 1) sum += lnMicro(p2Of(prev, tok))
        else sum += lnMicro(p3Of(prev2, prev, tok))
        prev2 = prev
        prev = tok
        i += 1
      }
      new GenericArrayData(Array(n.toLong, sum))
    }
  }

  /** One-pass repetition profile of a token array — [n_tokens,
    * max_token_count, ngram_instances, distinct_ngram_hashes] — the four
    * counts q60's two explode→groupBy(id) chains shuffled the token
    * stream (twice) to produce. Gram identity is the xxhash64 (seed 42)
    * of the space-joined n-gram, exactly the `xxhash64(g)` the aggregate
    * form grouped on — hash-collision stance unchanged. The fractions
    * stay OUTSIDE the kernel as the same long→double casts and divides
    * the aggregate computed, so results are bit-equal (spec-pinned).
    */
  def repProfile(toks: ArrayData, n: Int): ArrayData = {
    val total = toks.numElements()
    val tokCounts = new java.util.HashMap[UTF8String, Array[Long]]()
    var maxC = 0L
    var i = 0
    while (i < total) {
      val t = toks.getUTF8String(i)
      val slot = tokCounts.get(t)
      val c = if (slot == null) { tokCounts.put(t, Array(1L)); 1L }
              else { slot(0) += 1; slot(0) }
      if (c > maxC) maxC = c
      i += 1
    }
    val grams = math.max(total - (n - 1), 0)
    val seen = new java.util.HashSet[java.lang.Long](grams * 2 + 2)
    val sp = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](2 * n - 1) // reused across grams
    var k = 1
    while (k < parts.length) { parts(k) = sp; k += 2 }
    i = 0
    while (i < grams) {
      var j = 0
      while (j < n) {
        val t = toks.getUTF8String(i + j)
        parts(2 * j) = if (t == null) UTF8String.EMPTY_UTF8 else t
        j += 1
      }
      seen.add(XxHash64Function.hash(UTF8String.concat(parts: _*), StringType, 42L))
      i += 1
    }
    new GenericArrayData(Array(total.toLong, maxC, grams.toLong,
      seen.size.toLong))
  }

  /** One-pass token/char profile of a string — [n_tokens_ws, word_chars,
    * punct_chars] — replacing THREE regex scans (a `split` plus two
    * `regexp_replace`-then-`length`) with one code-point walk. Semantics
    * replicate the Column forms bit-for-bit (spec-pinned fuzz):
    *
    *  - n_tokens_ws == `when(length(trim(t))===0, 0).otherwise(
    *    size(split(trim(t), "\\s+")))`: trim strips ASCII SPACES only,
    *    and Spark's split is limit=-1 (leading AND trailing empty
    *    segments kept), so k whitespace runs yield k+1 segments —
    *    count = ws_runs + 1 on a nonempty trimmed string; whitespace
    *    is Java regex `\s` = [ \t\n\x0B\f\r] (ASCII, no Unicode
    *    classes).
    *  - word_chars == length after deleting [^A-Za-z0-9].
    *  - punct_chars == length after deleting [A-Za-z0-9\s] — every
    *    OTHER code point counts once (non-ASCII letters included, the
    *    declared BPE-ish stand-in semantics).
    */
  def tokenProfile(s: UTF8String): ArrayData = {
    val str = s.toString
    var lo = 0
    var hi = str.length
    while (lo < hi && str.charAt(lo) == ' ') lo += 1
    while (hi > lo && str.charAt(hi - 1) == ' ') hi -= 1
    def isWs(c: Int): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
        c == '\r'
    var wsRuns = 0L
    var wordChars = 0L
    var punctChars = 0L
    var inWsRun = false
    var i = lo
    while (i < hi) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      val ws = cp < 128 && isWs(cp)
      if (ws) {
        if (!inWsRun) { wsRuns += 1; inWsRun = true }
      } else {
        inWsRun = false
        val alnum = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
          (cp >= '0' && cp <= '9')
        if (alnum) wordChars += 1 else punctChars += 1
      }
    }
    val tokens = if (lo == hi) 0L else wsRuns + 1L
    // word/punct tallies must cover the UNTRIMMED string (the Column
    // forms scan `text`, not trim(text)) — leading/trailing spaces are
    // neither alnum nor punct, so the trimmed walk already equals them
    new GenericArrayData(Array(tokens, wordChars, punctChars))
  }

  // ── URL canonicalization (web-curation family) ─────────────────────────

  /** Query-string keys dropped by the canonicalizer: click/campaign
    * tracking identifiers that vary per impression without changing the
    * page (the C4/RefinedWeb-class URL-collapse move; public curation
    * literature). Matched on the LOWERCASED key; `utm_*` matches by
    * prefix in the walker.
    */
  val trackingKeyList: Seq[String] =
    Seq("gclid", "fbclid", "msclkid", "igshid", "mc_cid", "mc_eid",
      "ref", "ref_src", "s_kwcid", "spm")

  private val trackingKeys: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    trackingKeyList.foreach(s.add)
    s
  }

  /** Multi-label PUBLIC (ICANN-section) suffixes recognized by the
    * default registered-domain rule — a BUILT-IN subset of the Mozilla
    * public-suffix list (deployments with the full ~9k-entry PSL
    * snapshot pass it through the suffix-set parameter of
    * [[graft.functions.GraftExpressions.UrlCanonExpr]], the
    * centroid-matrix plan-constant pattern).
    */
  val multiSuffixList: Seq[String] =
    Seq("co.uk", "ac.uk", "gov.uk", "org.uk", "com.au", "net.au",
      "org.au", "co.jp", "or.jp", "co.nz", "co.in", "co.za", "com.br",
      "com.mx", "com.cn", "com.tw", "com.sg")

  /** PRIVATE-registry suffixes (the PSL's PRIVATE DOMAINS section
    * subset): platform hosts where every subdomain is an independent
    * registrant — `user1.github.io` and `user2.github.io` are different
    * sites and must NOT collapse into one registered domain for
    * per-domain caps/rollups (q147/q148 would otherwise cap all of a
    * platform's content collectively, inverting the anti-SEO intent).
    * Includes a 3-label entry (`s3.amazonaws.com`) so depth-3 matching
    * stays exercised.
    */
  val privateSuffixList: Seq[String] =
    Seq("github.io", "gitlab.io", "blogspot.com", "wordpress.com",
      "netlify.app", "vercel.app", "herokuapp.com", "web.app",
      "pages.dev", "s3.amazonaws.com")

  /** The default suffix set of [[urlParts]]: public subset + private
    * registries. One-label TLDs are never listed — they are the PSL's
    * implicit `*` default rule (registered domain = last two labels).
    */
  val defaultSuffixList: Seq[String] = multiSuffixList ++ privateSuffixList

  /** Longest-match public-suffix matcher (the PSL algorithm over plain
    * multi-label entries): finds the DEEPEST listed suffix of a host and
    * returns it plus one preceding label; unlisted TLDs fall to the
    * implicit last-two-labels rule; a host that IS a listed suffix (or a
    * single label) passes through verbatim. Entries are plain suffixes —
    * the PSL's wildcard/exception rows are not needed for the shipped
    * subsets and a full-snapshot deployment expands them before passing
    * the list. Prebuilds one hash set per label depth; matching is
    * O(maxDepth) substring probes per host, allocation-free until the
    * return. Rides the plan as ONE reference object.
    */
  final class SuffixMatcher(suffixes: Seq[String]) extends Serializable {
    private val maxDepth: Int =
      if (suffixes.isEmpty) 1
      else suffixes.iterator.map(s => s.count(_ == '.') + 1).max
    private val sets: Array[java.util.HashSet[String]] = {
      val a = Array.fill(maxDepth + 1)(new java.util.HashSet[String]())
      suffixes.foreach { s =>
        val t = s.toLowerCase(java.util.Locale.ROOT)
        a(t.count(_ == '.') + 1).add(t)
      }
      a
    }
    // start index of the suffix formed by host's last d labels, or -1
    // when the host has fewer than d labels
    private def suffixStart(host: String, d: Int): Int = {
      var from = host.length - 1
      var k = 0
      while (k < d - 1) {
        val dot = host.lastIndexOf('.', from)
        if (dot < 0) return -1
        from = dot - 1
        k += 1
      }
      host.lastIndexOf('.', from) + 1
    }
    /** Registered domain of a lowercased, trailing-dot-free host. */
    def registeredDomain(host: String): String = {
      var d = maxDepth
      while (d >= 2) {
        if (!sets(d).isEmpty) {
          val cut = suffixStart(host, d)
          if (cut >= 0 && sets(d).contains(host.substring(cut))) {
            // suffix + one preceding label; host verbatim when host IS
            // the suffix (cut == 0 → no preceding label exists)
            val prev = host.lastIndexOf('.', cut - 2)
            return host.substring(prev + 1)
          }
        }
        d -= 1
      }
      // implicit default rule: last two labels (host verbatim when single)
      val l1 = host.lastIndexOf('.')
      if (l1 < 0) host
      else host.substring(host.lastIndexOf('.', l1 - 1) + 1)
    }
  }

  object SuffixMatcher {
    val default = new SuffixMatcher(defaultSuffixList)
  }

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  private def isUnreserved(code: Int): Boolean =
    (code >= 'A' && code <= 'Z') || (code >= 'a' && code <= 'z') ||
      (code >= '0' && code <= '9') ||
      code == '-' || code == '.' || code == '_' || code == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** RFC 3986 §6.2.2 percent-encoding normalization: every `%XX` escape
    * whose decoded octet is an UNRESERVED character (ALPHA / DIGIT /
    * `-._~`) is decoded; every other escape keeps its `%` form with the
    * hex digits UPPERCASED (`%2f` → `%2F`); a `%` not followed by two
    * hex digits passes through verbatim. `%7Euser` ≡ `~user` ≡ `%7euser`
    * — distinct spellings of one page collapse to one canonical URL.
    */
  def percentNormalize(s: String): String = {
    var i = s.indexOf('%')
    if (i < 0) return s
    val b = new java.lang.StringBuilder(s.length)
    b.append(s, 0, i)
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val code = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(code)) b.append(code.toChar)
        else b.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else {
        b.append(c)
        i += 1
      }
    }
    b.toString
  }

  /** One-walk URL canonicalizer → [canon_url, host, registered_domain]
    * (all three NULL when the input has no valid `scheme://` prefix or an
    * empty host). The canonical form — each rule independently replayable
    * in plain SQL, which is how the DuckDB oracle certifies this walker:
    *
    *  1. trim ASCII space/tab; drop the fragment (first '#' onward);
    *  2. scheme = `[A-Za-z][A-Za-z0-9+.-]*` before "://", lowercased —
    *     anything else is unparseable (NULL triple);
    *  3. host = authority up to the first '/' or '?', minus a trailing
    *     `:digits` port; lowercased, trailing dots stripped, then ONE
    *     leading "www." stripped (www/non-www collapse);
    *  4. the port survives only when non-default (http:80 / https:443
    *     are dropped);
    *  5. empty path → "/" ("https://a.com" ≡ "https://a.com/");
    *  6. query keeps its parameter ORDER but drops empty segments and
    *     tracking keys ([[trackingKeys]] + the `utm_` prefix, key
    *     compared lowercased); no survivors → no '?';
    *  7. percent-encoding normalization over the assembled canonical
    *     form ([[percentNormalize]]: unreserved `%XX` decoded, reserved
    *     escapes uppercased) — escapes live in path/query only, the
    *     host/scheme walk never emits one;
    *  8. registered domain ([[SuffixMatcher.registeredDomain]]):
    *     all-[0-9.] hosts pass through verbatim (IPv4 has no registrable
    *     label), else longest listed suffix + one label, with the
    *     implicit last-two-labels default. The suffix set is a plan
    *     constant — [[defaultSuffixList]] unless the caller passes a
    *     full PSL snapshot.
    */
  def urlParts(u: UTF8String): ArrayData = urlParts(u, SuffixMatcher.default)

  def urlParts(u: UTF8String, matcher: SuffixMatcher): ArrayData = {
    val nulls = new GenericArrayData(Array[Any](null, null, null))
    val raw = u.toString
    var lo = 0
    var hi = raw.length
    while (lo < hi && (raw.charAt(lo) == ' ' || raw.charAt(lo) == '\t')) lo += 1
    while (hi > lo && (raw.charAt(hi - 1) == ' ' || raw.charAt(hi - 1) == '\t')) hi -= 1
    var s = raw.substring(lo, hi)
    val frag = s.indexOf('#')
    if (frag >= 0) s = s.substring(0, frag)
    val ss = s.indexOf("://")
    if (ss <= 0) return nulls
    var i = 0
    while (i < ss) {
      val c = s.charAt(i)
      val ok =
        if (i == 0) (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
        else (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || isDigit(c) ||
          c == '+' || c == '.' || c == '-'
      if (!ok) return nulls
      i += 1
    }
    val scheme = s.substring(0, ss).toLowerCase(java.util.Locale.ROOT)
    val rest = s.substring(ss + 3)
    var e = 0
    while (e < rest.length && rest.charAt(e) != '/' && rest.charAt(e) != '?') e += 1
    val hostport = rest.substring(0, e)
    val pathquery = rest.substring(e)
    // port = trailing ":digits" only — a colon with a non-numeric tail
    // (IPv6 literals, junk) stays in the host and lets the domain rule
    // handle it downstream
    var host = hostport
    var port = ""
    val ci = hostport.lastIndexOf(':')
    if (ci >= 0 && ci < hostport.length - 1) {
      var j = ci + 1
      while (j < hostport.length && isDigit(hostport.charAt(j))) j += 1
      if (j == hostport.length) {
        host = hostport.substring(0, ci)
        port = hostport.substring(ci + 1)
      }
    }
    host = host.toLowerCase(java.util.Locale.ROOT)
    var he = host.length
    while (he > 0 && host.charAt(he - 1) == '.') he -= 1
    host = host.substring(0, he)
    if (host.startsWith("www.") && host.length > 4) host = host.substring(4)
    if (host.isEmpty) return nulls
    if ((scheme == "http" && port == "80") || (scheme == "https" && port == "443"))
      port = ""
    val qi = pathquery.indexOf('?')
    var path = if (qi >= 0) pathquery.substring(0, qi) else pathquery
    val query = if (qi >= 0) pathquery.substring(qi + 1) else ""
    if (path.isEmpty) path = "/"
    val kept = new java.lang.StringBuilder
    if (query.nonEmpty) {
      var p0 = 0
      while (p0 <= query.length) {
        var p1 = query.indexOf('&', p0)
        if (p1 < 0) p1 = query.length
        if (p1 > p0) {
          val seg = query.substring(p0, p1)
          val eq = seg.indexOf('=')
          val key = (if (eq >= 0) seg.substring(0, eq) else seg)
            .toLowerCase(java.util.Locale.ROOT)
          if (!key.startsWith("utm_") && !trackingKeys.contains(key)) {
            if (kept.length > 0) kept.append('&')
            kept.append(seg)
          }
        }
        p0 = p1 + 1
      }
    }
    val canon = new java.lang.StringBuilder(s.length)
    canon.append(scheme).append("://").append(host)
    if (port.nonEmpty) canon.append(':').append(port)
    canon.append(path)
    if (kept.length > 0) canon.append('?').append(kept)
    // registered domain
    var allNumDot = true
    i = 0
    while (i < host.length && allNumDot) {
      val c = host.charAt(i)
      if (!isDigit(c) && c != '.') allNumDot = false
      i += 1
    }
    val domain =
      if (allNumDot) host
      else matcher.registeredDomain(host)
    new GenericArrayData(Array[Any](
      UTF8String.fromString(percentNormalize(canon.toString)),
      UTF8String.fromString(host),
      UTF8String.fromString(domain)))
  }

  // ── HTML main-content extraction (web-curation family) ─────────────────

  /** Block-level elements the extractor recognizes (lowercase HTML5
    * names). Shared with the DuckDB oracle, which builds its block
    * alternation regex from this list.
    */
  val htmlBlockTags: Seq[String] =
    Seq("p", "h1", "h2", "h3", "li", "div", "nav", "header", "footer",
      "aside", "blockquote")

  private val htmlBlockTagSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    htmlBlockTags.foreach(s.add)
    s
  }

  private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** One-walk HTML main-content extractor (jusText/trafilatura-class
    * text-vs-link-density block scoring) → [clean_text, n_blocks,
    * n_kept, total_chars, kept_chars] (counts as decimal strings — the
    * [[urlParts]] array-of-strings shape; callers cast). The rule list —
    * each independently replayable in regex/list SQL, which is how the
    * DuckDB oracle certifies this walker:
    *
    *  1. blocks = non-overlapping `<tag…>…</tag>` spans for tag ∈
    *     [[htmlBlockTags]], scanned left to right; a block ends at the
    *     FIRST matching close tag (flat block model: nested same-tag
    *     blocks are not composed — the close belongs to the outermost
    *     open, exactly the leftmost-non-greedy regex semantics); an
    *     unclosed open tag is no block (scanning continues inside it);
    *  2. block text = inner with every `<…>` span removed, then trimmed
    *     of ASCII whitespace [ \t\n\x0B\f\r]; n_words = whitespace-run
    *     count + 1 on nonempty text (the [[tokenProfile]] discipline);
    *  3. link chars = tag-stripped characters lying inside `<a…>…</a>`
    *     regions of the inner (self-closing `<a…/>` toggles nothing);
    *     link_density = link_chars / max(text_chars, 1) as double;
    *  4. keep a block iff n_words ≥ `minWords` AND link_density <
    *     `maxLinkDensity`; clean_text = kept block texts joined by \n;
    *  5. total_chars / kept_chars = summed trimmed text lengths over
    *     all / kept blocks (boilerplate_ratio = 1 − kept/total is
    *     Column-side arithmetic on these).
    *
    * Tag names match LOWERCASE only (HTML5 canonical — exactly the
    * oracle's regex rule; normalize case upstream for shouting-markup
    * crawls). Attributes are supported (`<p class=…>`); an attribute
    * value containing '>' ends the tag at that '>' (the `[^>]*` regex
    * rule, both sides). One walker-only edge the synthesis never emits
    * and the oracle regex cannot see: an anchor left UNCLOSED inside a
    * block counts the rest of the block as link text (conservative —
    * malformed linky markup reads as link-dense and gets dropped).
    */
  def htmlMain(s: UTF8String, minWords: Int, maxLinkDensity: Double): ArrayData = {
    val str = s.toString
    val n = str.length
    var i = 0
    var nBlocks = 0L
    var nKept = 0L
    var totalChars = 0L
    var keptChars = 0L
    val clean = new java.lang.StringBuilder
    while (i < n) {
      val lt = str.indexOf('<', i)
      if (lt < 0) i = n
      else {
        var j = lt + 1
        while (j < n && {
          val c = str.charAt(j)
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) j += 1
        val name = str.substring(lt + 1, j)
        val isBlock = j > lt + 1 && htmlBlockTagSet.contains(name) &&
          j < n && (str.charAt(j) == '>' || str.charAt(j) == ' ')
        if (!isBlock) i = lt + 1
        else {
          val gt = str.indexOf('>', j)
          if (gt < 0) i = n
          else {
            val close = str.indexOf("</" + name + ">", gt + 1)
            // unclosed: no block — rescan from just after '<' (the regex
            // continues at the next position after a failed match start,
            // so nested opens inside a malformed tag still get found)
            if (close < 0) i = lt + 1
            else {
              // ── one block: strip tags, track <a> regions ──
              var k = gt + 1
              val sb = new java.lang.StringBuilder(close - gt)
              var linkChars = 0L
              var linkDepth = 0
              while (k < close) {
                val c = str.charAt(k)
                if (c == '<') {
                  var e = str.indexOf('>', k)
                  if (e < 0 || e > close) e = close
                  // anchor open/close tracking inside the block
                  var p = k + 1
                  val closing = p < e && str.charAt(p) == '/'
                  if (closing) p += 1
                  var q = p
                  while (q < e && {
                    val t = str.charAt(q)
                    (t >= 'a' && t <= 'z') || (t >= '0' && t <= '9')
                  }) q += 1
                  if (q - p == 1 && str.charAt(p) == 'a') {
                    val selfClosing = !closing && e > k && str.charAt(e - 1) == '/'
                    if (closing) { if (linkDepth > 0) linkDepth -= 1 }
                    else if (!selfClosing) linkDepth += 1
                  }
                  k = e + 1
                } else {
                  sb.append(c)
                  if (linkDepth > 0) linkChars += 1
                  k += 1
                }
              }
              // trim the full ASCII \s set (the oracle's explicit
              // trim-char list)
              var lo = 0
              var hi = sb.length
              while (lo < hi && isWsChar(sb.charAt(lo))) lo += 1
              while (hi > lo && isWsChar(sb.charAt(hi - 1))) hi -= 1
              val text = sb.substring(lo, hi)
              val textChars = text.length.toLong
              var words = 0L
              if (textChars > 0) {
                words = 1L
                var w = 0
                var inRun = false
                while (w < text.length) {
                  if (isWsChar(text.charAt(w))) {
                    if (!inRun) { words += 1; inRun = true }
                  } else inRun = false
                  w += 1
                }
              }
              val density = linkChars.toDouble / math.max(textChars, 1L)
              nBlocks += 1
              totalChars += textChars
              if (words >= minWords && density < maxLinkDensity) {
                nKept += 1
                keptChars += textChars
                if (clean.length > 0) clean.append('\n')
                clean.append(text)
              }
              i = close + name.length + 3
            }
          }
        }
      }
    }
    new GenericArrayData(Array[Any](
      UTF8String.fromString(clean.toString),
      UTF8String.fromString(nBlocks.toString),
      UTF8String.fromString(nKept.toString),
      UTF8String.fromString(totalChars.toString),
      UTF8String.fromString(keptChars.toString)))
  }

  /** Unicode NFC normalization (java.text.Normalizer). The q155 oracle
    * replays this with DuckDB's `nfc_normalize` — both implement the
    * Unicode-standard composition, so combining sequences (`e` + U+0301)
    * compose identically. Returns the input object unchanged when the
    * string is already NFC (the overwhelmingly common case), so the hot
    * path allocates nothing.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Jaro-Winkler similarity, pinned to the oracle engine's semantics
    * (probed empirically, JaroWinklerSpec): either side empty → 0.0;
    * greedy window matching (window max(l1,l2)/2 − 1); transpositions =
    * mismatched-pair count FLOOR-halved (integer division — see the
    * inline probe note); the Winkler prefix boost (scale 0.1, prefix
    * capped at 4) applies only when jaro > 0.7 (probed:
    * 'aaaaxxxx'/'aaaayyyy' at jaro 2/3 gets NO boost). Works on UTF-16
    * code units (== characters for the BMP text linkage runs on; the
    * oracle's engine indexes the same way for ASCII).
    */
  def jaroWinkler(au: UTF8String, bu: UTF8String): Double = {
    val s1 = au.toString; val s2 = bu.toString
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0; var t = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    // transpositions: INTEGER half of the mismatched-pair count — the
    // oracle engine floors an odd count (probed: 'large gear 41' vs
    // 'larg gear 41' has a 3-cycle → 3 mismatched pairs → t = 1, giving
    // 0.946581; the t/2.0 convention would give 0.932692)
    val jaro = (md / l1 + md / l2 + (md - t / 2) / md) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val pMax = math.min(4, math.min(l1, l2))
      var p = 0
      while (p < pMax && s1.charAt(p) == s2.charAt(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    }
  }
}
