package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora: n-gram Jaccard,
  * MinHash signatures, SimHash.
  *
  * Scale notes: the cardinal sin at 100 TB is materializing the n² pair
  * space. Every operator here joins only on shared shingles / signature
  * bands / simhash blocks, so candidate pairs — not all pairs — shuffle.
  * Shingle sets are deduplicated per doc BEFORE the self-join (set
  * semantics and smaller shuffle). Hot shingles (stopword runs) can be
  * frequency-capped upstream if a corpus has degenerate skew; AQE skew
  * handling covers the moderate case.
  */
object NearDup {

  /** Word n-gram shingles as a deduplicated array column. Docs with fewer
    * than n tokens yield an empty array — `sequence(1, 0)` would otherwise
    * run DESCENDING to [1, 0] and `slice(_, 0, n)` throws.
    */
  def shingles(text: Column, n: Int): Column =
    // let-binding rule: the token split is bound ONCE as a lambda
    // argument — a bare `val toks` referenced in the per-shingle slice
    // would re-run the whole split once per shingle per row
    transform(array(split(lower(trim(text)), "\\s+")), toks => {
      val count = size(toks) - (n - 1)
      when(count < 1, array().cast("array<string>"))
        .otherwise(array_distinct(
          transform(sequence(lit(1), count),
            i => concat_ws(" ", slice(toks, i, lit(n))))))
    }).getItem(0)

  /** Pairs (id_a < id_b) with n-gram Jaccard ≥ threshold.
    * Exact: |A∩B| from a self-join on shared shingles, |A∪B| = |A|+|B|−∩.
    * Only docs sharing ≥1 shingle ever pair up.
    *
    * Shuffle shape: the self-join keys on xxhash64(shingle) — an 8-byte
    * long instead of an n-word string — and each exploded row carries its
    * doc's shingle count, so |A| and |B| ride the pair aggregation
    * (`any_value`) and no second scan / size join is needed. A 64-bit hash
    * collision between distinct shingles of two compared docs would
    * perturb a count; at 10^9 distinct shingles the expected number of
    * colliding pairs is ~10^18/2^65 ≈ 0.03 — accepted for the speedup.
    *
    * Dup-ratio fast path: the distinct-text collapse + membership joins
    * exist to tame DUP-HEAVY corpora (measured 14.6× blowup at 10× on one)
    * but tax a dup-FREE corpus with three extra joins. When
    * `collapseDuplicates` is None, ONE cheap profile aggregation (count +
    * approx_count_distinct over the 8-byte text hashes) picks the path:
    * ≥95% distinct → shingle-join directly on ids (correct for all
    * inputs — identical texts share every shingle and emit jaccard 1.0 —
    * merely quadratic in dup-group sizes); below that → collapse. Both
    * paths produce the same pair set; the 5% approx-distinct error can
    * only flip WHICH equivalent plan runs near the boundary. NOTE the
    * profile job runs at DataFrame CONSTRUCTION (the path choice is a
    * plan-shape decision, like profileGatedDateCasts) and is frozen
    * there — pass Some(true/false) to keep construction lazy, to pin the
    * path for a plan executed later against changed data, or when the
    * corpus shape is already known.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        collapseDuplicates: Option[Boolean] = None): DataFrame = {
    // explode_outer, NOT explode: plain explode makes Catalyst infer a
    // `size(sh) > 0 AND isnotnull(sh)` filter and push it below the
    // projection, duplicating the whole shingle expression (regex split +
    // transform + array_distinct) into the filter — 3× the string work per
    // row. With the outer variant the array is computed once; empty-array
    // rows surface as one null shingle and are dropped by a filter on the
    // GENERATED column, which cannot sink below the Generate.
    // shuffle_hash, NOT broadcast: a broadcast self-join evaluates the
    // shingle subtree twice (broadcast build + streamed probe); with both
    // sides shuffling on h the second exchange is a ReusedExchange and the
    // string work runs once. At 100 TB neither side is broadcastable
    // anyway — this is also the only strategy that scales.
    //
    // Exact-duplicate texts are collapsed BEFORE shingling (the simhash /
    // embedding move, SURVEY §8): a doc with d copies would otherwise put
    // d identical shingle sets through the self-join and emit C(d,2)
    // full-overlap candidate pairs PER SHARED SHINGLE — measured 14.6×
    // time at 10× on a dup-heavy corpus. Shingling runs per distinct
    // normalized text (8-byte xxhash64 identity, same 2^-64 collision
    // acceptance as the shingle hashes); id pairs come back via slim
    // membership joins, and intra-group pairs (identical text, ≥1
    // shingle) are jaccard 1.0 by construction.
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val norm = docs.select(col(idCol).as("id"), lower(trim(col(textCol))).as("t"))
    val collapse = collapseDuplicates.getOrElse {
      // one profile pass over (count, approx distinct of the 8-byte text
      // hashes) — far cheaper than the shingle work either path does
      val r = norm.agg(count(lit(1)).as("n"),
        approx_count_distinct(xxhash64(col("t"))).as("d")).head()
      r.getLong(0) > 0 && r.getLong(1) < r.getLong(0) * 0.95
    }
    if (!collapse) {
      // dup-free path: shingle-join keyed on ids directly — no distinct
      // collapse, no membership joins; identical-text pairs still emit
      // jaccard exactly 1.0 (they share every shingle)
      val st = shingleHashTable(norm, Seq("id"), split(col("t"), "\\s+"), n)
      return st.as("a").join(st.as("b"),
          col("a.h") === col("b.h") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("common"),
          any_value(col("a.nsh")).as("nsh_a"), any_value(col("b.nsh")).as("nsh_b"))
        .withColumn("jaccard",
          col("common").cast("double") /
            (col("nsh_a") + col("nsh_b") - col("common")))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
    val core = distinctTextCore(norm, n, threshold)
    val members = core.members
    val intra = members.as("m1").join(members.as("m2"),
        col("m1.th") === col("m2.th") && col("m1.id") < col("m2.id"))
      .join(core.sigs.select(col("th").as("th_s"), size(col("sh")).as("nsh_s")),
        col("m1.th") === col("th_s"))
      .filter(col("nsh_s") >= 1) // shingle-less docs pair with nothing
      .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"),
        lit(1.0).as("jaccard"))
    val inter = core.sigPairs
      .join(members.as("ma"), col("ma.th") === col("th_a"))
      .join(members.as("mb"), col("mb.th") === col("th_b"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("jaccard"))
    intra.unionByName(inter)
  }

  /** The distinct-text core every collapse-first n-gram operator builds
    * on: slim (id, th) membership, (th → rid, m) duplicate groups, per-
    * DISTINCT-text kernel shingle arrays, and the qualifying
    * (th_a, th_b, jaccard) signature pairs (threshold applied). `norm`
    * must already be (id, t) with t normalized — shingling runs once per
    * distinct t (8-byte xxhash64 identity, the accepted ~n²/2⁶⁵ collision
    * trade), and the self-join is shuffle_hash-hinted on the 8-byte
    * shingle hash.
    */
  private final case class DistinctTextCore(members: DataFrame, groups: DataFrame,
                                            sigs: DataFrame, sigPairs: DataFrame)

  private def distinctTextCore(norm: DataFrame, n: Int,
                               threshold: Double): DistinctTextCore = {
    val members = norm.select(col("id"), xxhash64(col("t")).as("th"))
    val groups = members.groupBy("th")
      .agg(min("id").as("rid"), count(lit(1)).as("m"))
    val sigs = norm.select(xxhash64(col("t")).as("th"), col("t"))
      .dropDuplicates("th")
      .select(col("th"),
        call_function("graft_ngram_hashes", split(col("t"), "\\s+"), lit(n)).as("sh"))
    val st = sigs
      .select(col("th"), size(col("sh")).as("nsh"), explode_outer(col("sh")).as("h"))
      .filter(col("h").isNotNull)
      .hint("shuffle_hash")
    val sigPairs = st.as("a").join(st.as("b"),
        col("a.h") === col("b.h") && col("a.th") < col("b.th"))
      .groupBy(col("a.th").as("th_a"), col("b.th").as("th_b"))
      .agg(count(lit(1)).as("common"),
        any_value(col("a.nsh")).as("nsh_a"), any_value(col("b.nsh")).as("nsh_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("common")))
      .filter(col("jaccard") >= threshold)
    DistinctTextCore(members, groups, sigs, sigPairs)
  }

  /** Collapse-first twin of [[ngramJaccardPairs]]: one row per qualifying
    * DISTINCT-text pair between group representatives (rid = smallest id
    * sharing the normalized text) carrying both group multiplicities —
    * (id_a, id_b, jaccard, m_a, m_b) — plus one self row
    * `id_a == id_b == rid, jaccard = 1.0, m_a = m_b = m` per duplicate
    * group (m ≥ 2, ≥ 1 shingle) standing for all its intra-group pairs.
    * The form downstream AGGREGATING consumers (leakage audits, attrition
    * accounting, mix stats) should take: output is linear in distinct-
    * text pairs where the per-instance stream is quadratic in duplicate-
    * group size. Expanding inter rows across both groups and self rows to
    * C(m,2) reproduces [[ngramJaccardPairs]] exactly (spec-pinned).
    */
  def ngramJaccardRepPairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val norm = docs.select(col(idCol).as("id"), lower(trim(col(textCol))).as("t"))
    val core = distinctTextCore(norm, n, threshold)
    val intra = core.groups.filter(col("m") >= 2)
      .join(core.sigs.select(col("th"), size(col("sh")).as("nsh_s")), Seq("th"))
      .filter(col("nsh_s") >= 1) // shingle-less dup groups pair with nothing
      .select(col("rid").as("id_a"), col("rid").as("id_b"),
        lit(1.0).as("jaccard"), col("m").as("m_a"), col("m").as("m_b"))
    val inter = core.sigPairs
      .join(core.groups.select(col("th").as("th_a"), col("rid").as("__ra"),
        col("m").as("__ma")), Seq("th_a"))
      .join(core.groups.select(col("th").as("th_b"), col("rid").as("__rb"),
        col("m").as("__mb")), Seq("th_b"))
      .select(least(col("__ra"), col("__rb")).as("id_a"),
        greatest(col("__ra"), col("__rb")).as("id_b"), col("jaccard"),
        when(col("__ra") < col("__rb"), col("__ma")).otherwise(col("__mb")).as("m_a"),
        when(col("__ra") < col("__rb"), col("__mb")).otherwise(col("__ma")).as("m_b"))
    intra.unionByName(inter)
  }

  /** CONNECTIVITY-equivalent edge stream for component building over the
    * [[ngramJaccardPairs]] semantics, at O(members) output instead of
    * O(members²): components / keep-best consumers
    * ([[Dedup.connectedComponents]], [[Dedup.keepBestPerComponent]])
    * don't need every per-instance pair — they need the same CONNECTED
    * SETS. Exact-duplicate groups collapse to their smallest-id
    * representative; the near-dup join runs over distinct texts only and
    * emits ONE representative edge per qualifying text pair; each
    * duplicate instance attaches to its representative by a single star
    * edge (jaccard 1.0, the intra-group value — emitted only for texts
    * with ≥ 1 shingle, because shingle-less exact copies share no
    * shingles and never pair under the per-instance semantics either).
    * Expanding every representative edge across both groups and adding
    * all C(d,2) intra edges reproduces the per-instance stream's
    * connectivity exactly (spec-pinned in NearDupSpec), so component
    * labels — min id per component — are identical.
    *
    * Scale notes: the per-instance stream's d-copy groups emit C(d,2)
    * intra pairs EACH (the 100×-replica probe measured q51 at 45 s on
    * ~250 M such edges); this stream carries |distinct-text pairs| +
    * (members − groups) rows — linear in the corpus. The shingle work
    * was already per-distinct-text in both forms; the win is the edge
    * stream the component iterations shuffle.
    */
  def ngramJaccardComponentEdges(docs: DataFrame, idCol: String, textCol: String,
                                 n: Int, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val norm = docs.select(col(idCol).as("id"), lower(trim(col(textCol))).as("t"))
    val core = distinctTextCore(norm, n, threshold)
    // ONE edge per qualifying distinct-text pair, between representatives
    val interRep = core.sigPairs
      .join(core.groups.select(col("th").as("th_a"), col("rid").as("rid_a")), Seq("th_a"))
      .join(core.groups.select(col("th").as("th_b"), col("rid").as("rid_b")), Seq("th_b"))
      .select(least(col("rid_a"), col("rid_b")).as("id_a"),
        greatest(col("rid_a"), col("rid_b")).as("id_b"), col("jaccard"))
    // star edges: every non-representative member hangs off its rid
    // (rid = min id of the group, so rid < id always)
    val star = core.members.join(core.groups, Seq("th"))
      .filter(col("id") =!= col("rid") && col("m") >= 2)
      .join(core.sigs.select(col("th"), size(col("sh")).as("nsh_s")), Seq("th"))
      .filter(col("nsh_s") >= 1)
      .select(col("rid").as("id_a"), col("id").as("id_b"), lit(1.0).as("jaccard"))
    interRep.unionByName(star)
  }

  /** The shared (keys…, nsh, h) exploded shingle-hash table every pair
    * join here builds on: kernel hashes, per-key set size riding the
    * stream, null shingles (short docs) dropped on the GENERATED column,
    * and the shuffle_hash hint — without it preferSortMergeJoin would
    * fully SORT both 8-byte-hash streams at scale. Extra key columns
    * (e.g. a duplicate-multiplicity count) ride the stream untouched.
    */
  private def shingleHashTable(df: DataFrame, keys: Seq[String],
                               toks: Column, n: Int): DataFrame = df
    .select(keys.map(col) :+ call_function("graft_ngram_hashes", toks, lit(n)).as("sh"): _*)
    .select(keys.map(col) ++ Seq(size(col("sh")).as("nsh"), explode_outer(col("sh")).as("h")): _*)
    .filter(col("h").isNotNull)
    .hint("shuffle_hash")

  /** (id, rid) membership of every row in its exact-text duplicate group:
    * rid = the smallest id sharing the same text (identity = xxhash64 of
    * the — optionally lower/trim-normalized — text; a 64-bit collision
    * merges two groups, the same accepted ~n²/2⁶⁵ trade as every shingle
    * hash here). The expansion key for [[sharedSpans]]/[[crossNgramPairs]]
    * collapsed outputs: join a collapsed pair stream back through this to
    * recover per-instance pairs.
    */
  def exactTextMembership(df: DataFrame, idCol: String, textCol: String,
                          normalize: Boolean = false): DataFrame = {
    val tx = if (normalize) lower(trim(col(textCol))) else col(textCol)
    val m = df.select(col(idCol).as("id"), xxhash64(tx).as("th"))
    m.join(m.groupBy("th").agg(min("id").as("rid")), Seq("th"))
      .select(col("id"), col("rid"))
  }

  /** Maximal shared token spans between document pairs — the
    * exact-substring duplication primitive ("Deduplicating Training Data
    * Makes Language Models Better", Lee et al. 2021, finds repeated
    * ≥50-token spans; public paper). Single-node implementations build a
    * corpus suffix array; this is the Spark-first form: positional
    * n-token shingles meet in a hash join, and every run of CONSECUTIVE
    * matching positions along a (id_a, id_b, pa − pb) diagonal merges
    * into one maximal span via the gaps-and-islands trick (pa −
    * row_number is constant exactly on a consecutive run). A shared
    * span of L ≥ n tokens appears as L − n + 1 consecutive shingle
    * matches on one diagonal, so every maximal shared span ≥ `minSpan`
    * is recovered exactly — no suffix array, no global order.
    *
    * Returns (id_a, id_b, a_start, b_start, span_tokens), id_a < id_b,
    * token positions 0-based.
    *
    * Scale notes: shingle hashes are 8-byte xxhash64 keys (collision ≈
    * n²/2⁶⁵ false matches — same accepted trade as the other shingle
    * ops); the join is shuffle_hash-hinted on the hash. The window sort
    * runs over the MATCHED candidate stream only — at a Lee-et-al-style
    * n (≈50) that stream is approximately the true duplicated-span resid,
    * orders of magnitude below the corpus — never over the corpus
    * itself. Periodic/boilerplate shingles that explode candidates
    * should be length-gated upstream (raise n), exactly as the paper
    * tunes its span threshold.
    *
    * COLLAPSE-FIRST DEFAULT (`collapseExact = true`): exact-duplicate
    * documents inflate the per-instance pair space quadratically
    * (d copies ⇒ d·(d−1)/2 identical full-length span streams — measured
    * 2.4× wall at a 10×-replica probe and 46.5 s at 30×, where ~90% of
    * docs are copies, the shape of any real crawl). The default
    * span-mines DISTINCT texts only: each text group is represented by
    * its smallest id (rid), output rows carry the group multiplicities
    * `n_a`/`n_b`, and a duplicated text's SELF-spans (what every
    * intra-group instance pair would have emitted) appear as rows with
    * `id_a == id_b == rid` for groups with multiplicity ≥ 2. A join
    * against [[exactTextMembership]] expands it back to the exact
    * per-instance stream (NearDupSpec proves the two equal); or pass
    * `collapseExact = false` for the direct per-instance mining
    * (dup-light corpora; output then has no n_a/n_b columns).
    */
  def sharedSpans(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, minSpan: Int, collapseExact: Boolean = true): DataFrame = {
    require(n >= 2, s"shingle size n must be >= 2, got $n")
    require(minSpan >= n, s"minSpan ($minSpan) must be >= n ($n)")
    def posHashes(tx: Column): Column =
      // let-binding rule: bind the split ONCE — the per-position slice
      // would otherwise re-run it for every position of every row
      transform(array(split(tx, " ")), t =>
        when(size(t) >= n,
          transform(sequence(lit(0), size(t) - n),
            i => xxhash64(concat_ws(" ", slice(t, i + 1, lit(n))))))
          .otherwise(array().cast("array<long>"))).getItem(0)
    def mergeDiagonals(cand: DataFrame, extraAggs: Seq[Column],
                       extraOut: Seq[Column]): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id_a"), col("id_b"), col("pa") - col("pb"))
        .orderBy(col("pa"))
      cand
        .withColumn("__grp", col("pa") - row_number().over(w))
        .groupBy(col("id_a"), col("id_b"), (col("pa") - col("pb")).as("__d"), col("__grp"))
        .agg(min(col("pa")).cast("long").as("a_start"),
          (count(lit(1)) + (n - 1)).as("span_tokens") +: extraAggs: _*)
        .withColumn("b_start", col("a_start") - col("__d"))
        .filter(col("span_tokens") >= minSpan)
        .select(Seq(col("id_a"), col("id_b"), col("a_start"),
          col("b_start").cast("long").as("b_start"), col("span_tokens")) ++ extraOut: _*)
    }
    if (!collapseExact) {
      val sh = docs
        .select(col(idCol).as("__id"), posexplode(posHashes(col(textCol))).as(Seq("pos", "h")))
        .hint("shuffle_hash")
      val cand = sh.as("a").join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.__id") < col("b.__id"))
        .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
          col("a.pos").as("pa"), col("b.pos").as("pb"))
      return mergeDiagonals(cand, Nil, Nil)
    }
    // collapse to distinct texts: slim (id, th) membership, (th → rid, m)
    // groups, and ONE representative text per 8-byte text hash — the
    // exact pattern ngramJaccardPairs' dup-heavy path uses
    val members = docs.select(col(idCol).as("__id"), xxhash64(col(textCol)).as("th"))
    val reps = members.groupBy("th").agg(min("__id").as("rid"), count(lit(1)).as("m"))
    val texts = docs.select(xxhash64(col(textCol)).as("th"), col(textCol).as("__tx"))
      .dropDuplicates("th")
    val sh = texts.join(reps, Seq("th"))
      .select(col("rid"), col("m"), posexplode(posHashes(col("__tx"))).as(Seq("pos", "h")))
      .hint("shuffle_hash")
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("id_a"), col("b.rid").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        col("a.m").as("na"), col("b.m").as("nb"))
    // self-spans of duplicated texts: every intra-group instance pair
    // (i < j, identical text) would have matched at every position pair
    // with equal hashes, BOTH orderings included — mine the text against
    // itself once, only for groups that actually have ≥ 2 members
    val shDup = sh.filter(col("m") >= 2)
    val intra = shDup.as("a").join(shDup.as("b"),
        col("a.h") === col("b.h") && col("a.rid") === col("b.rid"))
      .select(col("a.rid").as("id_a"), col("b.rid").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        col("a.m").as("na"), col("b.m").as("nb"))
    mergeDiagonals(inter.unionByName(intra),
      Seq(max(col("na")).as("n_a"), max(col("nb")).as("n_b")),
      Seq(col("n_a"), col("n_b")))
  }

  /** Cross-corpus n-gram similarity: every (left, right) pair sharing at
    * least one word n-gram, with its Jaccard AND the left-side
    * containment coefficient |A∩B| / |A| (1.0 = the left doc's whole
    * shingle set lives inside the right doc — substring-style inclusion
    * at shingle granularity). The INCREMENTAL dedup primitive: left =
    * today's crawl increment, right = the historical index, keep the
    * left rows with no emitted pair (or below the cut).
    *
    * Shuffle shape mirrors ngramJaccardPairs' dup-free path: kernel
    * shingle hashes, per-doc sizes riding the exploded stream, one
    * hash-join on the 8-byte shingle hash, one pair aggregation — no
    * windows, no second scan for sizes. Left docs with zero shingles
    * (shorter than n tokens) emit nothing: they have no n-gram identity
    * at this granularity; gate them on length upstream.
    *
    * COLLAPSE-FIRST DEFAULT (`collapseExact = true`): exact-duplicate
    * docs on EITHER side multiply the per-instance pair space (d copies
    * × e copies = d·e identical pairs — measured 900× output inflation
    * on a 30×-replicated probe, 24.7 s; resubmission-heavy crawl
    * increments have exactly this shape). The default collapses each
    * side to its distinct NORMALIZED texts (lower/trim — the same
    * normalization the shingles apply, so equal shingle sets ⇔ equal
    * identity), pairs the representatives (rid = smallest id per side's
    * text group), and emits the group multiplicities `n_l`/`n_r`
    * alongside jaccard/containment. A join against each side's
    * [[exactTextMembership]] (normalize = true) expands it back to
    * per-instance pairs (NearDupSpec proves the two equal); or pass
    * `collapseExact = false` for the direct per-instance join (output
    * then has no n_l/n_r columns).
    */
  /** `maxShingleDf` — the HOT-SHINGLE cut (composition-exposed by the
    * r17 crawl-to-publish probe): boilerplate sentences that survive
    * extraction ("Related reading follows …", license lines, nav text
    * that beat the density gate) put the SAME grams in thousands of
    * docs, and a gram shared by d left × e right docs emits d·e
    * candidate pairs — measured 148 s of a 177 s pipeline at only 100 k
    * docs. With `Some(cut)`, grams whose combined (left+right) doc
    * frequency exceeds the cutoff are removed from the shingle sets
    * ENTIRELY — sizes are recomputed over the surviving grams, so
    * jaccard/containment measure the informative gram space (a pair
    * connected only by boilerplate is no near-dup evidence at all).
    * Pick the cutoff above the largest plausible true-dup group and
    * below boilerplate reach (the probe uses 64). One extra hash
    * aggregation over the shingle stream + per-side size recounts; the
    * hot set itself is tiny by construction.
    */
  def crossNgramPairs(left: DataFrame, right: DataFrame,
                      leftId: String, rightId: String,
                      leftText: String, rightText: String,
                      n: Int, minJaccard: Double = 0.0,
                      minContainment: Double = 0.0,
                      collapseExact: Boolean = true,
                      maxShingleDf: Option[Long] = None): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    maxShingleDf.foreach(c =>
      require(c >= 1, s"maxShingleDf must be >= 1, got $c"))
    graft.functions.GraftFunctions.ensureRegistered(left.sparkSession)
    def score(pairs: DataFrame): DataFrame = pairs
      .withColumn("jaccard",
        col("common").cast("double") / (col("nsh_l") + col("nsh_r") - col("common")))
      .withColumn("containment_l", col("common").cast("double") / col("nsh_l"))
      .filter(col("jaccard") >= minJaccard && col("containment_l") >= minContainment)
    // hot-shingle cut: drop over-shared grams from BOTH sides and
    // recount sizes over the survivors (grams carry no identity once
    // they are boilerplate-common)
    def applyCut(a: DataFrame, b: DataFrame, aKeys: Seq[String],
                 bKeys: Seq[String]): (DataFrame, DataFrame) =
      maxShingleDf match {
        case None => (a, b)
        case Some(c) =>
          val hot = a.select("h").unionAll(b.select("h"))
            .groupBy("h").agg(count(lit(1)).as("__df"))
            .filter(col("__df") > c).select("h")
          def strip(t: DataFrame, keys: Seq[String]): DataFrame = {
            val kept = t.join(hot, Seq("h"), "left_anti")
            val sizes = kept.groupBy(keys.map(col): _*)
              .agg(count(lit(1)).as("__nsh2"))
            kept.drop("nsh").join(sizes, keys)
              .withColumnRenamed("__nsh2", "nsh")
          }
          (strip(a, aKeys), strip(b, bKeys))
      }
    if (!collapseExact) {
      def side(df: DataFrame, id: String, text: String): DataFrame =
        shingleHashTable(df.select(col(id).as("id"), col(text).as("__tx")),
          Seq("id"), split(lower(trim(col("__tx"))), "\\s+"), n)
      val (a, b) = applyCut(side(left, leftId, leftText),
        side(right, rightId, rightText), Seq("id"), Seq("id"))
      return score(a.as("a")
        .join(b.as("b"), col("a.h") === col("b.h"))
        .groupBy(col("a.id").as("id_l"), col("b.id").as("id_r"))
        .agg(count(lit(1)).as("common"),
          any_value(col("a.nsh")).as("nsh_l"), any_value(col("b.nsh")).as("nsh_r")))
        .select("id_l", "id_r", "jaccard", "containment_l")
    }
    def collapsedSide(df: DataFrame, id: String, text: String): DataFrame = {
      val norm = lower(trim(col(text)))
      val m = df.select(col(id).as("id"), xxhash64(norm).as("th"))
      val reps = m.groupBy("th").agg(min("id").as("rid"), count(lit(1)).as("m"))
      val texts = df.select(xxhash64(norm).as("th"), norm.as("__tx")).dropDuplicates("th")
      shingleHashTable(texts.join(reps, Seq("th")).select(col("rid"), col("m"), col("__tx")),
        Seq("rid", "m"), split(col("__tx"), "\\s+"), n)
    }
    val (a, b) = applyCut(collapsedSide(left, leftId, leftText),
      collapsedSide(right, rightId, rightText), Seq("rid", "m"), Seq("rid", "m"))
    score(a.as("a")
      .join(b.as("b"), col("a.h") === col("b.h"))
      .groupBy(col("a.rid").as("id_l"), col("b.rid").as("id_r"))
      .agg(count(lit(1)).as("common"),
        any_value(col("a.nsh")).as("nsh_l"), any_value(col("b.nsh")).as("nsh_r"),
        max(col("a.m")).as("n_l"), max(col("b.m")).as("n_r")))
      .select("id_l", "id_r", "jaccard", "containment_l", "n_l", "n_r")
  }

  /** MinHash signature: one minimum per seed over md5(seed || shingle).
    * String-min over hex md5 is engine-portable (same result in any ANSI
    * SQL engine), which is what the oracle check needs; swap in xxhash64
    * for raw speed when portability doesn't matter.
    */
  def minhashSignature(text: Column, n: Int, numHashes: Int): Column = {
    // let-binding trick: the shingle array is bound ONCE as the lambda
    // argument of a single-element transform — referencing `sh` directly
    // in all numHashes mins would re-evaluate the whole
    // split/slice/concat/distinct shingle subtree once PER SEED per row
    // (measured 16× signature cost on q27 once the bench stopped letting
    // count() prune the projection away)
    transform(array(shingles(text, n)), sh =>
      array((0 until numHashes).map { seed =>
        array_min(transform(sh, s => md5(concat(lit(seed.toString + ":"), s))))
      }.toIndexedSeq: _*)).getItem(0)
  }

  /** Hamming distance between two signed-64 simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 64-bit SimHash over lower/trimmed whitespace tokens: a per-bit vote
    * over md5-derived token hashes (the native `graft_simhash_md5`
    * kernel), so an external SQL engine (the DuckDB correctness oracle)
    * reproduces the exact signature. Near-dups have small hamming
    * distance. NULL text → NULL signature.
    */
  def simhash(text: Column): Column =
    call_function("graft_simhash_md5", split(lower(trim(text)), "\\s+"))

  /** SimHash near-dup pairs with hamming ≤ maxDist. Blocking: split the
    * signature into b = maxDist + 2 blocks — pigeonhole guarantees any
    * pair within maxDist has at least TWO intact blocks, so candidates are
    * pairs sharing a block PAIR: the join key is (blk_i, blk_j, val_i,
    * val_j) over the C(b,2) block combinations.
    *
    * Why pairs, not single blocks: with b' = maxDist+1 single blocks each
    * block is 64/b' bits, so a block has only 2^(64/b') values — bucket
    * occupancy grows linearly with the corpus and candidate pairs grow
    * QUADRATICALLY (measured 35× time at 10× docs). Requiring two
    * simultaneous block matches squares the bucket-value space (~2^12 vs
    * 2^6 here): C(b,2) rows per doc replicate the input ~4×, but candidate
    * generation returns to near-linear. Hamming is filtered BEFORE the
    * pair dedup so only passing (id, id, dist) triples shuffle.
    *
    * `collapseExact` has NO default — the two modes emit DIFFERENT
    * schemas, so the choice is a required, compile-time-visible part of
    * every call (the catalog opts into collapse-first). With
    * `collapseExact = true`: blocking already
    * runs over DISTINCT signatures, but a per-instance pair OUTPUT is
    * still quadratic in duplicate-group size — d copies of a page emit
    * C(d,2) hamming-0 rows plus d·e rows against every e-copy neighbor
    * (measured 90 s at a 300× dup-heavy probe for the expansion joins
    * alone). The default keeps the output collapsed: one row per
    * SIGNATURE-GROUP pair between group representatives (rid = smallest
    * id sharing the signature) carrying both multiplicities
    * (id_a, id_b, hamming, m_a, m_b), plus one self row
    * `id_a == id_b == rid, hamming = 0, m_a = m_b = m` per group with
    * ≥ 2 members standing for all its intra-group pairs. A join against
    * the signature groups of [[simhashMembers]] expands it back to the
    * exact per-instance stream (NearDupSpec proves the two equal); or pass
    * `collapseExact = false` for the direct per-instance output
    * (id_a, id_b, hamming), the yardstick form.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxDist: Int,
                   collapseExact: Boolean): DataFrame =
    signatureMemberPairs(simhashMembers(docs, idCol, textCol), maxDist, collapseExact)

  /** (id, sh): the [[simhash]] signature of every doc with a non-NULL
    * text — the member table of [[simhashPairs]] and of its expansion
    * back to per-instance pairs, so the two always agree. Each
    * DISTINCT normalized text is hashed once, not once per copy: on a
    * dup-heavy corpus the per-token digest work is the dominant cost and
    * shrinks by the duplication factor; ids rejoin on (8-byte text
    * hash, text) — the text confirms membership, so two texts that
    * collide on the hash keep their own signatures (lower/trim is
    * idempotent, so simhash over the normalized text equals simhash over
    * the raw text). A NULL text has no signature and is dropped — kept,
    * its NULL signature would group every NULL-text doc into one fake
    * exact-dup group in the collapsed output (the [[signaturePairs]] rule
    * for NULL signatures).
    */
  private[graft] def simhashMembers(docs: DataFrame, idCol: String,
                                    textCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val norm = docs.select(col(idCol).as("id"), lower(trim(col(textCol))).as("t"))
      .filter(col("t").isNotNull)
    val keyed = norm.select(col("id"), xxhash64(col("t")).as("th"), col("t"))
    val textSigs = keyed.select(col("th"), col("t"))
      .dropDuplicates("th", "t")
      .select(col("th"), col("t"), simhash(col("t")).as("sh"))
    keyed.join(textSigs, Seq("th", "t"))
      .select("id", "sh")
  }

  /** Near-dup pairs from an arbitrary 64-bit SIGNATURE column — the
    * [[simhashPairs]] machinery with the signature supplied by the
    * caller instead of computed from text. This is the reuse face for
    * any Hamming-space near-dup (perceptual image hashes, audio
    * fingerprints, feature sketches): same distinct-signature blocking,
    * same collapse contract, same EXACT-recall guarantee — the confirm
    * threshold (`hamming <= maxDist`) sits inside the pigeonhole bound,
    * so the output is exactly ALL pairs at distance <= maxDist and the
    * blocking scheme is a pure cost optimization, never a recall dial.
    * NULL signatures (e.g. undecodable media) are excluded from pairing
    * — route them upstream if they must be counted.
    */
  def signaturePairs(df: DataFrame, idCol: String, sigCol: String,
                     maxDist: Int, collapseExact: Boolean): DataFrame =
    signatureMemberPairs(
      df.filter(col(sigCol).isNotNull)
        .select(col(idCol).as("id"), col(sigCol).as("sh")),
      maxDist, collapseExact)

  /** The shared signature-space pair core: `members` = (id, sh) with sh
    * a 64-bit signature. Exact duplicates (identical signature) are
    * collapsed BEFORE blocking: real corpora carry heavy exact-dup mass,
    * and every identical pair would otherwise match in every block
    * combination, multiplying its candidate rows C(b,2)-fold. Blocking
    * runs on DISTINCT signatures only; in the per-instance form the
    * id-level pairs are recovered by two membership joins at the end
    * (shuffles keyed on sh, output-bound).
    */
  private def signatureMemberPairs(members: DataFrame, maxDist: Int,
                                   collapseExact: Boolean): DataFrame = {
    // beyond 16 blocks the per-block width drops under 4 bits (and hits 0
    // at maxDist >= 62): bucket occupancy explodes and the candidate join
    // degenerates toward all-pairs — use a different blocking scheme
    // (multi-probe, signature concatenation) for large distances
    require(maxDist >= 0 && maxDist <= 14,
      s"signature pairs support maxDist in [0, 14] (block width >= 4 bits), got $maxDist")
    val nBlocks = maxDist + 2
    val width = 64 / nBlocks // low width*nBlocks bits covered; uncovered
                             // bits only make blocks MORE likely intact
    val groups = members.groupBy("sh")
      .agg(min("id").as("rid"), count(lit(1)).as("m"))
    val sigs = groups.select("sh")
    def blockVal(blk: Int): Column =
      shiftrightunsigned(col("sh"), blk * width).bitwiseAND(lit((1L << width) - 1))
    val combos = for (i <- 0 until nBlocks; j <- i + 1 until nBlocks) yield
      struct(lit(i * nBlocks + j).as("bp"), blockVal(i).as("v1"), blockVal(j).as("v2"))
    val blocked = sigs.select(col("sh"), explode(array(combos: _*)).as("c"))
      .select(col("sh"), col("c.bp").as("bp"), col("c.v1").as("v1"), col("c.v2").as("v2"))
      .hint("shuffle_hash") // self-join: shuffle both sides → ReusedExchange
    // near-dup SIGNATURE pairs (sh_a < sh_b: distinct sigs, total order)
    val sigPairs = blocked.as("a").join(blocked.as("b"),
        col("a.bp") === col("b.bp") && col("a.v1") === col("b.v1") &&
          col("a.v2") === col("b.v2") && col("a.sh") < col("b.sh"))
      .select(col("a.sh").as("sh_a"), col("b.sh").as("sh_b"),
        hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("sh_a", "sh_b")
    if (collapseExact) {
      // representative pairs + multiplicities: the groups table is the
      // only thing that joins back — output is linear in signature pairs
      val intra = groups.filter(col("m") >= 2)
        .select(col("rid").as("id_a"), col("rid").as("id_b"),
          lit(0).as("hamming"), col("m").as("m_a"), col("m").as("m_b"))
      val inter = sigPairs
        .join(groups.select(col("sh").as("sh_a"), col("rid").as("__ra"),
          col("m").as("__ma")), Seq("sh_a"))
        .join(groups.select(col("sh").as("sh_b"), col("rid").as("__rb"),
          col("m").as("__mb")), Seq("sh_b"))
        .select(least(col("__ra"), col("__rb")).as("id_a"),
          greatest(col("__ra"), col("__rb")).as("id_b"), col("hamming"),
          when(col("__ra") < col("__rb"), col("__ma")).otherwise(col("__mb")).as("m_a"),
          when(col("__ra") < col("__rb"), col("__mb")).otherwise(col("__ma")).as("m_b"))
      intra.unionByName(inter)
    } else {
      // expand: intra-group exact dups (hamming 0) + inter-group pairs
      val intra = members.as("m1").join(members.as("m2"),
          col("m1.sh") === col("m2.sh") && col("m1.id") < col("m2.id"))
        .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"),
          lit(0).as("hamming")) // int, matching bit_count's type in `inter`
      val inter = sigPairs
        .join(members.as("ma"), col("ma.sh") === col("sh_a"))
        .join(members.as("mb"), col("mb.sh") === col("sh_b"))
        .select(least(col("ma.id"), col("mb.id")).as("id_a"),
          greatest(col("ma.id"), col("mb.id")).as("id_b"), col("hamming"))
      intra.unionByName(inter)
    }
  }

  /** Edit-distance similarity self-join: all pairs with
    * `levenshtein ≤ maxDist`, WITHOUT a cross join — the record-linkage /
    * fuzzy-dedup primitive (typo'd resubmissions, OCR noise, near-key
    * matching) that the token-level family above can't express.
    *
    * Blocking is the PassJoin segment pigeonhole (Li et al. 2011, "PASS-
    * JOIN: A Partition-based Method for Similarity Joins" — public
    * algorithm): split every string into `maxDist + 1` disjoint segments;
    * ≤ maxDist edits can touch at most maxDist of them, so for any true
    * pair at least ONE segment of either string survives untouched and
    * appears VERBATIM as a contiguous substring of the other. Candidates
    * are therefore pairs where a segment hash of one side equals the hash
    * of ANY same-length substring of the other; every candidate is then
    * verified with the exact `levenshtein` kernel. No false negatives by
    * the pigeonhole; false positives (including the ~2⁻⁶⁴ hash-collision
    * tail) die in verification.
    *
    * PassJoin's pigeonhole needs `maxDist + 1` non-empty segments, so
    * strings shorter than that can't use it — but any pair with a short
    * side has BOTH sides <= 2·maxDist chars (the partner is within
    * maxDist of a <= maxDist-char string), a bounded-length band covered
    * by a second lossless blocking key: the SymSpell deletion
    * neighborhood (`graft_del_variants` — two strings within edit
    * distance d share a <= d-deletion variant). Short-band candidates
    * join on shared variants and verify with the same exact
    * `levenshtein`; no row is dropped. Returns (id_a, id_b, dist),
    * id_a < id_b, NULL strings excluded.
    *
    * Scale notes: exact-duplicate strings are collapsed BEFORE blocking
    * (built in — see the inline note), so the index side emits maxDist+1
    * 8-byte segment hashes per DISTINCT string and the probe side
    * O(len · segLenRange) substring hashes — the shuffle carries hashes,
    * never the strings. The hash equi-join is shuffle_hash-hinted; the
    * O(len²) DP runs once per distinct CANDIDATE pair, not per pair of
    * rows — on random text the 10-char segments of a 40-char prefix
    * collide only for genuinely close strings. A hot substring shared by
    * many NON-identical strings (boilerplate prefixes) still skews the
    * hash join: AQE's skew split covers the moderate case; strip the
    * boilerplate upstream for the degenerate one.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val nseg = maxDist + 1
    val rows = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
    // collapse to DISTINCT strings first (the ngramJaccardPairs move,
    // same 2^-64 xxhash64-identity acceptance): d copies of a string
    // would otherwise push d identical segment/substring streams through
    // the blocking join and make every replica pair a candidate —
    // measured 48 s at a 10×-replicated probe vs ~4 s collapsed. Blocking
    // and the DP verify run once per distinct pair; id pairs fan back via
    // slim membership joins, intra-group pairs are dist 0 by identity.
    val members = rows.select(col("id"), xxhash64(col("s")).as("th"))
    val sAll = rows.select(xxhash64(col("s")).as("th"), col("s"))
      .dropDuplicates("th")
    // the PassJoin band: strings long enough for maxDist+1 non-empty
    // segments; shorter strings go through the deletion-variant band below
    val s = sAll.filter(length(col("s")) >= nseg)
    val L = length(col("s"))
    // even split: segment i covers [i·L/nseg, (i+1)·L/nseg) — positive
    // ints, so double-division + truncation IS integer division
    def idiv(a: Column, b: Int): Column = (a / b).cast("int")
    val segs = (0 until nseg).map { i =>
      val st = idiv(L * i, nseg) + 1 // 1-based substr
      val len = idiv(L * (i + 1), nseg) - idiv(L * i, nseg)
      xxhash64(col("s").substr(st, len))
    }
    val index = s.select(col("th"), explode(array(segs: _*)).as("h"))
    // probe every substring whose length could be a segment length of a
    // partner string in the ±maxDist length band
    val lmin = greatest(idiv(L - maxDist, nseg), lit(1))
    val lmax = idiv(L + maxDist + nseg - 1, nseg)
    val probe = s.select(col("th"), explode(flatten(
      transform(sequence(lmin, lmax), l =>
        transform(sequence(lit(1), L - l + 1), st =>
          xxhash64(col("s").substr(st, l)))))).as("h"))
    val cands = index.hint("shuffle_hash").as("i")
      .join(probe.as("p"), col("i.h") === col("p.h") && col("i.th") =!= col("p.th"))
      .select(least(col("i.th"), col("p.th")).as("th_a"),
        greatest(col("i.th"), col("p.th")).as("th_b"))
      .distinct()
    val distinctPairs = cands
      .join(s.select(col("th").as("th_a"), col("s").as("__sa")), Seq("th_a"))
      .join(s.select(col("th").as("th_b"), col("s").as("__sb")), Seq("th_b"))
      .filter(abs(length(col("__sa")) - length(col("__sb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("th_a"), col("th_b"), col("dist"))
    // short band: any pair with a side < nseg chars has both sides
    // <= 2·maxDist chars, so the bounded-size deletion neighborhood is a
    // lossless equi-key (C(2·maxDist, <=maxDist) variants per string,
    // each <= 2·maxDist chars — tiny). Pairs with both sides >= nseg are
    // the PassJoin band's, so the bands are disjoint by construction.
    val shortS = sAll.filter(length(col("s")) <= 2 * maxDist)
      .select(col("th"), col("s"), length(col("s")).as("len"))
    val shortVariants = shortS.select(col("th"), col("len"),
      explode(call_function("graft_del_variants", col("s"), lit(maxDist))).as("v"))
    val shortCands = shortVariants.hint("shuffle_hash").as("a")
      .join(shortVariants.as("b"),
        col("a.v") === col("b.v") && col("a.th") < col("b.th") &&
          (col("a.len") < nseg || col("b.len") < nseg))
      .select(col("a.th").as("th_a"), col("b.th").as("th_b"))
      .distinct()
    val shortPairs = shortCands
      .join(shortS.select(col("th").as("th_a"), col("s").as("__sa")), Seq("th_a"))
      .join(shortS.select(col("th").as("th_b"), col("s").as("__sb")), Seq("th_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("th_a"), col("th_b"), col("dist"))
    val allPairs = distinctPairs.unionByName(shortPairs)
    val intra = members.as("m1").join(members.as("m2"),
        col("m1.th") === col("m2.th") && col("m1.id") < col("m2.id"))
      .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"),
        lit(0L).as("dist"))
    val inter = allPairs
      .join(members.as("ma"), col("ma.th") === col("th_a"))
      .join(members.as("mb"), col("mb.th") === col("th_b"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("dist"))
    intra.unionByName(inter)
  }

  /** Corpus-LEVEL MinHash similarity — the dataset diffing / versioning
    * measure: estimated Jaccard of two corpora's word-n-gram SHINGLE
    * SETS from `numHashes` portable md5 min-hashes, plus (with
    * `exact = true`) the exact distinct-shingle Jaccard yardstick. ONE
    * output row: (n_hashes, n_matching, est_jaccard, n_shingles_a,
    * n_shingles_b, n_common, exact_jaccard). "How much does crawl B
    * overlap crawl A" without any pairwise document work — the corpus
    * twin of [[minhashSignature]]'s per-doc signatures.
    *
    * The per-seed min over a corpus's shingle MULTISET equals the min
    * over its SET, so the estimate path needs NO distinct shuffle: each
    * side is ONE zero-shuffle global aggregation of numHashes mins
    * (map-side combined; only numHashes strings reach the plan's 1×1
    * join). P[min_a = min_b] = J(A,B) per seed — the classic MinHash
    * identity — so n_matching/numHashes estimates J with standard error
    * √(J(1−J)/numHashes). A side with no shingles at all yields NULL
    * estimate (not 0 — "nothing to compare" must stay visible). The
    * exact yardstick pays the honest cost: one distinct per side plus a
    * full-outer join on the 128-bit shingle hash; at 100 TB run the
    * estimate alone (`exact = false`).
    */
  def corpusShingleSimilarity(a: DataFrame, b: DataFrame,
                              textColA: String, textColB: String, n: Int,
                              numHashes: Int = 64,
                              exact: Boolean = true): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    def minsOf(df: DataFrame, textCol: String, side: String): DataFrame = {
      val s = df.select(explode(shingles(col(textCol), n)).as("s"))
      val aggs = (0 until numHashes).map(seed =>
        min(md5(concat(lit(seed.toString + ":"), col("s")))).as(s"m${side}_$seed"))
      s.agg(aggs.head, aggs.tail: _*)
    }
    val est = minsOf(a, textColA, "a").crossJoin(minsOf(b, textColB, "b"))
    val anyNull = (0 until numHashes)
      .map(i => col(s"ma_$i").isNull || col(s"mb_$i").isNull)
      .reduce(_ || _)
    val matches = (0 until numHashes)
      .map(i => when(col(s"ma_$i") === col(s"mb_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val estRow = est.select(
      lit(numHashes).as("n_hashes"),
      when(anyNull, lit(null).cast("long")).otherwise(matches).as("n_matching"))
      .withColumn("est_jaccard",
        round(col("n_matching").cast("double") / numHashes, 5))
    if (!exact)
      return estRow
        .withColumn("n_shingles_a", lit(null).cast("long"))
        .withColumn("n_shingles_b", lit(null).cast("long"))
        .withColumn("n_common", lit(null).cast("long"))
        .withColumn("exact_jaccard", lit(null).cast("double"))
    def setOf(df: DataFrame, textCol: String, cn: String): DataFrame =
      df.select(explode(shingles(col(textCol), n)).as("s"))
        .select(md5(col("s")).as(cn)).distinct()
    val ov = setOf(a, textColA, "ha")
      .join(setOf(b, textColB, "hb"), col("ha") === col("hb"), "full_outer")
      .agg(count(col("ha")).as("n_shingles_a"),
        count(col("hb")).as("n_shingles_b"),
        count(when(col("ha").isNotNull && col("hb").isNotNull, 1))
          .as("n_common"))
    estRow.crossJoin(ov)
      .withColumn("exact_jaccard",
        when(col("n_shingles_a") + col("n_shingles_b") - col("n_common") > 0,
          round(col("n_common").cast("double") /
            (col("n_shingles_a") + col("n_shingles_b") - col("n_common")), 5)))
  }
}
