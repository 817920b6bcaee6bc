package graft

import org.apache.spark.sql.functions._
import graft.operators.NearDup

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles handles docs shorter than n (empty array, no crash)") {
    val docs = Seq("one", "one two", "", "  ", "a b c d e f g h").toDF("text")
    val out = docs.select(size(NearDup.shingles(col("text"), 7)).as("n")).as[Int].collect()
    assert(out === Array(0, 0, 0, 0, 2)) // 8 tokens → 2 distinct 7-grams
  }

  test("shingles produces only full n-grams") {
    val out = Seq("a b c d").toDF("text")
      .select(NearDup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(out.sorted === Seq("a b c", "b c d"))
    assert(out.forall(_.split(" ").length == 3))
  }

  test("sharedSpans recovers maximal spans, splits gapped diagonals, skips short docs") {
    val shared = (1 to 15).map(i => s"s$i").mkString(" ")  // 15-token run
    val shared2 = (1 to 12).map(i => s"u$i").mkString(" ") // disjoint 12-token run
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared b1 b2 $shared2"),
      (2L, s"c1 $shared d1 d2 d3 $shared2 e5"),
      (3L, "short doc")) // < n tokens: no shingles, no crash
      .toDF("doc_id", "text")
    val outDf = NearDup.sharedSpans(docs, "doc_id", "text", n = 4, minSpan = 10)
    // distinct-text corpus: multiplicities are all 1 in the collapsed form
    assert(outDf.filter(col("n_a") =!= 1 || col("n_b") =!= 1).isEmpty)
    val out = outDf.select("id_a", "id_b", "a_start", "b_start", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // two maximal spans on two diagonals — NOT one merged blob, and the
    // boundary math (islands + n - 1) recovers the true token lengths
    assert(out === Set((1L, 2L, 3L, 1L, 15L), (1L, 2L, 20L, 19L, 12L)))
    // per-instance opt-out agrees on a dup-free corpus
    val direct = NearDup.sharedSpans(docs, "doc_id", "text", n = 4, minSpan = 10,
        collapseExact = false)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(direct === out)
    // raising minSpan above a span's length drops exactly that span
    val strict = NearDup.sharedSpans(docs, "doc_id", "text", n = 4, minSpan = 13)
      .select("id_a", "id_b", "a_start", "b_start", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(strict === Set((1L, 2L, 3L, 1L, 15L)))
  }

  test("sharedSpans collapse-first ≡ per-instance after expansion (dup-heavy, internal repeats)") {
    val shared = (1 to 15).map(i => s"s$i").mkString(" ")
    val rep = "w1 w2 w3 w4 w1 w2 w3 w4 w1 w2"  // internal repetition → off-diagonal self-spans
    val docs = Seq(
      (1L, s"a1 a2 $shared z9"),
      (4L, s"a1 a2 $shared z9"),   // exact dup of 1
      (7L, s"a1 a2 $shared z9"),   // exact dup of 1 (triple group)
      (2L, s"c1 $shared d1"),      // near-dup (shares the span, distinct text)
      (3L, rep),
      (6L, rep),                   // dup pair with internal repetition
      (5L, "completely different text with no overlap at all")
    ).toDF("doc_id", "text")
    val legacy = NearDup.sharedSpans(docs, "doc_id", "text", n = 3, minSpan = 4,
        collapseExact = false)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val collapsed = NearDup.sharedSpans(docs, "doc_id", "text", n = 3, minSpan = 4)
    // collapsed output is strictly smaller on a dup-heavy corpus
    assert(collapsed.count() < legacy.size)
    // self-span rows surface for the duplicated texts only, with the
    // group multiplicity on both sides
    val selfRows = collapsed.filter(col("id_a") === col("id_b"))
    assert(selfRows.filter(col("id_a") === 1L && col("n_a") === 3L).count() > 0)
    assert(selfRows.filter(col("id_a") === 3L && col("n_a") === 2L).count() > 0)
    // expansion reproduces the per-instance stream EXACTLY
    val members = NearDup.exactTextMembership(docs, "doc_id", "text")
    val expanded = NearDupExpansion.sharedSpans(collapsed, members)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(expanded.length === expanded.toSet.size, "expansion emitted duplicate rows")
    assert(expanded.toSet === legacy)
  }

  test("crossNgramPairs computes jaccard + containment across two corpora") {
    // left doc 1: {a b, b c, c d}; right doc 10: {b c, c d, d e};
    // right doc 11: {a b, b c, c d, d x} fully CONTAINS doc 1's set
    val inc = Seq((1L, "a b c d"), (2L, "q r s")).toDF("doc_id", "text")
    val hist = Seq((10L, "b c d e"), (11L, "a b c d x")).toDF("doc_id", "text")
    val outDf = graft.operators.NearDup.crossNgramPairs(
        inc, hist, "doc_id", "doc_id", "text", "text", n = 2)
    // distinct-text corpora: multiplicities are all 1 in the collapsed form
    assert(outDf.filter(col("n_l") =!= 1 || col("n_r") =!= 1).isEmpty)
    val out = outDf.select("id_l", "id_r", "jaccard", "containment_l")
      .as[(Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out === Array(
      (1L, 10L, 2.0 / 4.0, 2.0 / 3.0),  // common {b c, c d}
      (1L, 11L, 3.0 / 4.0, 1.0)))       // doc 1 contained in doc 11
    // per-instance opt-out agrees on a dup-free corpus
    val direct = graft.operators.NearDup.crossNgramPairs(
        inc, hist, "doc_id", "doc_id", "text", "text", n = 2,
        collapseExact = false)
      .as[(Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
    assert(direct === out)
    // threshold cut keeps only the containment hit
    val cut = graft.operators.NearDup.crossNgramPairs(
        inc, hist, "doc_id", "doc_id", "text", "text", n = 2,
        minContainment = 1.0)
      .select("id_l", "id_r").as[(Long, Long)].collect()
    assert(cut === Array((1L, 11L)))
  }

  test("crossNgramPairs maxShingleDf: boilerplate-only pairs vanish, true pairs rescore") {
    // 6 left + 6 right docs all END with the same boilerplate sentence
    // (its grams have df = 12 > cutoff); docs 1/10 additionally share
    // their CONTENT grams. Without the cut every left×right combo is a
    // candidate pair; with it, only the content-sharing pair survives —
    // and its jaccard is computed over the informative gram space
    val boiler = "related reading follows the line with context"
    val mk = (i: Long, content: String) => (i, s"$content $boiler")
    val inc = (Seq(mk(1L, "alpha beta gamma delta")) ++
      (2L to 6L).map(i => mk(i, s"u$i v$i w$i x$i"))).toDF("doc_id", "text")
    val hist = (Seq(mk(10L, "alpha beta gamma echo")) ++
      (11L to 15L).map(i => mk(i, s"p$i q$i r$i s$i"))).toDF("doc_id", "text")
    val noCut = graft.operators.NearDup.crossNgramPairs(
      inc, hist, "doc_id", "doc_id", "text", "text", n = 2,
      collapseExact = false)
    assert(noCut.count() === 36L) // every combo shares boilerplate grams
    val cutDf = graft.operators.NearDup.crossNgramPairs(
      inc, hist, "doc_id", "doc_id", "text", "text", n = 2,
      collapseExact = false, maxShingleDf = Some(6))
    val got = cutDf.select("id_l", "id_r", "jaccard", "containment_l")
      .as[(Long, Long, Double, Double)].collect()
    // surviving gram space per doc: 3 content grams + the content→boiler
    // bridge gram ("delta related" / "echo related" — df 1 each) = 4;
    // docs 1/10 share exactly {alpha beta, beta gamma} → 2/(4+4−2), 2/4
    assert(got.map(r => (r._1, r._2)).toSeq === Seq((1L, 10L)))
    assert(got(0)._3 === 2.0 / 6.0 && got(0)._4 === 2.0 / 4.0)
    // the collapsed default honors the cut too
    val collapsed = graft.operators.NearDup.crossNgramPairs(
      inc, hist, "doc_id", "doc_id", "text", "text", n = 2,
      maxShingleDf = Some(6))
      .select("id_l", "id_r").as[(Long, Long)].collect()
    assert(collapsed.toSeq === Seq((1L, 10L)))
  }

  test("crossNgramPairs collapse-first ≡ per-instance after expansion (dup-heavy sides)") {
    // left: doc 1 text duplicated 3×; right: one text duplicated 2× —
    // the per-instance stream has 3×2 = 6 identical rows per rep pair
    val inc = Seq((1L, "a b c d"), (4L, "A b c d "), (9L, "a b c d"),
      (2L, "q r s")).toDF("doc_id", "text") // 4L normalizes equal (lower/trim)
    val hist = Seq((10L, "b c d e"), (12L, "b c d e"),
      (11L, "a b c d x")).toDF("doc_id", "text")
    val legacy = NearDup.crossNgramPairs(
        inc, hist, "doc_id", "doc_id", "text", "text", n = 2, collapseExact = false)
      .as[(Long, Long, Double, Double)].collect()
    val collapsed = NearDup.crossNgramPairs(
        inc, hist, "doc_id", "doc_id", "text", "text", n = 2)
    // reps are the min ids; multiplicities ride along
    val mults = collapsed.select("id_l", "id_r", "n_l", "n_r")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mults === Set((1L, 10L, 3L, 2L), (1L, 11L, 3L, 1L)))
    // expansion reproduces the per-instance MULTISET exactly (3×2 fanout)
    val expanded = NearDupExpansion.crossNgramPairs(collapsed,
        NearDup.exactTextMembership(inc, "doc_id", "text", normalize = true),
        NearDup.exactTextMembership(hist, "doc_id", "text", normalize = true))
      .as[(Long, Long, Double, Double)].collect()
    assert(expanded.sorted.toSeq === legacy.sorted.toSeq)
    assert(expanded.length === 3 * 2 + 3 * 1)
  }

  test("ngramJaccardPairs computes exact jaccard on a known pair") {
    // doc1: shingles {a b, b c, c d}; doc2: {b c, c d, d e}
    // intersection 2, union 4 → jaccard 0.5
    val docs = Seq((1L, "a b c d"), (2L, "b c d e"), (3L, "x y z w")).toDF("doc_id", "text")
    val out = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.1)
      .as[(Long, Long, Double)].collect()
    assert(out === Array((1L, 2L, 0.5)))
  }

  test("ngramJaccard: dup-free fast path and collapse path emit the same pair set") {
    // mixed corpus: exact dups (1,2), a near pair (3,4), an orphan (5),
    // and a shingle-less short doc (6) — every code path in both plans
    val docs = Seq(
      (1L, "the cat sat on the mat today"),
      (2L, "the cat sat on the mat today"), // exact dup of 1 → jaccard 1.0
      (3L, "the cat sat on the red mat today"),
      (4L, "a cat sat on the red mat today"),
      (5L, "completely different words everywhere"),
      (6L, "too short")).toDF("doc_id", "text")
    def run(collapse: Boolean) =
      NearDup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.1,
          collapseDuplicates = Some(collapse))
        .as[(Long, Long, Double)].collect().toSet
    val (fast, collapsed) = (run(false), run(true))
    assert(fast === collapsed)
    assert(fast.contains((1L, 2L, 1.0))) // dup pair present with exact 1.0
    // and the auto-profile (None) agrees with both on this corpus
    val auto = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.1)
      .as[(Long, Long, Double)].collect().toSet
    assert(auto === fast)
  }

  test("ngramJaccardComponentEdges: same components as the per-instance pair stream (dup-heavy)") {
    // replica-heavy corpus exercising every edge class: two exact-dup
    // groups whose base texts are near-dups of each other (groups must
    // merge through ONE representative edge), exact-dup groups with no
    // outside neighbor (star edges alone form the component — incl. the
    // 2-token "too short" group, whose single bigram still pairs it), a
    // duplicated SHINGLE-LESS text (1 token < n → no shingles → never
    // pairs → in NO component on either path), and an orphan
    val docs = Seq(
      (1L, "the cat sat on the red mat today"),
      (4L, "the cat sat on the red mat today"),   // dup of 1
      (9L, "the cat sat on the red mat today"),   // dup of 1
      (2L, "a cat sat on the red mat today"),     // near-dup of group(1)
      (7L, "a cat sat on the red mat today"),     // dup of 2
      (3L, "entirely unrelated sentence about boats and rivers flowing"),
      (8L, "entirely unrelated sentence about boats and rivers flowing"), // dup of 3
      (5L, "completely different words everywhere nothing shared here at all"),
      (6L, "too short"),
      (11L, "too short"),   // dup of 6: one shared bigram → jaccard 1.0
      (12L, "short"),
      (13L, "short")).toDF("doc_id", "text") // duplicated SHINGLE-LESS text
    def comps(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.operators.Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
    val perInstance = comps(
      NearDup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.1))
    val collapsed = comps(
      NearDup.ngramJaccardComponentEdges(docs, "doc_id", "text", 2, 0.1))
    assert(collapsed === perInstance, s"collapsed=$collapsed vs per-instance=$perInstance")
    // shape sanity: {1,4,9,2,7} one component labeled 1; {3,8} labeled 3;
    // {6,11} labeled 6; 5 (orphan) and 12/13 (shingle-less dups) absent
    assert(perInstance === Map(1L -> 1L, 4L -> 1L, 9L -> 1L, 2L -> 1L,
      7L -> 1L, 3L -> 3L, 8L -> 3L, 6L -> 6L, 11L -> 6L))
    // and the edge stream really is linear: star edges + one rep edge,
    // never the C(d,2) intra expansion
    val nEdges = NearDup.ngramJaccardComponentEdges(docs, "doc_id", "text", 2, 0.1).count()
    assert(nEdges === 6L, s"expected 5 star + 1 rep edge, got $nEdges")
  }

  test("simhashPairs finds near-identical docs within hamming budget") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val out = NearDup.simhashPairs(docs, "doc_id", "text", maxDist = 14,
        collapseExact = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))
    assert(!out.contains((1L, 3L)) || !out.contains((2L, 3L)))
  }

  test("simhashPairs rejects degenerate blocking (maxDist too large)") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      NearDup.simhashPairs(docs, "doc_id", "text", maxDist = 15,
        collapseExact = true)
    }
  }

  test("portable (md5) simhash pair set equals brute-force hamming filter") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val out = NearDup.simhashPairs(docs, "doc_id", "text", maxDist = 10,
        collapseExact = false)
      .as[(Long, Long, Int)].collect().toSet
    val sigs = docs.select(col("doc_id"), NearDup.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      d = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if d <= 10
    } yield (a, b, d)).toSet
    assert(out === brute)
    assert(out.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0)) // exact dup
  }

  test("simhashPairs collapsed default expands to exactly the per-instance " +
    "stream (dup-heavy corpus)") {
    // replica-heavy corpus exercising every edge class: a 3-copy group
    // near a 2-copy group (inter rep pair must carry both multiplicities
    // and expand to 6 cross pairs), a 2-copy group with no neighbor
    // (self row only), an orphan, a singleton far from everything, and
    // three NULL texts whose ids undercut every rid (no signature, so no
    // group: never a fake 3-copy exact-dup self row)
    val nullIds = Set(0L, 6L, 10L)
    val docs = (Seq(
      (5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),  // dup of 5 (rid=1)
      (9L, "alpha beta gamma delta epsilon zeta eta theta"),  // dup of 5
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // near group(1)
      (7L, "alpha beta gamma delta epsilon zeta eta iota"),   // dup of 2
      (3L, "one two three four five six seven eight"),
      (8L, "one two three four five six seven eight"),        // dup of 3, no neighbor
      (4L, "completely unrelated words describing other things entirely")
    ).map { case (id, t) => (id, Option(t)) } ++ nullIds.toSeq.map((_, Option.empty[String])))
      .toDF("doc_id", "text")
    val collapsed = NearDup.simhashPairs(docs, "doc_id", "text", maxDist = 14,
      collapseExact = true)
    val perInstance = NearDup.simhashPairs(docs, "doc_id", "text", maxDist = 14,
        collapseExact = false)
      .as[(Long, Long, Int)].collect().toSet
    val members = NearDupExpansion.simhashMembership(docs, "doc_id", "text")
    val expanded = NearDupExpansion.simhashPairs(collapsed, members)
      .as[(Long, Long, Int)].collect().toSet
    assert(expanded === perInstance)
    // shape: the collapsed stream is LINEAR — 3 self rows (the three
    // dup groups) + inter rep pairs; never the C(d,2)/d·e expansion
    val c = collapsed.as[(Long, Long, Int, Long, Long)].collect().toSet
    assert(c.forall(p => !nullIds(p._1) && !nullIds(p._2)), c.toString)
    assert(c.contains((1L, 1L, 0, 3L, 3L)))  // 3-copy group self row
    assert(c.contains((2L, 2L, 0, 2L, 2L)))
    assert(c.contains((3L, 3L, 0, 2L, 2L)))
    val interReps = c.filter(p => p._1 != p._2)
    assert(interReps.exists(p => p._1 == 1L && p._2 == 2L && p._4 == 3L && p._5 == 2L))
    // per-instance intra mass is all there after expansion: C(3,2)+C(2,2)*2
    assert(perInstance.count(_._3 == 0) === 3 + 1 + 1)
    assert(expanded.count(p => p._3 > 0 && Set(p._1, p._2).subsetOf(Set(1L, 5L, 9L, 2L, 7L))) === 6)
    // each member carries the signature of its OWN text: the distinct-text
    // step is keyed on (text hash, text), so a hash collision between two
    // texts cannot hand one of them the other's signature
    val sigs = NearDup.simhashMembers(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("id"),
        NearDup.simhash(lower(trim(col("text")))).as("own")), "id")
      .select("id", "sh", "own").as[(Long, Long, Long)].collect()
    assert(sigs.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L))
    assert(sigs.forall(r => r._2 == r._3), sigs.mkString(","))
  }

  test("split-leakage over rep pairs equals the per-instance audit (dup-heavy)") {
    import graft.operators.Sampling
    // ids chosen so the md5 split hash scatters group members across
    // splits; two near-dup groups + an exact-dup group with no neighbor
    val texts = Map(
      "a" -> "the cat sat on the red mat today and then it slept",
      "b" -> "a cat sat on the red mat today and then it slept",
      "c" -> "entirely unrelated sentence about boats and rivers flowing by")
    val docs = (1L to 40L).map { i =>
      (i, texts(if (i % 5 == 0) "c" else if (i % 2 == 0) "b" else "a"))
    }.toDF("doc_id", "text")
    val sp = Seq(("train", 0.6), ("val", 0.2), ("test", 0.2))
    def splitOf(df: org.apache.spark.sql.DataFrame, idc: String, out: String) =
      Sampling.assignSplit(df, col(idc), sp, outCol = out)
    // per-instance audit: the old q108 formulation
    val perInstance = splitOf(splitOf(
        NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2,
          collapseDuplicates = Some(true)), "id_a", "split_a"), "id_b", "split_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "split_a", "split_b", "jaccard")
      .as[(Long, Long, String, String, Double)].collect().toSet
    assert(perInstance.nonEmpty, "corpus must actually leak for the test to bite")
    // collapsed audit: rep pairs × split histograms (the q108 catalog form)
    val reps = NearDup.ngramJaccardRepPairs(docs, "doc_id", "text", 3, 0.2)
    val mem = NearDup.exactTextMembership(docs, "doc_id", "text", normalize = true)
    val hist = splitOf(mem, "id", "split")
      .groupBy(col("rid"), col("split")).agg(count(lit(1)).as("cnt"))
    val ha = hist.select(col("rid").as("id_a"), col("split").as("split_a"), col("cnt").as("ca"))
    val hb = hist.select(col("rid").as("id_b"), col("split").as("split_b"), col("cnt").as("cb"))
    val audit = reps.filter(col("id_a") =!= col("id_b"))
      .join(ha, Seq("id_a")).join(hb, Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .unionByName(reps.filter(col("id_a") === col("id_b"))
        .join(ha, Seq("id_a")).join(hb, Seq("id_b"))
        .filter(col("split_a") < col("split_b")))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
        (col("ca") * col("cb")).as("n_pairs"), col("jaccard"))
    // total leaked-pair mass matches exactly
    assert(audit.agg(sum("n_pairs")).head().getLong(0) === perInstance.size.toLong)
    // and expanding each audit row across its two (group, split) cells
    // reproduces the per-instance set bit-for-bit
    val ms = splitOf(mem, "id", "split")
    val ia = ms.select(col("rid").as("id_a"), col("split").as("split_a"),
      col("id").as("xa"))
    val ib = ms.select(col("rid").as("id_b"), col("split").as("split_b"),
      col("id").as("xb"))
    // no pair-dedup filter needed: the two (group, split) cells of any
    // audit row are disjoint, so the cross product hits each unordered
    // instance pair exactly once
    val expanded = audit.join(ia, Seq("id_a", "split_a")).join(ib, Seq("id_b", "split_b"))
      .select(least(col("xa"), col("xb")).as("id_a"),
        greatest(col("xa"), col("xb")).as("id_b"),
        when(col("xa") < col("xb"), col("split_a")).otherwise(col("split_b")).as("split_a"),
        when(col("xa") < col("xb"), col("split_b")).otherwise(col("split_a")).as("split_b"),
        col("jaccard"))
      .as[(Long, Long, String, String, Double)].collect().toSet
    assert(expanded === perInstance)
  }

  test("editDistancePairs covers strings shorter than maxDist+1 (deletion band)") {
    // maxDist = 3 → PassJoin needs >= 4 chars; every pair below involves
    // a shorter side and must come from the deletion-variant band
    val rows = Seq(
      (1L, "ab"),      // short
      (2L, "b"),       // short: dist("ab","b") = 1
      (3L, "ab"),      // exact dup of 1 → intra dist 0
      (4L, "abcde"),   // medium: dist("ab","abcde") = 3 — short × PassJoin-band length
      (5L, ""),        // empty: dist("", "ab") = 2, dist("", "b") = 1
      (6L, "zzzzzzzzzz") // far from everything
    ).toDF("id", "s")
    val got = NearDup.editDistancePairs(rows, "id", "s", maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 2L, 1L), (1L, 3L, 0L), (2L, 3L, 1L),
      (1L, 4L, 3L), (3L, 4L, 3L),
      (1L, 5L, 2L), (2L, 5L, 1L), (3L, 5L, 2L)))
  }

  test("corpusShingleSimilarity: identity, disjoint, half-overlap estimate, empty side") {
    import graft.operators.NearDup
    def corpus(texts: Seq[String]) = texts.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val a = corpus(Seq("one two three four five", "alpha beta gamma delta"))
    // identical corpora: every min matches, exact Jaccard 1
    val same = NearDup.corpusShingleSimilarity(a, a, "text", "text",
      n = 3, numHashes = 16).head()
    assert(same.getAs[Double]("est_jaccard") === 1.0)
    assert(same.getAs[Double]("exact_jaccard") === 1.0)
    // disjoint corpora: zero everywhere
    val b = corpus(Seq("six seven eight nine ten"))
    val dis = NearDup.corpusShingleSimilarity(a, b, "text", "text",
      n = 3, numHashes = 16).head()
    assert(dis.getAs[Long]("n_matching") === 0L &&
      dis.getAs[Long]("n_common") === 0L)
    // half-overlap: estimate within MinHash tolerance of the exact value
    val big = (0 until 200).map(i => s"w$i x$i y$i z$i q$i")
    val left = corpus(big.take(150))     // 150 docs
    val right = corpus(big.drop(50))     // 150 docs, 100 shared
    val hv = NearDup.corpusShingleSimilarity(left, right, "text", "text",
      n = 3, numHashes = 128).head()
    val exact = hv.getAs[Double]("exact_jaccard")
    val est = hv.getAs[Double]("est_jaccard")
    assert(math.abs(est - exact) < 0.15,
      f"minhash estimate $est%.3f too far from exact $exact%.3f")
    // a side with no shingles (too short): NULL estimate, not 0
    val short = corpus(Seq("just two"))
    val es = NearDup.corpusShingleSimilarity(a, short, "text", "text",
      n = 3, numHashes = 16).head()
    assert(es.isNullAt(es.fieldIndex("n_matching")) &&
      es.isNullAt(es.fieldIndex("est_jaccard")))
    // estimate-only mode skips the exact census entirely
    val eo = NearDup.corpusShingleSimilarity(a, b, "text", "text",
      n = 3, numHashes = 16, exact = false).head()
    assert(eo.isNullAt(eo.fieldIndex("exact_jaccard")))
  }
}
