package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-language-model (SentencePiece-class) subword tokenizer —
  * the OTHER production tokenizer family next to BPE (Kudo 2018,
  * "Subword Regularization"; the SentencePiece unigram trainer): a
  * vocabulary of pieces with probabilities, segmentation by Viterbi
  * max-likelihood, trained by EM over the corpus.
  *
  * Exact-integer discipline (the repo-wide oracle contract): piece
  * log-probs quantize to 1e-5 micro-units the moment they are computed
  * — `cost = −floor(ln(cnt/total)·1e5 + 0.5)` — so every Viterbi DP is
  * integer arithmetic with a deterministic tie rule (min cost, then
  * lexicographically smallest piece sequence under UTF-8 byte order)
  * and the whole train+encode chain replays bit-for-bit in DuckDB SQL
  * (q160/q161). Honest scope note: this is VITERBI-EM (hard counts from
  * the best segmentation, the exact-replayable variant) with
  * drop-unused pruning over a frequency-seeded vocabulary — not the
  * full Kudo pipeline's forward-backward E-step and likelihood-loss
  * shrinking, which are FP-iterative and not engine-replayable; the
  * segmentation semantics and model shape are the SentencePiece ones.
  *
  * Scale shape (the [[Quality.bpeTrain]] pattern): ONE corpus-sized
  * shuffle collapses the corpus to the distinct-word frequency
  * dictionary; seeding, EM rounds, and pruning run driver-local over
  * that bounded dictionary (capped at [[Quality.DictCap]] words,
  * fail-fast) — at 100 TB the dictionary, not the corpus, is the
  * working set, and it is Zipf-bounded. Encode is a PURE codegen
  * projection: the trained table ships once per plan as a single
  * `graft_unigram_count` kernel constant and every word runs the
  * integer Viterbi in-place — zero shuffles, streaming-safe (the
  * [[Quality.bpeEncode]] contract).
  */
object UnigramLm {

  /** A trained piece: final count, and the integer micro-unit cost
    * (−round(ln(cnt/total)·1e5)) Viterbi minimizes.
    */
  final case class Piece(piece: String, cnt: Long, cost: Long)

  private def micro(x: Double): Long =
    math.floor(x * 100000.0 + 0.5).toLong

  private def costsOf(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = counts.iterator.map(_._2).sum.max(1L)
    counts.map { case (p, c) =>
      (p, -micro(math.log(c.toDouble / total.toDouble))) }
  }

  private def codePoints(w: String): IndexedSeq[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < w.length) {
      val c = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + c)
      i += c
    }
    out.toIndexedSeq
  }

  /** Train a unigram-LM vocabulary driver-locally over the collapsed
    * word-frequency dictionary.
    *
    *  1. SEED: every ≤ `maxPieceLen`-code-point substring of every dict
    *     word, weighted by word frequency × occurrences; ALL single
    *     code points are kept (total coverage of the corpus) plus the
    *     top `seedMultis` longer pieces by (weight DESC, piece ASC
    *     UTF-8) — the frequency seeding standing in for SentencePiece's
    *     suffix-array seed.
    *  2. EM (`emIters` hard-EM rounds): E = Viterbi-best segmentation
    *     of every dict word under current integer costs
    *     ([[graft.functions.TextKernels.UnigramKernel]] — the same
    *     kernel encode uses); usage counts weight by word frequency.
    *     M = recompute costs from counts. Unused multi-char pieces
    *     DROP (the prune); single-char pieces floor at count 1 so
    *     coverage never regresses.
    *
    * Deterministic end to end: integer costs, UTF-8 tie order, no RNG.
    */
  def trainLocal(docs: DataFrame, textCol: String,
                 seedMultis: Int = 120, emIters: Int = 2,
                 maxPieceLen: Int = 4): Seq[Piece] = {
    require(seedMultis >= 0, s"seedMultis must be >= 0, got $seedMultis")
    require(emIters >= 1, s"emIters must be >= 1, got $emIters")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    // the corpus word count (Quality's shared collapse); its exact row
    // count is known before any row crosses to the driver
    val (landed, words) = Quality.wordDict(docs, textCol)
    require(words <= Quality.DictCap,
      s"unigram dictionary has $words distinct words, over the driver cap " +
        s"of ${Quality.DictCap}")
    val dict = Quality.dictRows(landed)
    if (dict.isEmpty) return Seq.empty
    // 1. seed weights: every substring occurrence, frequency-weighted
    val wt = new java.util.HashMap[String, Long]()
    dict.foreach { case (w, f) =>
      val cps = codePoints(w)
      var l = 1
      while (l <= maxPieceLen) {
        var j = 0
        while (j + l <= cps.length) {
          val p = cps.slice(j, j + l).mkString
          wt.merge(p, f, (a, b) => a + b)
          j += 1
        }
        l += 1
      }
    }
    import scala.jdk.CollectionConverters._
    val all = wt.entrySet().asScala.map(e => (e.getKey, e.getValue.longValue())).toIndexedSeq
    val singles = all.filter(p => p._1.codePointCount(0, p._1.length) == 1)
    val multis = all.filter(p => p._1.codePointCount(0, p._1.length) > 1)
      .sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2
        else Quality.utf8Cmp(a._1, b._1) < 0
      }.take(seedMultis)
    var counts: Seq[(String, Long)] =
      (singles ++ multis).sortWith((a, b) => Quality.utf8Cmp(a._1, b._1) < 0)
    // 2. hard-EM rounds
    var round = 0
    while (round < emIters) {
      val kernel = new graft.functions.TextKernels.UnigramKernel(costsOf(counts))
      val usage = new java.util.HashMap[String, Long]()
      dict.foreach { case (w, f) =>
        kernel.bestPath(w).foreach(p => usage.merge(p, f, (a, b) => a + b))
      }
      counts = counts.flatMap { case (p, _) =>
        val u = Option(usage.get(p)).map(_.longValue()).getOrElse(0L)
        if (p.codePointCount(0, p.length) == 1) Some((p, u.max(1L)))
        else if (u > 0L) Some((p, u))
        else None
      }
      round += 1
    }
    val withCosts = costsOf(counts).toMap
    counts.map { case (p, c) => Piece(p, c, withCosts(p)) }
  }

  /** [[trainLocal]] as a one-row-per-piece DataFrame (piece, cnt, cost)
    * — the q160 catalog face.
    */
  def trainLocalDf(docs: DataFrame, textCol: String,
                   seedMultis: Int = 120, emIters: Int = 2,
                   maxPieceLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    val rows = trainLocal(docs, textCol, seedMultis, emIters, maxPieceLen)
      .map(p => org.apache.spark.sql.Row(p.piece, p.cnt, p.cost))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("piece",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cost",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** ENCODE under a trained table: per-document piece counts — the
    * number a token-budget cut or packing plan should use for a
    * unigram-LM tokenizer (the [[Quality.bpeEncode]] contract, unigram
    * face). Output: (idCol, n_tokens_ws, n_um_tokens, um_per_word =
    * round5(um/ws)); NULL/blank docs keep NULL stats. A pure codegen
    * projection — zero shuffles, streaming-safe, table ships once per
    * plan.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             pieces: Seq[(String, Long)],
             keepCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val enc = graft.functions.GraftFunctions.encodeVocabLnp(pieces)
    val perWord: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      w => call_function("graft_unigram_count", w, lit(enc))
    val empty = col(textCol).isNull || length(trim(col(textCol))) === 0
    val counts = transform(Quality.tokens(col(textCol)), perWord)
    docs.select(col(idCol) +: keepCols.map(col) :+
      when(empty, lit(null).cast("long"))
        .otherwise(size(Quality.tokens(col(textCol))).cast("long")).as("n_tokens_ws") :+
      when(empty, lit(null).cast("long"))
        .otherwise(aggregate(counts, lit(0L), (a, x) => a + x.cast("long")))
        .as("n_um_tokens"): _*)
      .withColumn("um_per_word",
        round(col("n_um_tokens").cast("double") / col("n_tokens_ws"), 5))
  }
}
