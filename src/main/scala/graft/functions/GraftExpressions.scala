package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity/hashing hot paths.
  *
  * Each is a thin codegen'd wrapper over a [[VectorOps]] kernel: the
  * generated Java makes ONE static call per row, so the expression stays
  * inside whole-stage codegen with an O(1)-size tree (vs the O(planes×dim)
  * trees the Column-combinator versions expand to).
  */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(FloatType), ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vec_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.VectorOps.cosineF($a, $b);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class FloatVecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(FloatType), ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vec_l2sq"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.l2sqF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.VectorOps.l2sqF($a, $b);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket id of a float vector (plane count and seed
  * are plan-time constants, folded into the generated call site).
  */
case class RhpBucketExpr(child: Expression, nPlanes: Int, seed: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(FloatType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rhp_bucket"
  override protected def nullSafeEval(v: Any): Any =
    VectorOps.rhpBucket(v.asInstanceOf[ArrayData], nPlanes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.VectorOps.rhpBucket($v, $nPlanes, $seed);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash of a token array: md5-derived token hashes,
  * bit-majority vote (see [[VectorOps.simhashMd5]] for the bit layout and
  * why).
  */
case class SimHashMd5Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_md5"
  override protected def nullSafeEval(v: Any): Any =
    VectorOps.simhashMd5(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.VectorOps.simhashMd5($v);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** IVF nearest-centroid assignment: the centroid matrix is a plan-time
  * constant shipped as ONE reference object, so the expression tree is a
  * single node and the generated code one kernel call — where composing
  * `least(struct(l2sq, cid) × k)` from combinators builds an O(k × dim)
  * literal tree whose codegen source dominates compile time.
  */
case class IvfNearestExpr(child: Expression, cents: Array[Array[Float]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(FloatType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_nearest"
  override protected def nullSafeEval(v: Any): Any =
    VectorOps.ivfNearest(v.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("ivfCents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.VectorOps.ivfNearest($v, $c);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ asymmetric distance: query vector × code array against the full
  * codebook set shipped as ONE reference object. A kernel for the same
  * reason as [[IvfNearestExpr]] — the combinator form (per-subspace
  * `element_at` into a 2-D array literal) walks generic array data and
  * boxes per element, which measured ~70× slower over a 10× pair probe.
  */
case class PqAdcExpr(left: Expression, right: Expression,
                     books: Array[Array[Array[Float]]])
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType),
      Seq(ArrayType(FloatType), ArrayType(IntegerType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("pqBooks", books, "float[][][]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.pqAdc($a, $b, $c);")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** IVF probe list: the nProbe nearest centroid ids, ascending (distance,
  * cid) — see [[IvfNearestExpr]] for why this is a kernel.
  */
case class IvfProbesExpr(child: Expression, cents: Array[Array[Float]], nProbe: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf_probes"
  override protected def nullSafeEval(v: Any): Any =
    VectorOps.ivfProbes(v.asInstanceOf[ArrayData], cents, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("ivfCents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.VectorOps.ivfProbes($v, $c, $nProbe);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Marker-word language ID over a token array. `markers` is plan-time
  * constant (parsed from the SQL literal in the function builder), so the
  * kernel — marker hash map included — is built once and shipped inside
  * the expression; per row it is a single pass over the tokens.
  */
case class LangIdExpr(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lang_id"
  @transient private lazy val kernel = new TextKernels.LangIdKernel(markers)
  override protected def nullSafeEval(v: Any): Any =
    kernel.eval(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("langIdKernel", kernel, classOf[TextKernels.LangIdKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.eval($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct xxhash64 hashes of the word n-grams of a token array — the
  * hashed shingle set, computed in one pass with no n-gram string
  * materialization (vs transform+slice+concat_ws+array_distinct, which
  * builds every n-word string and compares them pairwise).
  */
case class NgramHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hashes"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.ngramHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.ngramHashes($v, $n);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Deletion neighborhood of a string: all distinct <= d code-point
  * deletions, itself included — the lossless short-string blocking key
  * for edit-distance joins (see [[TextKernels.deletionVariants]] for the
  * intersection guarantee and the C(len, <=d) size bound).
  */
case class DelVariantsExpr(child: Expression, d: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_del_variants"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.deletionVariants(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], d)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.deletionVariants($v, $d);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** JL random projection of a float vector to k dims (see
  * [[VectorOps.rpProject]] for the deterministic-planes portability
  * contract) — the cheap distance-preserving reduction that shrinks an
  * ANN/near-dup working set before the expensive stages.
  */
case class RpProjectExpr(child: Expression, k: Int, seed: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType),
      Seq(ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_rp_project"
  override protected def nullSafeEval(v: Any): Any =
    VectorOps.rpProject(v.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.VectorOps.rpProject($v, $k, $seed);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass code-point entropy summary of a string —
  * [entropy_micro_units, n_distinct_codepoints] (see
  * [[TextKernels.charEntropy]] for the exact-long-term portability
  * contract). The gibberish/boilerplate quality signal: natural prose
  * sits in a characteristic entropy band, keyboard mash and repeated
  * filler fall outside it.
  */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_entropy"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.charEntropy(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.charEntropy($v);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode NFC normalization ([[TextKernels.nfc]], java.text.Normalizer
  * under the hood — the q155 oracle replays it with DuckDB's
  * `nfc_normalize`). Spark has no NFC builtin; this stays inside
  * whole-stage codegen and returns the input object untouched when the
  * string is already composed.
  */
case class NfcExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.nfc(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.nfc($v);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass token/char profile of a string — [n_tokens_ws, word_chars,
  * punct_chars] (see [[TextKernels.tokenProfile]] for the exact
  * Column-form-parity contract). Replaces three regex scans per row in
  * the token-count family with one code-point walk.
  */
case class TokenProfileExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_profile"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.tokenProfile(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.tokenProfile($v);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-walk URL canonicalizer — [canon_url, host, registered_domain]
  * (NULL elements for unparseable input; see [[TextKernels.urlParts]]
  * for the rule list the DuckDB oracle replays in SQL). `suffixes` is
  * the registered-domain suffix set (public + private-registry
  * multi-label entries) riding the plan as ONE reference object — pass
  * a full PSL snapshot here in production; the default is the built-in
  * [[TextKernels.defaultSuffixList]] subset.
  */
case class UrlCanonExpr(child: Expression,
    suffixes: Seq[String] = TextKernels.defaultSuffixList)
    extends UnaryExpression {
  @transient private lazy val matcher =
    if (suffixes == TextKernels.defaultSuffixList) TextKernels.SuffixMatcher.default
    else new TextKernels.SuffixMatcher(suffixes)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_url_canon"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.urlParts(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], matcher)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("suffixMatcher", matcher,
      classOf[TextKernels.SuffixMatcher].getName)
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.urlParts($v, $m);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Trained weight-vector language ID — [n_grams, sum_lang0, …] scaled
  * log-prob sums over hashed char-n-gram buckets, one text walk for all
  * languages (see [[TextKernels.LangIdVecKernel]]; argmax/margin are
  * Column-side so the DuckDB oracle replays them verbatim).
  */
case class LangScoresExpr(child: Expression, model: Seq[(String, Array[Long])],
                          n: Int) extends UnaryExpression {
  @transient private lazy val kernel =
    new TextKernels.LangIdVecKernel(model.map(_._1), model.map(_._2), n)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lang_scores"
  override protected def nullSafeEval(v: Any): Any =
    kernel.eval(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("langIdVecKernel", kernel,
      classOf[TextKernels.LangIdVecKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.eval($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-walk HTML main-content extractor — [clean_text, n_blocks, n_kept,
  * total_chars, kept_chars] (counts as decimal strings; see
  * [[TextKernels.htmlMain]] for the block/scoring rule list the DuckDB
  * oracle replays in regex/list SQL).
  */
case class HtmlMainExpr(child: Expression, minWords: Int,
                        maxLinkDensity: Double) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_html_main"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.htmlMain(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      minWords, maxLinkDensity)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.htmlMain($v, $minWords, $maxLinkDensity);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass repetition profile of a token array — [n_tokens,
  * max_token_count, ngram_instances, distinct_ngram_hashes] (see
  * [[TextKernels.repProfile]]).
  */
case class RepProfileExpr(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rep_profile"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.repProfile(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.repProfile($v, $n);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass capped-BIGRAM LM score of a token array — [n_tokens,
  * sum_micro_lnp] under three vocabulary tables shipped as ONE
  * reference object (see [[TextKernels.BigramLnpKernel]]).
  */
case class BigramLnpExpr(child: Expression,
    pairs: Seq[(String, String, Long)], firsts: Seq[(String, Long)],
    unis: Seq[(String, Long)], total: Long,
    alpha: Double) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bigram_lnp"
  @transient private lazy val kernel =
    new TextKernels.BigramLnpKernel(pairs, firsts, unis, total, alpha)
  override protected def nullSafeEval(v: Any): Any =
    kernel.eval(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("bigramLnpKernel", kernel, classOf[TextKernels.BigramLnpKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.eval($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** zlib compression census of a string — [raw_bytes, zlib_bytes] at a
  * fixed deflate level (see [[TextKernels.zlibLens]]).
  */
case class ZlibLensExpr(child: Expression, level: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_zlib_lens"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.zlibLens(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], level)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.zlibLens($v, $level);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass capped-TRIGRAM LM score of a token array — [n_tokens,
  * sum_micro_lnp] under four vocabulary tables shipped as ONE reference
  * object (see [[TextKernels.TrigramLnpKernel]]).
  */
case class TrigramLnpExpr(child: Expression,
    tris: Seq[(String, String, String, Long)],
    pairs: Seq[(String, String, Long)], firsts: Seq[(String, Long)],
    unis: Seq[(String, Long)], total: Long,
    alpha: Double) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_trigram_lnp"
  @transient private lazy val kernel =
    new TextKernels.TrigramLnpKernel(tris, pairs, firsts, unis, total, alpha)
  override protected def nullSafeEval(v: Any): Any =
    kernel.eval(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("trigramLnpKernel", kernel, classOf[TextKernels.TrigramLnpKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.eval($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass capped-trigram KNESER-NEY score of a token array —
  * [n_tokens, sum_micro_lnp] under two count tables shipped as ONE
  * reference object; continuation counts derive at construction (see
  * [[TextKernels.TrigramKnKernel]]).
  */
case class TrigramKnExpr(child: Expression,
    tris: Seq[(String, String, String, Long)],
    pairs: Seq[(String, String, Long)],
    discount: Double, alpha: Double) extends UnaryExpression {
  require(discount > 0 && discount < 1,
    s"$prettyName needs 0 < discount < 1, got $discount")
  require(alpha > 0, s"$prettyName needs alpha > 0, got $alpha")
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_trigram_kn"
  @transient private lazy val kernel =
    new TextKernels.TrigramKnKernel(tris, pairs, discount, alpha)
  override protected def nullSafeEval(v: Any): Any =
    kernel.eval(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("trigramKnKernel", kernel, classOf[TextKernels.TrigramKnKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.eval($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass capped-unigram LM score of a token array — [n_tokens,
  * sum_micro_lnp] under a (token → 5-dp-lnp micro-units) table shipped
  * as ONE reference object (see [[TextKernels.VocabLnpKernel]]).
  */
case class VocabLnpExpr(child: Expression, entries: Seq[(String, Long)],
                        floorMicro: Long) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_vocab_lnp"
  @transient private lazy val kernel = new TextKernels.VocabLnpKernel(entries, floorMicro)
  override protected def nullSafeEval(v: Any): Any =
    kernel.eval(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("vocabLnpKernel", kernel, classOf[TextKernels.VocabLnpKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.eval($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE token count of ONE word under a ranked merge table (plan-time
  * constant — ships as a single reference object, so plan size is O(1)
  * in the number of merges; see [[TextKernels.BpeKernel]] for the
  * sequential-by-rank symbol-list semantics and the boundary-safety
  * contract).
  */
case class BpeCountExpr(child: Expression, merges: Seq[(String, String)],
                        rescan: Boolean = false)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bpe_count"
  @transient private lazy val kernel = new TextKernels.BpeKernel(merges, rescan)
  override protected def nullSafeEval(v: Any): Any =
    kernel.tokenCount(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("bpeKernel", kernel, classOf[TextKernels.BpeKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.tokenCount($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Adjacent (l, r) symbol pairs of one separator-wrapped BPE dictionary
  * word — see [[TextKernels.bpePairs]] for the exact split semantics it
  * replays. The separator is a plan-time constant; one codegen'd kernel
  * call per row replaces the interpreted zip_with/slice/split chain that
  * dominated the batched BPE rounds' per-round pair-count stage.
  */
case class BpePairsExpr(child: Expression, sep: String)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("l", StringType, nullable = false),
    StructField("r", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_bpe_pairs"
  @transient private lazy val sepU =
    org.apache.spark.unsafe.types.UTF8String.fromString(sep)
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.bpePairs(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], sepU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("bpePairsSep", sepU,
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.bpePairs($v, $s);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Rolling k-gram hashes of one token array — see
  * [[TextKernels.rollingGramHashes]]; one codegen'd pass replaces the
  * interpreted transform-of-aggregate-over-slice chain per gram.
  */
case class RollingGramHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes_rolling"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.rollingGramHashes(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      v => s"${ev.value} = graft.functions.TextKernels.rollingGramHashes($v, $k);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The span-strip cover fold + token cut — see [[TextKernels.spanCut]].
  * Input: (token array, sorted distinct starts, k literal); output
  * struct (spans, toks, clean). Null-safe like every kernel wrapper —
  * the call site coalesces a null token array to empty and re-nulls
  * clean_text afterwards, preserving the combinator form's semantics.
  */
case class SpanCutExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType),
      Seq(ArrayType(StringType), ArrayType(IntegerType)))
  override def dataType: DataType = StructType(Seq(
    StructField("spans", LongType, nullable = false),
    StructField("toks", LongType, nullable = false),
    StructField("clean", StringType, nullable = true)))
  override def prettyName: String = "graft_span_cut"
  override protected def nullSafeEval(t: Any, s: Any): Any =
    TextKernels.spanCut(t.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"${ev.value} = graft.functions.TextKernels.spanCut($t, $s, $k);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Unigram-LM (SentencePiece-class) piece count of ONE word under a
  * trained (piece, integer-micro-cost) table — exact-integer Viterbi, so
  * the count is engine-replayable; the table ships as ONE reference
  * object (see [[TextKernels.UnigramKernel]] for the DP and tie rule).
  */
case class UnigramCountExpr(child: Expression, entries: Seq[(String, Long)])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_unigram_count"
  @transient private lazy val kernel = new TextKernels.UnigramKernel(entries)
  override protected def nullSafeEval(v: Any): Any =
    kernel.pieceCount(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("unigramKernel", kernel, classOf[TextKernels.UnigramKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.pieceCount($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of tokens present in a fixed word set (plan-time literal). */
case class TokenInSetCountExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in_set"
  @transient private lazy val kernel = new TextKernels.TokenSetKernel(words)
  override protected def nullSafeEval(v: Any): Any =
    kernel.count(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("tokenSetKernel", kernel, classOf[TextKernels.TokenSetKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.count($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom-filter membership probe over an xxhash64 key. The filter
  * arrives as a serialized-bytes plan literal (BinaryType, the
  * `BloomFilter.writeTo` format — built by `Dataset.stat.bloomFilter`'s
  * distributed tree-aggregation) and is deserialized ONCE per executor
  * (`@transient lazy`), not per row or per task. Same role as Spark's
  * internal runtime-filter might_contain, but public-API only and
  * callable from the DataFrame layer.
  */
case class BloomContainsExpr(child: Expression, bytes: Array[Byte])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.checkArrayInputs(prettyName, children.map(_.dataType), Seq(LongType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"
  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
  def contains(h: Long): Boolean = bloom.mightContainLong(h)
  override protected def nullSafeEval(v: Any): Any = contains(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS expression (bytes ride its Java serialization; the
    // deserialized filter memoizes in the lazy val on each executor)
    val self = ctx.addReferenceObj("bloomExpr", this, classOf[BloomContainsExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.contains($v);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaro-Winkler similarity ([[TextKernels.jaroWinkler]]), semantics
  * pinned to the oracle engine's `jaro_winkler_similarity` (boost
  * threshold 0.7, prefix cap 4, empty → 0). One static call per row —
  * stays inside whole-stage codegen; the record-linkage blocking join
  * decides how many pairs ever reach it.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, string), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.jaroWinkler(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = graft.functions.TextKernels.jaroWinkler($a, $b);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration: the same builders serve `SparkSessionExtensions
  * .injectFunction` (cluster: `spark.sql.extensions=graft.plans
  * .GraftExtensions`) and runtime registration into an already-built
  * session ([[ensureRegistered]] — what the query catalog calls, since the
  * harness hands us its own sessions).
  */
object GraftFunctions {

  /** Nullability-insensitive array-input type check shared by all graft
    * expressions (stand-in for ExpectsInputTypes, whose AbstractDataType
    * is private[sql] in Spark 4).
    */
  private def norm(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(norm(et), containsNull = true)
    case other            => other
  }

  def checkArrayInputs(name: String, actual: Seq[DataType],
                       expected: Seq[DataType]): TypeCheckResult =
    if (actual.length == expected.length &&
        actual.zip(expected).forall { case (a, e) => norm(a) == norm(e) })
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$name expects (${expected.mkString(", ")}), got (${actual.mkString(", ")})")

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def binaryLit(e: Expression, what: String): Array[Byte] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Array[Byte], BinaryType) => v
    case other => throw new IllegalArgumentException(s"$what must be a binary literal, got $other")
  }

  private def stringLit(e: Expression, what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  /** Centroid-matrix literal format for the IVF kernels: rows `;`-joined,
    * elements `,`-joined. Float.toString round-trips exactly, so the
    * matrix survives the literal encoding bit-for-bit.
    */
  def encodeCents(cents: Array[Array[Float]]): String =
    cents.map(_.mkString(",")).mkString(";")

  private def decodeCents(s: String): Array[Array[Float]] = {
    require(s.nonEmpty, "IVF kernels need at least one centroid (empty corpus?)")
    s.split(';').map(_.split(',').map(_.toFloat))
  }

  /** PQ codebook-set literal: `|`-joined [[encodeCents]] blocks, one per
    * subspace — same bit-exact Float round-trip.
    */
  def encodeBooks(books: Array[Array[Array[Float]]]): String =
    books.map(encodeCents).mkString("|")

  private def decodeBooks(s: String): Array[Array[Array[Float]]] = {
    require(s.nonEmpty, "PQ kernels need at least one codebook")
    s.split('|').map(decodeCents)
  }

  /** Markers literal format for graft_lang_id: `lang:w1,w2|lang2:w3`. */
  // the separators are escaped percent-style so a marker containing
  // ':' ',' or '|' round-trips instead of being silently split into
  // wrong markers
  private def escMarker(s: String): String = s
    .replace("%", "%25").replace(":", "%3A").replace(",", "%2C").replace("|", "%7C")
  private def unescMarker(s: String): String = s
    .replace("%7C", "|").replace("%2C", ",").replace("%3A", ":").replace("%25", "%")

  /** Merge-table wire format for `graft_bpe_count`: records joined by
    * \u001e, (left, right) by \u001f — neither occurs in BPE symbols
    * (symbols are built from word code points; [[graft.operators.Quality]]
    * tokenization never emits control chars as part of a merge, and
    * [[decodeMerges]] refuses a table that would violate this).
    */
  def encodeMerges(merges: Seq[(String, String)]): String = {
    merges.foreach { case (l, r) =>
      require(l.nonEmpty && r.nonEmpty, "BPE merge symbols must be non-empty")
      require(!(l + r).exists(c => c == '\u001e' || c == '\u001f'),
        "BPE merge symbols must not contain \\u001e/\\u001f")
    }
    merges.map { case (l, r) => l + '\u001f' + r }.mkString("\u001e")
  }

  private def decodeMerges(s: String): Seq[(String, String)] =
    if (s.isEmpty) Seq.empty
    else s.split('\u001e').toSeq.map { rec =>
      rec.split('\u001f') match {
        case Array(l, r) => (l, r)
        case _ => throw new IllegalArgumentException(
          s"graft_bpe_count merges must be 'l\\u001fr' records, got '$rec'")
      }
    }

  /** Vocab-lnp wire format for `graft_vocab_lnp`: records joined by
    * U+001E, token and micro-value by U+001F; tokens are %-escaped (a
    * whitespace-split word CAN legally contain the control separators,
    * unlike BPE symbols) so any token round-trips.
    */
  def encodeVocabLnp(entries: Seq[(String, Long)]): String =
    entries.map { case (t, u) => escVocab(t) + '\u001f' + u }.mkString("\u001e")

  private def escVocab(s: String): String = s
    .replace("%", "%25").replace("\u001e", "%1E").replace("\u001f", "%1F")
  private def unescVocab(s: String): String = s
    .replace("%1F", "\u001f").replace("%1E", "\u001e").replace("%25", "%")

  /** (prev, tok, count) triples for the bigram kernel — same escaping
    * discipline as [[encodeVocabLnp]], three US-separated fields per
    * RS-separated record.
    */
  def encodeBigramCounts(entries: Seq[(String, String, Long)]): String =
    entries.map { case (p, t, c) =>
      escVocab(p) + '\u001f' + escVocab(t) + '\u001f' + c }.mkString("\u001e")

  /** (prev2, prev, tok, count) quadruples for the trigram kernel — the
    * [[encodeBigramCounts]] wire format with one more field.
    */
  def encodeTrigramCounts(entries: Seq[(String, String, String, Long)]): String =
    entries.map { case (a, p, t, c) =>
      escVocab(a) + '\u001f' + escVocab(p) + '\u001f' +
        escVocab(t) + '\u001f' + c }.mkString("\u001e")

  private def decodeTrigramCounts(s: String): Seq[(String, String, String, Long)] =
    if (s.isEmpty) Seq.empty
    else s.split('\u001e').toSeq.map { rec =>
      rec.split('\u001f') match {
        case Array(a, p, t, c) =>
          (unescVocab(a), unescVocab(p), unescVocab(t), c.toLong)
        case _ => throw new IllegalArgumentException(
          s"graft_trigram_lnp tris must be 'prev2<US>prev<US>tok<US>count' records, got '$rec'")
      }
    }

  private def decodeBigramCounts(s: String): Seq[(String, String, Long)] =
    if (s.isEmpty) Seq.empty
    else s.split('\u001e').toSeq.map { rec =>
      rec.split('\u001f') match {
        case Array(p, t, c) => (unescVocab(p), unescVocab(t), c.toLong)
        case _ => throw new IllegalArgumentException(
          s"graft_bigram_lnp pairs must be 'prev<US>tok<US>count' records, got '$rec'")
      }
    }

  private def decodeVocabLnp(s: String): Seq[(String, Long)] =
    if (s.isEmpty) Seq.empty
    else s.split('\u001e').toSeq.map { rec =>
      rec.split('\u001f') match {
        case Array(t, u) => (unescVocab(t), u.toLong)
        case _ => throw new IllegalArgumentException(
          s"graft_vocab_lnp entries must be 'tok<US>micro' records, got '$rec'")
      }
    }

  def encodeMarkers(markers: Map[String, Seq[String]]): String =
    markers.toSeq.sortBy(_._1)
      .map { case (l, ws) => s"${escMarker(l)}:${ws.map(escMarker).mkString(",")}" }
      .mkString("|")

  private def decodeMarkers(s: String): Seq[(String, Seq[String])] =
    s.split('|').toSeq.map { part =>
      part.split(":", 2) match {
        case Array(lang, words) =>
          unescMarker(lang) -> words.split(',').toSeq.map(unescMarker)
        case _ => throw new IllegalArgumentException(
          s"graft_lang_id markers must be 'lang:w1,w2|lang2:w3', got segment '$part'")
      }
    }

  /** (name, builder) for every graft SQL function. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_vec_cosine" -> (es => FloatVecCosine(es(0), es(1))),
    "graft_vec_l2sq" -> (es => FloatVecL2Sq(es(0), es(1))),
    "graft_rhp_bucket" -> (es =>
      RhpBucketExpr(es(0), intLit(es(1), "nPlanes"), intLit(es(2), "seed"))),
    "graft_simhash_md5" -> (es => SimHashMd5Expr(es(0))),
    "graft_ivf_nearest" -> (es =>
      IvfNearestExpr(es(0), decodeCents(stringLit(es(1), "centroids")))),
    "graft_ivf_probes" -> (es =>
      IvfProbesExpr(es(0), decodeCents(stringLit(es(1), "centroids")),
        intLit(es(2), "nProbe"))),
    "graft_pq_adc" -> (es =>
      PqAdcExpr(es(0), es(1), decodeBooks(stringLit(es(2), "codebooks")))),
    "graft_lang_id" -> (es =>
      LangIdExpr(es(0), decodeMarkers(stringLit(es(1), "markers")))),
    "graft_ngram_hashes" -> (es => {
      val n = intLit(es(1), "n")
      // plan-time guard: n <= 0 would allocate a negative-size scratch
      // array PER ROW deep in execution instead of failing here
      require(n >= 1, s"graft_ngram_hashes needs n >= 1, got $n")
      NgramHashesExpr(es(0), n)
    }),
    "graft_del_variants" -> (es => {
      val d = intLit(es(1), "d")
      require(d >= 0, s"graft_del_variants needs d >= 0, got $d")
      DelVariantsExpr(es(0), d)
    }),
    "graft_count_in_set" -> (es =>
      TokenInSetCountExpr(es(0), stringLit(es(1), "words").split(',').toSeq)),
    "graft_bloom_contains" -> (es =>
      BloomContainsExpr(es(0), binaryLit(es(1), "bloom bytes"))),
    "graft_char_entropy" -> (es => CharEntropyExpr(es(0))),
    "graft_nfc" -> (es => NfcExpr(es(0))),
    "graft_jaro_winkler" -> (es => JaroWinklerExpr(es(0), es(1))),
    "graft_token_profile" -> (es => TokenProfileExpr(es(0))),
    // optional 2nd arg: comma-joined multi-label suffix set (a full PSL
    // snapshot incl. private registries); absent = the built-in subset
    "graft_url_canon" -> (es =>
      if (es.length > 1)
        UrlCanonExpr(es(0), stringLit(es(1), "suffixes").split(',').toSeq)
      else UrlCanonExpr(es(0))),
    // model literal: 'lang:w0,w1,…|lang2:…' (5-dp-scaled long weights,
    // one per bucket; every language the same bucket count)
    "graft_lang_scores" -> (es => {
      val model = stringLit(es(1), "model").split('|').toSeq.map { part =>
        part.split(":", 2) match {
          case Array(lang, ws) => lang -> ws.split(',').map(_.toLong)
          case _ => throw new IllegalArgumentException(
            s"graft_lang_scores model must be 'lang:w0,w1|lang2:…', got segment '$part'")
        }
      }
      LangScoresExpr(es(0), model, intLit(es(2), "n"))
    }),
    "graft_html_main" -> (es => {
      val mw = intLit(es(1), "minWords")
      require(mw >= 0, s"graft_html_main needs minWords >= 0, got $mw")
      val mld = stringLit(es(2), "maxLinkDensity").toDouble
      require(mld > 0, s"graft_html_main needs maxLinkDensity > 0, got $mld")
      HtmlMainExpr(es(0), mw, mld)
    }),
    "graft_rep_profile" -> (es => {
      val n = intLit(es(1), "n")
      require(n >= 2, s"graft_rep_profile needs n >= 2, got $n")
      RepProfileExpr(es(0), n)
    }),
    // optional 3rd arg: 1 = HF-compat rescan-lowest-rank encode (foreign
    // merge tables); absent/0 = the fold default (training-order tables)
    "graft_bpe_count" -> (es =>
      BpeCountExpr(es(0), decodeMerges(stringLit(es(1), "merges")),
        rescan = es.length > 2 && intLit(es(2), "rescan") == 1)),
    "graft_bpe_pairs" -> (es =>
      BpePairsExpr(es(0), stringLit(es(1), "sep"))),
    "graft_gram_hashes_rolling" -> (es => {
      val k = intLit(es(1), "k")
      require(k >= 1, s"graft_gram_hashes_rolling needs k >= 1, got $k")
      RollingGramHashesExpr(es(0), k)
    }),
    "graft_span_cut" -> (es => {
      val k = intLit(es(2), "k")
      require(k >= 1, s"graft_span_cut needs k >= 1, got $k")
      SpanCutExpr(es(0), es(1), k)
    }),
    "graft_vocab_lnp" -> (es =>
      VocabLnpExpr(es(0), decodeVocabLnp(stringLit(es(1), "entries")),
        stringLit(es(2), "floorMicro").toLong)),
    // (piece, cost) pairs ride the vocab-lnp wire format — same
    // (String, Long) record shape, costs instead of micro log-probs
    "graft_unigram_count" -> (es =>
      UnigramCountExpr(es(0), decodeVocabLnp(stringLit(es(1), "pieces")))),
    "graft_bigram_lnp" -> (es =>
      BigramLnpExpr(es(0),
        decodeBigramCounts(stringLit(es(1), "pairs")),
        decodeVocabLnp(stringLit(es(2), "firsts")),
        decodeVocabLnp(stringLit(es(3), "unis")),
        stringLit(es(4), "total").toLong,
        stringLit(es(5), "alpha").toDouble)),
    "graft_zlib_lens" -> (es =>
      ZlibLensExpr(es(0), intLit(es(1), "level"))),
    "graft_trigram_lnp" -> (es =>
      TrigramLnpExpr(es(0),
        decodeTrigramCounts(stringLit(es(1), "tris")),
        decodeBigramCounts(stringLit(es(2), "pairs")),
        decodeVocabLnp(stringLit(es(3), "firsts")),
        decodeVocabLnp(stringLit(es(4), "unis")),
        stringLit(es(5), "total").toLong,
        stringLit(es(6), "alpha").toDouble)),
    "graft_trigram_kn" -> (es =>
      TrigramKnExpr(es(0),
        decodeTrigramCounts(stringLit(es(1), "tris")),
        decodeBigramCounts(stringLit(es(2), "pairs")),
        stringLit(es(3), "discount").toDouble,
        stringLit(es(4), "alpha").toDouble)),
    "graft_rp_project" -> (es => {
      val k = intLit(es(1), "k")
      require(k >= 1, s"graft_rp_project needs k >= 1, got $k")
      RpProjectExpr(es(0), k, intLit(es(2), "seed"))
    }),
    "graft_max_by" -> (es => HashExtremumBy(es(0), es(1), isMax = true)),
    "graft_min_by" -> (es => HashExtremumBy(es(0), es(1), isMax = false)),
    "graft_top_k_by" -> (es => HashTopKBy(es(0), es(1), es(2), intLit(es(3), "k")))
  )

  def registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    all.map { case (name, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder)
    }

  // weak keys: a long-lived driver creating per-tenant sessions must not
  // have them pinned forever by this registry memo
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Idempotently register the graft functions into a live session. */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!registered.contains(spark)) {
      val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry
      all.foreach { case (name, builder) =>
        reg.createOrReplaceTempFunction(name, builder, "built-in")
      }
      registered.add(spark)
    }
}
