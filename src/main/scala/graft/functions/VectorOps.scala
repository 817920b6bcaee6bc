package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Tight-loop kernels called from generated code — one static call per row.
  *
  * Why: composing these out of `element_at`/`zip_with`/`aggregate` builds
  * Catalyst trees of O(planes × dim) or O(64 × tokens) nodes. At 12 planes
  * × 64 dims × 4 tables that is a ~3000-node expression the optimizer
  * rewrites repeatedly and codegen splits into page-sized methods — plan
  * compile time alone dominated round-1's BENCH (q29 112 s, q31 83 s on
  * kilobyte-scale inputs). A custom Expression calling one JVM loop keeps
  * the tree O(1) and the per-row work branch-free.
  *
  * Semantics match the Column-combinator versions in [[Similarity]] /
  * [[graft.operators.NearDup]] bit-for-bit (specs assert equivalence).
  */
object VectorOps {

  // Every kernel bulk-copies its ArrayData inputs to primitive arrays
  // FIRST (one bounds-checked Platform.copyMemory for UnsafeArrayData),
  // then loops over float[]. Looping on the abstract ArrayData getters
  // instead is fast in a fresh JVM but collapses in a long-lived one:
  // once several ArrayData implementations (Unsafe/Generic/Columnar) have
  // flowed through the getFloat call site it goes megamorphic, the JIT
  // stops inlining, and the same kernel measured 30× slower late in a
  // 46-query benchmark run than in isolation. Primitive-array loops are
  // immune to profile pollution (and vectorize better).

  /** One-pass cosine similarity; 0.0 when either vector has zero norm. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toFloatArray()
    val ys = b.toFloatArray()
    val n = math.min(xs.length, ys.length)
    var i = 0
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    while (i < n) {
      val x = xs(i).toDouble
      val y = ys(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else d / den
  }

  /** Squared L2 distance over float arrays. */
  def l2sqF(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toFloatArray()
    val ys = b.toFloatArray()
    val n = math.min(xs.length, ys.length)
    var i = 0
    var s = 0.0
    while (i < n) {
      val dv = xs(i).toDouble - ys(i).toDouble
      s += dv * dv
      i += 1
    }
    s
  }

  /** Random-hyperplane LSH bucket: bit p = sign of the projection onto a
    * deterministic ±1 plane derived from (p, i, seed) — the mix the
    * specs' combinator reference replays.
    */
  def rhpBucket(v: ArrayData, nPlanes: Int, seed: Int): Long = {
    val xs = v.toFloatArray()
    val dim = xs.length
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var proj = 0.0
      var i = 0
      while (i < dim) {
        val s = ((p * 1103515245 + i * 12345 + seed) >>> 16) & 1
        proj += xs(i).toDouble * (if (s == 1) 1.0 else -1.0)
        i += 1
      }
      if (proj >= 0.0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  /** Johnson–Lindenstrauss random projection to `k` dims: out[p] =
    * (Σ_i v[i]·±1(p,i,seed)) / √k with the SAME deterministic ±1 planes
    * as [[rhpBucket]] (so an external engine replays it exactly — the
    * sign is bit 16 of the wrapping LCG, which only depends on the low
    * bits of the non-negative sum). The 1/√k scaling preserves expected
    * squared norms (the JL contract); each output element is one double
    * sum over the input dims rounded ONCE to float — engine-portable.
    */
  def rpProject(v: ArrayData, k: Int, seed: Int): ArrayData = {
    val xs = v.toFloatArray()
    val dim = xs.length
    val inv = math.sqrt(k.toDouble)
    val out = new Array[Float](k)
    var p = 0
    while (p < k) {
      var proj = 0.0
      var i = 0
      while (i < dim) {
        val s = ((p * 1103515245 + i * 12345 + seed) >>> 16) & 1
        proj += xs(i).toDouble * (if (s == 1) 1.0 else -1.0)
        i += 1
      }
      out(p) = (proj / inv).toFloat
      p += 1
    }
    new GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 64-bit SimHash over a token array using the first 8 bytes of each
    * token's MD5: any SQL engine with `md5()` reproduces the signature
    * bit-for-bit (the DuckDB oracle does). Bit layout: token-hash bit b =
    * bit (b mod 4) of hex digit (b div 4) of the md5 hex string (digit 0
    * = leftmost = high nibble of byte 0). Each non-NULL token votes ±1 per
    * bit; a signature bit is set when its votes are strictly positive.
    */
  def simhashMd5(toks: ArrayData): Long = {
    val md = md5Local.get()
    val n = toks.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        md.reset()
        val dg = md.digest(t.getBytes)
        // hash bits 8k..8k+3 = high nibble of byte k, 8k+4..8k+7 = low
        // nibble — i.e. bit 4p+j = bit j of hex digit p
        var h = 0L
        var k = 0
        while (k < 8) {
          val by = dg(k) & 0xff
          h |= ((by >>> 4) & 0xfL) << (8 * k)
          h |= (by & 0xfL) << (8 * k + 4)
          k += 1
        }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Squared L2 between a row vector and a centroid (same ltr double
    * accumulation as [[l2sqF]], so engine-external replicas agree).
    */
  private def l2sqCent(v: Array[Float], c: Array[Float]): Double = {
    val n = math.min(v.length, c.length)
    var i = 0
    var s = 0.0
    while (i < n) {
      val dv = v(i).toDouble - c(i).toDouble
      s += dv * dv
      i += 1
    }
    s
  }

  /** IVF assignment: id of the nearest centroid by (L2², cid) — strict
    * `<` keeps the LOWEST cid on exact ties, matching lexicographic
    * `least(struct(d, cid))`.
    */
  def ivfNearest(v: ArrayData, cents: Array[Array[Float]]): Int = {
    val xs = v.toFloatArray()
    var best = Double.MaxValue
    var bi = 0
    var cid = 0
    while (cid < cents.length) {
      val d = l2sqCent(xs, cents(cid))
      if (d < best) { best = d; bi = cid }
      cid += 1
    }
    bi
  }

  /** IVF probe list: the `nProbe` nearest centroid ids ascending by
    * (L2², cid) — the kernel form of sort-all-centroids-take-n.
    */
  def ivfProbes(v: ArrayData, cents: Array[Array[Float]], nProbe: Int): ArrayData = {
    val xs = v.toFloatArray()
    val k = cents.length
    val d = new Array[Double](k)
    var i = 0
    while (i < k) { d(i) = l2sqCent(xs, cents(i)); i += 1 }
    val take = math.min(nProbe, k)
    val out = new Array[Int](take)
    val used = new Array[Boolean](k)
    var m = 0
    while (m < take) { // selection over ≤16 centroids: O(k·nProbe), no alloc
      var bi = -1
      var cid = 0
      while (cid < k) {
        if (!used(cid) && (bi < 0 || d(cid) < d(bi))) bi = cid
        cid += 1
      }
      used(bi) = true
      out(m) = bi
      m += 1
    }
    new GenericArrayData(out)
  }

  /** PQ asymmetric distance (ADC): Σ over subspaces of the L2² between
    * the query's s-th slice and the candidate's CODED centroid, each part
    * quantized to 5 dp as `floor(d·1e5 + 0.5)` in exact long units (the
    * engine-portable rounding: pure IEEE multiply/add/floor, no decimal
    * string semantics) and the parts summed as longs — order-independent
    * and allocation-free. One tight primitive loop per pair; the
    * codebooks arrive as one reference object.
    */
  def pqAdc(q: ArrayData, codes: ArrayData,
            books: Array[Array[Array[Float]]]): Double = {
    val xs = q.toFloatArray()
    val m = books.length
    // fail with the actual contract violation, not an
    // ArrayIndexOutOfBoundsException from deep inside generated code
    if (codes.numElements() != m)
      throw new IllegalArgumentException(
        s"graft_pq_adc: code array has ${codes.numElements()} entries, codebooks expect $m")
    if (xs.length != m * books(0)(0).length)
      throw new IllegalArgumentException(
        s"graft_pq_adc: query vector has dim ${xs.length}, codebooks expect ${m * books(0)(0).length}")
    var acc = 0L
    var s = 0
    while (s < m) {
      // getInt on a null slot silently reads 0 — centroid 0 of every
      // codebook — so a null ELEMENT must fail loudly (a wholly-NULL
      // codes array never reaches here: the expression is null-safe)
      if (codes.isNullAt(s))
        throw new IllegalArgumentException(
          s"graft_pq_adc: code array has a NULL entry at subspace $s " +
            "(encode NULL embeddings to NULL codes, not null elements)")
      val cb = books(s)(codes.getInt(s))
      val dsub = cb.length
      val off = s * dsub
      var d = 0.0
      var i = 0
      while (i < dsub) {
        val dv = xs(off + i).toDouble - cb(i).toDouble
        d += dv * dv
        i += 1
      }
      acc += math.floor(d * 1e5 + 0.5).toLong
      s += 1
    }
    acc / 1e5
  }
}
