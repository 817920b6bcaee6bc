package graft

/** DuckDB oracle SQL for each SQL-expressible entry in [[Queries.all]].
  * Column names/types are kept in lockstep with the Spark side (the
  * driver's compare sorts columns by name and hashes values).
  *
  * The ANN/simhash family (q28-q31, q37) is oracled by REPLICATING graft's
  * deterministic kernels in DuckDB SQL (generated below): the RHP plane
  * signs are a pure integer formula whose bit 16 is unaffected by 32-bit
  * wrap, so plain BIGINT arithmetic reproduces the Scala Int math; the
  * simhash derives token-hash bits from md5 hex digits, as do the
  * uniform draws of every hashed sampler (q64, q77, q93, …); IVF/
  * SemDeDup centroids are a deterministic ordered sample refined by
  * exact-integer k-means (see [[autoCentroidCtes]]). Cosine/L2 run the same
  * left-to-right double loop in both engines, and every emitted float is
  * rounded to 4 dp, so the hash compare is stable.
  */
object Oracles {

  // ── generated-SQL helpers (ANN family) ─────────────────────────────────

  /** Cosine of two 64-dim float list columns in double math — matches
    * graft.functions.VectorOps.cosineF (0.0 when either norm is 0).
    */
  private def cosSql(a: String, b: String): String = cosSqlDims(a, b, 64)

  /** Cosine over `dims`-element float lists — the VectorOps double-loop
    * replay, parameterized for projected (q140) vectors.
    */
  private def cosSqlDims(a: String, b: String, dims: Int): String = {
    def dot(x: String, y: String) =
      s"list_sum([CAST($x[i] AS DOUBLE)*CAST($y[i] AS DOUBLE) for i in range(1, ${dims + 1})])"
    val den = s"(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    s"(CASE WHEN $den = 0 THEN 0.0 ELSE ${dot(a, b)} / $den END)"
  }

  /** [[graft.functions.VectorOps.rpProject]] replay: k projected floats,
    * each ONE fixed-order double sum over the 64 input dims against the
    * rhpBucketSql ±1 planes, divided by √k and rounded once to FLOAT.
    */
  private def rpProjectSql(v: String, k: Int, seed: Int): String =
    s"""[CAST(list_sum([CAST($v[i + 1] AS DOUBLE)
        * (CASE WHEN ((1103515245*p + 12345*i + $seed) // 65536) % 2 = 1
           THEN 1.0 ELSE -1.0 END) for i in range(0, 64)])
        / sqrt(CAST($k AS DOUBLE)) AS FLOAT) for p in range(0, $k)]"""

  /** Squared L2 distance — matches VectorOps.l2sqF. */
  private def l2sqSql(a: String, b: String): String =
    s"""list_sum([(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))*(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE)) for i in range(1, 65)])"""

  /** RHP bucket of a 64-dim float list: nPlanes sign bits of projections
    * onto deterministic ±1 planes — the VectorOps.rhpBucket formula. The
    * Scala side computes the plane sign in wrapping Int arithmetic; bit 16
    * only depends on bits ≤ 16 of the exact (non-negative) sum, so BIGINT
    * `// 65536 % 2` reproduces it. `seed` may be a SQL expression
    * referencing a column (e.g. `42 + 7919*tbl`).
    */
  private def rhpBucketSql(v: String, nPlanes: Int, seed: String): String =
    s"""list_sum([CASE WHEN list_sum([CAST($v[i+1] AS DOUBLE) * (CASE WHEN ((1103515245*p + 12345*i + ($seed)) // 65536) % 2 = 1 THEN 1.0 ELSE -1.0 END) for i in range(0, 64)]) >= 0 THEN CAST(2**p AS BIGINT) ELSE 0 END for p in range(0, $nPlanes)])"""

  /** Squared L2 over ONE PQ subspace: dims [1 + s·dsub, (s+1)·dsub] of a
    * 1-based list; `s` may reference a column.
    */
  private def l2sqSubSql(a: String, b: String, s: String, dsub: Int): String =
    s"""list_sum([(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))*(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE)) for i in range(1 + ($s)*$dsub, 1 + ($s)*$dsub + $dsub)])"""

  /** q95: replicates PQ end-to-end — codebooks are the 16-centroid stride pool (every 8th of the first 128 by vec_id)
    * sliced into 8 subspaces, codes are per-subspace argmin-L2 (cid
    * tie-break, the graft_ivf_nearest contract), ADC = long sum of
    * `floor(d·1e5 + 0.5)` 5-dp part units (pure IEEE multiply/add/floor —
    * byte-identical to the kernel, no decimal/round() string semantics),
    * top-5 by (adc, neighbor).
    */
  private def annPqOracle: String =
    s"""WITH pool AS (
         SELECT embedding AS centv, row_number() OVER (ORDER BY vec_id) - 1 AS i
         FROM embeddings ORDER BY vec_id LIMIT 128),
       cents AS (SELECT CAST(i // 8 AS INTEGER) AS cid, centv FROM pool WHERE i % 8 = 0),
       sub AS (SELECT unnest(range(0, 8)) AS s),
       c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       cd AS (
         SELECT neighbor_id, s, cid,
           row_number() OVER (PARTITION BY neighbor_id, s
             ORDER BY ${l2sqSubSql("cv", "centv", "s", 8)}, cid) AS rn
         FROM c CROSS JOIN cents CROSS JOIN sub),
       code AS (SELECT neighbor_id, s, cid FROM cd WHERE rn = 1),
       q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       parts AS (
         SELECT query_id, neighbor_id, code.s,
           CAST(floor(${l2sqSubSql("qv", "cents.centv", "code.s", 8)} * 100000.0 + 0.5) AS BIGINT) AS pu
         FROM q CROSS JOIN code JOIN cents ON cents.cid = code.cid
         WHERE query_id <> neighbor_id),
       scored AS (
         SELECT query_id, neighbor_id,
           CAST(sum(pu) AS DOUBLE) / 100000.0 AS adc
         FROM parts GROUP BY 1, 2),
       ranked AS (
         SELECT query_id, neighbor_id, adc,
           row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, adc, CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= 5"""

  /** q106: recall@5 of the q31 LSH replay against the q30 exact replay —
    * both CTE chains inlined (identical formulas to their own oracles),
    * left-joined on (query, neighbor) so a fully-missed query scores 0.
    */
  private def annRecallOracle: String = {
    val tbls = "(SELECT unnest(range(0, 4)) AS tbl) t"
    def top5(src: String): String =
      s"""SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM $src) WHERE rank <= 5"""
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       exact_scored AS (
         SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cos
         FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
       exact AS (${top5("exact_scored")}),
       qb AS (SELECT query_id, qv, tbl, ${rhpBucketSql("qv", 10, "42 + 7919*tbl")} AS bkt
              FROM q CROSS JOIN $tbls),
       cb AS (SELECT neighbor_id, cv, tbl, ${rhpBucketSql("cv", 10, "42 + 7919*tbl")} AS bkt
              FROM c CROSS JOIN $tbls),
       approx_scored AS (
         SELECT DISTINCT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cos
         FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bkt = qb.bkt AND query_id <> neighbor_id),
       approx AS (${top5("approx_scored")})
       SELECT e.query_id,
         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall
       FROM exact e LEFT JOIN approx a
         ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       GROUP BY e.query_id"""
  }

  private def topKSelect(k: Int): String =
    s"""ranked AS (
         SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM ranked WHERE rank <= $k"""

  /** The 7-gram Jaccard component CTE chain (q51's closure) — interpolated
    * into every oracle that needs components so the shingle/threshold/
    * closure SQL exists ONCE and cannot drift between queries.
    */
  private def componentCtes(src: String = "documents"): String =
    s"""toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM $src),
         sh AS (SELECT doc_id,
                  unnest(list_distinct([array_to_string(t[i:i+6], ' ')
                                        for i in range(1, greatest(len(t) - 6, 0) + 1)])) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         prs AS (
           SELECT id_a, id_b FROM common
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                   UNION ALL SELECT id_b, id_a FROM prs),
         reach AS (
           SELECT DISTINCT src AS id, src AS lbl FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst)"""

  /** q23's quality scalar over a `text` reference — the ONE copy of the
    * formula, shared by q23 and q70.
    */
  private def qualityScalarSql(text: String): String =
    s"""round(greatest(least(
             (least(CAST(length($text) AS DOUBLE) / 500.0, 1.0) * 0.5
              + least(round(CAST(len(list_filter(regexp_split_to_array(trim($text), '\\s+'),
                  x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                / greatest(len(regexp_split_to_array(trim($text), '\\s+')), 1), 4) * 4.0, 1.0) * 0.5)
             - round(CAST(length(regexp_replace($text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                / greatest(length($text), 1), 4) * 2.0,
             1.0), 0.0), 4)"""

  /** q28: the block-pair banding has guaranteed recall at hamming ≤
    * maxDist (pigeonhole) and an explicit hamming post-filter, so the
    * output contract is exactly the brute-force pair set — which is what
    * this oracle computes, over md5-derived signatures.
    */
  private def simhashOracle: String = {
    val digits = (0 until 16).map(p =>
      s"strpos('0123456789abcdef', substr(hx, ${p + 1}, 1)) - 1 AS d$p").mkString(", ")
    val votes = (0 until 64).map { b =>
      val p = b / 4; val j = b % 4
      s"sum(CASE WHEN (d$p // ${1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(", ")
    def half(base: Int): String = (0 until 32).map { k =>
      s"(CASE WHEN v${base + k} > 0 THEN CAST(${1L << k} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         FROM documents),
       h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
       d AS (SELECT doc_id, $digits FROM h),
       v AS (SELECT doc_id, $votes FROM d GROUP BY doc_id),
       s AS (SELECT doc_id, ${half(0)} AS lo, ${half(32)} AS hi FROM v),
       g AS (SELECT lo, hi, min(doc_id) AS rid, count(*) AS m
             FROM s GROUP BY lo, hi),
       intra AS (SELECT rid AS id_a, rid AS id_b, 0 AS hamming,
               m AS m_a, m AS m_b FROM g WHERE m >= 2),
       inter AS (SELECT a.rid AS id_a, b.rid AS id_b,
               CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming,
               a.m AS m_a, b.m AS m_b
             FROM g a JOIN g b ON a.rid < b.rid)
       SELECT id_a, id_b, hamming, m_a, m_b FROM intra
       UNION ALL
       SELECT id_a, id_b, hamming, m_a, m_b FROM inter WHERE hamming <= 8"""
  }

  /** q29: replicates the LSH pipeline — distinct vectors, 8 plane-tables,
    * same-bucket pairs, rounded cosine ≥ 0.4 — plus the exact-dup intra
    * pairs. Pair identity is value-based here where Spark keys on
    * xxhash64(vector); the sets agree absent a 64-bit collision.
    */
  private def embedNearDupOracle: String =
    s"""WITH m AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       sig AS (SELECT DISTINCT embedding AS v FROM embeddings),
       b AS (SELECT v, tbl, ${rhpBucketSql("v", 6, "42 + 7919*tbl")} AS bkt
             FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl) t),
       vp AS (SELECT DISTINCT v_a, v_b, cos FROM (
           SELECT a.v AS v_a, b2.v AS v_b, round(${cosSql("a.v", "b2.v")}, 4) AS cos
           FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bkt = b2.bkt AND a.v < b2.v) cp
         WHERE cos >= 0.4),
       inter AS (
         SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b, cos
         FROM vp JOIN m ma ON ma.v = vp.v_a JOIN m mb ON mb.v = vp.v_b),
       intra AS (
         SELECT id_a, id_b, cos FROM (
           SELECT m1.id AS id_a, m2.id AS id_b, round(${cosSql("m1.v", "m2.v")}, 4) AS cos
           FROM m m1 JOIN m m2 ON m1.v = m2.v AND m1.id < m2.id) ip
         WHERE cos >= 0.4)
       SELECT id_a, id_b, cos FROM intra UNION ALL SELECT id_a, id_b, cos FROM inter"""

  /** q30: exact brute-force top-5 per query (queries = vec_id % 50 = 0). */
  private def annTopKOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       scored AS (
         SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cos
         FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
       ${topKSelect(5)}"""

  /** q31: replicates the 4-table 10-plane LSH candidate generation, then
    * top-5 per query over the deduplicated candidates.
    */
  private def annLshOracle: String = {
    val tbls = "(SELECT unnest(range(0, 4)) AS tbl) t"
    s"""WITH q0 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       c0 AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       qb AS (SELECT query_id, qv, tbl, ${rhpBucketSql("qv", 10, "42 + 7919*tbl")} AS bkt
              FROM q0 CROSS JOIN $tbls),
       cb AS (SELECT neighbor_id, cv, tbl, ${rhpBucketSql("cv", 10, "42 + 7919*tbl")} AS bkt
              FROM c0 CROSS JOIN $tbls),
       scored AS (
         SELECT DISTINCT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cos
         FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bkt = qb.bkt AND query_id <> neighbor_id),
       ${topKSelect(5)}"""
  }

  /** CTE chain replaying [[graft.operators.Ann.autoCentroids]] bit-for-bit:
    * k = least(⌈√n⌉, 16384) from one count, stride init (every 8th of the
    * first k·8 vectors by vec_id), then `iters` exact k-means iterations.
    * Portability rests on three invariants shared with the Scala kernels:
    * (1) assignment L2 is a fixed-order double loop over float32 inputs;
    * (2) cluster sums are exact BIGINT sums of `floor(v·1e6 + 0.5)`
    * micro-units (order-independent); (3) the new element is
    * `CAST(sum AS DOUBLE)/n/1e6` rounded once to FLOAT — the identical
    * IEEE op sequence as `(s.toDouble / n / 1e6).toFloat`. Emits CTEs
    * `kk, pool, cents0, cvec`, per-iteration `asgN`/`sumsN`, and the
    * final centroid relation `cents&lt;iters&gt;(cid, centv)`.
    */
  private def autoCentroidCtes(iters: Int, trainWhere: String = ""): String = {
    // trainWhere restricts the TRAINING set (count, stride pool, k-means
    // assignment) — the 100 TB sample-training path; cvec (the relation
    // downstream consumers scan/assign/refine against) is always full
    val tw = if (trainWhere.isEmpty) "" else s" WHERE $trainWhere"
    val fixed = Seq(
      s"""kk AS (SELECT CAST(least(ceil(sqrt(CAST(count(*) AS DOUBLE))), 16384.0) AS BIGINT) AS k FROM embeddings$tw)""",
      s"""pool AS (SELECT embedding AS centv, row_number() OVER (ORDER BY vec_id) - 1 AS i FROM embeddings$tw)""",
      """cents0 AS (SELECT CAST(i // 8 AS INTEGER) AS cid, centv FROM pool, kk WHERE i < kk.k * 8 AND i % 8 = 0)""",
      """cvec AS (SELECT vec_id AS id, embedding AS v FROM embeddings)""",
      s"""tvec AS (SELECT vec_id AS id, embedding AS v FROM embeddings$tw)""")
    val iterCtes = (0 until iters).map { t =>
      s"""asg$t AS (
         SELECT id, v, cid FROM (
           SELECT id, v, cid,
             row_number() OVER (PARTITION BY id ORDER BY ${l2sqSql("v", "centv")}, cid) AS rn
           FROM tvec CROSS JOIN cents$t) WHERE rn = 1),
       sums$t AS (
         SELECT cid, r.i AS pos,
           sum(CAST(floor(CAST(v[r.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS s,
           count(*) AS n
         FROM asg$t CROSS JOIN range(0, 64) r(i) GROUP BY cid, r.i),
       cents${t + 1} AS (
         SELECT cid, list(me ORDER BY pos) AS centv FROM (
           SELECT pc.cid, r.i AS pos,
             COALESCE(CAST(CAST(s.s AS DOUBLE) / s.n / 1000000.0 AS FLOAT),
                      CAST(pc.centv[r.i + 1] AS FLOAT)) AS me
           FROM cents$t pc CROSS JOIN range(0, 64) r(i)
           LEFT JOIN sums$t s ON s.cid = pc.cid AND s.pos = r.i)
         GROUP BY cid)"""
    }
    (fixed ++ iterCtes).mkString(",\n       ")
  }

  /** q113: IVF-PQ — [[annIvfOracle]]'s coarse assignment/probing composed
    * with [[annPqOracle]]'s code/ADC replay, restricted to probed cells.
    * The PQ pool CTEs are renamed (ppool/pcents/pcid) to coexist with
    * autoCentroidCtes' pool/cents0.
    */
  private def annIvfPqOracle: String =
    s"""WITH ${autoCentroidCtes(2)},
       ppool AS (
         SELECT embedding AS centv, row_number() OVER (ORDER BY vec_id) - 1 AS i
         FROM embeddings ORDER BY vec_id LIMIT 128),
       pcents AS (SELECT CAST(i // 8 AS INTEGER) AS pcid, centv FROM ppool WHERE i % 8 = 0),
       sub AS (SELECT unnest(range(0, 8)) AS s),
       c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       cdist AS (
         SELECT neighbor_id, cv, cid,
           row_number() OVER (PARTITION BY neighbor_id ORDER BY ${l2sqSql("cv", "centv")}, cid) AS rn
         FROM c CROSS JOIN cents2),
       cass AS (SELECT neighbor_id, cid FROM cdist WHERE rn = 1),
       cd AS (
         SELECT neighbor_id, s, pcid,
           row_number() OVER (PARTITION BY neighbor_id, s
             ORDER BY ${l2sqSubSql("cv", "centv", "s", 8)}, pcid) AS rn
         FROM c CROSS JOIN pcents CROSS JOIN sub),
       code AS (SELECT neighbor_id, s, pcid FROM cd WHERE rn = 1),
       q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       qdist AS (
         SELECT query_id, qv, cid,
           row_number() OVER (PARTITION BY query_id ORDER BY ${l2sqSql("qv", "centv")}, cid) AS rn
         FROM q CROSS JOIN cents2),
       qprobe AS (SELECT query_id, qv, cid FROM qdist WHERE rn <= 4),
       cand AS (
         SELECT query_id, qv, neighbor_id
         FROM cass JOIN qprobe USING (cid)
         WHERE query_id <> neighbor_id),
       parts AS (
         SELECT query_id, neighbor_id, code.s,
           CAST(floor(${l2sqSubSql("qv", "pcents.centv", "code.s", 8)} * 100000.0 + 0.5) AS BIGINT) AS pu
         FROM cand JOIN code USING (neighbor_id) JOIN pcents ON pcents.pcid = code.pcid),
       scored AS (
         SELECT query_id, neighbor_id,
           CAST(sum(pu) AS DOUBLE) / 100000.0 AS adc
         FROM parts GROUP BY 1, 2),
       ranked AS (
         SELECT query_id, neighbor_id, adc,
           row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, adc, CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= 5"""

  /** q132: IVF-PQ + refine with residual-TRAINED codebooks — the full
    * production composition replayed bit-for-bit, with every TRAINING
    * input (coarse count/stride/k-means, PQ stride init, codebook
    * refinement residuals) restricted to the deterministic 40% sample
    * `vec_id % 5 < 2` — the 100 TB path (quantizer quality saturates
    * long before the corpus is exhausted; full-corpus training is the
    * declared yardstick, kept in ScaleOpsSpec's full-vs-sample recall
    * comparison). Assignment, codes, candidates, and refinement still
    * cover the FULL corpus. Portability notes on
    * the three new kernels: (1) residuals are FLOAT subtraction — DuckDB
    * REAL − REAL is single-precision IEEE exactly like Spark's
    * `zip_with` over float arrays (double rounding through DOUBLE is
    * innocuous for ± at p=53 ≥ 2·24+2, so the engines agree bit-for-bit
    * either way); (2) per-subspace k-means training replays
    * [[graft.operators.Ann.pqTrainCodebooksExact]]'s contract — argmin
    * by fixed-order double L2 with ties to the smaller cid, cluster sums
    * as exact BIGINT `floor(v·1e6 + 0.5)` micro-units, new element =
    * `(sum/n/1e6)::FLOAT`, empty clusters keep their previous centroid;
    * (3) residual ADC = per-subspace `floor(d·1e5 + 0.5)` long part
    * units summed then `/1e5` (the graft_pq_adc contract), over each
    * query's 4 probed cells at R=25 candidates; exact-cosine re-rank to
    * the final top 5 (the graft_top_k_by (cos desc, id asc) order).
    */
  private def annRefinedOracle: String = {
    def l2sq4(a: String, b: String): String =
      s"""list_sum([(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))*(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE)) for i in range(1, 5)])"""
    val trainIters = (0 until 2).map { t =>
      s"""tasg$t AS (
         SELECT id, s, sv, bcid FROM (
           SELECT r.id, r.s, r.sv, b.bcid,
             row_number() OVER (PARTITION BY r.id, r.s
               ORDER BY ${l2sq4("r.sv", "b.bv")}, b.bcid) AS rn
           FROM rsubt r JOIN books$t b ON b.s = r.s) WHERE rn = 1),
       tsums$t AS (
         SELECT s, bcid, j.i AS pos,
           sum(CAST(floor(CAST(sv[j.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS sm,
           count(*) AS n
         FROM tasg$t CROSS JOIN range(0, 4) j(i) GROUP BY s, bcid, j.i),
       books${t + 1} AS (
         SELECT s, bcid, list(me ORDER BY pos) AS bv FROM (
           SELECT pb.s, pb.bcid, j.i AS pos,
             COALESCE(CAST(CAST(ts.sm AS DOUBLE) / ts.n / 1000000.0 AS FLOAT),
                      CAST(pb.bv[j.i + 1] AS FLOAT)) AS me
           FROM books$t pb CROSS JOIN range(0, 4) j(i)
           LEFT JOIN tsums$t ts ON ts.s = pb.s AND ts.bcid = pb.bcid AND ts.pos = j.i)
         GROUP BY s, bcid)"""
    }.mkString(",\n       ")
    s"""WITH ${autoCentroidCtes(2, "vec_id % 5 < 2")},
       cdist AS (
         SELECT id, v, cid,
           row_number() OVER (PARTITION BY id ORDER BY ${l2sqSql("v", "centv")}, cid) AS rn
         FROM cvec CROSS JOIN cents2),
       cass AS (SELECT id, v, cid FROM cdist WHERE rn = 1),
       res AS (
         SELECT a.id, a.cid,
           [a.v[i + 1] - c2.centv[i + 1] for i in range(0, 64)] AS rv
         FROM cass a JOIN cents2 c2 ON c2.cid = a.cid),
       ppool AS (
         SELECT embedding AS centv, row_number() OVER (ORDER BY vec_id) - 1 AS i
         FROM embeddings WHERE vec_id % 5 < 2 ORDER BY vec_id LIMIT 128),
       pcents AS (SELECT CAST(i // 8 AS INTEGER) AS pcid, centv FROM ppool WHERE i % 8 = 0),
       sub AS (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS s),
       books0 AS (
         SELECT s, pcid AS bcid, centv[(s*4 + 1):(s*4 + 4)] AS bv
         FROM pcents CROSS JOIN sub),
       rsub AS (SELECT id, s, rv[(s*4 + 1):(s*4 + 4)] AS sv FROM res CROSS JOIN sub),
       rsubt AS (SELECT * FROM rsub WHERE id % 5 < 2),
       $trainIters,
       code0 AS (
         SELECT r.id, r.s, b.bcid,
           row_number() OVER (PARTITION BY r.id, r.s
             ORDER BY ${l2sq4("r.sv", "b.bv")}, b.bcid) AS rn
         FROM rsub r JOIN books2 b ON b.s = r.s),
       code AS (SELECT id AS neighbor_id, s, bcid FROM code0 WHERE rn = 1),
       q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       qdist AS (
         SELECT query_id, qv, cid,
           row_number() OVER (PARTITION BY query_id ORDER BY ${l2sqSql("qv", "centv")}, cid) AS rn
         FROM q CROSS JOIN cents2),
       qprobe AS (
         SELECT query_id, qd.cid,
           [qd.qv[i + 1] - c2.centv[i + 1] for i in range(0, 64)] AS qrv
         FROM qdist qd JOIN cents2 c2 ON c2.cid = qd.cid WHERE rn <= 4),
       cand AS (
         SELECT query_id, qprobe.cid AS cid, cass.id AS neighbor_id
         FROM cass JOIN qprobe ON cass.cid = qprobe.cid
         WHERE query_id <> cass.id),
       qsub AS (
         SELECT query_id, cid, s, qrv[(s*4 + 1):(s*4 + 4)] AS qsv
         FROM qprobe CROSS JOIN sub),
       parts AS (
         SELECT cand.query_id, cand.neighbor_id, code.s,
           CAST(floor(${l2sq4("qs.qsv", "b.bv")} * 100000.0 + 0.5) AS BIGINT) AS pu
         FROM cand
         JOIN code ON code.neighbor_id = cand.neighbor_id
         JOIN qsub qs ON qs.query_id = cand.query_id AND qs.cid = cand.cid AND qs.s = code.s
         JOIN books2 b ON b.s = code.s AND b.bcid = code.bcid),
       adcs AS (
         SELECT query_id, neighbor_id, CAST(sum(pu) AS DOUBLE) / 100000.0 AS adc
         FROM parts GROUP BY 1, 2),
       cand25 AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
           FROM adcs) WHERE rn <= 25),
       scored AS (
         SELECT c25.query_id, c25.neighbor_id, ${cosSql("q.qv", "cv.v")} AS cos
         FROM cand25 c25
         JOIN q ON q.query_id = c25.query_id
         JOIN cvec cv ON cv.id = c25.neighbor_id),
       ${topKSelect(5)}"""
  }

  /** q137: the BPE trainer replay — `k` unrolled merge iterations. Each
    * iteration: frequency-weighted adjacent-pair counts over the
    * separator-WRAPPED symbol dictionary (struct comprehension), the
    * top-1 pair by (n DESC, l, r), and one boundary-anchored
    * `replace(seq, sep+l+sep+sep+r+sep, sep+l+r+sep)` projection
    * (left-to-right non-overlapping in BOTH engines — the greedy BPE
    * within-word order). Every symbol is enclosed in the 0x1F separator
    * (`␟s1␟␟s2␟␟s3␟`), so the replace key anchors BOTH symbols at
    * boundaries and can never fuse across one — the symbol-list
    * semantics of reference BPE (a bare `l+sep+r` key would fuse word
    * "aba" under merges (a,b),(b,a) into ONE token).
    */
  private def bpeTrainOracle(k: Int): String = {
    val sep = "\u001f"
    val out = (1 to k).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_rank, l AS "left", r AS "right",
          n AS n_occurrences FROM b$i""").mkString("\n       UNION ALL\n       ")
    s"""WITH ${bpeTrainCtes(k, sep)}
       $out"""
  }

  /** Shared q137/q138/q168 training CTE body: word-frequency dictionary
    * plus the k unrolled (pair-count, top-1, boundary-anchored replace)
    * iteration triples. The dictionary keeps the word key `w` through
    * every replace so the final dict d_k doubles as the ENCODE table
    * (a training-corpus word's encoding IS its final dict segmentation).
    * Each d_i is read twice (by p_{i+1} through b_{i+1}, and by d_{i+1}'s
    * replace), so every d_i is MATERIALIZED: inlined, the chain
    * recomputes d_0 about 2^k times (q145, k = 12, on sf0.1 in DuckDB
    * 1.0.0: 910 s inlined, 0.5 s materialized, identical rows).
    */
  private def bpeTrainCtes(k: Int, sep: String): String = {
    val iters = (1 to k).map { i =>
      s"""p$i AS (
         SELECT p.l AS l, p.r AS r, CAST(sum(f) AS BIGINT) AS n FROM (
           SELECT f, unnest([struct_pack(l := cs[j + 1], r := cs[j + 2])
                             for j in range(0, greatest(len(cs) - 1, 0))]) AS p
           FROM (SELECT string_split(trim(seq, '$sep'), '$sep$sep') AS cs, f
                 FROM d${i - 1}) x) y
         GROUP BY 1, 2),
       b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
       d$i AS MATERIALIZED (
         SELECT w, replace(seq, '$sep' || b.l || '$sep$sep' || b.r || '$sep',
                           '$sep' || b.l || b.r || '$sep') AS seq, f
         FROM d${i - 1} CROSS JOIN b$i b)"""
    }.mkString(",\n       ")
    s"""w0 AS (
         SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       wf AS (SELECT w, count(*) AS f FROM w0 GROUP BY 1),
       d0 AS (SELECT w,
                '$sep' || array_to_string(regexp_extract_all(w, '(?s).'), '$sep$sep')
                  || '$sep' AS seq, f
              FROM wf),
       $iters"""
  }

  /** q138: q137's training chain, then ENCODE — a training-corpus word's
    * encoding IS its segmentation in the final dictionary d_k (the dict
    * evolution is exactly the sequential-by-rank merge application the
    * `graft_bpe_count` kernel performs), so the encode table is one
    * split-count over d_k keyed by word; docs re-join their words'
    * encoded sizes; blank/NULL docs keep NULL stats via the left join.
    */
  private def bpeEncodeOracle(k: Int): String = {
    val sep = "\u001f"
    s"""WITH ${bpeTrainCtes(k, sep)},
       dw AS (
         SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       wenc AS (
         SELECT w, CAST(len(string_split(trim(seq, '$sep'), '$sep$sep')) AS BIGINT) AS nb
         FROM d$k),
       agg AS (
         SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS ws,
           CAST(sum(nb) AS BIGINT) AS nb
         FROM dw JOIN wenc ON dw.w = wenc.w GROUP BY 1)
       SELECT d.doc_id, agg.ws AS n_tokens_ws, agg.nb AS n_bpe_tokens,
         round(CAST(agg.nb AS DOUBLE) / agg.ws, 5) AS bpe_per_word
       FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id"""
  }

  /** q168 — the q138 encode replay aggregated per language: same train
    * chain, same per-word piece counts, then exact integer sums and two
    * derived double ratios.
    */
  private def bpeFertilityOracle(k: Int): String = {
    val sep = "\u001f"
    s"""WITH ${bpeTrainCtes(k, sep)},
       dw AS (
         SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       wenc AS (
         SELECT w, CAST(len(string_split(trim(seq, '$sep'), '$sep$sep')) AS BIGINT) AS nb
         FROM d$k),
       agg AS (
         SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS ws,
           CAST(sum(nb) AS BIGINT) AS nb
         FROM dw JOIN wenc ON dw.w = wenc.w GROUP BY 1),
       fl AS (SELECT d.lang, d.n_chars, agg.ws, agg.nb
              FROM documents d JOIN agg ON d.doc_id = agg.doc_id)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ws) AS BIGINT) AS n_words,
         CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         CAST(sum(nb) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility,
         CAST(sum(n_chars) AS DOUBLE) / CAST(sum(nb) AS DOUBLE) AS chars_per_token
       FROM fl GROUP BY 1"""
  }

  // ── q160/q161: unigram-LM tokenizer replay ─────────────────────────
  // The trainer quantizes piece log-probs to integer 1e-5 micro-units
  // the moment they exist (cost = -floor(ln(cnt/tot)*1e5 + 0.5)), so
  // every Viterbi DP below is EXACT integer arithmetic with the tie
  // rule (cost ASC, piece-sequence ASC — DuckDB's native VARCHAR[]
  // ordering IS the operator's UTF-8 path-lex rule) and the whole
  // train+encode chain replays bit-for-bit. Words are truncated to
  // umW = 8 code points by the catalog synthesis on BOTH sides, which
  // bounds the DP unroll below; pieces cap at 4 code points.

  /** DP unroll depth = max word length the catalog synthesis allows. */
  private val umW = 8

  /** Seed dictionary + substring weights + seed vocab counts (all
    * singles + top-120 multis by (weight DESC, piece ASC)).
    */
  private def umBaseCtes: String =
    s"""umw0 AS MATERIALIZED (SELECT substr(unnest(regexp_split_to_array(lower(trim(text)), '\\s+')), 1, $umW) AS w
         FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       umwf AS MATERIALIZED (SELECT w, count(*) AS f FROM umw0 GROUP BY 1),
       umsubs AS MATERIALIZED (SELECT piece, CAST(sum(f) AS BIGINT) AS wt FROM (
           SELECT f, unnest(flatten([[substr(w, CAST(j + 1 AS INT), CAST(l AS INT))
               for j in range(0, greatest(len(w) - l + 1, 0))]
               for l in range(1, 5)])) AS piece
           FROM umwf) x GROUP BY 1),
       umv0c AS MATERIALIZED (
         SELECT piece, wt AS cnt FROM umsubs WHERE length(piece) = 1
         UNION ALL
         SELECT piece, cnt FROM (
           SELECT piece, wt AS cnt FROM umsubs WHERE length(piece) > 1
           QUALIFY row_number() OVER (ORDER BY wt DESC, piece) <= 120) m)"""

  /** Integer micro-unit costs from round-`r` counts. */
  private def umVocabCostCtes(r: Int): String =
    s"""umt$r AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM umv${r}c),
       umv$r AS MATERIALIZED (SELECT piece,
           -CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) * 100000.0 + 0.5) AS BIGINT) AS cost
         FROM umv${r}c CROSS JOIN umt$r)"""

  /** The (word, start, len, piece, cost) edge list for one DP round. */
  private def umEdgeCte(r: Int): String =
    s"""ume$r AS MATERIALIZED (
         SELECT s.w, CAST(s.p.jj AS BIGINT) AS j, CAST(s.p.ll AS BIGINT) AS l,
                s.p.piece AS piece, v.cost
         FROM (SELECT w, unnest(flatten([[struct_pack(jj := j, ll := l,
                  piece := substr(w, CAST(j + 1 AS INT), CAST(l AS INT)))
                  for j in range(0, greatest(len(w) - l + 1, 0))]
                  for l in range(1, 5)])) AS p
               FROM umwf) s
         JOIN umv$r v ON v.piece = s.p.piece)"""

  /** The unrolled integer Viterbi over round-`r` edges: one CTE per
    * position carrying (cost, path), per-word argmin by (cost, path) —
    * exactly the kernel's DP-composable tie rule — then the per-word
    * best segmentation at position len(w).
    */
  private def umDpCtes(r: Int): String = {
    val levels = (1 to umW).map { i =>
      val cands = (1 to math.min(4, i)).map { l =>
        s"""SELECT e.w, b.cost + e.cost AS cost, list_append(b.path, e.piece) AS path
            FROM ume$r e JOIN umb${r}_${i - l} b ON e.w = b.w
            WHERE e.j = ${i - l} AND e.l = $l"""
      }.mkString("\n          UNION ALL\n          ")
      s"""umb${r}_$i AS MATERIALIZED (
          SELECT w, cost, path FROM (
            $cands) c
          QUALIFY row_number() OVER (PARTITION BY w ORDER BY cost, path) = 1)"""
    }.mkString(",\n       ")
    val lens = (1 to umW).map(i =>
      s"SELECT CAST($i AS BIGINT) AS n, w, path FROM umb${r}_$i")
      .mkString("\n          UNION ALL ")
    s"""umb${r}_0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS cost, CAST([] AS VARCHAR[]) AS path FROM umwf),
       $levels,
       umseg$r AS MATERIALIZED (
         SELECT umwf.w, umwf.f, b.path FROM umwf
         JOIN ($lens) b ON b.w = umwf.w AND b.n = len(umwf.w))"""
  }

  /** Hard-EM round `r`: frequency-weighted piece usage from the previous
    * round's segmentations; singles floor at 1 (coverage), unused multis
    * drop (the prune).
    */
  private def umRoundCtes(r: Int): String =
    s"""umu$r AS MATERIALIZED (SELECT piece, CAST(sum(f) AS BIGINT) AS cnt
          FROM (SELECT f, unnest(path) AS piece FROM umseg${r - 1}) x GROUP BY 1),
       umv${r}c AS MATERIALIZED (
         SELECT p.piece,
           CASE WHEN length(p.piece) = 1 THEN greatest(coalesce(u.cnt, CAST(0 AS BIGINT)), CAST(1 AS BIGINT))
                ELSE u.cnt END AS cnt
         FROM (SELECT piece FROM umv${r - 1}c) p
         LEFT JOIN umu$r u ON u.piece = p.piece
         WHERE length(p.piece) = 1 OR u.cnt IS NOT NULL)"""

  /** Seed → EM round 1 → EM round 2: the shared q160/q161 chain. */
  private def umTrainChain: String =
    s"""${umBaseCtes},
       ${umVocabCostCtes(0)},
       ${umEdgeCte(0)},
       ${umDpCtes(0)},
       ${umRoundCtes(1)},
       ${umVocabCostCtes(1)},
       ${umEdgeCte(1)},
       ${umDpCtes(1)},
       ${umRoundCtes(2)}"""

  /** q160: final vocabulary (piece, cnt, cost) after two hard-EM rounds. */
  private def umTrainOracle: String =
    s"""WITH $umTrainChain,
       umt2 AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM umv2c)
       SELECT piece, cnt,
         -CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) * 100000.0 + 0.5) AS BIGINT) AS cost
       FROM umv2c CROSS JOIN umt2"""

  /** q161: the train chain, then ENCODE — one more DP under the final
    * costs gives every dict word's piece count; docs re-join their
    * words' counts (the q138 pattern); blank/NULL docs keep NULL stats.
    */
  private def umEncodeOracle: String =
    s"""WITH $umTrainChain,
       ${umVocabCostCtes(2)},
       ${umEdgeCte(2)},
       ${umDpCtes(2)},
       umdw AS MATERIALIZED (SELECT doc_id, substr(unnest(regexp_split_to_array(lower(trim(text)), '\\s+')), 1, $umW) AS w
                FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       umwenc AS MATERIALIZED (SELECT w, CAST(len(path) AS BIGINT) AS np FROM umseg2),
       umagg AS MATERIALIZED (SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS ws,
                   CAST(sum(np) AS BIGINT) AS np
                 FROM umdw dw JOIN umwenc ON dw.w = umwenc.w GROUP BY 1)
       SELECT d.doc_id, umagg.ws AS n_tokens_ws, umagg.np AS n_um_tokens,
         round(CAST(umagg.np AS DOUBLE) / umagg.ws, 5) AS um_per_word
       FROM documents d LEFT JOIN umagg ON d.doc_id = umagg.doc_id"""

  /** q143: the q52 token-budget cut driven by BPE counts — the q138
    * encode chain (train CTEs + final-dict segmentation sizes) feeds the
    * per-stratum cumulative window; blank/NULL docs count 0 tokens.
    */
  private def bpeBudgetOracle(k: Int, budget: Long): String = {
    val sep = "\u001f"
    s"""WITH ${bpeTrainCtes(k, sep)},
       dw AS (
         SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       wenc AS (
         SELECT w, CAST(len(string_split(trim(seq, '$sep'), '$sep$sep')) AS BIGINT) AS nb
         FROM d$k),
       agg AS (
         SELECT dw.doc_id, CAST(sum(nb) AS BIGINT) AS nb
         FROM dw JOIN wenc ON dw.w = wenc.w GROUP BY 1),
       dd AS (
         SELECT d.doc_id, d.lang, CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_tok
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
       c AS (SELECT doc_id, lang, n_tok,
         sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM dd)
       SELECT doc_id, lang, n_tok FROM c WHERE cum - n_tok < $budget"""
  }

  /** q144: the q61 concat-and-chunk sequence pack driven by BPE counts —
    * SURVEY row 138's point applied to PACKING: the q138 encode chain
    * (train CTEs + final-dict segmentation sizes) supplies each doc's
    * real tokenizer count, then each language's id-ordered token stream
    * is cut into `seqLen`-token training sequences; blank/NULL docs
    * count 0 tokens (they pack at their running offset, width 0).
    */
  private def bpePackOracle(k: Int, seqLen: Long): String = {
    val sep = "\u001f"
    s"""WITH ${bpeTrainCtes(k, sep)},
       dw AS (
         SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       wenc AS (
         SELECT w, CAST(len(string_split(trim(seq, '$sep'), '$sep$sep')) AS BIGINT) AS nb
         FROM d$k),
       agg AS (
         SELECT dw.doc_id, CAST(sum(nb) AS BIGINT) AS nb
         FROM dw JOIN wenc ON dw.w = wenc.w GROUP BY 1),
       dd AS (
         SELECT d.doc_id, d.lang, CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_tok
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
       s AS (SELECT doc_id, lang, n_tok,
         sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS strt FROM dd)
       SELECT doc_id, lang, n_tok,
         CAST(strt // $seqLen AS BIGINT) AS seq_id,
         CAST(strt % $seqLen AS BIGINT) AS seq_offset
       FROM s"""
  }

  /** q141: deep BPE ENCODE at `k` >= 1k merges. The merge table is
    * deterministic WITHOUT training — prefix chains of the `nChainWords`
    * lexicographically-smallest md5 corpus words (word w contributes
    * (w[0..i], w[i+1]) at rank (w, i) — a valid merge enumeration rich
    * in multi-char symbols) — so the replay needs no per-merge
    * aggregation and can apply the table by RECURSION instead of
    * unrolled CTEs. Faithful sequential-by-rank semantics with a
    * rank-JUMP: each step finds the next rank whose boundary-anchored
    * key occurs in the word (min rnk > k with contains) and applies
    * that one replace — skipped ranks are exactly the no-op merges, so
    * the fold is unchanged but the recursion depth is the number of
    * APPLICATIONS (~tens) rather than the table size. Verified
    * bit-equal to the python/Scala sequential fold at k=1024.
    */
  private def bpeEncodeDeepOracle(k: Int, nChainWords: Int): String = {
    val sep = "\u001f"
    s"""WITH RECURSIVE
       mw AS (SELECT w FROM (SELECT DISTINCT md5(CAST(doc_id AS VARCHAR)) AS w
              FROM documents) ORDER BY w LIMIT $nChainWords),
       merges AS (
         SELECT row_number() OVER (ORDER BY w, i) AS rnk,
                w[1:i] AS l, w[i+1:i+1] AS r
         FROM mw, range(1, 32) t(i)),
       mk AS (SELECT rnk, l, r,
                '$sep' || l || '$sep$sep' || r || '$sep' AS key,
                '$sep' || l || r || '$sep' AS rep
              FROM merges WHERE rnk <= $k),
       cw AS (SELECT DISTINCT md5(CAST(doc_id AS VARCHAR)) AS w FROM documents),
       enc AS (
         SELECT w, '$sep' || array_to_string(regexp_extract_all(w, '(?s).'),
                  '$sep$sep') || '$sep' AS seq, 0 AS kk
         FROM cw
         UNION ALL
         SELECT t.w, replace(t.seq, m.key, m.rep) AS seq,
                CAST(t.nxt AS INTEGER) AS kk
         FROM (SELECT e.w, e.seq,
                 (SELECT min(m2.rnk) FROM mk m2
                  WHERE m2.rnk > e.kk AND contains(e.seq, m2.key)) AS nxt
               FROM enc e) t
         JOIN mk m ON m.rnk = t.nxt),
       fin AS (
         SELECT w, CAST(len(string_split(trim(seq, '$sep'), '$sep$sep')) AS BIGINT) AS nb
         FROM (SELECT w, seq, row_number() OVER (PARTITION BY w ORDER BY kk DESC) AS rn
               FROM enc) WHERE rn = 1)
       SELECT d.doc_id, CAST(1 AS BIGINT) AS n_tokens_ws, f.nb AS n_bpe_tokens,
         round(CAST(f.nb AS DOUBLE), 5) AS bpe_per_word
       FROM documents d JOIN fin f ON f.w = md5(CAST(d.doc_id AS VARCHAR))"""
  }

  /** q142: deep BPE TRAIN replay over the md5-shaped corpus — the q137
    * unrolled (pair-count, top-1, anchored replace) triples at `k` deep,
    * with the dictionary CTEs MATERIALIZED (each d_i is referenced
    * twice; DuckDB would otherwise inline the chain into a 2^k-scan
    * plan) and the output accumulated through a linear m_i chain (a
    * k-way UNION ALL nests past the binder's depth limit; the chain
    * keeps every expression shallow — depth caps the unrolled form at
    * ~300 iterations, which is why the >= 1k-merge certification rides
    * q141's recursion plus the 1024-merge independent-reference spec).
    */
  private def bpeTrainDeepOracle(k: Int): String = {
    val sep = "\u001f"
    // d_i / b_i are each referenced twice; relying on the engine's
    // referenced-twice auto-materialization proved host-fragile (probed:
    // inlining re-evaluates ancestors per reference -- exponential work,
    // fd-exhaustion abort at k=128 on a 20k-ulimit host). Explicit
    // MATERIALIZED bounds the chain at O(k) evaluations.
    val iters = (1 to k).map { i =>
      s"""p$i AS (
         SELECT p.l AS l, p.r AS r, CAST(sum(f) AS BIGINT) AS n FROM (
           SELECT f, unnest([struct_pack(l := cs[j + 1], r := cs[j + 2])
                             for j in range(0, greatest(len(cs) - 1, 0))]) AS p
           FROM (SELECT string_split(trim(seq, '$sep'), '$sep$sep') AS cs, f
                 FROM d${i - 1}) x) y
         GROUP BY 1, 2),
       b$i AS MATERIALIZED (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
       d$i AS MATERIALIZED (
         SELECT replace(seq, '$sep' || b.l || '$sep$sep' || b.r || '$sep',
                        '$sep' || b.l || b.r || '$sep') AS seq, f
         FROM d${i - 1} CROSS JOIN b$i b),
       m$i AS (SELECT * FROM m${i - 1} UNION ALL
               SELECT CAST($i AS BIGINT) AS merge_rank, l AS "left",
                 r AS "right", n AS n_occurrences FROM b$i)"""
    }.mkString(",\n       ")
    s"""WITH w0 AS (
         SELECT md5(CAST(doc_id AS VARCHAR)) AS w FROM documents),
       wf AS (SELECT w, count(*) AS f FROM w0 GROUP BY 1),
       d0 AS MATERIALIZED (
         SELECT '$sep' || array_to_string(regexp_extract_all(w, '(?s).'),
           '$sep$sep') || '$sep' AS seq, f FROM wf),
       m0 AS (SELECT CAST(NULL AS BIGINT) AS merge_rank,
                CAST(NULL AS VARCHAR) AS "left", CAST(NULL AS VARCHAR) AS "right",
                CAST(NULL AS BIGINT) AS n_occurrences WHERE false),
       $iters
       SELECT merge_rank, "left", "right", n_occurrences FROM m$k"""
  }

  /** q134: corpus-level MinHash similarity replay — 32 per-seed global
    * md5 mins per side over the 3-gram shingle streams, the matching-min
    * count (NULL when a side has no shingles: min over empty = NULL, so
    * probing seed 0 decides — all mins go NULL together), and the exact
    * distinct-shingle overlap via one full-outer join on md5(s).
    */
  private def corpusSimilarityOracle: String = {
    val h = 32
    def shingleCte(name: String, src: String) =
      s"""t$name AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t
           FROM documents WHERE source = '$src'),
         s$name AS (SELECT unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                      for i in range(1, greatest(len(t) - 2, 0) + 1)])) AS s
                    FROM t$name)"""
    def minsCte(name: String) =
      s"""m$name AS (SELECT ${(0 until h).map(i =>
        s"min(md5('$i:' || s)) AS m${name}_$i").mkString(", ")} FROM s$name)"""
    val matches = (0 until h)
      .map(i => s"CASE WHEN ma_$i = mb_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${shingleCte("a", "src0")},
       ${shingleCte("b", "src1")},
       ${minsCte("a")},
       ${minsCte("b")},
       estrow AS (
         SELECT $h AS n_hashes,
           CASE WHEN ma_0 IS NULL OR mb_0 IS NULL THEN NULL
                ELSE $matches END AS n_matching
         FROM ma CROSS JOIN mb),
       ex AS (
         SELECT count(ha) AS n_shingles_a, count(hb) AS n_shingles_b,
           count(CASE WHEN ha IS NOT NULL AND hb IS NOT NULL THEN 1 END) AS n_common
         FROM (SELECT DISTINCT md5(s) AS ha FROM sa) xa
         FULL OUTER JOIN (SELECT DISTINCT md5(s) AS hb FROM sb) xb ON ha = hb)
       SELECT CAST(n_hashes AS INTEGER) AS n_hashes,
         CAST(n_matching AS BIGINT) AS n_matching,
         round(CAST(n_matching AS DOUBLE) / $h, 5) AS est_jaccard,
         n_shingles_a, n_shingles_b, n_common,
         CASE WHEN n_shingles_a + n_shingles_b - n_common > 0
           THEN round(CAST(n_common AS DOUBLE)
             / (n_shingles_a + n_shingles_b - n_common), 5) END AS exact_jaccard
       FROM estrow CROSS JOIN ex"""
  }

  /** q37: replicates the IVF plumbing over [[autoCentroidCtes]]'s learned
    * centroids (k = ⌈√n⌉, stride init, 2 exact k-means iterations) —
    * corpus assigned to argmin-L2 centroid, queries probe their 4 nearest
    * centroids, top-5 per query.
    */
  private def annIvfOracle: String =
    s"""WITH ${autoCentroidCtes(2)},
       c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       cdist AS (
         SELECT neighbor_id, cv, cid,
           row_number() OVER (PARTITION BY neighbor_id ORDER BY ${l2sqSql("cv", "centv")}, cid) AS rn
         FROM c CROSS JOIN cents2),
       cass AS (SELECT neighbor_id, cv, cid FROM cdist WHERE rn = 1),
       q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       qdist AS (
         SELECT query_id, qv, cid,
           row_number() OVER (PARTITION BY query_id ORDER BY ${l2sqSql("qv", "centv")}, cid) AS rn
         FROM q CROSS JOIN cents2),
       qprobe AS (SELECT query_id, qv, cid FROM qdist WHERE rn <= 4),
       scored AS (
         SELECT DISTINCT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cos
         FROM cass JOIN qprobe USING (cid) WHERE query_id <> neighbor_id),
       ${topKSelect(5)}"""

  /** q63: replicates the SemDeDup plumbing over [[autoCentroidCtes]]'s
    * learned centroids (k = ⌈√n⌉, 2 exact k-means iterations), argmin-L2
    * assignment with cid tie-break, greedy drop of any id with a
    * smaller-id cluster-mate at rounded cosine ≥ 0.4.
    */
  private def semanticDedupOracle: String =
    s"""WITH ${autoCentroidCtes(2)},
       cd AS (
         SELECT id, v, cid,
           row_number() OVER (PARTITION BY id ORDER BY ${l2sqSql("v", "centv")}, cid) AS rn
         FROM cvec CROSS JOIN cents2),
       ass AS (SELECT id, v, cid FROM cd WHERE rn = 1),
       drops AS (
         SELECT DISTINCT y.id FROM ass x JOIN ass y
         ON x.cid = y.cid AND x.id < y.id
         WHERE round(${cosSql("x.v", "y.v")}, 4) >= 0.4)
       SELECT a.id AS vec_id, a.cid FROM ass a
       LEFT JOIN drops d ON a.id = d.id WHERE d.id IS NULL"""

  /** q64: replays Sampling.uniform01 — first 8 hex digits of
    * md5(id || ':42') as an integer over 2^32 — and the cumulative-weight
    * CASE. 16**(7-i) is exact in double below 2^32, so both engines
    * compute the identical uniform.
    */
  private def splitAssignOracle: String =
    s"""WITH u AS (SELECT doc_id, lang,
           list_sum([(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                     * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv
         FROM documents)
       SELECT doc_id, lang,
         CASE WHEN uv < 0.8 THEN 'train'
              WHEN uv < ${0.8 + 0.1} THEN 'val'
              ELSE 'test' END AS split
       FROM u"""

  // ── URL web-curation family (q146-q148) ───────────────────────────────

  /** q162 — integer-unit PageRank replay: the same deterministic edge
    * synthesis as the Spark side (domain i = md5-derived sld + tld,
    * two hash-derived outlinks per doc, every 11th doc → a sink archive
    * domain with no outlinks), then five power iterations as an unrolled
    * CTE ladder in pure integer arithmetic (`//` = floor division, all
    * operands positive) — the q160 exact-integer oracle discipline
    * applied to a graph fixed point.
    */
  private val pageRankOracle: String = {
    val tlds = Queries.urlTlds.mkString("'", "','", "'")
    def iter(k: Int): String = {
      val prev = s"r${k - 1}"
      s"""d$k AS (SELECT coalesce(sum(r), 0) AS dm
             FROM $prev JOIN pnodes USING (id) WHERE outw = 0),
         r$k AS MATERIALIZED (SELECT pnodes.id,
               (SELECT (CAST(1000000000 AS BIGINT) * 15) // (100 * n) FROM nn)
             + (SELECT (dm * 85) // (100 * n) FROM d$k, nn)
             + coalesce(c.csum, 0) AS r
             FROM pnodes LEFT JOIN (
               SELECT pe.dst AS id,
                      sum((pr.r * 85 * pe.w) // (100 * po.outw)) AS csum
               FROM pe JOIN $prev pr ON pe.src = pr.id
                       JOIN pow po ON pe.src = po.id
               GROUP BY 1) c ON pnodes.id = c.id)"""
    }
    s"""WITH e0 AS (SELECT doc_id, doc_id % 23 AS si,
             (doc_id * 7 + 3) % 23 AS t1, (doc_id * 13 + 5) % 23 AS t2
           FROM documents),
       nmx AS (SELECT i AS idx,
             'site' || substr(md5('dom' || CAST(i AS VARCHAR)), 1, 6) || '.'
             || ([$tlds])[CAST(i % 8 AS INTEGER) + 1] AS nm
           FROM range(0, 23) t(i)),
       raw AS (SELECT si AS s, t1 AS t FROM e0
               UNION ALL SELECT si, t2 FROM e0
               UNION ALL SELECT si, -1 FROM e0 WHERE doc_id % 11 = 0),
       named AS (SELECT a.nm AS src,
               CASE WHEN raw.t = -1 THEN 'archive.example' ELSE b.nm END AS dst
             FROM raw JOIN nmx a ON a.idx = raw.s
                      LEFT JOIN nmx b ON b.idx = raw.t),
       pe AS (SELECT src, dst, count(*) AS w
              FROM named WHERE src <> dst GROUP BY 1, 2),
       pow AS (SELECT src AS id, sum(w) AS outw FROM pe GROUP BY 1),
       pnodes AS (SELECT n.id, coalesce(pow.outw, 0) AS outw
             FROM (SELECT src AS id FROM pe UNION SELECT dst FROM pe) n
             LEFT JOIN pow USING (id)),
       nn AS (SELECT count(*) AS n FROM pnodes),
       r0 AS MATERIALIZED (SELECT id, (SELECT CAST(1000000000 AS BIGINT) // n FROM nn) AS r FROM pnodes),
       ${(1 to 5).map(iter).mkString(",\n")},
       ind AS (SELECT dst AS id, count(*) AS n_in FROM pe GROUP BY 1)
       SELECT pnodes.id AS domain, CAST(r5.r AS BIGINT) AS pr_units,
         CAST(pnodes.outw AS BIGINT) AS out_weight,
         CAST(coalesce(ind.n_in, 0) AS BIGINT) AS n_in
       FROM pnodes JOIN r5 ON pnodes.id = r5.id
       LEFT JOIN ind ON pnodes.id = ind.id"""
  }

  /** q146-q148 shared synthesis CTEs — verbatim replay of
    * [[Queries.synthUrl]] (same md5-derived domains, same CASE order for
    * the %11/%13 port branches).
    */
  private val urlSynthCtes: String = {
    val tlds = Queries.urlTlds.mkString("'", "','", "'")
    val ntld = Queries.urlTlds.length
    s"""us0 AS (SELECT doc_id, source, n_chars, doc_id % 23 AS di,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
           FROM documents),
       us1 AS (SELECT *,
             'site' || substr(md5('dom' || CAST(di AS VARCHAR)), 1, 6) AS sld,
             ([$tlds])[CAST(di % $ntld AS INTEGER) + 1] AS tld
           FROM us0),
       us2 AS (SELECT *, (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN 'news.'
                      WHEN doc_id % 7 = 1 THEN 'CDN.' ELSE '' END)
             || sld || '.' || tld AS hostraw
           FROM us1),
       urls AS (SELECT doc_id, n_chars,
             (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END) || '://'
             || (CASE WHEN doc_id % 8 = 0 THEN upper(hostraw) ELSE hostraw END)
             || (CASE WHEN doc_id % 11 = 0
                      THEN (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END)
                      WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END)
             || (CASE WHEN doc_id % 9 = 0 THEN ''
                      ELSE '/' || source || '/' || h8 END)
             || (CASE WHEN doc_id % 10 = 7 THEN '/%7edoc'
                      WHEN doc_id % 10 = 3 THEN '/f%2fx%3A1' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&id='
                        || CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=x'
                      WHEN doc_id % 4 = 1 THEN '?id='
                        || CAST(doc_id % 50 AS VARCHAR) || '&gclid=CjK'
                      WHEN doc_id % 4 = 2 THEN '?utm_medium=em'
                      ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END) AS url
           FROM us2)"""
  }

  /** Independent SQL replay of [[graft.functions.TextKernels.urlParts]]
    * over the `urls` CTE — regex/list operations instead of the Scala
    * walker, so each canonicalization rule is certified by a second
    * implementation. Ends in `ucanon(doc_id, n_chars, url, host,
    * url_canon, domain)`. The synthesized URLs always carry a valid
    * scheme, so the walker's unparseable→NULL branch is certified in the
    * unit spec rather than here.
    */
  private val urlCanonCtes: String = {
    val tracking = graft.functions.TextKernels.trackingKeyList
      .mkString("'", "','", "'")
    // the default suffix set split BY LABEL DEPTH — the SQL replays
    // longest-match (depth 3 before depth 2) independently of the
    // kernel's SuffixMatcher
    val byDepth = graft.functions.TextKernels.defaultSuffixList
      .groupBy(_.count(_ == '.') + 1)
    require(byDepth.keySet == Set(2, 3),
      s"oracle replay covers depth-2/3 suffix entries, got depths ${byDepth.keySet}")
    val multi2 = byDepth(2).mkString("'", "','", "'")
    val multi3 = byDepth(3).mkString("'", "','", "'")
    // %XX decode: hex value of the two chars after '%' in token t
    val hexCode =
      """((strpos('0123456789abcdef', lower(substr(t, 2, 1))) - 1) * 16
         + (strpos('0123456789abcdef', lower(substr(t, 3, 1))) - 1))"""
    s"""uc0 AS (SELECT doc_id, n_chars, url,
             regexp_replace(trim(url, ' ' || chr(9)), '#.*', '') AS t
           FROM urls),
       uc1 AS (SELECT *, lower(split_part(t, '://', 1)) AS scheme,
             substr(t, strpos(t, '://') + 3) AS rest
           FROM uc0),
       uc2 AS (SELECT *, regexp_extract(rest, '^[^/?]*') AS hostport FROM uc1),
       uc3 AS (SELECT *, substr(rest, length(hostport) + 1) AS pathquery,
             regexp_extract(hostport, ':([0-9]+)$$', 1) AS port_d
           FROM uc2),
       uc4 AS (SELECT *,
             rtrim(lower(CASE WHEN port_d <> ''
                  THEN substr(hostport, 1, length(hostport) - length(port_d) - 1)
                  ELSE hostport END), '.') AS host1,
             CASE WHEN (scheme = 'http' AND port_d = '80')
                    OR (scheme = 'https' AND port_d = '443')
                  THEN '' ELSE port_d END AS port
           FROM uc3),
       uc5 AS (SELECT *, CASE WHEN starts_with(host1, 'www.') AND length(host1) > 4
                  THEN substr(host1, 5) ELSE host1 END AS host,
             strpos(pathquery, '?') AS qpos
           FROM uc4),
       uc6 AS (SELECT *,
             CASE WHEN qpos > 0 THEN substr(pathquery, 1, qpos - 1)
                  ELSE pathquery END AS path0,
             CASE WHEN qpos > 0 THEN substr(pathquery, qpos + 1) ELSE '' END AS q0,
             string_split(host, '.') AS labs
           FROM uc5),
       uc7 AS (SELECT *,
             CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
             array_to_string(list_filter(string_split(q0, '&'), x ->
               x <> ''
               AND NOT starts_with(lower(string_split(x, '=')[1]), 'utm_')
               AND lower(string_split(x, '=')[1]) NOT IN ($tracking)), '&') AS keptq,
             len(labs) AS nl
           FROM uc6),
       ucanon0 AS (SELECT doc_id, n_chars, url, host,
             scheme || '://' || host
               || (CASE WHEN port <> '' THEN ':' || port ELSE '' END)
               || path
               || (CASE WHEN keptq <> '' THEN '?' || keptq ELSE '' END) AS url_canon0,
             CASE WHEN regexp_matches(host, '^[0-9.]+$$') THEN host
                  WHEN nl >= 3 AND (labs[nl - 2] || '.' || labs[nl - 1] || '.' || labs[nl])
                      IN ($multi3)
                    THEN (CASE WHEN nl >= 4 THEN labs[nl - 3] || '.' ELSE '' END)
                      || labs[nl - 2] || '.' || labs[nl - 1] || '.' || labs[nl]
                  WHEN nl >= 2 AND (labs[nl - 1] || '.' || labs[nl]) IN ($multi2)
                    THEN (CASE WHEN nl >= 3 THEN labs[nl - 2] || '.' ELSE '' END)
                      || labs[nl - 1] || '.' || labs[nl]
                  WHEN nl >= 2 THEN labs[nl - 1] || '.' || labs[nl]
                  ELSE host END AS domain
           FROM uc7),
       ucanon AS (SELECT doc_id, n_chars, url, host,
             array_to_string([CASE
                 WHEN NOT regexp_matches(t, '^%[0-9A-Fa-f]{2}$$') THEN t
                 WHEN ($hexCode BETWEEN 48 AND 57) OR ($hexCode BETWEEN 65 AND 90)
                   OR ($hexCode BETWEEN 97 AND 122) OR $hexCode IN (45, 46, 95, 126)
                   THEN chr(CAST($hexCode AS INTEGER))
                 ELSE '%' || upper(substr(t, 2, 2)) END
               FOR t IN regexp_extract_all(url_canon0, '%[0-9A-Fa-f]{2}|[^%]+|%')],
               '') AS url_canon,
             domain
           FROM ucanon0)"""
  }

  /** q152: independent regex/list-SQL replay of
    * [[graft.functions.TextKernels.htmlMain]] over the verbatim
    * [[Queries.synthHtml]] page synthesis — block alternation built from
    * the SAME [[graft.functions.TextKernels.htmlBlockTags]] list the
    * kernel matches, per-block tag strip / trim / word count / anchor
    * link-chars, keep = words ≥ 5 AND link_density < 0.5.
    */
  /** The q152 CTE ladder (hs..hx) as a reusable fragment — ends in
    * `hx(doc_id, n_blocks, n_kept, total_chars, kept_chars, clean_text)`
    * — so the composed-chain oracle (q178) replays the SAME extraction.
    */
  private val htmlExtractCtes: String = {
    val blockAlt = graft.functions.TextKernels.htmlBlockTags
      .map(t => s"<$t(?: [^>]*)?>.*?</$t>").mkString("|")
    val ws = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"
    s"""hs AS (SELECT doc_id,
           '<h1>Doc ' || doc_id || ' overview</h1>'
           || '${Queries.htmlNav}'
           || '<p>' || trim(text) || '</p>'
           || CASE WHEN doc_id % 3 = 0 THEN '<p>Short note.</p>' ELSE '' END
           || CASE WHEN doc_id % 4 = 1 THEN '${Queries.htmlLinkBox}' ELSE '' END
           || CASE WHEN doc_id % 5 = 2
                THEN '${Queries.htmlRelatedPre}' || source || '${Queries.htmlRelatedPost}'
                ELSE '' END
           || '${Queries.htmlFooter}' AS html
         FROM documents),
       hb AS (SELECT doc_id, regexp_extract_all(html, '(?s)$blockAlt') AS blks
         FROM hs),
       ht AS (SELECT doc_id,
           [trim(regexp_replace(x, '<[^>]*>', '', 'g'), $ws) FOR x IN blks] AS texts,
           [coalesce(list_sum([length(regexp_replace(y, '<[^>]*>', '', 'g'))
               FOR y IN regexp_extract_all(x, '(?s)<a(?: [^>]*)?>(.*?)</a>', 1)]), 0)
             FOR x IN blks] AS lc
         FROM hb),
       hm AS (SELECT doc_id, texts, lc,
           [CASE WHEN t2 = '' THEN 0
                 ELSE len(regexp_split_to_array(t2, '\\s+')) END
             FOR t2 IN texts] AS words,
           [length(t2) FOR t2 IN texts] AS chars
         FROM ht),
       hk AS (SELECT doc_id, texts, chars,
           [words[i] >= 5 AND CAST(lc[i] AS DOUBLE) / greatest(chars[i], 1) < 0.5
             FOR i IN range(1, len(texts) + 1)] AS keep
         FROM hm),
       hx AS (SELECT doc_id,
           CAST(len(texts) AS BIGINT) AS n_blocks,
           CAST(len(list_filter(keep, k -> k)) AS BIGINT) AS n_kept,
           CAST(coalesce(list_sum(chars), 0) AS BIGINT) AS total_chars,
           CAST(coalesce(list_sum(
             [chars[i] FOR i IN range(1, len(texts) + 1) IF keep[i]]), 0)
             AS BIGINT) AS kept_chars,
           array_to_string(
             [texts[i] FOR i IN range(1, len(texts) + 1) IF keep[i]],
             chr(10)) AS clean_text
         FROM hk)"""
  }

  private val htmlExtractOracle: String =
    s"""WITH $htmlExtractCtes
       SELECT doc_id, n_blocks, n_kept, total_chars, kept_chars,
         CASE WHEN total_chars > 0
              THEN round(1 - CAST(kept_chars AS DOUBLE) / total_chars, 5)
              END AS boilerplate_ratio,
         clean_text
       FROM hx"""

  /** q153: independent replay of the trained langid — verbatim
    * [[Queries.synthMultilingual]] synthesis, the md5-bucket hash in
    * strpos SQL, the TRAINED scaled weight vectors interpolated as
    * literals (the q90 move: the model rides in the SQL too), built once
    * into a (lang, bucket, weight) table that the unnested gram buckets
    * join, per-language sums + argmax/margin. Certifies hash, weights,
    * argmax ties and the mean-log-prob arithmetic against a second
    * implementation.
    */
  private val langIdVecOracle: String = {
    val m = graft.operators.LangId.default
    val nLangs = m.langs.length
    val langsSql = m.langs.mkString("'", "','", "'")
    require(Queries.langIdVocab.map(_._1) == m.langs,
      "q153 vocab language order must match the model")
    val vocabSql = Queries.langIdVocab
      .map(_._2.mkString("['", "','", "']")).mkString("[", ",", "]")
    def md5int(arg: String) =
      s"CAST(list_sum([(strpos('0123456789abcdef', substr(md5($arg), k + 1, 1)) - 1) * 16**(7 - k) for k in range(0, 8)]) AS BIGINT)"
    val textExpr = (0 until 12).map { j =>
      s"vv[CAST(${md5int(s"CAST(doc_id AS VARCHAR) || ':$j'")} % 16 + 1 AS INT)]"
    }.mkString(" || ' ' || ")
    val weightRows = m.scaled.zipWithIndex.map { case (w, li) =>
      s"(${li + 1}, ${w.mkString("[", ",", "]")})"
    }.mkString(",\n           ")
    val sums = (1 to nLangs).map(li =>
      s"coalesce(sum(ag.s) FILTER (WHERE ag.li = $li), 0)"
    ).mkString("[", ",\n           ", "]")
    s"""WITH mv AS (SELECT doc_id,
           ($vocabSql)[CAST(doc_id % $nLangs AS INT) + 1] AS vv,
           ([$langsSql])[CAST(doc_id % $nLangs AS INT) + 1] AS lang_true
         FROM documents),
       mt AS (SELECT doc_id, lang_true, lower($textExpr) AS t FROM mv),
       gr AS (SELECT doc_id, lang_true,
           [substr(t, i, 3) FOR i IN range(1, length(t) - 1)] AS grams FROM mt),
       bk AS MATERIALIZED (SELECT doc_id, lang_true,
           [${md5int("g")} % ${m.nBuckets} FOR g IN grams] AS bks,
           CAST(len(grams) AS BIGINT) AS n_grams FROM gr),
       wt AS (SELECT li, CAST(r.bucket AS BIGINT) AS bucket, ws[r.bucket + 1] AS w
         FROM (VALUES $weightRows) AS mw(li, ws), range(0, ${m.nBuckets}) AS r(bucket)),
       ag AS (SELECT bu.doc_id, wt.li, sum(wt.w) AS s
         FROM (SELECT doc_id, unnest(bks) AS b FROM bk) bu
         JOIN wt ON wt.bucket = bu.b GROUP BY bu.doc_id, wt.li),
       sm AS (SELECT bk.doc_id, bk.lang_true, bk.n_grams, $sums AS sums
         FROM bk LEFT JOIN ag ON ag.doc_id = bk.doc_id
         GROUP BY bk.doc_id, bk.lang_true, bk.n_grams)
       SELECT doc_id, lang_true,
         CASE WHEN n_grams = 0 THEN 'und'
              ELSE ([$langsSql])[list_position(sums, list_max(sums))] END AS lang_pred,
         n_grams,
         CASE WHEN n_grams > 0
              THEN CAST(list_max(sums) AS DOUBLE) / 100000.0 / n_grams END AS score,
         CASE WHEN n_grams > 0
              THEN CAST(list_max(sums) - list_sort(sums, 'DESC')[2] AS DOUBLE)
                / 100000.0 / n_grams END AS margin
       FROM sm"""
  }

  /** q154: independent replay of duplicated-span removal — verbatim
    * [[Queries.synthDupSpanText]] synthesis, full k-gram expansion via
    * generate_series (no hash prefilter: the oracle takes the naive
    * O(k·corpus)-shuffle route the operator exists to avoid), the
    * ≥2-distinct-docs rule as GROUP BY gram HAVING min<>max, interval
    * cover as a correlated EXISTS per token position, span count via a
    * lag() run-start window, and the token cut as a NULL-skipping
    * string_agg. Certifies gram hashing+confirm, the interval fold and
    * the higher-order token filter against a second implementation.
    */
  private val dupSpanOracle: String = {
    val hdr = Queries.dupSpanHeader
    val Seq(p0, p1, p2) = Queries.dupSpanPromos
    val ftr = Queries.dupSpanFooter
    s"""WITH synth AS (SELECT doc_id,
           concat_ws(' ',
             CASE WHEN doc_id % 2 = 0 THEN '$hdr' END,
             CASE WHEN trim(text) <> '' THEN trim(text) END,
             CASE WHEN doc_id % 3 = 0 THEN '$p0'
                  WHEN doc_id % 3 = 1 THEN '$p1' ELSE '$p2' END,
             '$ftr') AS t
         FROM documents),
       base AS (SELECT doc_id, string_split(t, ' ') AS toks,
           len(string_split(t, ' ')) AS n FROM synth),
       gs AS (SELECT doc_id, toks,
           unnest(generate_series(1, n - 7)) AS s FROM base),
       grams AS (SELECT doc_id, s,
           array_to_string(toks[s:s + 7], ' ') AS gram FROM gs),
       dupg AS (SELECT gram FROM grams GROUP BY gram
         HAVING min(doc_id) <> max(doc_id)),
       hits AS (SELECT g.doc_id, g.s FROM grams g JOIN dupg USING (gram)),
       gp AS (SELECT doc_id, toks,
           unnest(generate_series(1, n)) AS p FROM base),
       pos AS (SELECT gp.doc_id, gp.p, gp.toks[gp.p] AS tok,
           EXISTS (SELECT 1 FROM hits h
             WHERE h.doc_id = gp.doc_id AND h.s <= gp.p AND gp.p < h.s + 8) AS cov
         FROM gp),
       runs AS (SELECT doc_id, p, tok, cov,
           lag(cov, 1, FALSE) OVER (PARTITION BY doc_id ORDER BY p) AS pcov
         FROM pos),
       agg AS (SELECT doc_id,
           CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS dup_tokens,
           CAST(sum(CASE WHEN cov AND NOT pcov THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_spans,
           coalesce(string_agg(CASE WHEN NOT cov THEN tok END, ' '
             ORDER BY p), '') AS clean_text
         FROM runs GROUP BY doc_id)
       SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens, a.dup_spans,
         a.dup_tokens,
         round(CAST(a.dup_tokens AS DOUBLE) / b.n, 5) AS dup_ratio,
         a.clean_text
       FROM base b JOIN agg a USING (doc_id)"""
  }

  /** q155: independent replay of unicode normalization — the injected
    * mess rebuilt from chr() codepoints, zero-width strip as stacked
    * replace(), control strip as the SAME regex class in DuckDB
    * regexp_replace, and NFC via DuckDB's own nfc_normalize (an
    * independent implementation of the Unicode composition standard —
    * the row only matches if java.text.Normalizer and DuckDB agree).
    */
  private val unicodeNormalizeOracle: String =
    s"""WITH synth AS (SELECT doc_id,
           concat(
             CASE WHEN doc_id % 2 = 0 THEN chr(8203) || chr(65279) ELSE '' END,
             CASE WHEN doc_id % 4 = 0 THEN 'cafe' || chr(769)
                  WHEN doc_id % 4 = 1 THEN 'scho' || chr(776) || 'n'
                  WHEN doc_id % 4 = 2 THEN 'sma' || chr(778) || 'land'
                  ELSE 'garcon' END,
             ' ',
             CASE WHEN doc_id % 3 = 1 THEN chr(7) || chr(27) ELSE '' END,
             trim(text),
             CASE WHEN doc_id % 2 = 0 THEN chr(8205) ELSE '' END) AS t
         FROM documents),
       zw AS (SELECT doc_id, t,
           replace(replace(replace(replace(replace(t,
             chr(8203), ''), chr(8204), ''), chr(8205), ''),
             chr(8288), ''), chr(65279), '') AS nozw
         FROM synth),
       ctl AS (SELECT doc_id, t, nozw,
           regexp_replace(nozw, '[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g')
             AS noctl
         FROM zw)
       SELECT doc_id,
         nfc_normalize(noctl) AS clean_text,
         CAST(length(t) - length(nozw) AS BIGINT) AS n_zero_width,
         CAST(length(nozw) - length(noctl) AS BIGINT) AS n_control,
         nfc_normalize(noctl) <> noctl AS nfc_changed
       FROM ctl"""

  /** q157: independent replay of the INCREMENTAL span gate — the same
    * synthesis and cover/cut SQL as q154, but the duplicated-gram set
    * (the standing index) is computed over EVEN doc_ids only and the
    * cover/cut applies to ODD doc_ids only: exactly the
    * dupGramIndex(history) + stripKnownSpans(increment) contract,
    * replayed in pure string SQL (the rolling-hash prefilter is
    * invisible to semantics — the string confirm makes it so).
    */
  private val knownSpanOracle: String = {
    val hdr = Queries.dupSpanHeader
    val Seq(p0, p1, p2) = Queries.dupSpanPromos
    val ftr = Queries.dupSpanFooter
    s"""WITH synth AS (SELECT doc_id,
           concat_ws(' ',
             CASE WHEN doc_id % 2 = 0 THEN '$hdr' END,
             CASE WHEN trim(text) <> '' THEN trim(text) END,
             CASE WHEN doc_id % 3 = 0 THEN '$p0'
                  WHEN doc_id % 3 = 1 THEN '$p1' ELSE '$p2' END,
             '$ftr') AS t
         FROM documents),
       base AS (SELECT doc_id, string_split(t, ' ') AS toks,
           len(string_split(t, ' ')) AS n FROM synth),
       gs AS (SELECT doc_id, toks,
           unnest(generate_series(1, n - 7)) AS s FROM base),
       grams AS (SELECT doc_id, s,
           array_to_string(toks[s:s + 7], ' ') AS gram FROM gs),
       idx AS (SELECT gram FROM grams WHERE doc_id % 2 = 0
         GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
       hits AS (SELECT g.doc_id, g.s FROM grams g JOIN idx USING (gram)
         WHERE g.doc_id % 2 = 1),
       odd AS (SELECT doc_id, toks, n FROM base WHERE doc_id % 2 = 1),
       gp AS (SELECT doc_id, toks,
           unnest(generate_series(1, n)) AS p FROM odd),
       pos AS (SELECT gp.doc_id, gp.p, gp.toks[gp.p] AS tok,
           EXISTS (SELECT 1 FROM hits h
             WHERE h.doc_id = gp.doc_id AND h.s <= gp.p AND gp.p < h.s + 8) AS cov
         FROM gp),
       runs AS (SELECT doc_id, p, tok, cov,
           lag(cov, 1, FALSE) OVER (PARTITION BY doc_id ORDER BY p) AS pcov
         FROM pos),
       agg AS (SELECT doc_id,
           CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS dup_tokens,
           CAST(sum(CASE WHEN cov AND NOT pcov THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_spans,
           coalesce(string_agg(CASE WHEN NOT cov THEN tok END, ' '
             ORDER BY p), '') AS clean_text
         FROM runs GROUP BY doc_id)
       SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens, a.dup_spans,
         a.dup_tokens,
         round(CAST(a.dup_tokens AS DOUBLE) / b.n, 5) AS dup_ratio,
         a.clean_text
       FROM odd b JOIN agg a USING (doc_id)"""
  }

  val all: Map[String, String] = Map(
    "q152_html_extract" -> htmlExtractOracle,
    "q153_lang_id_vec" -> langIdVecOracle,
    "q154_dup_span_strip" -> dupSpanOracle,
    "q155_unicode_normalize" -> unicodeNormalizeOracle,
    "q157_known_span_strip" -> knownSpanOracle,
    // q158: the collapse-first twin against q154's IDENTICAL replay —
    // a DuckDB-side certification that collapsed == per-instance
    "q158_dup_span_collapsed" -> dupSpanOracle,

    // q159: incremental CC against q51's closure VERBATIM — the Spark
    // side attaches the odd-id increment to standing even-id labels via
    // updateComponents; equality with the batch closure over the FULL
    // corpus is the certification (the q158 oracle-reuse pattern)
    "q159_incremental_components" ->
      s"""WITH RECURSIVE ${componentCtes()}
         SELECT id AS doc_id, min(lbl) AS comp FROM reach GROUP BY id""",

    // q160/q161: the unigram-LM tokenizer replay — exact-integer Viterbi
    // EM over the truncated-word dictionary (see the um* CTE builders)
    "q160_unigram_train" -> umTrainOracle,
    "q161_unigram_encode" -> umEncodeOracle,

    // q162: integer-unit PageRank replayed as a 5-iteration CTE ladder —
    // same edge synthesis, same floor divisions, exact hash compare
    "q162_domain_pagerank" -> pageRankOracle,

    // q170: record-linkage replay — same synthesis, same blocking, the
    // engine's own jaro_winkler_similarity (the kernel is pinned to it),
    // row_number argmax standing in for the bounded-heap agg
    "q170_record_linkage" ->
      """WITH l AS (SELECT p_partkey AS lid,
             lower(trim(p_name)) || ' ' || CAST(p_partkey % 500 AS VARCHAR) AS ln
           FROM part),
         r0 AS (SELECT p_partkey + 100000 AS rid,
             lower(trim(p_name)) || ' ' || CAST(p_partkey % 500 AS VARCHAR) AS nm,
             p_partkey AS pk
           FROM part),
         r1 AS (SELECT rid, nm,
             CAST(pk % (length(nm) - 2) + 2 AS INTEGER) AS k FROM r0),
         rr AS (SELECT rid, substr(nm, 1, k - 1) || substr(nm, k + 1) AS rn
                FROM r1),
         lb AS (SELECT lid, ln, string_split(ln, ' ')[-1] AS c,
             CAST(floor(length(ln) / 4.0) AS INTEGER) + d AS b
           FROM l, (VALUES (-1), (0), (1)) dd(d)),
         rb AS (SELECT rid, rn, string_split(rn, ' ')[-1] AS c,
             CAST(floor(length(rn) / 4.0) AS INTEGER) AS b FROM rr),
         sc AS (SELECT lid, rid,
             round(jaro_winkler_similarity(ln, rn), 4) AS sim
           FROM lb JOIN rb USING (c, b)),
         kept AS (SELECT * FROM sc WHERE sim >= 0.9),
         best AS (SELECT lid, rid, sim,
             row_number() OVER (PARTITION BY lid ORDER BY sim DESC, rid) AS rn2
           FROM kept)
         SELECT lid, rid, sim FROM best WHERE rn2 = 1""",

    // q171: replays the near-dup image synthesis FORMULAS (md5-patterned
    // 8x8 blocks, member twins) straight to hash BANDS — the pixel side
    // never leaves Spark, so a band match proves the real PNG decode +
    // exact-integer aHash; pairs are replayed as ALL group pairs at
    // Hamming <= 3 (the banded join's exact-recall contract: the confirm
    // threshold sits inside the pigeonhole bound, so banding changes
    // cost, never the answer), components by the q51 recursive pattern
    "q171_image_phash_dedup" ->
      """WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
         hx AS (SELECT id, id % 4 AS m,
             CASE WHEN id % 4 = 3 THEN md5((id // 4)::VARCHAR || ':alt')
                  ELSE md5((id // 4)::VARCHAR) END AS h
           FROM ids),
         bits AS (
           SELECT id, i,
             CASE WHEN i = 0 THEN 0 WHEN i = 63 THEN 1
                  WHEN m = 2 AND i IN (1, 17, 42) THEN
                    1 - (((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1) >> (3 - (i % 4))) & 1)
                  ELSE ((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1) >> (3 - (i % 4))) & 1
             END AS bit
           FROM hx, (SELECT unnest(range(64)) AS i)),
         h4 AS (
           SELECT id,
             bit_or(CASE WHEN bit = 1 AND i < 16 THEN (1::BIGINT << i) ELSE 0 END) AS b0,
             bit_or(CASE WHEN bit = 1 AND i >= 16 AND i < 32 THEN (1::BIGINT << (i - 16)) ELSE 0 END) AS b1,
             bit_or(CASE WHEN bit = 1 AND i >= 32 AND i < 48 THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS b2,
             bit_or(CASE WHEN bit = 1 AND i >= 48 THEN (1::BIGINT << (i - 48)) ELSE 0 END) AS b3
           FROM bits GROUP BY id),
         grp AS (SELECT b0, b1, b2, b3, min(id) AS rid FROM h4 GROUP BY 1, 2, 3, 4),
         prs AS (
           SELECT a.rid AS id_a, b.rid AS id_b
           FROM grp a JOIN grp b ON a.rid < b.rid
           WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
               + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
         edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                   UNION ALL SELECT id_b, id_a FROM prs),
         reach AS (
           SELECT DISTINCT src AS id, src AS lbl FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst),
         comps AS (SELECT id AS rid, min(lbl) AS comp FROM reach GROUP BY id)
         SELECT h.id AS media_id, h.b0, h.b1, h.b2, h.b3,
           coalesce(c.comp, g.rid) AS comp,
           h.id = coalesce(c.comp, g.rid) AS keep
         FROM h4 h
         JOIN grp g ON g.b0 = h.b0 AND g.b1 = h.b1 AND g.b2 = h.b2 AND g.b3 = h.b3
         LEFT JOIN comps c ON c.rid = g.rid""",

    // q176: the q171 replay for the VIDEO corpus — member bits are
    // md5('v:'...)-keyed with flips 3/29/47; the per-frame noise flips
    // and the unsampled inverted decoys cancel inside Spark's
    // strict-majority fold BY CONSTRUCTION, so the oracle replays the
    // member formula straight to hash bands: a match certifies the
    // multi-frame GIF decode, the frame-sampling discipline, the
    // per-frame aHash, and the majority fold together
    "q176_video_phash_dedup" ->
      """WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
         hx AS (SELECT id, id % 4 AS m,
             CASE WHEN id % 4 = 3 THEN md5('v:' || (id // 4)::VARCHAR || ':alt')
                  ELSE md5('v:' || (id // 4)::VARCHAR) END AS h
           FROM ids),
         bits AS (
           SELECT id, i,
             CASE WHEN i = 0 THEN 0 WHEN i = 63 THEN 1
                  WHEN m = 2 AND i IN (3, 29, 47) THEN
                    1 - (((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1) >> (3 - (i % 4))) & 1)
                  ELSE ((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1) >> (3 - (i % 4))) & 1
             END AS bit
           FROM hx, (SELECT unnest(range(64)) AS i)),
         h4 AS (
           SELECT id,
             bit_or(CASE WHEN bit = 1 AND i < 16 THEN (1::BIGINT << i) ELSE 0 END) AS b0,
             bit_or(CASE WHEN bit = 1 AND i >= 16 AND i < 32 THEN (1::BIGINT << (i - 16)) ELSE 0 END) AS b1,
             bit_or(CASE WHEN bit = 1 AND i >= 32 AND i < 48 THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS b2,
             bit_or(CASE WHEN bit = 1 AND i >= 48 THEN (1::BIGINT << (i - 48)) ELSE 0 END) AS b3
           FROM bits GROUP BY id),
         grp AS (SELECT b0, b1, b2, b3, min(id) AS rid FROM h4 GROUP BY 1, 2, 3, 4),
         prs AS (
           SELECT a.rid AS id_a, b.rid AS id_b
           FROM grp a JOIN grp b ON a.rid < b.rid
           WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
               + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
         edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                   UNION ALL SELECT id_b, id_a FROM prs),
         reach AS (
           SELECT DISTINCT src AS id, src AS lbl FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst),
         comps AS (SELECT id AS rid, min(lbl) AS comp FROM reach GROUP BY id)
         SELECT h.id AS media_id, h.b0, h.b1, h.b2, h.b3,
           coalesce(c.comp, g.rid) AS comp,
           h.id = coalesce(c.comp, g.rid) AS keep
         FROM h4 h
         JOIN grp g ON g.b0 = h.b0 AND g.b1 = h.b1 AND g.b2 = h.b2 AND g.b3 = h.b3
         LEFT JOIN comps c ON c.rid = g.rid""",

    // q175: the q171 replay for the audio corpus — same band/pair/CC
    // chain, audio-keyed md5 formulas ('a:' prefix, flips 2/23/55); the
    // waveform never leaves Spark, so a band match proves the real WAV
    // decode + exact-integer envelope fingerprint
    "q175_audio_fp_dedup" ->
      """WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
         hx AS (SELECT id, id % 4 AS m,
             CASE WHEN id % 4 = 3 THEN md5('a:' || (id // 4)::VARCHAR || ':alt')
                  ELSE md5('a:' || (id // 4)::VARCHAR) END AS h
           FROM ids),
         bits AS (
           SELECT id, i,
             CASE WHEN i = 0 THEN 0 WHEN i = 63 THEN 1
                  WHEN m = 2 AND i IN (2, 23, 55) THEN
                    1 - (((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1) >> (3 - (i % 4))) & 1)
                  ELSE ((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1) >> (3 - (i % 4))) & 1
             END AS bit
           FROM hx, (SELECT unnest(range(64)) AS i)),
         h4 AS (
           SELECT id,
             bit_or(CASE WHEN bit = 1 AND i < 16 THEN (1::BIGINT << i) ELSE 0 END) AS b0,
             bit_or(CASE WHEN bit = 1 AND i >= 16 AND i < 32 THEN (1::BIGINT << (i - 16)) ELSE 0 END) AS b1,
             bit_or(CASE WHEN bit = 1 AND i >= 32 AND i < 48 THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS b2,
             bit_or(CASE WHEN bit = 1 AND i >= 48 THEN (1::BIGINT << (i - 48)) ELSE 0 END) AS b3
           FROM bits GROUP BY id),
         grp AS (SELECT b0, b1, b2, b3, min(id) AS rid FROM h4 GROUP BY 1, 2, 3, 4),
         prs AS (
           SELECT a.rid AS id_a, b.rid AS id_b
           FROM grp a JOIN grp b ON a.rid < b.rid
           WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
               + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
         edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                   UNION ALL SELECT id_b, id_a FROM prs),
         reach AS (
           SELECT DISTINCT src AS id, src AS lbl FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst),
         comps AS (SELECT id AS rid, min(lbl) AS comp FROM reach GROUP BY id)
         SELECT h.id AS media_id, h.b0, h.b1, h.b2, h.b3,
           coalesce(c.comp, g.rid) AS comp,
           h.id = coalesce(c.comp, g.rid) AS keep
         FROM h4 h
         JOIN grp g ON g.b0 = h.b0 AND g.b1 = h.b1 AND g.b2 = h.b2 AND g.b3 = h.b3
         LEFT JOIN comps c ON c.rid = g.rid""",

    // q172: replays the PII synthesis formulas AND the five-stage scrub —
    // the Luhn validation is the digit-arithmetic lambda inside
    // list_filter, replace-folded in match order exactly like Spark's
    // aggregate over the candidate list
    "q172_pii_redaction" ->
      """WITH synth AS (
           SELECT doc_id, text,
             (doc_id * 7) % 256 || '.' || (doc_id * 13) % 256 || '.' ||
               (doc_id * 3) % 256 || '.' || doc_id % 256 AS ip,
             list_transform(range(1, 16), i -> (doc_id * i + i * i) % 10) AS d15
           FROM documents),
         card AS (
           SELECT doc_id, text, ip, d15,
             (10 - list_sum(list_transform(range(1, 16),
                i -> CASE WHEN i % 2 = 1
                  THEN CASE WHEN d15[i] * 2 > 9 THEN d15[i] * 2 - 9 ELSE d15[i] * 2 END
                  ELSE d15[i] END)) % 10) % 10 AS chk
           FROM synth),
         fmt AS (
           SELECT doc_id, text, ip,
             list_aggregate(list_transform(d15, x -> x::VARCHAR), 'string_agg', '') || chk::VARCHAR AS c16,
             list_aggregate(list_transform(d15, x -> x::VARCHAR), 'string_agg', '') || ((chk + 5) % 10)::VARCHAR AS b16
           FROM card),
         dirty AS (
           SELECT doc_id,
             text || ' contact: user' || doc_id || '@example.com ip ' || ip ||
             ' card ' || substr(c16,1,4) || ' ' || substr(c16,5,4) || ' ' || substr(c16,9,4) || ' ' || substr(c16,13,4) ||
             ' ref ' || substr(b16,1,4) || ' ' || substr(b16,5,4) || ' ' || substr(b16,9,4) || ' ' || substr(b16,13,4) ||
             ' tel: +263 771 23 45 67' AS raw
           FROM fmt),
         step1 AS (SELECT doc_id,
             regexp_replace(
               trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
           FROM dirty),
         step2 AS (SELECT doc_id,
             list_reduce(
               list_prepend(t,
                 list_filter(regexp_extract_all(t, '\b(?:[0-9][ -]?){12,18}[0-9]\b'),
                   c -> length(regexp_replace(c, '[^0-9]', '', 'g')) BETWEEN 13 AND 19
                    AND list_sum(list_transform(range(1, length(regexp_replace(c, '[^0-9]', '', 'g')) + 1),
                      i -> CASE WHEN (length(regexp_replace(c, '[^0-9]', '', 'g')) - i) % 2 = 1
                        THEN CASE WHEN substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)::INT * 2 > 9
                             THEN substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)::INT * 2 - 9
                             ELSE substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)::INT * 2 END
                        ELSE substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)::INT END)) % 10 = 0)),
               (acc, c) -> replace(acc, c, '<CARD>')) AS t
           FROM step1),
         step3 AS (SELECT doc_id,
             regexp_replace(t, '\b((25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b', '<IP>', 'g') AS t
           FROM step2)
         SELECT doc_id,
           regexp_replace(t, '[+(]?[0-9][0-9()\- ]{5,}[0-9]', '<PHONE>', 'g') AS clean
         FROM step3""",

    // q169: reliability bins — q23's quality scalar (the shared formula
    // builder), identical IEEE floor binning, exact decimal score sums
    "q169_calibration_bins" -> {
      s"""WITH t AS (SELECT ${qualityScalarSql("text")} AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
           FROM documents),
         b AS (SELECT least(CAST(floor(score * 10) AS INTEGER), 9) AS bin,
                 score, pos
               FROM t WHERE score IS NOT NULL),
         a AS (SELECT bin, count(*) AS n, sum(pos) AS n_pos,
                 sum(CAST(score AS DECIMAL(18,4))) AS ssum
               FROM b GROUP BY 1)
         SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_pos AS DOUBLE) / n AS pos_rate,
           CAST(CAST(ssum AS VARCHAR) AS DOUBLE) / n AS mean_score,
           CAST(CAST(ssum AS VARCHAR) AS DOUBLE) / n
             - CAST(n_pos AS DOUBLE) / n AS calibration_gap
         FROM a"""
    },

    // q167: sentence chunking replay — same sentinel split (RE2 has no
    // lookbehind, so both sides mark '([.!?])\s+' boundaries and split
    // on the mark), same greedy budget rule via a recursive CTE that
    // advances every doc one sentence per step
    "q167_sentence_chunk" ->
      """WITH RECURSIVE d0 AS (SELECT doc_id, trim(text) AS tx
           FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
         sp AS (SELECT doc_id,
             string_split(regexp_replace(tx, '([.!?])\s+', '\1' || chr(1), 'g'),
               chr(1)) AS ls
           FROM d0),
         raw AS (SELECT doc_id, unnest(ls) AS s,
                   generate_subscripts(ls, 1) AS i0 FROM sp),
         sents AS (SELECT doc_id, s,
             len(regexp_split_to_array(s, '\s+')) AS c,
             row_number() OVER (PARTITION BY doc_id ORDER BY i0) AS i
           FROM raw WHERE length(s) > 0),
         rec AS (
           SELECT doc_id, i, c, 0 AS cid, c AS cum FROM sents WHERE i = 1
           UNION ALL
           SELECT s.doc_id, s.i, s.c,
             CASE WHEN r.cum + s.c > 24 THEN r.cid + 1 ELSE r.cid END,
             CASE WHEN r.cum + s.c > 24 THEN s.c ELSE r.cum + s.c END
           FROM rec r JOIN sents s ON s.doc_id = r.doc_id AND s.i = r.i + 1)
         SELECT r.doc_id, CAST(r.cid AS INTEGER) AS chunk_idx,
           CAST(count(*) AS INTEGER) AS n_sentences,
           CAST(sum(r.c) AS INTEGER) AS n_tok,
           string_agg(s.s, ' ' ORDER BY r.i) AS chunk_text
         FROM rec r JOIN sents s ON s.doc_id = r.doc_id AND s.i = r.i
         GROUP BY 1, 2""",

    // q166: padding-waste census — q22's whitespace tokenization, then
    // pure integer ceil-division arithmetic per (lang, seq_len)
    "q166_padding_waste" ->
      """WITH t AS (SELECT lang,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS BIGINT) AS n_tok
           FROM documents),
         sel AS (SELECT lang, n_tok, L
           FROM t, (VALUES (32), (64), (128)) ls(L)
           WHERE n_tok IS NOT NULL AND n_tok > 0),
         a AS (SELECT lang, L, count(*) AS n_docs, sum(n_tok) AS total_tokens,
                 sum((n_tok + L - 1) // L) AS n_seqs
               FROM sel GROUP BY 1, 2)
         SELECT lang AS stratum, CAST(L AS BIGINT) AS seq_len,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(n_seqs AS BIGINT) AS n_seqs_naive,
           CAST(n_seqs * L - total_tokens AS BIGINT) AS waste_naive,
           CAST((total_tokens + L - 1) // L AS BIGINT) AS n_seqs_packed,
           CAST(((total_tokens + L - 1) // L) * L - total_tokens AS BIGINT)
             AS waste_packed,
           CAST(n_seqs * L - total_tokens AS DOUBLE)
             / CAST(n_seqs * L AS DOUBLE) AS naive_waste_pct
         FROM a""",

    // q165: per-dimension embedding QA — the same floor(v*1e6+0.5)
    // micro-unit quantization (pure IEEE, identical on both engines),
    // integer sums, derived mean/std from the exact sums. range(0,64)
    // replays posexplode for the synthetic corpus's fixed 64 dims
    "q165_embedding_stats" ->
      """WITH x AS (SELECT i AS dim,
             CAST(floor(CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT) AS q
           FROM embeddings e, range(0, 64) t(i)
           WHERE embedding IS NOT NULL),
         a AS (SELECT dim, count(*) AS n,
                 sum(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS n_dead,
                 min(q) AS min_q, max(q) AS max_q,
                 sum(q) AS sum_q, sum(q * q) AS ssq
               FROM x GROUP BY 1)
         SELECT CAST(dim AS INTEGER) AS dim, CAST(n AS BIGINT) AS n,
           CAST(n_dead AS BIGINT) AS n_dead, CAST(min_q AS BIGINT) AS min_q,
           CAST(max_q AS BIGINT) AS max_q, CAST(sum_q AS BIGINT) AS sum_q,
           CAST(CAST(ssq AS VARCHAR) AS DOUBLE) AS sum_sq,
           CAST(sum_q AS DOUBLE) / n / 1000000.0 AS mean,
           sqrt(greatest((CAST(CAST(ssq AS VARCHAR) AS DOUBLE)
               - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / n) / n,
             0.0)) / 1000000.0 AS std,
           (min_q = max_q) AS is_constant, (n_dead = n) AS is_dead
         FROM a""",

    // q164: the disclosure census — plain GROUP BY replay; floor() on
    // the double band is IEEE-identical on both engines
    "q164_k_anonymity" ->
      """WITH qi AS (SELECT CAST(c_nationkey AS INTEGER) AS nation,
             c_mktsegment AS segment,
             CAST(floor(c_acctbal / 2000) * 2000 AS BIGINT) AS acctbal_band,
             CAST(c_custkey * 31 % 5 AS INTEGER) AS diag
           FROM customer)
         SELECT nation, segment, acctbal_band,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT diag) AS BIGINT) AS sensitive_diversity,
           count(*) >= 5 AS k_anonymous,
           count(DISTINCT diag) >= 2 AS l_diverse
         FROM qi GROUP BY 1, 2, 3""",

    // q163: DSIR replay — same md5 bucket hash (the q114 strpos-list_sum
    // integer form), same add-one smoothing, same 1e-5 micro-unit
    // quantization of the log ratios and the Gumbel term, so every
    // output column is integer-exact
    "q163_dsir_resample" ->
      """WITH dt AS (SELECT doc_id, lang,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         db AS (SELECT doc_id, lang, (lang = 'en') AS tgt,
             CAST(list_sum([(strpos('0123456789abcdef',
                               substr(md5(tok), i + 1, 1)) - 1)
                            * 16**(7 - i) for i in range(0, 8)]) AS BIGINT)
               % 64 AS b
           FROM dt),
         st AS (SELECT b, count(*) AS cr,
                  sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
                FROM db GROUP BY 1),
         tt AS (SELECT sum(cr) AS totr, sum(ct) AS tott FROM st),
         lr AS (SELECT b,
                  CAST(round((ln((ct + 1.0) / (tott + 64.0))
                            - ln((cr + 1.0) / (totr + 64.0))) * 100000)
                       AS BIGINT) AS lrm
                FROM st CROSS JOIN tt),
         dw AS (SELECT db.doc_id, db.lang, count(*) AS n_tok,
                  sum(lr.lrm) AS lw
                FROM db JOIN lr USING (b) GROUP BY 1, 2),
         ky AS (SELECT doc_id, lang, n_tok, lw,
                  lw + CAST(round(-ln(-ln(
                        (list_sum([(strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR) || ':42'),
                              i + 1, 1)) - 1) * 16**(7 - i)
                          for i in range(0, 8)]) + 0.5) / 4294967296.0))
                      * 100000) AS BIGINT) AS key
                FROM dw),
         rk AS (SELECT *, row_number()
                  OVER (ORDER BY key DESC, doc_id ASC) AS rnk FROM ky)
         SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(lw AS BIGINT) AS lw_micros,
           CAST(key AS BIGINT) AS key_micros, CAST(rnk AS INTEGER) AS rank
         FROM rk WHERE rnk <= 30""",

    // q156: the naive exact GROUP BY the bounded-state operator provably
    // equals (count desc, key asc, top 8) over the same skew synthesis
    "q156_heavy_hitters" ->
      s"""WITH keys AS (SELECT
             CASE WHEN event_id % 5 < 4
                  THEN 'hot_' || CAST(event_id % 8 AS VARCHAR)
                  ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
           FROM events)
         SELECT key, CAST(count(*) AS BIGINT) AS cnt
         FROM keys GROUP BY key
         ORDER BY cnt DESC, key ASC LIMIT 8""",

    "q146_url_canonicalize" ->
      s"""WITH $urlSynthCtes, $urlCanonCtes
         SELECT doc_id, url, url_canon, host, domain FROM ucanon""",

    // q178: the composed curation chain — every stage's EXISTING replay
    // chained in one query: url synth+canon (q146 CTEs) for the domain
    // gate, the q152 html ladder for clean_text (the q155 unicode stage
    // is identity BY CONSTRUCTION: the injected zero-width/BOM prefix is
    // strippable and the extracted text is ASCII — if Spark's normalizer
    // failed, every downstream hash would shift), the q24 marker ladder,
    // the q79 gopher rules, q21 keep-min dedup, the q26 7-gram jaccard
    // pair rule, and the q52 running-budget cut
    "q178_curation_chain" -> {
      val blocked = Queries.urlBlockedDomains.mkString("'", "','", "'")
      s"""WITH $urlSynthCtes, $urlCanonCtes, $htmlExtractCtes,
         ch0 AS MATERIALIZED (
           SELECT h.doc_id, dd.source, u.domain, h.clean_text
           FROM hx h
           JOIN ucanon u ON u.doc_id = h.doc_id
           JOIN documents dd ON dd.doc_id = h.doc_id
           WHERE u.domain NOT IN ($blocked)),
         ch1 AS (
           SELECT doc_id, source, domain, clean_text,
             len(list_filter(regexp_split_to_array(lower(trim(clean_text)), '\\s+'),
               x -> x IN ('the','a','fast','slow'))) AS s_en,
             len(list_filter(regexp_split_to_array(lower(trim(clean_text)), '\\s+'),
               x -> x IN ('table','scan','row'))) AS s_de,
             len(list_filter(regexp_split_to_array(lower(trim(clean_text)), '\\s+'),
               x -> x IN ('data','query','value'))) AS s_es,
             len(list_filter(regexp_split_to_array(lower(trim(clean_text)), '\\s+'),
               x -> x IN ('spark','join','merge'))) AS s_zh
           FROM ch0),
         ch2 AS (
           SELECT doc_id, source, domain, clean_text,
             CASE
               WHEN greatest(s_en, s_de, s_es, s_zh) = 0 THEN 'und'
               WHEN s_zh >= s_en AND s_zh >= s_de AND s_zh >= s_es THEN 'zh'
               WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
               WHEN s_en >= s_de THEN 'en'
               ELSE 'de' END AS lang_pred
           FROM ch1),
         ch3 AS MATERIALIZED (SELECT * FROM ch2 WHERE lang_pred IN ('en', 'und')),
         gs AS (
           SELECT doc_id,
             CASE WHEN length(trim(clean_text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(clean_text), '\\s+')) END AS n_words,
             CAST(length(regexp_replace(clean_text, '\\s', '', 'g')) AS DOUBLE) AS chars,
             CAST(length(regexp_replace(clean_text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS syms,
             CAST(len(list_filter(regexp_split_to_array(trim(clean_text), '\\s+'),
               x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) AS stops,
             len(regexp_split_to_array(trim(clean_text), '\\s+')) AS raw_toks
           FROM ch3),
         gk AS (
           SELECT doc_id FROM gs
           WHERE n_words >= 30 AND n_words <= 90
             AND round(chars / greatest(n_words, 1), 4) >= 3.0
             AND round(chars / greatest(n_words, 1), 4) <= 5.0
             AND round(syms / greatest(n_words, 1), 4) <= 0.1
             AND round(stops / greatest(raw_toks, 1), 4) >= 0.02),
         ch4 AS (SELECT c.* FROM ch3 c JOIN gk USING (doc_id)),
         ch5 AS MATERIALIZED (SELECT * FROM ch4
                 QUALIFY row_number() OVER (PARTITION BY clean_text ORDER BY doc_id) = 1),
         ctoks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(clean_text)), '\\s+') AS t FROM ch5),
         csh AS MATERIALIZED (SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+6], ' ')
                                   for i in range(1, greatest(len(t) - 6, 0) + 1)])) AS s
           FROM ctoks),
         csz AS (SELECT doc_id, count(*) AS nsh FROM csh GROUP BY doc_id),
         cpr AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM csh a JOIN csh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         closers AS MATERIALIZED (
           SELECT DISTINCT id_b FROM cpr
           JOIN csz sa ON sa.doc_id = cpr.id_a
           JOIN csz sb ON sb.doc_id = cpr.id_b
           WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.5),
         ch6 AS (SELECT * FROM ch5
                 WHERE doc_id NOT IN (SELECT id_b FROM closers)),
         ch7 AS (SELECT doc_id, source, domain, lang_pred,
             CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(clean_text), '\\s+')) END
               AS BIGINT) AS n_tok
           FROM ch6),
         ch8 AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM ch7)
         SELECT doc_id, source, domain, lang_pred, n_tok
         FROM ch8 WHERE cum - n_tok < 1500"""
    },

    "q147_domain_rollup" -> {
      val blocked = Queries.urlBlockedDomains.mkString("'", "','", "'")
      s"""WITH $urlSynthCtes, $urlCanonCtes
         SELECT domain, count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           count(DISTINCT url_canon) AS n_pages,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM ucanon WHERE domain NOT IN ($blocked)
         GROUP BY domain"""
    },

    "q148_per_domain_cap" ->
      s"""WITH $urlSynthCtes, $urlCanonCtes,
         u AS (SELECT doc_id, domain,
             list_sum([(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                       * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv
           FROM ucanon),
         r AS (SELECT doc_id, domain,
                 row_number() OVER (PARTITION BY domain ORDER BY uv, doc_id) AS rnk
               FROM u)
         SELECT doc_id, domain, CAST(rnk AS BIGINT) AS rank
         FROM r WHERE rnk <= 5""",

    "q28_simhash" -> simhashOracle,
    "q63_semantic_dedup" -> semanticDedupOracle,
    "q64_split_assign" -> splitAssignOracle,

    "q68_token_budget_mix" ->
      """WITH d AS (SELECT doc_id, lang,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok
           FROM documents),
         c AS (SELECT doc_id, lang, n_tok,
           sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 1200 END AS budget
           FROM d)
         SELECT doc_id, lang, n_tok FROM c WHERE cum - n_tok < budget""",

    "q69_upsample_mix" ->
      """WITH u AS (SELECT doc_id, lang,
           list_sum([(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                     * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv,
           CASE lang WHEN 'de' THEN 2.5 WHEN 'zh' THEN 0.0 ELSE 1.0 END AS f
         FROM documents),
         n AS (SELECT doc_id, lang,
                 CAST(floor(f) + (CASE WHEN uv < f - floor(f) THEN 1 ELSE 0 END) AS INTEGER) AS reps
               FROM u)
         SELECT doc_id, lang, CAST(unnest(range(0, reps)) AS INTEGER) AS repeat
         FROM n WHERE reps > 0""",

    "q67_chunk_tokens" ->
      """WITH toks AS (SELECT doc_id,
                  CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
                FROM documents),
         n AS (SELECT doc_id, t, len(t) AS tn,
                 CAST(greatest(ceil(CAST(len(t) - 3 AS DOUBLE) / 9), 1) AS INTEGER) AS nc
               FROM toks WHERE len(t) > 0),
         ch AS (SELECT doc_id, unnest(range(0, nc)) AS k, t, tn FROM n)
         SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
           array_to_string(t[k*9+1 : k*9+12], ' ') AS chunk_text,
           CAST(least(12, tn - k*9) AS INTEGER) AS n_tok
         FROM ch""",

    // collapse-first: each side grouped by lower/trim-normalized text,
    // rep = min doc_id, multiplicity rides as n_l/n_r
    "q66_cross_neardup" ->
      """WITH nt AS (SELECT doc_id, source, lower(trim(text)) AS ntx FROM documents),
         lrep AS (SELECT ntx, min(doc_id) AS rid, count(*) AS m
                  FROM nt WHERE source = 'src1' GROUP BY ntx),
         rrep AS (SELECT ntx, min(doc_id) AS rid, count(*) AS m
                  FROM nt WHERE source <> 'src1' GROUP BY ntx),
         ltoks AS (SELECT rid, m, regexp_split_to_array(ntx, '\s+') AS t FROM lrep),
         rtoks AS (SELECT rid, m, regexp_split_to_array(ntx, '\s+') AS t FROM rrep),
         lsh AS (SELECT rid, m,
                  unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                        for i in range(1, greatest(len(t) - 2, 0) + 1)])) AS s
                FROM ltoks),
         rsh AS (SELECT rid, m,
                  unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                        for i in range(1, greatest(len(t) - 2, 0) + 1)])) AS s
                FROM rtoks),
         lsz AS (SELECT rid, count(*) AS nsh FROM lsh GROUP BY 1),
         rsz AS (SELECT rid, count(*) AS nsh FROM rsh GROUP BY 1),
         p AS (SELECT a.rid AS id_l, b.rid AS id_r, count(*) AS common,
                 max(a.m) AS n_l, max(b.m) AS n_r
               FROM lsh a JOIN rsh b ON a.s = b.s
               GROUP BY 1, 2)
         SELECT id_l, id_r,
           CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) AS jaccard,
           CAST(common AS DOUBLE) / sa.nsh AS containment_l,
           CAST(n_l AS BIGINT) AS n_l, CAST(n_r AS BIGINT) AS n_r
         FROM p
         JOIN lsz sa ON sa.rid = id_l
         JOIN rsz sb ON sb.rid = id_r""",

    // q144: BPE-aware sequence packing — the q138 encode chain feeding
    // the q61 concat-and-chunk window (blank docs count 0, width-0 pack)
    "q144_seq_pack_bpe" -> bpePackOracle(8, 512L),

    // q143: BPE-aware token budget — the q138 encode chain feeding the
    // q52 per-stratum cumulative cut (blank docs count 0)
    "q143_token_budget_bpe" -> bpeBudgetOracle(8, 2000L),

    // q142: deep BPE train replay — 128 unrolled sequential iterations
    // over the md5-shaped corpus (MATERIALIZED dict chain; binder depth
    // caps the unrolled form ~300, see bpeTrainDeepOracle)
    "q142_bpe_train_deep" -> bpeTrainDeepOracle(128),

    // q141: deep BPE encode at 1024 merges — deterministic prefix-chain
    // merge table + rank-jumping recursive application (faithful
    // sequential fold; recursion depth = applications, not table size)
    "q141_bpe_encode_deep" -> bpeEncodeDeepOracle(1024, 40),

    // q140: replays the JL projection (deterministic ±1 planes shared
    // with the RHP replay) then brute-force top-5 cosine in 16 dims
    "q140_rp_ann" ->
      s"""WITH pr AS (SELECT vec_id, ${rpProjectSql("embedding", 16, 7)} AS pv
             FROM embeddings),
         q AS (SELECT vec_id AS query_id, pv AS qv FROM pr WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id AS neighbor_id, pv AS cv FROM pr),
         scored AS (
           SELECT query_id, neighbor_id, ${cosSqlDims("qv", "cv", 16)} AS cos
           FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
         ${topKSelect(5)}""",

    // q139: replays the line shaping (sentence break every 6 words, 'g'
    // flag = Spark's replace-all) then the C4 line rules — terminal
    // punctuation, >= 3 words, no bad substrings — via list_filter;
    // blank docs keep NULL stats
    "q139_c4_line_filter" ->
      """WITH shaped AS (
           SELECT doc_id,
             regexp_replace(text,
               '(\w+ \w+ \w+ \w+ \w+ \w+) ', '\1.' || chr(10), 'g') AS text
           FROM documents),
         x AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines
               FROM shaped),
         k AS (SELECT doc_id, text, lines,
             list_filter(lines, l ->
               regexp_matches(trim(l), '[.!?"]$')
               AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
               AND NOT contains(lower(l), 'javascript')) AS kept
           FROM x)
         SELECT doc_id,
           CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN NULL
                ELSE CAST(len(lines) AS BIGINT) END AS n_lines,
           CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN NULL
                ELSE CAST(len(kept) AS BIGINT) END AS n_kept,
           CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN NULL
                ELSE CAST(contains(lower(text), 'lorem ipsum')
                          OR contains(lower(text), '{') AS INTEGER) END
             AS doc_flagged,
           CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN NULL
                ELSE array_to_string(kept, chr(10)) END AS clean_text,
           CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN NULL
                WHEN len(lines) > 0
                THEN round(CAST(len(kept) AS DOUBLE) / len(lines), 5) END
             AS kept_ratio
         FROM k""",

    // q138: replays train (the q137 CTE chain) THEN encode — a
    // training-corpus word's encoding IS its final-dictionary
    // segmentation, so the encode table is one split-count over d8;
    // docs re-join their words' encoded sizes; blank docs keep NULL
    "q138_bpe_encode" -> bpeEncodeOracle(8),
    "q168_tokenizer_fertility" -> bpeFertilityOracle(8),

    // q137: replays the 8-iteration BPE trainer — unrolled CTEs, one
    // (pair-count, top-1, boundary-anchored replace) triple per merge
    // over the separator-WRAPPED symbol dictionary; replace() is
    // left-to-right non-overlap in both engines, which IS BPE's greedy
    // within-word merge order, and the wrapped key can't cross a
    // symbol boundary (reference symbol-list semantics)
    "q137_bpe_train" -> bpeTrainOracle(8),

    // q145: the same sequential replay, 12 iterations — certifies the
    // driver-local trainer (collapse-first + heap) against the engine
    "q145_bpe_train_local" -> bpeTrainOracle(12),

    // q136: replays the BPE pair-count seed — distinct-word frequency
    // dictionary, adjacent code-point pairs per word (comprehension over
    // the (?s). codepoint list, repeated pairs count per occurrence),
    // frequency-weighted sums, top-50 by (n DESC, pair)
    "q136_bpe_pair_counts" ->
      """WITH w0 AS (
           SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
           FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
         wf AS (SELECT w, count(*) AS f FROM w0 GROUP BY 1),
         wp AS (SELECT f, unnest([cs[i + 1] || cs[i + 2]
                   for i in range(0, greatest(len(cs) - 1, 0))]) AS pair
                FROM (SELECT f, regexp_extract_all(w, '(?s).') AS cs FROM wf) x),
         pc AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM wp GROUP BY 1),
         ranked AS (
           SELECT pair, n,
             row_number() OVER (ORDER BY n DESC, pair) AS rank
           FROM pc)
         SELECT CAST(rank AS BIGINT) AS rank, pair, n AS n_occurrences
         FROM ranked WHERE rank <= 50""",

    // q135: replays the code-point entropy kernel — per-(doc, codepoint)
    // counts ((?s). matches exactly one code point incl. newlines), each
    // distinct character's exact micro-unit term, order-independent long
    // sum, identical IEEE expression shape (p computed once per term as
    // c/n, multiplied left-assoc). length() counts code points in both
    // engines; empty/NULL docs keep NULL stats via the left join
    "q135_char_entropy" ->
      """WITH chars AS (
           SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch
           FROM documents),
         cc AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
         tt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                  CAST(count(*) AS BIGINT) AS nd FROM cc GROUP BY 1),
         ent AS (
           SELECT cc.doc_id,
             -sum(CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * 100000.0 + 0.5) AS BIGINT)) AS units
           FROM cc JOIN tt ON cc.doc_id = tt.doc_id GROUP BY 1)
         SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE CAST(length(d.text) AS BIGINT) END AS n_cp,
           tt.nd AS n_distinct_cp,
           CAST(ent.units AS DOUBLE) / 100000.0 AS char_entropy
         FROM documents d
         LEFT JOIN tt ON d.doc_id = tt.doc_id
         LEFT JOIN ent ON d.doc_id = ent.doc_id""",

    // q134: replays the corpus-level MinHash diff — per-seed global mins
    // over each source's 3-gram shingle stream (min over the multiset =
    // min over the set, matching the zero-distinct Spark path), matching
    // -min count, and the exact distinct-md5 overlap census
    "q134_corpus_similarity" -> corpusSimilarityOracle,

    // q133: replays the capped-bigram interpolated LM — context stream
    // (prev = NULL on first tokens, one all-NULL row per empty doc),
    // top-256 bigrams (ties by the space-joined pair, the graft_top_k_by
    // order), top-24 first-token totals and unigram backoff (q65 rules),
    // identical IEEE expression shape per branch, 5-dp lnp, exact
    // DECIMAL(18,5) sums
    "q133_bigram_logprob" ->
      """WITH docs0 AS (SELECT doc_id,
                  CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
                FROM documents),
         base AS (
           SELECT doc_id, p.prev AS prev, p.tok AS tok FROM (
             SELECT doc_id, unnest(CASE WHEN len(toks) = 0
               THEN [struct_pack(prev := CAST(NULL AS VARCHAR), tok := CAST(NULL AS VARCHAR))]
               ELSE [struct_pack(
                      prev := CASE WHEN i = 0 THEN CAST(NULL AS VARCHAR) ELSE toks[i] END,
                      tok := toks[i + 1])
                     for i in range(0, len(toks))] END) AS p
             FROM docs0) s),
         bp AS (SELECT prev, tok, count(*) AS c FROM base
                WHERE prev IS NOT NULL AND tok IS NOT NULL GROUP BY 1, 2),
         top AS (SELECT prev, tok, c FROM bp ORDER BY c DESC, prev || ' ' || tok LIMIT 256),
         fst AS (SELECT prev, sum(c) AS c1 FROM bp GROUP BY 1 ORDER BY c1 DESC, prev LIMIT 24),
         uni0 AS (SELECT tok, count(*) AS c FROM base WHERE tok IS NOT NULL GROUP BY 1),
         tot AS (SELECT greatest(sum(c), 1) AS total FROM uni0),
         uni AS (SELECT tok, c FROM uni0 ORDER BY c DESC, tok LIMIT 24),
         scored AS (
           SELECT b.doc_id, b.tok,
             CASE WHEN b.prev IS NULL
               THEN round(ln(coalesce(CAST(u.c AS DOUBLE), 1.0) / CAST(total AS DOUBLE)), 5)
               ELSE round(ln(
                 (coalesce(CAST(t2.c AS DOUBLE), 0.0)
                   + 1.0 * (coalesce(CAST(u.c AS DOUBLE), 1.0) / CAST(total AS DOUBLE)))
                 / (coalesce(CAST(f.c1 AS DOUBLE), 0.0) + 1.0)), 5) END AS lnp
           FROM base b CROSS JOIN tot
           LEFT JOIN uni u ON b.tok = u.tok
           LEFT JOIN fst f ON b.prev = f.prev
           LEFT JOIN top t2 ON b.prev = t2.prev AND b.tok = t2.tok)
         SELECT doc_id,
           CAST(count(tok) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(CASE WHEN tok IS NOT NULL
                         THEN CAST(lnp AS DECIMAL(18,5)) END) AS VARCHAR) AS DOUBLE)
             / count(tok) AS mean_logprob
         FROM scored GROUP BY 1""",

    // q173: the q133 chain + the trigram order — context stream with
    // prev2, capped triple table (512), trigram CONTEXT counts read from
    // the SAME capped pair table, p2 kept UNROUNDED inside the p3 term
    "q173_trigram_logprob" ->
      """WITH docs0 AS (SELECT doc_id,
                  CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
                FROM documents),
         base AS (
           SELECT doc_id, p.prev2 AS prev2, p.prev AS prev, p.tok AS tok FROM (
             SELECT doc_id, unnest(CASE WHEN len(toks) = 0
               THEN [struct_pack(prev2 := CAST(NULL AS VARCHAR),
                                 prev := CAST(NULL AS VARCHAR),
                                 tok := CAST(NULL AS VARCHAR))]
               ELSE [struct_pack(
                      prev2 := CASE WHEN i <= 1 THEN CAST(NULL AS VARCHAR) ELSE toks[i - 1] END,
                      prev := CASE WHEN i = 0 THEN CAST(NULL AS VARCHAR) ELSE toks[i] END,
                      tok := toks[i + 1])
                     for i in range(0, len(toks))] END) AS p
             FROM docs0) s),
         bp AS (SELECT prev, tok, count(*) AS c FROM base
                WHERE prev IS NOT NULL AND tok IS NOT NULL GROUP BY 1, 2),
         top AS (SELECT prev, tok, c FROM bp ORDER BY c DESC, prev || ' ' || tok LIMIT 256),
         fst AS (SELECT prev, sum(c) AS c1 FROM bp GROUP BY 1 ORDER BY c1 DESC, prev LIMIT 24),
         uni0 AS (SELECT tok, count(*) AS c FROM base WHERE tok IS NOT NULL GROUP BY 1),
         tot AS (SELECT greatest(sum(c), 1) AS total FROM uni0),
         uni AS (SELECT tok, c FROM uni0 ORDER BY c DESC, tok LIMIT 24),
         tp AS (SELECT prev2, prev, tok, count(*) AS c FROM base
                WHERE prev2 IS NOT NULL AND prev IS NOT NULL AND tok IS NOT NULL
                GROUP BY 1, 2, 3),
         ttop AS (SELECT prev2, prev, tok, c FROM tp
                  ORDER BY c DESC, prev2 || ' ' || prev || ' ' || tok LIMIT 512),
         scored0 AS (
           SELECT b.doc_id, b.prev2, b.prev, b.tok,
             coalesce(CAST(u.c AS DOUBLE), 1.0) / CAST(total AS DOUBLE) AS p1,
             (coalesce(CAST(t2.c AS DOUBLE), 0.0)
               + 1.0 * (coalesce(CAST(u.c AS DOUBLE), 1.0) / CAST(total AS DOUBLE)))
               / (coalesce(CAST(f.c1 AS DOUBLE), 0.0) + 1.0) AS p2,
             CAST(t3.c AS DOUBLE) AS c123, CAST(tc.c AS DOUBLE) AS ctx
           FROM base b CROSS JOIN tot
           LEFT JOIN uni u ON b.tok = u.tok
           LEFT JOIN fst f ON b.prev = f.prev
           LEFT JOIN top t2 ON b.prev = t2.prev AND b.tok = t2.tok
           LEFT JOIN ttop t3 ON b.prev2 = t3.prev2 AND b.prev = t3.prev AND b.tok = t3.tok
           LEFT JOIN top tc ON b.prev2 = tc.prev AND b.prev = tc.tok),
         scored AS (
           SELECT doc_id, tok,
             CASE WHEN prev IS NULL THEN round(ln(p1), 5)
                  WHEN prev2 IS NULL THEN round(ln(p2), 5)
                  ELSE round(ln((coalesce(c123, 0.0) + 1.0 * p2)
                              / (coalesce(ctx, 0.0) + 1.0)), 5) END AS lnp
           FROM scored0)
         SELECT doc_id,
           CAST(count(tok) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(CASE WHEN tok IS NOT NULL
                         THEN CAST(lnp AS DECIMAL(18,5)) END) AS VARCHAR) AS DOUBLE)
             / count(tok) AS mean_logprob
         FROM scored GROUP BY 1""",

    // q177: the q173 capped-table replay + the KN continuation
    // aggregations (N1+ type counts over the replayed capped tables) +
    // the three-level interpolated-KN formula in the kernel's exact
    // operation order (greatest, then D*f*p left-assoc, then add, then
    // divide) — IEEE doubles match bit-for-bit, micro rounding replays
    "q177_trigram_kn" ->
      """WITH docs0 AS (SELECT doc_id,
                  CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
                FROM documents),
         base AS (
           SELECT doc_id, p.prev2 AS prev2, p.prev AS prev, p.tok AS tok FROM (
             SELECT doc_id, unnest(CASE WHEN len(toks) = 0
               THEN [struct_pack(prev2 := CAST(NULL AS VARCHAR),
                                 prev := CAST(NULL AS VARCHAR),
                                 tok := CAST(NULL AS VARCHAR))]
               ELSE [struct_pack(
                      prev2 := CASE WHEN i <= 1 THEN CAST(NULL AS VARCHAR) ELSE toks[i - 1] END,
                      prev := CASE WHEN i = 0 THEN CAST(NULL AS VARCHAR) ELSE toks[i] END,
                      tok := toks[i + 1])
                     for i in range(0, len(toks))] END) AS p
             FROM docs0) s),
         bp AS (SELECT prev, tok, count(*) AS c FROM base
                WHERE prev IS NOT NULL AND tok IS NOT NULL GROUP BY 1, 2),
         top AS (SELECT prev, tok, c FROM bp ORDER BY c DESC, prev || ' ' || tok LIMIT 256),
         tp AS (SELECT prev2, prev, tok, count(*) AS c FROM base
                WHERE prev2 IS NOT NULL AND prev IS NOT NULL AND tok IS NOT NULL
                GROUP BY 1, 2, 3),
         ttop AS (SELECT prev2, prev, tok, c FROM tp
                  ORDER BY c DESC, prev2 || ' ' || prev || ' ' || tok LIMIT 512),
         np AS (SELECT tok, count(*) AS np FROM top GROUP BY 1),
         bt AS (SELECT count(*) AS b FROM top),
         nvt AS (SELECT prev AS v, count(*) AS nv FROM ttop GROUP BY 1),
         f2t AS (SELECT prev AS v, count(DISTINCT tok) AS f2 FROM ttop GROUP BY 1),
         c2t AS (SELECT prev AS v, tok AS w, count(DISTINCT prev2) AS cnt FROM ttop GROUP BY 1, 2),
         f3t AS (SELECT prev2, prev, count(*) AS f3 FROM ttop GROUP BY 1, 2),
         j AS (
           SELECT b.doc_id, b.prev2, b.prev, b.tok,
             (coalesce(CAST(n.np AS DOUBLE), 0.0) + 1.0)
               / (CAST(bt.b AS DOUBLE) + 1.0) AS p1,
             nv.nv AS nv, f2.f2 AS f2, c2.cnt AS cnt2,
             f3.f3 AS f3, tc.c AS c12, t3.c AS c123
           FROM base b CROSS JOIN bt
           LEFT JOIN np n ON b.tok = n.tok
           LEFT JOIN nvt nv ON b.prev = nv.v
           LEFT JOIN f2t f2 ON b.prev = f2.v
           LEFT JOIN c2t c2 ON b.prev = c2.v AND b.tok = c2.w
           LEFT JOIN f3t f3 ON b.prev2 = f3.prev2 AND b.prev = f3.prev
           LEFT JOIN top tc ON b.prev2 = tc.prev AND b.prev = tc.tok
           LEFT JOIN ttop t3 ON b.prev2 = t3.prev2 AND b.prev = t3.prev AND b.tok = t3.tok),
         lv AS (
           SELECT doc_id, prev2, prev, tok, p1,
             CASE WHEN nv IS NULL THEN p1
                  ELSE (greatest(coalesce(CAST(cnt2 AS DOUBLE), 0.0) - 0.75, 0.0)
                        + 0.75 * CAST(f2 AS DOUBLE) * p1) / CAST(nv AS DOUBLE) END AS p2,
             f3, c12, c123
           FROM j),
         scored AS (
           SELECT doc_id, tok,
             CASE WHEN prev IS NULL THEN round(ln(p1), 5)
                  WHEN prev2 IS NULL THEN round(ln(p2), 5)
                  WHEN f3 IS NULL OR c12 IS NULL THEN round(ln(p2), 5)
                  ELSE round(ln((greatest(coalesce(CAST(c123 AS DOUBLE), 0.0) - 0.75, 0.0)
                        + 0.75 * CAST(f3 AS DOUBLE) * p2) / CAST(c12 AS DOUBLE)), 5) END AS lnp
           FROM lv)
         SELECT doc_id,
           CAST(count(tok) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(CASE WHEN tok IS NOT NULL
                         THEN CAST(lnp AS DECIMAL(18,5)) END) AS VARCHAR) AS DOUBLE)
             / count(tok) AS mean_logprob
         FROM scored GROUP BY 1""",

    "q65_unigram_logprob" ->
      """WITH base AS (SELECT doc_id,
                  unnest(CASE WHEN text IS NULL OR length(trim(text)) = 0
                              THEN [NULL]
                              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS tok
                FROM documents),
         vocab AS (SELECT tok, count(*) AS c FROM base WHERE tok IS NOT NULL GROUP BY 1),
         tot AS (SELECT greatest(sum(c), 1) AS total FROM vocab),
         top AS (SELECT tok, c FROM vocab ORDER BY c DESC, tok LIMIT 24),
         scored AS (
           SELECT b.doc_id, b.tok,
             round(ln(coalesce(CAST(t.c AS DOUBLE), 1.0) / CAST(total AS DOUBLE)), 5) AS lnp
           FROM base b CROSS JOIN tot LEFT JOIN top t ON b.tok = t.tok)
         SELECT doc_id,
           CAST(count(tok) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(CASE WHEN tok IS NOT NULL
                         THEN CAST(lnp AS DECIMAL(18,5)) END) AS VARCHAR) AS DOUBLE)
             / count(tok) AS mean_logprob
         FROM scored GROUP BY 1""",
    "q89_perplexity_buckets" ->
      """WITH base AS (SELECT doc_id,
                  unnest(CASE WHEN text IS NULL OR length(trim(text)) = 0
                              THEN [NULL]
                              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS tok
                FROM documents),
         vocab AS (SELECT tok, count(*) AS c FROM base WHERE tok IS NOT NULL GROUP BY 1),
         tot AS (SELECT greatest(sum(c), 1) AS total FROM vocab),
         top AS (SELECT tok, c FROM vocab ORDER BY c DESC, tok LIMIT 24),
         lnp AS (
           SELECT b.doc_id, b.tok,
             round(ln(coalesce(CAST(t.c AS DOUBLE), 1.0) / CAST(total AS DOUBLE)), 5) AS lnp
           FROM base b CROSS JOIN tot LEFT JOIN top t ON b.tok = t.tok),
         scored AS (
           SELECT doc_id,
             CAST(count(tok) AS BIGINT) AS n_tokens,
             CAST(CAST(sum(CASE WHEN tok IS NOT NULL
                           THEN CAST(lnp AS DECIMAL(18,5)) END) AS VARCHAR) AS DOUBLE)
               / count(tok) AS mean_logprob
           FROM lnp GROUP BY 1),
         cuts AS (SELECT quantile_cont(mean_logprob, 1.0/3) AS lo,
                         quantile_cont(mean_logprob, 2.0/3) AS hi
                  FROM scored WHERE mean_logprob IS NOT NULL AND NOT isnan(mean_logprob))
         SELECT doc_id, n_tokens, mean_logprob,
           CASE WHEN mean_logprob IS NULL THEN NULL
                WHEN mean_logprob < lo THEN 'tail'
                WHEN mean_logprob < hi THEN 'middle'
                ELSE 'head' END AS bucket
         FROM scored CROSS JOIN cuts""",

    "q99_top_paths" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL THEN 0
                  WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
                  ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
         idx AS (
           SELECT user_id, ts, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_type
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM flagged),
         paths AS (
           SELECT user_id, sess,
             array_to_string((list(event_type ORDER BY ts, event_type))[1:8], '>') AS path
           FROM idx GROUP BY 1, 2),
         counts AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1),
         ranked AS (SELECT path, n_sessions,
             row_number() OVER (ORDER BY n_sessions DESC, path) AS rnk
           FROM counts)
         SELECT path, n_sessions, CAST(rnk AS BIGINT) AS rank
         FROM ranked WHERE rnk <= 20""",

    "q100_transitions" ->
      """WITH pairs AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events),
         m AS (SELECT from_type, to_type, count(*) AS n
               FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, sum(n) AS n_from FROM m GROUP BY 1)
         SELECT m.from_type, m.to_type, m.n, CAST(t.n_from AS BIGINT) AS n_from,
           CAST(m.n AS DOUBLE) / t.n_from AS p
         FROM m JOIN tot t USING (from_type)""",

    "q98_bm25_topk" ->
      s"""WITH $bm25RankedCtes
         SELECT doc_id, bm25, CAST(rnk AS BIGINT) AS rank
         FROM bm25ranked WHERE rnk <= 20""",

    "q96_funnel" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
         SELECT u.user_id, s1.t1, s2.t2, s3.t3,
           (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS steps_completed
         FROM users u
         LEFT JOIN s1 USING (user_id)
         LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)""",

    "q97_cohort_retention" ->
      """WITH firsts AS (SELECT user_id,
                  CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
                FROM events GROUP BY 1),
         active AS (SELECT DISTINCT user_id,
                  CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
         cells AS (SELECT cohort_week,
                  CAST((week - cohort_week) // 7 AS INTEGER) AS week_offset,
                  count(*) AS n_active
                FROM active JOIN firsts USING (user_id) GROUP BY 1, 2),
         sizes AS (SELECT cohort_week, count(*) AS n_cohort FROM firsts GROUP BY 1)
         SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset, n_active, n_cohort
         FROM cells JOIN sizes USING (cohort_week)""",

    "q94_inverted_index" ->
      """WITH toks AS (SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0),
         tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
         stats AS (SELECT term, count(*) AS n_docs, sum(tf) AS total_tf
                   FROM tf GROUP BY 1),
         ranked AS (SELECT term, doc_id, tf,
                      row_number() OVER (PARTITION BY term
                                         ORDER BY tf DESC, doc_id) AS rnk
                    FROM tf)
         SELECT r.term, s.n_docs, CAST(s.total_tf AS BIGINT) AS total_tf,
           r.doc_id, r.tf, CAST(r.rnk AS BIGINT) AS rank
         FROM ranked r JOIN stats s ON r.term = s.term
         WHERE r.rnk <= 10""",

    "q93_stratified_sample" ->
      """WITH u AS (SELECT doc_id, lang,
             list_sum([(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                       * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv
           FROM documents),
         r AS (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY uv, doc_id) AS rnk
               FROM u)
         SELECT doc_id, lang, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 40""",

    "q92_sliding_stats" ->
      """SELECT event_id, user_id, ts,
           count(*) OVER w AS n_1h,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE)
             / count(value) OVER w AS avg_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    "q91_scd2_history" ->
      """WITH runs AS (
           SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
           FROM events),
         r2 AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                FROM runs),
         iv AS (SELECT user_id, event_type, run, min(ts) AS valid_from
                FROM r2 GROUP BY 1, 2, 3)
         SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
           CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL AS INT) AS is_current
         FROM iv""",

    "q90_quality_classifier" -> {
      // the same deterministic weights the catalog feeds the operator,
      // interpolated as a literal — the model rides in the SQL too
      val wlist = graft.operators.Quality.demoWeights(64)
        .mkString("[", ", ", "]")
      s"""WITH base AS (SELECT doc_id,
                  unnest(CASE WHEN text IS NULL OR length(trim(text)) = 0
                              THEN [NULL]
                              ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END) AS tok
                FROM documents),
         h AS (SELECT doc_id, tok,
                 CAST(list_sum([(strpos('0123456789abcdef',
                              substr(md5(tok), i + 1, 1)) - 1)
                           * 16**(7 - i) for i in range(0, 8)]) AS BIGINT) % 64 AS b
               FROM base),
         w AS (SELECT doc_id, tok,
                 round(($wlist)[CAST(b AS INT) + 1], 5) AS wt
               FROM h),
         s AS (SELECT doc_id,
                 CAST(count(tok) AS BIGINT) AS n_tokens,
                 CAST(CAST(sum(CASE WHEN tok IS NOT NULL
                               THEN CAST(wt AS DECIMAL(18,5)) END) AS VARCHAR) AS DOUBLE)
                   / count(tok) AS score
               FROM w GROUP BY 1)
         SELECT doc_id, n_tokens, score,
           CAST(score >= 0.0 AS INT) AS keep FROM s"""
    },

    "q29_embed_neardup" -> embedNearDupOracle,
    "q30_ann_topk" -> annTopKOracle,
    "q31_ann_lsh" -> annLshOracle,
    "q37_ann_ivf" -> annIvfOracle,
    "q95_ann_pq" -> annPqOracle,
    "q113_ann_ivfpq" -> annIvfPqOracle,
    "q132_ann_refined" -> annRefinedOracle,
    "q106_ann_recall" -> annRecallOracle,

    // q108: the collapse-first audit replayed — distinct-text rep pairs
    // (q26's shingle chain over one row per normalized text), per-group
    // split histograms from the q64 split CASE, one row per
    // (rep pair × straddling split combo) with the per-instance count
    "q108_split_leakage" ->
      """WITH m AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
         g AS (SELECT t, min(doc_id) AS rid, count(*) AS mm FROM m GROUP BY t),
         toks AS (SELECT rid, regexp_split_to_array(t, '\s+') AS tk FROM g),
         sh AS (SELECT rid,
                  unnest(list_distinct([array_to_string(tk[i:i+6], ' ')
                                        for i in range(1, greatest(len(tk) - 6, 0) + 1)])) AS s
                FROM toks),
         sizes AS (SELECT rid, count(*) AS nsh FROM sh GROUP BY rid),
         common AS (
           SELECT a.rid AS ra, b.rid AS rb, count(*) AS common
           FROM sh a JOIN sh b ON a.s = b.s AND a.rid < b.rid
           GROUP BY 1, 2),
         p AS (
           SELECT ra, rb,
             CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) AS jaccard
           FROM common
           JOIN sizes sa ON sa.rid = ra
           JOIN sizes sb ON sb.rid = rb
           WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.2),
         u AS (SELECT doc_id,
             list_sum([(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                       * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv
           FROM documents),
         sp AS (SELECT doc_id,
             CASE WHEN uv < 0.8 THEN 'train'
                  WHEN uv < 0.9 THEN 'val'
                  ELSE 'test' END AS split
           FROM u),
         hist AS (SELECT g.rid, sp.split, count(*) AS cnt
                  FROM m JOIN g USING (t) JOIN sp ON sp.doc_id = m.doc_id
                  GROUP BY 1, 2),
         inter AS (
           SELECT p.ra AS id_a, p.rb AS id_b, ha.split AS split_a,
             hb.split AS split_b, CAST(ha.cnt * hb.cnt AS BIGINT) AS n_pairs,
             p.jaccard
           FROM p
           JOIN hist ha ON ha.rid = p.ra
           JOIN hist hb ON hb.rid = p.rb
           WHERE ha.split <> hb.split),
         intra AS (
           SELECT g.rid AS id_a, g.rid AS id_b, ha.split AS split_a,
             hb.split AS split_b, CAST(ha.cnt * hb.cnt AS BIGINT) AS n_pairs,
             CAST(1.0 AS DOUBLE) AS jaccard
           FROM g
           JOIN sizes sz ON sz.rid = g.rid AND sz.nsh >= 1
           JOIN hist ha ON ha.rid = g.rid
           JOIN hist hb ON hb.rid = g.rid
           WHERE g.mm >= 2 AND ha.split < hb.split)
         SELECT * FROM inter UNION ALL SELECT * FROM intra""",

    // q109: median/MAD replayed per column with the SAME rounding
    // discipline as the operator — stats rounded to 5 dp FIRST, fences
    // derived from the rounded stats (identical IEEE arithmetic), strict
    // </> outlier counts. NaN ≡ missing; median/MAD come from the
    // FINITE core (the isfinite CTEs) while counts see ±Inf as values
    // outside any finite fence — the operator's contract verbatim.
    // q117: the same moment-sum decimals (4-dp quantized inputs, exact
    // sums) cast to double via VARCHAR (correctly-rounded in both
    // engines), then the identical IEEE arithmetic — generated per pair
    "q117_corr_matrix" -> corrMatrixOracle,

    // q118: chi2 = n·Σ o²/(ra·cb) − n over OBSERVED cells, per-cell
    // terms rounded to 9 dp and decimal-summed — generated per pair
    "q118_cat_assoc" -> catAssocOracle,

    // q131: equi-depth cuts (round5 quantile_cont) + bucket = #cuts
    // exceeded + the q112 dual-uniform shard/pos replay per (bucket,
    // shard)
    "q131_curriculum" ->
      """WITH v AS (SELECT doc_id, n_chars, CAST(n_chars AS DOUBLE) AS x
                    FROM documents
                    WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
         c AS (SELECT round(quantile_cont(x, 0.25), 5) AS c1,
                 round(quantile_cont(x, 0.5), 5) AS c2,
                 round(quantile_cont(x, 0.75), 5) AS c3 FROM v),
         b AS (SELECT doc_id, n_chars, x,
                 (CASE WHEN x > c1 THEN 1 ELSE 0 END +
                  CASE WHEN x > c2 THEN 1 ELSE 0 END +
                  CASE WHEN x > c3 THEN 1 ELSE 0 END) AS bucket
               FROM v, c),
         u AS (SELECT doc_id,
             list_sum([(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                       * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS u1,
             list_sum([(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR) || ':43'), i + 1, 1)) - 1)
                       * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS u2
           FROM v),
         j AS (SELECT b.doc_id, b.n_chars, CAST(b.bucket AS INTEGER) AS bucket,
                 CAST(floor(u1 * 4) AS INTEGER) AS shard, u2
               FROM b JOIN u ON b.doc_id = u.doc_id)
         SELECT doc_id, n_chars, bucket, shard,
           CAST(row_number() OVER (PARTITION BY bucket, shard
             ORDER BY u2 ASC, doc_id ASC) AS INTEGER) AS pos
         FROM j""",

    // q130: the q33 session chain + boundary deltas + one window cumsum
    // (the oracle's single-task sort IS the yardstick the distributed
    // prefix-sum must match)
    "q130_concurrency" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL THEN 0
                  WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
                  ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         idx AS (
           SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM flagged),
         sess AS (
           SELECT user_id, session_idx, min(ts) AS session_start,
             max(ts) AS session_end
           FROM idx GROUP BY user_id, session_idx),
         d AS (SELECT session_start AS t, 1 AS dd FROM sess
               UNION ALL SELECT session_end, -1 FROM sess),
         g AS (SELECT t, CAST(sum(dd) AS BIGINT) AS delta FROM d GROUP BY 1)
         SELECT t, delta,
           CAST(sum(delta) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS active
         FROM g""",

    // q129: the q59 shingle replay widened to totals + hits per doc;
    // every non-benchmark doc keeps a row, shingle-less docs score NULL
    "q129_contamination_score" ->
      """WITH toks AS (SELECT doc_id, source,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
         sh AS (SELECT doc_id, source,
                  unnest(list_distinct([array_to_string(t[i:i+3], ' ')
                                        for i in range(1, greatest(len(t) - 3, 0) + 1)])) AS s
                FROM toks),
         bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
         tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh
                 WHERE source <> 'src0' GROUP BY 1),
         hit AS (SELECT a.doc_id, count(*) AS n_hits
                 FROM sh a JOIN bench b ON a.s = b.s
                 WHERE a.source <> 'src0' GROUP BY 1),
         docs AS (SELECT doc_id FROM documents WHERE source <> 'src0')
         SELECT d.doc_id,
           CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           CASE WHEN coalesce(n_shingles, 0) > 0 THEN
             round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_shingles, 5)
           END AS contamination
         FROM docs d
         LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN hit ON d.doc_id = hit.doc_id""",

    // q128: the largest-remainder allocation replayed in the SAME IEEE
    // double arithmetic (decimals would allocate differently — ⌊300·0.3⌋
    // is 89 in doubles), availability cap via least(), then the q93
    // md5-uniform rank per stratum
    "q128_target_mix" ->
      """WITH tgt AS (SELECT * FROM (VALUES
             ('en', CAST(0.3 AS DOUBLE)), ('de', CAST(0.4 AS DOUBLE)),
             ('es', CAST(0.1 AS DOUBLE)), ('zh', CAST(0.15 AS DOUBLE)),
             ('fr', CAST(0.05 AS DOUBLE))) t(lang, p)),
         e AS (SELECT lang, 300 * p AS ex FROM tgt),
         b AS (SELECT lang, CAST(floor(ex) AS BIGINT) AS base,
                 ex - floor(ex) AS rem FROM e),
         lo AS (SELECT 300 - CAST(sum(base) AS BIGINT) AS leftover FROM b),
         rk AS (SELECT lang, base,
                  row_number() OVER (ORDER BY rem DESC, lang ASC) AS rr FROM b),
         al AS (SELECT lang,
                  base + CASE WHEN rr <= (SELECT leftover FROM lo)
                         THEN 1 ELSE 0 END AS kk FROM rk),
         cnt AS (SELECT lang, count(*) AS n FROM documents
                 WHERE doc_id IS NOT NULL
                   AND lang IN ('en', 'de', 'es', 'zh', 'fr') GROUP BY 1),
         ks AS (SELECT a.lang, least(kk, coalesce(n, 0)) AS kcap
                FROM al a LEFT JOIN cnt USING (lang)),
         u AS (SELECT doc_id, lang,
             list_sum([(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                       * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv
           FROM documents
           WHERE doc_id IS NOT NULL AND lang IN ('en', 'de', 'es', 'zh', 'fr')),
         sel AS (SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang ORDER BY uv, doc_id) AS rnk
                 FROM u)
         SELECT s.doc_id, s.lang, CAST(s.rnk AS BIGINT) AS rank
         FROM sel s JOIN ks ON s.lang = ks.lang
         WHERE s.rnk <= kcap""",

    // q127: per-group quantile_cont list unnested in lockstep with the
    // quantile list; a group with no usable values keeps NULL rows via
    // the distinct-groups left join (q111 discipline)
    "q127_group_quantiles" ->
      """WITH v0 AS (SELECT CAST(lang AS VARCHAR) AS lang,
                       CAST(n_chars AS DOUBLE) AS x
                     FROM documents WHERE n_chars IS NOT NULL),
         v AS (SELECT lang, x FROM v0 WHERE NOT isnan(x)),
         g AS (SELECT lang,
                 quantile_cont(x, [0.25, 0.5, 0.75, 0.95]) AS vs
               FROM v GROUP BY lang),
         t AS (SELECT lang,
                 unnest([0.25, 0.5, 0.75, 0.95]) AS quantile,
                 round(unnest(vs), 5) AS value
               FROM g),
         langs AS (SELECT DISTINCT CAST(lang AS VARCHAR) AS lang FROM documents),
         qq AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS quantile)
         SELECT l.lang, qq.quantile, t.value
         FROM langs l CROSS JOIN qq
         LEFT JOIN t ON l.lang IS NOT DISTINCT FROM t.lang
                    AND qq.quantile = t.quantile""",

    // q126: the oracle aggregates ALL raw rows directly — passing proves
    // the merge-of-partials path ≡ the full recompute
    "q126_incremental_agg" ->
      """WITH g AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
             sum(CAST(value AS DECIMAL(18,4))) AS s,
             min(value) AS min_value, max(value) AS max_value
           FROM events GROUP BY 1, 2)
         SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n,
           CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sum_value,
           min_value, max_value,
           round(CAST(CAST(s AS VARCHAR) AS DOUBLE) / n, 6) AS avg_value
         FROM g""",

    // q125: the q109 median/MAD discipline (finite-core quantiles,
    // round5 first) + the same per-row transform arithmetic; ±Inf stays
    // ±Inf, NaN ≡ missing, and a degenerate MAD NULLs the scores
    "q125_robust_zscore" ->
      """WITH vx AS (SELECT CAST(value AS DOUBLE) AS x FROM events
                     WHERE value IS NOT NULL AND NOT isnan(value)),
         vfin AS (SELECT x FROM vx WHERE isfinite(x)),
         vs AS (SELECT round(quantile_cont(x, 0.5), 5) AS med FROM vfin),
         vm AS (SELECT round(quantile_cont(abs(x - med), 0.5), 5) AS mad FROM vfin, vs)
         SELECT event_id, value,
           CASE WHEN mad IS NULL OR mad <= 0 THEN NULL
                WHEN value IS NULL OR isnan(value) THEN NULL
                WHEN NOT isfinite(value) THEN (CAST(value AS DOUBLE) - med) / (1.4826 * mad)
                ELSE round((CAST(value AS DOUBLE) - med) / (1.4826 * mad), 6)
           END AS value_rz
         FROM events, vs, vm""",

    // q124: exact stage = the q21 md5 grouping; near-dup stage = the
    // shared component chain over REPRESENTATIVES only + the q70
    // keep-best rank; three per-source censuses joined null-safe
    "q124_dedup_attrition" -> dedupAttritionOracle,

    // q121: decay factor replayed per row (epoch-second Δt, same pow(2,·)
    // then 9-dp rounding), decimal term sums per user
    "q121_decayed_engagement" ->
      """WITH ref AS (SELECT max(epoch_us(ts)) AS r FROM events),
         t AS (SELECT user_id, ts, CAST(value AS DOUBLE) AS v,
                 CAST(r - epoch_us(ts) AS DOUBLE) / 86400e6 AS dt
               FROM events, ref
               WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value))
         SELECT user_id, count(*) AS n_events, max(ts) AS last_ts,
           CAST(CAST(sum(CAST(round(v * pow(2, -dt / 7.0), 9) AS DECIMAL(28,9)))
             AS VARCHAR) AS DOUBLE) AS decayed_value
         FROM t GROUP BY 1""",

    // q122: the q98 BM25 chain (shared CTEs) ⊕ the exact cosine ranking
    // against query vector 0, fused by 1/(60+rank) with 9-dp decimal
    // term sums — rank ties break by doc_id everywhere
    "q122_hybrid_rrf" -> hybridRrfOracle,

    // q123: the q64 split CASE + per-split label census;
    // entropy/gini as 9-dp decimal term sums, majority class by
    // (count DESC, label) rank
    "q123_class_balance" ->
      """WITH u AS (SELECT source,
           list_sum([(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                     * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv
         FROM documents),
         sp AS (SELECT CASE WHEN uv < 0.8 THEN 'train'
                            WHEN uv < 0.9 THEN 'val'
                            ELSE 'test' END AS split, source AS l FROM u),
         c AS (SELECT split, l, count(*) AS cnt FROM sp GROUP BY 1, 2),
         per AS (SELECT split,
                   CAST(sum(CASE WHEN l IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN l IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_null_labels,
                   count(CASE WHEN l IS NOT NULL THEN 1 END) AS n_labels
                 FROM c GROUP BY 1),
         top AS (SELECT split, l AS top_label, cnt AS top_cnt FROM
                   (SELECT split, l, cnt,
                      row_number() OVER (PARTITION BY split ORDER BY cnt DESC, l) AS r
                    FROM c WHERE l IS NOT NULL) WHERE r = 1),
         ent AS (SELECT c.split,
                   sum(CAST(round(-(CAST(cnt AS DOUBLE) / n) * log2(CAST(cnt AS DOUBLE) / n), 9)
                     AS DECIMAL(19,9))) AS ht,
                   sum(CAST(round((CAST(cnt AS DOUBLE) / n) * (CAST(cnt AS DOUBLE) / n), 9)
                     AS DECIMAL(19,9))) AS gt
                 FROM c JOIN per ON c.split IS NOT DISTINCT FROM per.split
                 WHERE l IS NOT NULL GROUP BY 1)
         SELECT per.split, n, n_null_labels, n_labels, top_label,
           CASE WHEN n > 0 THEN round(CAST(top_cnt AS DOUBLE) / n, 5) END AS top_share,
           CASE WHEN n > 0 THEN round(CAST(CAST(ht AS VARCHAR) AS DOUBLE), 6) END AS entropy,
           CASE WHEN n_labels > 1 THEN
             round(CAST(CAST(ht AS VARCHAR) AS DOUBLE) / log2(n_labels), 6) END AS norm_entropy,
           CASE WHEN n > 0 THEN round(1 - CAST(CAST(gt AS VARCHAR) AS DOUBLE), 6) END AS gini
         FROM per
         LEFT JOIN top ON per.split IS NOT DISTINCT FROM top.split
         LEFT JOIN ent ON per.split IS NOT DISTINCT FROM ent.split""",

    // q119: the two distinct-key count tables replayed; all metrics are
    // exact integers except the final skew division
    "q119_join_preflight" ->
      """WITH lc AS (SELECT c_custkey AS k, count(*) AS cl FROM customer GROUP BY 1),
         rc AS (SELECT o_custkey AS k, count(*) AS cr FROM orders GROUP BY 1),
         ls AS (SELECT CAST(coalesce(sum(cl), 0) AS BIGINT) AS rows_left,
                  CAST(coalesce(sum(cl) FILTER (WHERE k IS NULL), 0) AS BIGINT) AS null_key_rows_left,
                  count(*) FILTER (WHERE k IS NOT NULL) AS distinct_keys_left,
                  CAST(max(cl) FILTER (WHERE k IS NOT NULL) AS BIGINT) AS max_left_mult
                FROM lc),
         rs AS (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) AS rows_right,
                  CAST(coalesce(sum(cr) FILTER (WHERE k IS NULL), 0) AS BIGINT) AS null_key_rows_right,
                  count(*) FILTER (WHERE k IS NOT NULL) AS distinct_keys_right,
                  CAST(max(cr) FILTER (WHERE k IS NOT NULL) AS BIGINT) AS max_right_mult
                FROM rc),
         j AS (SELECT cl, cr
               FROM (SELECT * FROM lc WHERE k IS NOT NULL) l
               FULL OUTER JOIN (SELECT * FROM rc WHERE k IS NOT NULL) r
               ON l.k = r.k),
         js AS (SELECT
                  count(*) FILTER (WHERE cl IS NOT NULL AND cr IS NOT NULL) AS matched_keys,
                  count(*) FILTER (WHERE cl IS NOT NULL AND cr IS NULL) AS left_only_keys,
                  count(*) FILTER (WHERE cl IS NULL AND cr IS NOT NULL) AS right_only_keys,
                  CAST(coalesce(sum(cl * cr), 0) AS BIGINT) AS inner_rows,
                  CAST(max(cl * cr) AS BIGINT) AS max_key_pair_rows
                FROM j)
         SELECT rows_left, rows_right, null_key_rows_left, null_key_rows_right,
           distinct_keys_left, distinct_keys_right, matched_keys,
           left_only_keys, right_only_keys, inner_rows, max_left_mult,
           max_right_mult, max_key_pair_rows,
           CASE WHEN inner_rows > 0 THEN
             round(CAST(max_key_pair_rows AS DOUBLE) * matched_keys / inner_rows, 5)
           END AS skew_ratio
         FROM ls, rs, js""",

    // q120: cuts = round5(quantile_cont) over the FINITE population,
    // clip replayed as the same CASE; NaN ≡ missing → NULL
    "q120_winsorize" ->
      """WITH fin AS (SELECT CAST(value AS DOUBLE) AS x FROM events
                      WHERE value IS NOT NULL AND isfinite(value)),
         c AS (SELECT round(quantile_cont(x, 0.05), 5) AS lo,
                      round(quantile_cont(x, 0.95), 5) AS hi FROM fin)
         SELECT event_id, value,
           CASE WHEN value IS NULL OR isnan(value) THEN NULL
                WHEN CAST(value AS DOUBLE) < lo THEN lo
                WHEN CAST(value AS DOUBLE) > hi THEN hi
                ELSE CAST(value AS DOUBLE) END AS value_w
         FROM events, c""",

    "q109_mad_outliers" ->
      """WITH vx AS (SELECT CAST(value AS DOUBLE) AS x FROM events
                     WHERE value IS NOT NULL AND NOT isnan(value)),
         vfin AS (SELECT x FROM vx WHERE isfinite(x)),
         vs AS (SELECT round(quantile_cont(x, 0.5), 5) AS med FROM vfin),
         vm AS (SELECT round(quantile_cont(abs(x - med), 0.5), 5) AS mad FROM vfin, vs),
         vf AS (SELECT 'value' AS column_name, med, mad,
                  med - 3.0 * 1.4826 * mad AS lo,
                  med + 3.0 * 1.4826 * mad AS hi FROM vs, vm),
         vc AS (SELECT count(*) AS n_values,
                  count(*) FILTER (WHERE x < (SELECT lo FROM vf)
                                      OR x > (SELECT hi FROM vf)) AS n_outliers
                FROM vx),
         ux AS (SELECT CAST(user_id AS DOUBLE) AS x FROM events
                WHERE user_id IS NOT NULL),
         ufin AS (SELECT x FROM ux WHERE isfinite(x)),
         us AS (SELECT round(quantile_cont(x, 0.5), 5) AS med FROM ufin),
         um AS MATERIALIZED (SELECT round(quantile_cont(abs(x - med), 0.5), 5) AS mad FROM ufin, us),
         uf AS (SELECT 'user_id' AS column_name, med, mad,
                  med - 3.0 * 1.4826 * mad AS lo,
                  med + 3.0 * 1.4826 * mad AS hi FROM us, um),
         uc AS (SELECT count(*) AS n_values,
                  count(*) FILTER (WHERE x < (SELECT lo FROM uf)
                                      OR x > (SELECT hi FROM uf)) AS n_outliers
                FROM ux)
         SELECT column_name, med AS median, mad, lo, hi, n_values, n_outliers,
           round(CAST(n_outliers AS DOUBLE) / n_values, 5) AS outlier_ratio
         FROM vf, vc
         UNION ALL
         SELECT column_name, med, mad, lo, hi, n_values, n_outliers,
           round(CAST(n_outliers AS DOUBLE) / n_values, 5)
         FROM uf, uc""",

    // q110: the ECDF walk over per-(column, distinct value) counts —
    // integer cumulative sums, one double division per jump point, max,
    // round once. The same even/odd cohorts as q104.
    "q110_ks_drift" ->
      """WITH e AS (
           SELECT 'l_quantity' AS col, CAST(l_quantity AS DOUBLE) AS v,
             CASE WHEN l_orderkey % 2 = 0 THEN 'r' ELSE 'c' END AS side FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE),
             CASE WHEN l_orderkey % 2 = 0 THEN 'r' ELSE 'c' END FROM lineitem
           UNION ALL
           SELECT 'l_discount', CAST(l_discount AS DOUBLE),
             CASE WHEN l_orderkey % 2 = 0 THEN 'r' ELSE 'c' END FROM lineitem),
         c AS (SELECT col, v,
                 sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS cr,
                 sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS cc
               FROM e WHERE v IS NOT NULL AND NOT isnan(v) GROUP BY 1, 2),
         t AS (SELECT col, CAST(sum(cr) AS BIGINT) AS tr,
                 CAST(sum(cc) AS BIGINT) AS tc FROM c GROUP BY 1),
         cum AS MATERIALIZED (SELECT col,
                   CAST(sum(cr) OVER (PARTITION BY col ORDER BY v) AS BIGINT) AS scr,
                   CAST(sum(cc) OVER (PARTITION BY col ORDER BY v) AS BIGINT) AS scc
                 FROM c),
         d AS (SELECT cum.col,
                 max(abs(CAST(scr AS DOUBLE) / tr - CAST(scc AS DOUBLE) / tc)) AS draw
               FROM cum JOIN t ON cum.col = t.col GROUP BY cum.col)
         SELECT t.col AS column_name, round(d.draw, 5) AS d_stat,
           t.tr AS n_ref, t.tc AS n_cur
         FROM t LEFT JOIN d ON t.col = d.col""",

    // q111: the census over (lang, token) types; ties at the top-k
    // boundary break by token string in both engines (binary order over
    // ascii-lowercase tokens). Langs whose every text is blank survive
    // via the distinct-langs left join.
    "q111_vocab_census" ->
      """WITH toks AS (
           SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
           FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
         types AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         pg AS (SELECT lang, CAST(sum(c) AS BIGINT) AS total_tokens,
                  count(*) AS vocab_size,
                  count(*) FILTER (WHERE c = 1) AS hapax_count
                FROM types GROUP BY 1),
         ranked AS (SELECT lang, c,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY c DESC, tok ASC) AS rnk FROM types),
         tops AS (SELECT lang, CAST(sum(c) AS BIGINT) AS topk
                  FROM ranked WHERE rnk <= 20 GROUP BY 1),
         langs AS (SELECT DISTINCT lang FROM documents)
         SELECT l.lang,
           coalesce(total_tokens, 0) AS total_tokens,
           coalesce(vocab_size, 0) AS vocab_size,
           coalesce(hapax_count, 0) AS hapax_count,
           CASE WHEN coalesce(vocab_size, 0) = 0 THEN NULL
                ELSE round(CAST(hapax_count AS DOUBLE) / vocab_size, 5)
           END AS hapax_ratio,
           CASE WHEN coalesce(total_tokens, 0) = 0 THEN NULL
                ELSE round(CAST(coalesce(topk, 0) AS DOUBLE) / total_tokens, 5)
           END AS topk_coverage
         FROM langs l
         LEFT JOIN pg ON l.lang IS NOT DISTINCT FROM pg.lang
         LEFT JOIN tops ON l.lang IS NOT DISTINCT FROM tops.lang""",

    // q115: the snapshot diff replayed — same %13/%11/%7 construction,
    // FULL OUTER on the key, IS DISTINCT FROM per column in the
    // operator's column order
    "q115_snapshot_diff" ->
      """WITH oldt AS (SELECT * FROM orders WHERE o_orderkey % 13 <> 0),
         newt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 11 <> 0),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             list_filter([
               CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey THEN 'o_custkey' END,
               CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'o_orderstatus' END,
               CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'o_totalprice' END,
               CASE WHEN o.o_orderdate IS DISTINCT FROM n.o_orderdate THEN 'o_orderdate' END,
               CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'o_orderpriority' END
             ], x -> x IS NOT NULL) AS cc
           FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey)
         SELECT o_orderkey,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN len(cc) > 0 THEN 'changed'
                ELSE 'unchanged' END AS change,
           CASE WHEN NOT in_old OR NOT in_new THEN ''
                ELSE array_to_string(cc, ',') END AS changed_cols
         FROM j
         WHERE NOT in_old OR NOT in_new OR len(cc) > 0""",

    // q116: percent_rank per type over non-NULL values; NULL rows keep a
    // NULL score outside the window
    "q116_quantile_normalize" ->
      """SELECT event_id, event_type, value,
           round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 5) AS qnorm
         FROM events WHERE value IS NOT NULL
         UNION ALL
         SELECT event_id, event_type, value, CAST(NULL AS DOUBLE)
         FROM events WHERE value IS NULL""",

    // q114: the A-ES weighted-reservoir replay — key = round(u^(1/w), 9)
    // (the 9-dp quantization keeps a pow() ulp difference from reordering
    // keys), largest keys kept per stratum, ties by id
    "q114_weighted_sample" ->
      """WITH u AS (SELECT doc_id, lang, n_chars,
           list_sum([(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                     * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv
         FROM documents),
         keyed AS (SELECT doc_id, lang, n_chars,
             round(pow(uv, 1.0 / CAST(n_chars AS DOUBLE)), 9) AS ky
           FROM u WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
         r AS (SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY ky DESC, doc_id) AS rnk
               FROM keyed)
         SELECT doc_id, lang, n_chars, CAST(rnk AS BIGINT) AS rank
         FROM r WHERE rnk <= 15""",

    // q112: both md5 uniforms replayed (seed tags ':42' shard,
    // ':43' order), row_number within shard over (order-hash, id)
    "q112_shard_manifest" ->
      """WITH u AS (SELECT doc_id, lang,
           list_sum([(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                     * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS u1,
           list_sum([(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || ':43'), i + 1, 1)) - 1)
                     * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS u2
         FROM documents)
         SELECT doc_id, lang, CAST(floor(u1 * 8) AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY CAST(floor(u1 * 8) AS INTEGER)
             ORDER BY u2 ASC, doc_id ASC) AS INTEGER) AS pos
         FROM u""",

    // q107: the composed dataset card — each section replays its
    // operator's oracle (q62 numeric stats, q76 top-k, q87 equi-width,
    // q103 equi-depth, q104 psi) reshaped into the unified long format
    "q107_dataset_card" ->
      """WITH num AS MATERIALIZED (
           SELECT count(n_chars) AS n_non_null,
             count(*) - count(n_chars) AS n_null,
             min(CAST(n_chars AS DOUBLE)) AS mn, max(CAST(n_chars AS DOUBLE)) AS mx,
             CAST(CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / count(n_chars) AS mean,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p95,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.99) AS p99
           FROM documents),
         num_rows AS MATERIALIZED (
           SELECT 'numeric' AS section, 'n_chars' AS col_name, item,
             CAST(NULL AS VARCHAR) AS value_s, value_d,
             CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
             CAST(NULL AS BIGINT) AS n
           FROM (
             SELECT 'n_non_null' AS item, CAST(n_non_null AS DOUBLE) AS value_d FROM num
             UNION ALL SELECT 'n_null', CAST(n_null AS DOUBLE) FROM num
             UNION ALL SELECT 'min', mn FROM num
             UNION ALL SELECT 'max', mx FROM num
             UNION ALL SELECT 'mean', mean FROM num
             UNION ALL SELECT 'p25', p25 FROM num
             UNION ALL SELECT 'p50', p50 FROM num
             UNION ALL SELECT 'p75', p75 FROM num
             UNION ALL SELECT 'p95', p95 FROM num
             UNION ALL SELECT 'p99', p99 FROM num)),
         pairs AS (
           SELECT 'lang' AS col_name, lang AS value FROM documents
           UNION ALL SELECT 'source', source FROM documents),
         counts AS (SELECT col_name, value, count(*) AS cnt
           FROM pairs GROUP BY 1, 2),
         census AS (
           SELECT col_name,
             count(CASE WHEN value IS NOT NULL THEN 1 END) AS n_distinct,
             CAST(COALESCE(sum(CASE WHEN value IS NULL THEN cnt END), 0) AS BIGINT) AS n_nulls
           FROM counts GROUP BY col_name),
         ranked AS (
           SELECT col_name, value, cnt,
             row_number() OVER (PARTITION BY col_name ORDER BY cnt DESC, value) AS rank
           FROM counts WHERE value IS NOT NULL),
         cat_rows AS (
           SELECT 'categorical' AS section, col_name, CAST(rank AS VARCHAR) AS item,
             value AS value_s, CAST(NULL AS DOUBLE) AS value_d,
             CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi, cnt AS n
           FROM ranked WHERE rank <= 3
           UNION ALL
           SELECT 'categorical', col_name, 'n_distinct', CAST(NULL AS VARCHAR),
             CAST(n_distinct AS DOUBLE), NULL, NULL, CAST(NULL AS BIGINT) FROM census
           UNION ALL
           SELECT 'categorical', col_name, 'n_nulls', CAST(NULL AS VARCHAR),
             CAST(n_nulls AS DOUBLE), NULL, NULL, CAST(NULL AS BIGINT) FROM census),
         hu AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE n_chars IS NOT NULL),
         hs AS (SELECT min(v) AS slo, (max(v) - min(v)) / 10.0 AS w FROM hu),
         hb AS (SELECT CAST(CASE WHEN hs.w = 0 THEN 0
               ELSE least(greatest(floor((hu.v - hs.slo) / hs.w), 0), 9) END AS BIGINT) AS bin,
             hs.slo, hs.w
           FROM hu CROSS JOIN hs),
         hist_rows AS (
           SELECT 'histogram' AS section, 'n_chars' AS col_name,
             CAST(bin AS VARCHAR) AS item, CAST(NULL AS VARCHAR) AS value_s,
             CAST(NULL AS DOUBLE) AS value_d,
             round(slo + bin * w, 5) AS lo, round(slo + (bin + 1) * w, 5) AS hi,
             count(*) AS n
           FROM hb GROUP BY bin, slo, w),
         ec AS (SELECT round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 5) AS c1,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.50), 5) AS c2,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 5) AS c3
           FROM documents),
         eb AS (SELECT CAST(CAST(v >= c1 AS INT) + CAST(v >= c2 AS INT)
               + CAST(v >= c3 AS INT) AS BIGINT) AS bin, c1, c2, c3
           FROM hu CROSS JOIN ec),
         ed_rows AS (
           SELECT 'equidepth' AS section, 'n_chars' AS col_name,
             CAST(bin AS VARCHAR) AS item, CAST(NULL AS VARCHAR) AS value_s,
             CAST(NULL AS DOUBLE) AS value_d,
             CASE bin WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 END AS lo,
             CASE bin WHEN 0 THEN c1 WHEN 1 THEN c2 WHEN 2 THEN c3 END AS hi,
             count(*) AS n
           FROM eb GROUP BY bin, c1, c2, c3),
         psi_val AS (
           SELECT CASE WHEN tr0 = 0 OR tc0 = 0 THEN NULL ELSE psi END AS psi,
             CASE WHEN tr0 = 0 OR tc0 = 0 OR psi IS NULL THEN NULL
                  WHEN psi < 0.1 THEN 'stable'
                  WHEN psi < 0.25 THEN 'moderate'
                  ELSE 'major' END AS drift
           FROM (
             SELECT
               (SELECT count(n_chars) FROM documents WHERE doc_id % 2 = 0) AS tr0,
               (SELECT count(n_chars) FROM documents) AS tc0,
               CAST(CAST(sum(CAST(term AS DECIMAL(18,5))) AS VARCHAR) AS DOUBLE) AS psi
             FROM (
               SELECT round((pc - pr) * ln(pc / pr), 5) AS term FROM (
                 SELECT
                   greatest(CAST(cr AS DOUBLE) / (sum(cr) OVER ()), 0.0001) AS pr,
                   greatest(CAST(cc AS DOUBLE) / (sum(cc) OVER ()), 0.0001) AS pc
                 FROM (
                   SELECT bin,
                     sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS cr,
                     sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS cc
                   FROM (
                     SELECT side,
                       CASE WHEN w = 0 THEN
                           (CASE WHEN v = lo THEN 0 ELSE 9 END)
                         ELSE CAST(least(greatest(floor((v - lo) / w), 0), 9) AS BIGINT)
                       END AS bin
                     FROM (
                       SELECT 'r' AS side, CAST(n_chars AS DOUBLE) AS v
                       FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
                       UNION ALL
                       SELECT 'c', CAST(n_chars AS DOUBLE)
                       FROM documents WHERE n_chars IS NOT NULL)
                     CROSS JOIN (
                       SELECT min(CAST(n_chars AS DOUBLE)) AS lo,
                         (max(CAST(n_chars AS DOUBLE)) - min(CAST(n_chars AS DOUBLE))) / 10 AS w
                       FROM documents WHERE doc_id % 2 = 0))
                   GROUP BY bin))))),
         psi_rows AS (
           SELECT 'psi' AS section, 'n_chars' AS col_name, 'psi' AS item,
             drift AS value_s, psi AS value_d,
             CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
             CAST(NULL AS BIGINT) AS n
           FROM psi_val),
         mstat AS (SELECT round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 5) AS med
           FROM documents),
         mmad AS (SELECT round(quantile_cont(abs(CAST(n_chars AS DOUBLE) - med), 0.5), 5) AS mad
           FROM documents, mstat),
         mfence AS (SELECT med, mad,
             med - 3.0 * 1.4826 * mad AS flo,
             med + 3.0 * 1.4826 * mad AS fhi
           FROM mstat, mmad),
         mcount AS (SELECT count(*) AS nv,
             count(*) FILTER (WHERE x < (SELECT flo FROM mfence)
                                 OR x > (SELECT fhi FROM mfence)) AS nout
           FROM (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
                 WHERE n_chars IS NOT NULL)),
         mad_rows AS (
           SELECT 'outliers' AS section, 'n_chars' AS col_name, 'median' AS item,
             CAST(NULL AS VARCHAR) AS value_s, med AS value_d,
             CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
             CAST(NULL AS BIGINT) AS n
           FROM mfence
           UNION ALL
           SELECT 'outliers', 'n_chars', 'mad', CAST(NULL AS VARCHAR), mad,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
           FROM mfence
           UNION ALL
           SELECT 'outliers', 'n_chars', 'fences', CAST(NULL AS VARCHAR),
             round(CAST(nout AS DOUBLE) / nv, 5), flo, fhi, nout
           FROM mfence, mcount)
         SELECT * FROM num_rows
         UNION ALL SELECT * FROM cat_rows
         UNION ALL SELECT * FROM hist_rows
         UNION ALL SELECT * FROM ed_rows
         UNION ALL SELECT * FROM psi_rows
         UNION ALL SELECT * FROM mad_rows""",

    "q01_agg_summary" ->
      """SELECT l_returnflag, l_linestatus,
         count(*) AS count_rows,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q02_dedup_keep_latest" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) t WHERE rn = 1""",

    "q03_join_enrich" ->
      """SELECT n_name, r_name, count(*) AS num_orders,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name, r_name""",

    "q04_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q05_semi_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",

    "q06_union_views" ->
      """SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment, 'segA' AS source_view
         FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT c_custkey, c_name, CAST(NULL AS DOUBLE), c_mktsegment, 'segB'
         FROM customer WHERE c_mktsegment = 'MACHINERY'""",

    "q07_kv_pivot" ->
      """SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
         FROM events GROUP BY user_id""",

    "q08_explode_count" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
         GROUP BY word""",

    "q09_case_bucket" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 'small'
                     WHEN l_quantity < 25 THEN 'medium'
                     WHEN l_quantity < 40 THEN 'large'
                     ELSE 'xlarge' END AS qty_group,
         count(*) AS n_items,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY 1""",

    "q10_date_derive" ->
      """SELECT o_orderkey,
         strftime(o_orderdate, '%b-%Y') AS month_year,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month_year_sort,
         CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS BIGINT) AS is_urgent,
         CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS BIGINT) AS age_days
         FROM orders""",

    "q11_multiformat_dates" ->
      """WITH raw AS (
           SELECT o_orderkey,
             CASE CAST(o_orderkey % 3 AS INT)
               WHEN 0 THEN strftime(o_orderdate, '%d %b,%Y')
               WHEN 1 THEN strftime(o_orderdate, '%Y/%m/%d')
               ELSE strftime(o_orderdate, '%m-%d-%Y') END AS raw_date
           FROM orders)
         SELECT o_orderkey, raw_date,
           COALESCE(try_strptime(raw_date, '%d %b,%Y'),
                    try_strptime(raw_date, '%Y/%m/%d'),
                    try_strptime(raw_date, '%m-%d-%Y')) AS parsed
         FROM raw""",

    "q12_summary_counts" ->
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month_year_sort,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
         CAST(sum(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_value,
         count(*) AS n_total
         FROM orders GROUP BY 1""",

    "q13_completeness" ->
      """SELECT
         CAST(count(event_id) AS DOUBLE) / count(*) AS event_id_complete,
         CAST(count(ts) AS DOUBLE) / count(*) AS ts_complete,
         CAST(count(user_id) AS DOUBLE) / count(*) AS user_id_complete,
         CAST(count(event_type) AS DOUBLE) / count(*) AS event_type_complete,
         CAST(count(value) AS DOUBLE) / count(*) AS value_complete,
         CAST(count(props) AS DOUBLE) / count(*) AS props_complete
         FROM events""",

    "q14_json_extract" ->
      """SELECT event_type,
         CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k, count(*) AS n
         FROM (SELECT event_type, CAST(props->>'$.k' AS INTEGER) AS k FROM events) t
         GROUP BY event_type""",

    "q15_window_nth" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) t WHERE rn = 2""",

    "q16_manual_fix" ->
      """SELECT c_custkey,
         CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS c_acctbal,
         CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'AUTO'
              WHEN c_mktsegment = 'HOUSEHOLD' THEN 'HOME'
              ELSE c_mktsegment END AS c_mktsegment
         FROM customer""",

    "q17_topk_per_group" ->
      """SELECT p_brand, p_partkey, p_retailprice, rank FROM (
           SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rank
           FROM part) t WHERE rank <= 3""",

    "q18_validate_ranges" ->
      """SELECT event_id, user_id, value,
         CASE WHEN value IS NULL THEN 'null_value'
              WHEN value < 10.0 THEN 'too_low'
              WHEN value > 990.0 THEN 'too_high' END AS reason
         FROM events
         WHERE value IS NULL OR value < 10.0 OR value > 990.0""",

    "q19_merge_upsert" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
           SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM (
             SELECT * FROM events WHERE event_id % 2 = 0
             UNION ALL
             SELECT * FROM events WHERE user_id % 3 = 0) u) t
         WHERE rn = 1""",

    "q20_label_recode" ->
      """SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'AUTO'
                     WHEN c_mktsegment = 'HOUSEHOLD' THEN 'HOME'
                     ELSE c_mktsegment END AS segment,
         count(*) AS n
         FROM customer GROUP BY 1""",

    "q21_dedup_exact_text" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, count(*) AS dup_count
         FROM documents GROUP BY md5(text)""",

    "q22_token_count" ->
      """SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens_ws,
         CAST(ceil(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) / 4.0)
            + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS n_tokens_bpe
         FROM documents""",

    "q23_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text,
           round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 4) AS punct_ratio,
           round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
             / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4) AS stopword_ratio
           FROM documents)
         SELECT doc_id, punct_ratio, stopword_ratio,
           ${qualityScalarSql("text")} AS quality
         FROM t""",

    "q24_lang_id" ->
      """WITH scores AS (
           SELECT len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                    x -> x IN ('the','a','fast','slow'))) AS s_en,
                  len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                    x -> x IN ('table','scan','row'))) AS s_de,
                  len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                    x -> x IN ('data','query','value'))) AS s_es,
                  len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                    x -> x IN ('spark','join','merge'))) AS s_zh
           FROM documents),
         pred AS (
           SELECT CASE
             WHEN greatest(s_en, s_de, s_es, s_zh) = 0 THEN 'und'
             WHEN s_zh >= s_en AND s_zh >= s_de AND s_zh >= s_es THEN 'zh'
             WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
             WHEN s_en >= s_de THEN 'en'
             ELSE 'de' END AS lang_pred
           FROM scores)
         SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred""",

    "q25_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents""",

    "q26_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
         sh AS (SELECT doc_id,
                  unnest(list_distinct([array_to_string(t[i:i+6], ' ')
                                        for i in range(1, greatest(len(t) - 6, 0) + 1)])) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) AS jaccard
         FROM common
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.2""",

    "q27_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
         sh AS (SELECT doc_id,
                  unnest(list_distinct([array_to_string(t[i:i+4], ' ')
                                        for i in range(1, greatest(len(t) - 4, 0) + 1)])) AS s
                FROM toks),
         mins AS (SELECT doc_id,
             min(md5('0:' || s)) AS m0,  min(md5('1:' || s)) AS m1,
             min(md5('2:' || s)) AS m2,  min(md5('3:' || s)) AS m3,
             min(md5('4:' || s)) AS m4,  min(md5('5:' || s)) AS m5,
             min(md5('6:' || s)) AS m6,  min(md5('7:' || s)) AS m7,
             min(md5('8:' || s)) AS m8,  min(md5('9:' || s)) AS m9,
             min(md5('10:' || s)) AS m10, min(md5('11:' || s)) AS m11,
             min(md5('12:' || s)) AS m12, min(md5('13:' || s)) AS m13,
             min(md5('14:' || s)) AS m14, min(md5('15:' || s)) AS m15
           FROM sh GROUP BY doc_id)
         SELECT doc_id,
           md5(m0 || '|' || m1 || '|' || m2 || '|' || m3) AS b0,
           md5(m4 || '|' || m5 || '|' || m6 || '|' || m7) AS b1,
           md5(m8 || '|' || m9 || '|' || m10 || '|' || m11) AS b2,
           md5(m12 || '|' || m13 || '|' || m14 || '|' || m15) AS b3
         FROM mins""",

    // q32: the Spark side ENCODES a solid-color PNG per row and DECODES it
    // back through javax.imageio; these formulas are the synth parameters,
    // so a hash match proves the real decode read the container correctly
    "q32_multimodal_meta" ->
      """SELECT c_custkey AS media_id, 'image' AS kind,
         CAST((c_custkey % 4) * 16 + 32 AS INTEGER) AS width,
         CAST((c_custkey % 3) * 16 + 32 AS INTEGER) AS height,
         CAST(c_custkey % 256 AS INTEGER) AS mean_r,
         CAST((c_custkey * 7) % 256 AS INTEGER) AS mean_g,
         CAST((c_custkey * 13) % 256 AS INTEGER) AS mean_b
         FROM customer""",

    // q150: replays the audio synthesis FORMULAS (samples never leave
    // Spark; if the WAV container round-trip is broken the measured
    // stats can't match these closed forms)
    "q150_audio_meta" ->
      """WITH a AS (SELECT c_custkey,
             CAST((c_custkey % 4) * 160 + 320 AS INTEGER) AS n,
             [abs((c_custkey * 31 + t * 7919) % 65536 - 32768)
              for t in range(0, CAST((c_custkey % 4) * 160 + 320 AS INTEGER))] AS s
           FROM customer)
         SELECT c_custkey AS media_id, 'audio' AS kind,
           CAST(8000 + (c_custkey % 3) * 4000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(s) // n AS BIGINT) AS mean_abs,
           CAST(list_max(s) AS INTEGER) AS peak
         FROM a""",

    // q151: replays the per-frame color/dim formulas over the sampled
    // frame indexes — matching requires the codec to decode frame f out
    // of the GIF container, not frame 0
    "q151_video_frames" ->
      """WITH v AS (SELECT c_custkey AS media_id,
             CAST((c_custkey % 6) + 2 AS INTEGER) AS nf,
             CAST((c_custkey % 4) * 16 + 32 AS INTEGER) AS w,
             CAST((c_custkey % 3) * 16 + 32 AS INTEGER) AS h
           FROM customer WHERE c_custkey % 5 = 0),
         f AS (SELECT media_id, w, h,
                 CAST(unnest(range(0, nf, 2)) AS INTEGER) AS frame_no
               FROM v)
         SELECT media_id, frame_no, w AS width, h AS height,
           CAST((media_id + 17 * frame_no) % 256 AS INTEGER) AS mean_r,
           CAST((media_id * 7 + 29 * frame_no) % 256 AS INTEGER) AS mean_g,
           CAST((media_id * 13 + 41 * frame_no) % 256 AS INTEGER) AS mean_b
         FROM f""",

    "q34_day_slice" ->
      """SELECT event_id, ts, user_id, event_type FROM (
           SELECT event_id, ts, user_id, event_type,
             min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS base_date
           FROM events) t
         WHERE date_diff('day', base_date, CAST(ts AS DATE)) = 1""",

    "q35_mcl_explode" ->
      """WITH exploded AS (
           SELECT trim(u) AS raw_choice
           FROM (
             SELECT unnest(string_split(
               concat_ws(',', o_orderstatus, o_orderpriority,
                 CASE WHEN o_totalprice > 150000.0 THEN 'HV' ELSE '' END), ',')) AS u
             FROM orders) s
           WHERE length(trim(u)) > 0)
         SELECT CASE raw_choice WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Finished'
                  WHEN 'P' THEN 'Pending' ELSE raw_choice END AS choice,
           count(*) AS n
         FROM exploded GROUP BY 1""",

    "q36_completeness_nonempty" ->
      """SELECT
         CAST(count(CASE WHEN text IS NOT NULL AND length(trim(text)) > 0 THEN 1 END) AS DOUBLE) / count(*) AS text_complete,
         CAST(count(CASE WHEN lang IS NOT NULL AND length(trim(lang)) > 0 THEN 1 END) AS DOUBLE) / count(*) AS lang_complete,
         CAST(count(CASE WHEN sb IS NOT NULL AND length(trim(sb)) > 0 THEN 1 END) AS DOUBLE) / count(*) AS source_blanked_complete
         FROM (SELECT text, lang,
                 CASE WHEN doc_id % 7 = 0 THEN '' ELSE source END AS sb
               FROM documents) t""",

    "q38_salted_join" ->
      """WITH li AS (
           SELECT *, CASE WHEN l_orderkey % 4 = 0 THEN 0
                          ELSE l_orderkey % 100 END AS hot_key
           FROM lineitem)
         SELECT n_name, count(*) AS n_lines,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
         FROM li JOIN nation ON hot_key = n_nationkey
         GROUP BY n_name""",

    "q39_dedup_key_prefix" ->
      """SELECT event_id, user_id, unique_key FROM (
           SELECT event_id, user_id, md5(CAST(event_id AS VARCHAR)) AS unique_key,
             row_number() OVER (
               PARTITION BY substring(md5(CAST(event_id AS VARCHAR)), 1, 2), user_id
               ORDER BY ts, event_id) AS rn
           FROM events) t WHERE rn = 1""",

    "q41_convenience_view" ->
      """WITH o AS (
           SELECT *, CASE WHEN o_orderkey % 11 = 0 THEN 'NaT'
                          WHEN o_orderkey % 13 = 0 THEN 'Unknown'
                          ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw_dt
           FROM orders)
         SELECT o_orderkey AS uid,
           CAST(CASE WHEN raw_dt IN ('NaT','NaN','nan') OR raw_dt LIKE 'Unk%' THEN NULL
                ELSE CAST(raw_dt AS DATE) END AS TIMESTAMP) AS admission_date,
           o_orderpriority AS priority,
           CASE WHEN o_orderstatus IN ('NaT','NaN','nan') OR o_orderstatus LIKE 'Unk%' THEN NULL
                ELSE o_orderstatus END AS status
         FROM o""",

    "q40_windowed_counts" ->
      """SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start, event_type,
         count(*) AS n_total,
         CAST(sum(CASE WHEN value > 500.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
         FROM events GROUP BY 1, 2""",

    "q42_key_discovery" ->
      """WITH o AS (SELECT concat('{"status": "', o_orderstatus, '"',
           CASE WHEN o_orderkey % 3 = 0 THEN concat(', "priority": "', o_orderpriority, '"') ELSE '' END,
           CASE WHEN o_orderkey % 5 = 0 THEN concat(', "price": ', CAST(o_totalprice AS VARCHAR)) ELSE '' END,
           '}') AS form_json FROM orders)
         SELECT key, count(*) AS n
         FROM (SELECT unnest(json_keys(form_json)) AS key FROM o) t
         GROUP BY key""",

    "q43_key_regen" ->
      """WITH e AS (SELECT event_id, ts, event_type,
           CASE WHEN user_id % 7 = 0 THEN NULL ELSE CAST(user_id AS VARCHAR) END AS uid
           FROM events),
         c AS (SELECT uid AS cu, count(DISTINCT event_type) AS nv
               FROM e WHERE uid IS NOT NULL GROUP BY uid)
         SELECT event_id, uid,
           CASE WHEN uid IS NULL THEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
                WHEN nv > 1 THEN concat(uid, '#', strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'))
                ELSE uid END AS unique_key
         FROM e LEFT JOIN c ON uid = cu""",

    "q44_gated_date_cast" ->
      """WITH o AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 15 = 0 THEN 'garbage' ELSE strftime(o_orderdate, '%Y-%m-%d') END AS good_raw,
           CASE WHEN o_orderkey % 2 = 0 THEN 'garbage' ELSE strftime(o_orderdate, '%Y-%m-%d') END AS bad_dt
           FROM orders)
         SELECT o_orderkey, try_strptime(good_raw, '%Y-%m-%d') AS good_dt, bad_dt FROM o""",

    "q45_validation_rules" ->
      """SELECT o_orderkey, col_name, code, offending_value FROM (
           SELECT o_orderkey, 'o_totalprice' AS col_name, 'price_low' AS code,
             CAST(o_totalprice AS VARCHAR) AS offending_value
           FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice < 10000.0
           UNION ALL
           SELECT o_orderkey, 'o_totalprice', 'price_high', CAST(o_totalprice AS VARCHAR)
           FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 400000.0
           UNION ALL
           SELECT o_orderkey, 'o_orderpriority', 'odd_priority', o_orderpriority
           FROM orders WHERE o_orderpriority IS NOT NULL
             AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM')
           UNION ALL
           SELECT o_orderkey, 'o_orderstatus', 'bad_status', o_orderstatus
           FROM orders WHERE o_orderstatus IS NOT NULL
             AND NOT regexp_matches(o_orderstatus, '^[A-Z]$')
         ) t""",

    // session_window semantics: a new session starts when the exact-micros
    // gap is >= the window gap (half-open [ts, ts+gap) windows); the
    // session END is last event + gap, unlike q33's max(ts)
    "q46_session_window" ->
      """WITH flagged AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu,
             CASE WHEN lag(ts) OVER w IS NULL THEN 0
                  WHEN epoch_us(CAST(ts AS TIMESTAMP))
                     - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) >= 1800000000 THEN 1
                  ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         idx AS (
           SELECT user_id, tsu,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsu
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si
           FROM flagged)
         SELECT user_id, min(tsu) AS session_start,
           max(tsu) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
         FROM idx GROUP BY user_id, si""",

    "q33_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL THEN 0
                  WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
                  ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         idx AS (
           SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM flagged)
         SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
         FROM idx GROUP BY user_id, session_idx""",

    "q47_fuzzy_recode" -> q47Sql,

    // mixed-shape MCL discovery: the list shape counts $.values per entry,
    // the dict shape the label/value arrays under each key; name rule
    // (LIKE '%Oth' / AdmReason) only fires for keys carrying >= 1 value
    "q48_mcl_discovery" ->
      """WITH o AS (
           SELECT CASE WHEN o_orderkey % 2 = 0 THEN
             concat('[{"key": "Status", "values": [{"value": "', o_orderstatus, '"}]}, {"key": "DiagOth", "values": [{"value": "free"}]}',
               CASE WHEN o_orderkey % 6 = 0 THEN ', {"key": "Diag", "values": [{"value": "A"}, {"value": "B"}]}'
                    ELSE ', {"key": "Diag", "values": [{"value": "A"}]}' END, ']')
           ELSE
             concat('{"Status": {"values": {"value": ["', o_orderstatus, '"], "label": ["s"]}}, "AdmReason": {"values": {"value": ["R"], "label": ["Reason"]}}',
               CASE WHEN o_orderkey % 5 = 0 THEN ', "Diag": {"values": {"value": ["A","B"], "label": ["La","Lb"]}}' ELSE '' END, '}')
           END AS entries FROM orders
         ),
         kv AS (
           SELECT unnest(CASE WHEN substr(entries, 1, 1) = '['
             THEN [{'key': json_extract_string(e, '$.key'), 'nv': CAST(json_array_length(e, '$.values') AS INT)} for e in json_extract(entries, '$[*]')]
             ELSE [{'key': k, 'nv': CAST(greatest(
                 coalesce(json_array_length(entries, '$."' || k || '".values.label'), 0),
                 coalesce(json_array_length(entries, '$."' || k || '".values.value'), 0)) AS INT)} for k in json_keys(entries)]
             END, recursive := true)
           FROM o
         )
         SELECT key, CAST(max(nv) AS BIGINT) AS max_vals,
           (max(nv) > 1 OR (max(nv) >= 1 AND (key LIKE '%Oth' OR key = 'AdmReason'))) AS is_mcl
         FROM kv GROUP BY key""",

    // the exploded side reduces to one row per order's label list entry;
    // the direct side is a straight projection — the UNION ALL is the view
    "q49_combined_diagnoses" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS uid, o_orderstatus AS diagnosis FROM orders
         UNION ALL
         SELECT CAST(o_orderkey AS VARCHAR), o_orderpriority FROM orders WHERE o_orderkey % 3 = 0
         UNION ALL
         SELECT CAST(c_custkey AS VARCHAR), c_mktsegment FROM customer""",

    // replicates the rules fromFieldInfo compiles for q50's metadata, in
    // sorted-key order (adm, price, prio) with the reference's regexes;
    // range checks go through TRY_CAST like Spark's string→double coercion
    "q50_metadata_rules" ->
      """WITH w AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                WHEN o_orderkey % 13 = 0 THEN 'oops'
                ELSE CAST(o_totalprice AS VARCHAR) END AS price_value,
           CASE WHEN o_orderkey % 11 = 0 THEN 'NaT'
                ELSE strftime(o_orderdate, '%Y-%m-%d') END AS adm_value,
           o_orderpriority AS prio_value
           FROM orders)
         SELECT o_orderkey, col_name, code, offending_value FROM (
           SELECT o_orderkey, 'adm_value' AS col_name, 'adm_bad_datetime' AS code,
             adm_value AS offending_value
           FROM w WHERE adm_value IS NOT NULL
             AND NOT regexp_matches(adm_value, '^\s*$|^\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}(:\d{2}(\.\d+)?)?(Z|[+-]\d{2}:\d{2})?)?$')
           UNION ALL
           SELECT o_orderkey, 'price_value', 'price_required', price_value
           FROM w WHERE price_value IS NULL
             OR trim(price_value) IN ('', 'nan', '<NA>', 'None', 'null', 'NAT', 'NaT')
           UNION ALL
           SELECT o_orderkey, 'price_value', 'price_below_min', price_value
           FROM w WHERE TRY_CAST(price_value AS DOUBLE) IS NOT NULL
             AND NOT isnan(TRY_CAST(price_value AS DOUBLE))
             AND TRY_CAST(price_value AS DOUBLE) < 50000.0
           UNION ALL
           SELECT o_orderkey, 'price_value', 'price_above_max', price_value
           FROM w WHERE TRY_CAST(price_value AS DOUBLE) IS NOT NULL
             AND NOT isnan(TRY_CAST(price_value AS DOUBLE))
             AND TRY_CAST(price_value AS DOUBLE) > 400000.0
           UNION ALL
           SELECT o_orderkey, 'price_value', 'price_non_numeric', price_value
           FROM w WHERE price_value IS NOT NULL
             AND NOT regexp_matches(price_value, '^\s*$|^-?\d+(\.\d+)?([eE][+-]?\d+)?$')
           UNION ALL
           SELECT o_orderkey, 'prio_value', 'prio_bad_value', prio_value
           FROM w WHERE prio_value IS NOT NULL
             AND prio_value NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
         ) t""",

    // q26's exact pair graph wrapped in a recursive min-label closure:
    // reach(id, lbl) enumerates every label reachable over the symmetric
    // edge list; min per node = the component minimum
    "q51_neardup_components" ->
      s"""WITH RECURSIVE ${componentCtes()}
         SELECT id AS doc_id, min(lbl) AS comp FROM reach GROUP BY id""",

    "q70_dedup_keep_best" ->
      s"""WITH RECURSIVE ${componentCtes()},
         comps AS (SELECT id AS doc_id, min(lbl) AS comp FROM reach GROUP BY id),
         qual AS (SELECT doc_id, ${qualityScalarSql("text")} AS quality FROM documents),
         labeled AS (
           SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp, q.quality
           FROM documents d
           LEFT JOIN comps c ON c.doc_id = d.doc_id
           JOIN qual q ON q.doc_id = d.doc_id),
         ranked AS (
           SELECT comp, doc_id, quality,
             row_number() OVER (PARTITION BY comp ORDER BY quality DESC, doc_id) AS rn
           FROM labeled)
         SELECT comp, doc_id AS kept_doc_id, quality FROM ranked WHERE rn = 1""",

    "q52_token_budget_sample" ->
      """WITH d AS (SELECT doc_id, lang,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok
           FROM documents),
         c AS (SELECT doc_id, lang, n_tok,
           sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
         SELECT doc_id, lang, n_tok FROM c WHERE cum - n_tok < 2000""",

    // patterns live in the Java-regex ∩ RE2 common subset; DuckDB needs
    // the explicit 'g' flag where Spark replaces all matches by default
    "q53_clean_redact" ->
      """WITH dirty AS (SELECT doc_id,
           concat('<p class="x">', text, '</p> contact: user',
                  CAST(doc_id AS VARCHAR), '@example.com tel: +263 771 23 45 67') AS raw
           FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(
               trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[+(]?[0-9][0-9()\- ]{5,}[0-9]', '<PHONE>', 'g') AS clean
         FROM dirty""",

    "q54_extract_years" ->
      """WITH c AS (SELECT c_custkey, CAST(c_custkey % 80 AS VARCHAR) AS num FROM customer),
         r AS (SELECT c_custkey,
           CASE WHEN c_custkey % 5 = 0 THEN num || ' years'
                WHEN c_custkey % 5 = 1 THEN 'aged ' || num || '.5 years old'
                WHEN c_custkey % 5 = 2 THEN num
                WHEN c_custkey % 5 = 3 THEN 'unknown'
                ELSE num || ' YEARS' END AS age_raw FROM c)
         SELECT c_custkey, age_raw,
           CAST(floor(CAST(coalesce(
             nullif(regexp_extract(trim(age_raw), '(?i)^(\d+(\.\d+)?)\s*(years?)?$', 1), ''),
             nullif(regexp_extract(trim(age_raw), '(?i)(\d+(\.\d+)?)\s*years?', 1), '')) AS DOUBLE)) AS INTEGER) AS years
         FROM r""",

    "q55_typed_coercion" ->
      """WITH w AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 13 = 0 THEN 'oops'
                ELSE CAST(o_totalprice AS VARCHAR) END AS price_value,
           CASE WHEN o_orderkey % 4 = 0 THEN 'Y'
                WHEN o_orderkey % 4 = 1 THEN 'no'
                WHEN o_orderkey % 4 = 2 THEN '1'
                ELSE 'maybe' END AS flag_value,
           CASE WHEN o_orderkey % 11 = 0 THEN 'NaT'
                ELSE strftime(o_orderdate, '%Y-%m-%d') END AS adm_value,
           o_orderpriority AS mode_value
           FROM orders)
         SELECT o_orderkey,
           TRY_CAST(price_value AS DOUBLE) AS price_value,
           CASE WHEN lower(trim(flag_value)) IN ('y', 'yes', 'true', '1') THEN true
                ELSE false END AS flag_value,
           try_strptime(adm_value, '%Y-%m-%d') AS adm_value,
           mode_value
         FROM w""",

    // best-match resolution replicated literally: all candidates scored
    // (TRY_CAST + NOT isnan = the Spark comparability gate), row_number
    // over (score DESC, linenumber ASC) = graft_min_by(payload,
    // struct(-score, key)); contributions sum left-to-right like the
    // Scala reduce, so the doubles are bit-identical
    "q56_best_match_join" ->
      """WITH adm AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE CAST((o_orderkey * 13) % 97 AS VARCHAR) END AS adm_ofc,
           CASE WHEN o_orderkey % 7 = 0 THEN 'unknown' ELSE CAST((o_orderkey * 7) % 45 AS VARCHAR) END AS adm_gest,
           CASE WHEN o_orderkey % 7 = 0 THEN 'n/a' ELSE CAST((o_orderkey % 30) * 100 + 1000 AS VARCHAR) END AS adm_bw
           FROM orders),
         dis AS (SELECT l_orderkey AS o_orderkey, l_linenumber,
           CASE WHEN l_suppkey % 3 = 0 THEN NULL ELSE CAST(l_partkey % 97 AS VARCHAR) END AS dis_ofc,
           CAST(l_suppkey % 45 AS VARCHAR) AS dis_gest,
           CAST((l_partkey % 30) * 100 + 1000 AS VARCHAR) AS dis_bw
           FROM lineitem WHERE l_quantity < 30),
         j AS (SELECT a.o_orderkey, a.adm_ofc, a.adm_gest, a.adm_bw,
                      d.l_linenumber, d.dis_ofc, d.dis_gest, d.dis_bw
               FROM adm a LEFT JOIN dis d ON a.o_orderkey = d.o_orderkey),
         c AS (SELECT *,
           (TRY_CAST(adm_ofc AS DOUBLE) IS NOT NULL AND NOT isnan(TRY_CAST(adm_ofc AS DOUBLE))
            AND TRY_CAST(dis_ofc AS DOUBLE) IS NOT NULL AND NOT isnan(TRY_CAST(dis_ofc AS DOUBLE))) AS ok1,
           (TRY_CAST(adm_gest AS DOUBLE) IS NOT NULL AND NOT isnan(TRY_CAST(adm_gest AS DOUBLE))
            AND TRY_CAST(dis_gest AS DOUBLE) IS NOT NULL AND NOT isnan(TRY_CAST(dis_gest AS DOUBLE))) AS ok2,
           (TRY_CAST(adm_bw AS DOUBLE) IS NOT NULL AND NOT isnan(TRY_CAST(adm_bw AS DOUBLE))
            AND TRY_CAST(dis_bw AS DOUBLE) IS NOT NULL AND NOT isnan(TRY_CAST(dis_bw AS DOUBLE))) AS ok3
           FROM j),
         s AS (SELECT o_orderkey, l_linenumber,
           CASE WHEN (CASE WHEN ok1 THEN 1 ELSE 0 END + CASE WHEN ok2 THEN 1 ELSE 0 END
                      + CASE WHEN ok3 THEN 1 ELSE 0 END) = 0 THEN -1.0
           ELSE (CASE WHEN ok1 THEN greatest(0.0, 10.0 - abs(TRY_CAST(adm_ofc AS DOUBLE) - TRY_CAST(dis_ofc AS DOUBLE)) / 1.0) ELSE 0.0 END
               + CASE WHEN ok2 THEN greatest(0.0, 10.0 - abs(TRY_CAST(adm_gest AS DOUBLE) - TRY_CAST(dis_gest AS DOUBLE)) / 1.0) ELSE 0.0 END
               + CASE WHEN ok3 THEN greatest(0.0, 5.0 - abs(TRY_CAST(adm_bw AS DOUBLE) - TRY_CAST(dis_bw AS DOUBLE)) / 500.0) ELSE 0.0 END)
           END AS score FROM c),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                 ORDER BY score DESC, (l_linenumber IS NULL), l_linenumber) AS rn FROM s)
       SELECT o_orderkey, CAST(l_linenumber AS BIGINT) AS best_line,
              round(score, 4) AS match_score
       FROM r WHERE rn = 1""",

    // the flag family is CASE WHEN ... THEN 1 END (1-or-NULL, no ELSE):
    // a NULL label/weight yields NULL flags in both engines, and the
    // premature flag's TRY_CAST gate nulls on garbage instead of firing
    "q57_outcome_flags" ->
      """WITH b AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN 'NND less than 24 hrs old'
                WHEN o_orderkey % 5 = 1 THEN 'Discharged'
                WHEN o_orderkey % 5 = 2 THEN 'Death (at MORE than 24 hrs of age)'
                WHEN o_orderkey % 5 = 3 THEN NULL
                ELSE 'Transferred to other hospital' END AS lbl,
           CASE WHEN o_orderkey % 9 = 0 THEN 'oops'
                ELSE CAST((o_orderkey % 40) * 100 AS VARCHAR) END AS bw,
           CASE WHEN o_orderkey % 7 = 0 THEN 'Hypothermia'
                ELSE 'Normothermia' END AS th
           FROM orders)
         SELECT o_orderkey,
           CASE WHEN (lbl LIKE '%Death%' OR lbl LIKE '%Died%'
                      OR lbl LIKE '%NND%' OR lbl LIKE '%BID%') THEN 1 END AS death_count,
           CASE WHEN lbl IN ('Death (at LESS than 24 hrs of age)', 'NND less than 24 hrs old') THEN 1 END AS death_lt_24hrs_count,
           CASE WHEN lbl IN ('Death (at MORE than 24 hrs of age)', 'NND more than 24 hrs old') THEN 1 END AS death_gt_24hrs_count,
           CASE WHEN lbl = 'Discharged' THEN 1 END AS discharge_count,
           CASE WHEN lbl = 'Transferred to other hospital' THEN 1 END AS transferred_out_count,
           CASE WHEN lbl = 'Absconded' THEN 1 END AS absconded_count,
           CASE WHEN lbl IS NOT NULL THEN 1 END AS neo_tree_outcome_count,
           CASE WHEN (NOT isnan(TRY_CAST(bw AS DOUBLE)) AND TRY_CAST(bw AS DOUBLE) < 2500.0) THEN 1 END AS premature_count,
           CASE WHEN th = 'Hypothermia' THEN 1 END AS hypothermia_count
         FROM b""",

    "q58_maternal_summary" ->
      """WITH b AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN NULL
                ELSE CAST(o_orderkey % 50 AS DOUBLE) END AS gest,
           CASE WHEN o_orderkey % 13 = 0 THEN NULL
                ELSE CAST((o_orderkey % 45) * 100 AS DOUBLE) END AS bwt,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderdate END AS adm,
           o_orderpriority FROM orders)
         SELECT o_orderkey AS uid, CAST(adm AS TIMESTAMP) AS date_of_admission,
           o_orderpriority AS neonate_outcome,
           gest AS gestation, bwt AS birth_weight,
           CASE WHEN adm IS NOT NULL THEN 1 END AS birth_count,
           CASE WHEN gest IS NULL THEN 'Unknown'
                WHEN gest < 28 THEN '<28wks'
                WHEN gest < 32 THEN '28-32wks'
                WHEN gest < 34 THEN '32-34wks'
                WHEN gest < 37 THEN '34-36wks'
                WHEN gest < 42 THEN 'Term'
                ELSE 'Post Term' END AS gestation_group,
           CASE WHEN gest IS NULL THEN 7
                WHEN gest < 28 THEN 1
                WHEN gest < 32 THEN 2
                WHEN gest < 34 THEN 3
                WHEN gest < 37 THEN 4
                WHEN gest < 42 THEN 5
                ELSE 6 END AS gestation_group_sort,
           CASE WHEN bwt IS NULL THEN 'Unknown'
                WHEN bwt < 1000 THEN '<1000g'
                WHEN bwt < 1500 THEN '1000-1500g'
                WHEN bwt < 2500 THEN '1500-2500g'
                WHEN bwt < 3500 THEN '2500-3500g'
                WHEN bwt < 4000 THEN '3500-4000g'
                ELSE '>4000g' END AS birth_weight_group,
           CASE WHEN bwt IS NULL THEN 7
                WHEN bwt < 1000 THEN 1
                WHEN bwt < 1500 THEN 2
                WHEN bwt < 2500 THEN 3
                WHEN bwt < 3500 THEN 4
                WHEN bwt < 4000 THEN 5
                ELSE 6 END AS birth_weight_group_sort
         FROM b""",

    "q59_decontaminate" ->
      """WITH toks AS (SELECT doc_id, source,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
         sh AS (SELECT doc_id, source,
                  unnest(list_distinct([array_to_string(t[i:i+3], ' ')
                                        for i in range(1, greatest(len(t) - 3, 0) + 1)])) AS s
                FROM toks),
         bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
         SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM sh a JOIN bench b ON a.s = b.s
         WHERE a.source <> 'src0'
         GROUP BY 1
         HAVING count(*) >= 1""",

    "q60_repetition_profile" ->
      """WITH toks AS (SELECT doc_id,
                  CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
                FROM documents),
         tc AS (SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id,
                        unnest(CASE WHEN len(t) = 0 THEN [NULL] ELSE t END) AS tok
                      FROM toks) GROUP BY 1, 2),
         tp AS (SELECT doc_id,
                  coalesce(CAST(max(CASE WHEN tok IS NOT NULL THEN c END) AS DOUBLE)
                    / CAST(sum(CASE WHEN tok IS NOT NULL THEN c END) AS DOUBLE), 0.0)
                    AS top_token_frac,
                  CAST(coalesce(sum(CASE WHEN tok IS NOT NULL THEN c END), 0) AS BIGINT)
                    AS n_tokens
                FROM tc GROUP BY 1),
         gc AS (SELECT doc_id, g, count(*) AS c
                FROM (SELECT doc_id,
                        unnest([array_to_string(t[i:i+2], ' ')
                                for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS g
                      FROM toks) GROUP BY 1, 2),
         gp AS (SELECT doc_id,
                  CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_ngram_frac
                FROM gc GROUP BY 1)
         SELECT tp.doc_id, n_tokens, top_token_frac,
           coalesce(dup_ngram_frac, 0.0) AS dup_ngram_frac
         FROM tp LEFT JOIN gp ON tp.doc_id = gp.doc_id""",

    "q61_sequence_pack" ->
      """WITH d AS (SELECT doc_id, lang,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok
           FROM documents),
         s AS (SELECT doc_id, lang, n_tok,
           sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS strt FROM d)
         SELECT doc_id, lang, n_tok,
           CAST(strt // 512 AS BIGINT) AS seq_id,
           CAST(strt % 512 AS BIGINT) AS seq_offset
         FROM s""",

    "q62_numeric_profile" ->
      """WITH p AS (
           SELECT 'l_quantity' AS column_name,
             count(l_quantity) AS n_non_null,
             count(*) - count(l_quantity) AS n_null,
             min(CAST(l_quantity AS DOUBLE)) AS min,
             max(CAST(l_quantity AS DOUBLE)) AS max,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / count(l_quantity) AS mean,
             quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice',
             count(l_extendedprice), count(*) - count(l_extendedprice),
             min(CAST(l_extendedprice AS DOUBLE)), max(CAST(l_extendedprice AS DOUBLE)),
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / count(l_extendedprice),
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)
           FROM lineitem
           UNION ALL
           SELECT 'l_discount',
             count(l_discount), count(*) - count(l_discount),
             min(CAST(l_discount AS DOUBLE)), max(CAST(l_discount AS DOUBLE)),
             CAST(CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / count(l_discount),
             quantile_cont(CAST(l_discount AS DOUBLE), 0.5)
           FROM lineitem)
         SELECT * FROM p""",

    // q71: the summary_neolab CASE/keep-latest/census semantics over the
    // same deterministic synth (CURRENT_DATE pinned to 2024-01-31, one day
    // past the events range, so the 5-day awaiting window is data-stable)
    "q71_neolab_episodes" ->
      """WITH nl AS (
           SELECT
             CASE WHEN user_id % 29 = 0 THEN concat('0000', CAST(user_id AS VARCHAR))
                  WHEN user_id % 31 = 0 THEN concat('***', CAST(user_id AS VARCHAR))
                  ELSE CAST(user_id AS VARCHAR) END AS uid,
             concat('F', CAST(user_id % 3 AS VARCHAR)) AS facility,
             event_id % 25 + 1 AS episode,
             strftime(ts, '%Y-%m-%d') AS bcr,
             list_extract(['GRAM STAIN PRELIMINARY','CULTURE FINAL','INTERIM',NULL],
               CAST(event_id % 4 + 1 AS INTEGER)) AS bctype,
             list_extract(['Pos','Neg','PC','NegP','PosP',NULL],
               CAST(event_id % 6 + 1 AS INTEGER)) AS res,
             CASE WHEN event_id % 5 = 0 THEN 'CONS'
                  ELSE concat('ORG', CAST(event_id % 7 AS VARCHAR)) END AS o1v,
             concat('Organism ', CAST(event_id % 7 AS VARCHAR)) AS o1l,
             CASE WHEN event_id % 9 = 0 THEN 'other-org' END AS oo1,
             CASE WHEN event_id % 17 = 0 THEN 'NaT'
                  ELSE strftime(CAST(ts AS DATE) + 1, '%Y-%m-%d') END AS bct
           FROM events),
         latest AS (
           SELECT facility, uid, episode, max(bcr) AS date_bcr
           FROM nl WHERE uid NOT LIKE '0000%' AND uid NOT LIKE '***%'
           GROUP BY 1, 2, 3),
         census AS (
           SELECT uid AS c_uid, episode AS c_episode,
             count(uid) AS n_cultures_episode
           FROM nl GROUP BY 1, 2)
         SELECT l.facility, l.uid, l.episode, l.date_bcr,
           n.o1l AS org1_label, n.o1v AS org1_value, n.oo1 AS other_org1_value,
           n.res AS bc_result,
           CASE WHEN n.bctype LIKE '%PRELIMINARY%' THEN 'PRELIMINARY'
                WHEN n.bctype LIKE '%FINAL%' THEN 'FINAL' END AS status,
           CAST(TRY_CAST(n.bct AS DATE) AS TIMESTAMP) AS date_bct,
           c.n_cultures_episode,
           CASE WHEN (n.res = 'Pos' AND n.o1v = 'CONS') OR n.res = 'PC' THEN 'Contaminant'
                WHEN (DATE '2024-01-31' - TRY_CAST(n.bcr AS DATE)) <= 5
                     AND n.res IN ('NegP', 'PosP') THEN 'Awaiting Final Result'
                ELSE n.res END AS combined_result
         FROM latest l
         JOIN nl n ON l.uid = n.uid AND l.date_bcr = n.bcr
         JOIN census c ON l.uid = c.c_uid AND l.episode = c.c_episode""",

    // q72: the strict validity gate (regex + parse + representable range)
    // and the either-date era window, replicated clause for clause
    "q72_migration_view" ->
      """WITH o AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'SMCH' ELSE 'OTH' END AS facility,
             CASE WHEN o_orderkey % 6 = 0 THEN 'NaT'
                  WHEN o_orderkey % 6 = 1 THEN ''
                  WHEN o_orderkey % 6 = 2 THEN '1995-13-45'
                  WHEN o_orderkey % 6 = 3 THEN '0000-01-01'
                  ELSE strftime(o_orderdate, '%Y-%m-%d') END AS dis_raw,
             CASE WHEN o_orderkey % 5 = 0
                  THEN strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d')
                  WHEN o_orderkey % 5 = 1 THEN '96/01/01'
                  ELSE NULL END AS death_raw
           FROM orders),
         s AS (
           SELECT o_orderkey, facility,
             CASE WHEN regexp_matches(dis_raw, '^\d{4}-\d{2}-\d{2}$')
                       AND TRY_CAST(dis_raw AS DATE)
                           BETWEEN DATE '0001-01-01' AND DATE '9999-12-31'
                  THEN TRY_CAST(dis_raw AS DATE) END AS dis_d,
             CASE WHEN regexp_matches(death_raw, '^\d{4}-\d{2}-\d{2}$')
                       AND TRY_CAST(death_raw AS DATE)
                           BETWEEN DATE '0001-01-01' AND DATE '9999-12-31'
                  THEN TRY_CAST(death_raw AS DATE) END AS death_d
           FROM o)
         SELECT o_orderkey, facility,
           CAST(dis_d AS TIMESTAMP) AS discharge_date,
           CAST(death_d AS TIMESTAMP) AS death_date
         FROM s
         WHERE facility = 'SMCH'
           AND (dis_d >= DATE '1995-06-01' OR death_d >= DATE '1995-06-01')""",

    // q73: the DAX derived-column family — weight/temperature coerced with
    // garbage → NULL, pandas-ladder buckets with Unknown-on-null, the
    // absent-alias NULL branch, the LBWBinary NaN-comparisons-are-False
    // flag, and the EXTERNALSOURCE cascade
    "q73_dax_derived" ->
      """WITH base AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN NULL
                  WHEN c_custkey % 17 = 0 THEN NULL
                  ELSE CAST((c_custkey % 50) * 100 AS DOUBLE) END AS weight,
             CASE WHEN c_custkey % 11 = 0 THEN NULL
                  ELSE 30.0 + (c_custkey % 13) END AS temp,
             CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE 'Ward A' END AS adm,
             CASE WHEN c_custkey % 8 < 2 THEN NULL ELSE 'Clinic B' END AS ref1,
             CASE WHEN c_custkey % 16 < 8 THEN NULL ELSE 'Clinic C' END AS ref2
           FROM customer)
         SELECT c_custkey, weight,
           CASE WHEN weight IS NULL THEN 'Unknown'
                WHEN weight < 1000 THEN 'ELBW'
                WHEN weight < 1500 THEN 'VLBW'
                WHEN weight < 2500 THEN 'LBW'
                WHEN weight < 4000 THEN 'NBW'
                ELSE 'HBW' END AS bw_group,
           CAST(NULL AS DOUBLE) AS adm_weight,
           CAST(NULL AS VARCHAR) AS aw_group,
           CASE WHEN temp IS NULL THEN 'Unknown'
                WHEN temp < 36.5 THEN 'Hypothermia'
                WHEN temp < 37.5 THEN 'Normothermia'
                ELSE 'Hyperthermia' END AS temp_thermia,
           CAST(COALESCE(weight > 0 AND weight < 2500, FALSE) AS INT) AS lbw_binary,
           COALESCE(adm, ref1, ref2, 'External Referral') AS external_source
         FROM base""",

    // q74: replays the 6-word paragraphing, the global keep-first rule
    // (min (doc_id, idx) per distinct paragraph), and the ordered
    // reassembly; a fully-duplicate doc's empty string_agg coalesces to ''
    "q74_paragraph_dedup" ->
      """WITH words AS (
           -- coalesce mirrors dedupParagraphs' NULL-text = empty-text rule
           SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
         paras AS (
           SELECT doc_id, i - 1 AS idx,
             array_to_string(w[(i - 1) * 6 + 1 : i * 6], ' ') AS para
           FROM words, LATERAL (
             SELECT unnest(range(1, CAST(ceil(len(w) / 6.0) AS INT) + 1)) AS i)),
         flagged AS (
           SELECT doc_id, idx, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) = 1 AS keep
           FROM paras)
         SELECT doc_id,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN para END, chr(10) || chr(10)
                               ORDER BY idx), '') AS clean_text
         FROM flagged GROUP BY doc_id""",

    // q75: replays the 16-centroid stride pool, argmin-L2 assignment with cid
    // tie-break, and the keep-5-most-central-per-cluster cut (order by
    // exact distance, tie by id; distance printed rounded)
    "q75_cluster_sample" ->
      s"""WITH pool AS (
           SELECT embedding AS centv, row_number() OVER (ORDER BY vec_id) - 1 AS i
           FROM embeddings ORDER BY vec_id LIMIT 128),
         cents AS (SELECT CAST(i // 8 AS INTEGER) AS cid, centv FROM pool WHERE i % 8 = 0),
         c AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         cd AS (
           SELECT id, v, cid, ${l2sqSql("v", "centv")} AS dist,
             row_number() OVER (PARTITION BY id ORDER BY ${l2sqSql("v", "centv")}, cid) AS rn
           FROM c CROSS JOIN cents),
         ass AS (SELECT id, cid, dist FROM cd WHERE rn = 1),
         ranked AS (
           SELECT id, cid, dist,
             row_number() OVER (PARTITION BY cid ORDER BY dist, id) AS rank
           FROM ass)
         SELECT id AS vec_id, cid, round(dist, 4) AS dist, rank
         FROM ranked WHERE rank <= 5""",

    // q76: replays the unpivot, the per-value counts, the distinct/null
    // census, and the top-3 cut (count desc, value asc)
    "q76_categorical_profile" ->
      """WITH pairs AS (
           SELECT 'lang' AS col_name, lang AS value FROM documents
           UNION ALL
           SELECT 'source' AS col_name, source AS value FROM documents),
         counts AS (
           SELECT col_name, value, count(*) AS cnt
           FROM pairs GROUP BY col_name, value),
         census AS (
           SELECT col_name,
             count(CASE WHEN value IS NOT NULL THEN 1 END) AS n_distinct,
             CAST(COALESCE(sum(CASE WHEN value IS NULL THEN cnt END), 0) AS BIGINT) AS n_nulls
           FROM counts GROUP BY col_name),
         ranked AS (
           SELECT col_name, value, cnt,
             row_number() OVER (PARTITION BY col_name ORDER BY cnt DESC, value) AS rank
           FROM counts WHERE value IS NOT NULL)
         SELECT c.col_name, c.n_distinct, c.n_nulls, r.value, r.cnt, r.rank
         FROM census c LEFT JOIN (SELECT * FROM ranked WHERE rank <= 3) r
           USING (col_name)""",

    // q77: replays the α = 0.5 fraction computation (6-dp-rounded — the
    // quantization that makes the threshold engine-portable) and the
    // md5 uniform keep filter
    "q77_temperature_mix" ->
      """WITH sizes AS (
           SELECT lang, CAST(count(*) AS DOUBLE) AS n
           FROM documents GROUP BY lang),
         fr AS (
           SELECT lang,
             round(least(1.0, 150 * (pow(n, 0.5) / (SELECT sum(pow(n, 0.5)) FROM sizes)) / n), 6) AS f
           FROM sizes),
         u AS (
           SELECT doc_id, lang,
             list_sum([(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR) || ':42'), i + 1, 1)) - 1)
                       * 16**(7 - i) for i in range(0, 8)]) / 4294967296.0 AS uv
           FROM documents)
         SELECT u.doc_id, u.lang
         FROM u JOIN fr USING (lang) WHERE u.uv < fr.f""",

    // q78: replays the positional 8-shingling with EXACT shingle strings
    // (the Spark side joins 8-byte hashes; equal results absent
    // collisions), the diagonal gaps-and-islands merge, and the >= 12
    // span filter
    // collapse-first: spans mined over DISTINCT texts (rep = min doc_id,
    // multiplicity m); duplicated texts additionally self-mine (both
    // position orderings, the id_a == id_b rows) when m >= 2
    "q78_shared_spans" ->
      """WITH reps AS (
           SELECT text, min(doc_id) AS rid, count(*) AS m
           FROM documents GROUP BY text),
         toks AS (
           SELECT rid, m, string_split(text, ' ') AS t FROM reps),
         sh AS (
           SELECT rid, m, i AS pos,
             array_to_string(t[i + 1 : i + 8], ' ') AS s
           FROM toks, LATERAL (
             SELECT unnest(range(0, greatest(len(t) - 8 + 1, 0))) AS i)),
         cand AS (
           SELECT a.rid AS id_a, b.rid AS id_b, a.pos AS pa, b.pos AS pb,
             a.m AS na, b.m AS nb
           FROM sh a JOIN sh b ON a.s = b.s AND a.rid < b.rid
           UNION ALL
           SELECT a.rid, b.rid, a.pos, b.pos, a.m, b.m
           FROM sh a JOIN sh b ON a.s = b.s AND a.rid = b.rid
           WHERE a.m >= 2),
         isl AS (
           SELECT id_a, id_b, pa - pb AS d, pa, na, nb,
             pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
           FROM cand)
         SELECT id_a, id_b, min(pa) AS a_start,
           min(pa) - d AS b_start,
           count(*) + 8 - 1 AS span_tokens,
           CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
         FROM isl GROUP BY id_a, id_b, d, grp
         HAVING count(*) + 8 - 1 >= 12""",

    // q79: replays the four Gopher signals (4-dp-rounded, thresholds on
    // the rounded values) and the comma-joined fail list in rule order
    "q79_gopher_filter" ->
      """WITH s AS (
           SELECT doc_id, text IS NULL AS text_null,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS chars,
             CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) AS syms,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) AS stops,
             len(regexp_split_to_array(trim(text), '\s+')) AS raw_toks
           FROM documents),
         sig AS (
           SELECT doc_id, text_null, CAST(n_words AS BIGINT) AS n_words,
             round(chars / greatest(n_words, 1), 4) AS mean_word_len,
             round(syms / greatest(n_words, 1), 4) AS symbol_ratio,
             round(stops / greatest(raw_toks, 1), 4) AS stop_ratio
           FROM s),
         f AS (
           SELECT doc_id, n_words, mean_word_len, symbol_ratio, stop_ratio,
             concat_ws(',',
               CASE WHEN text_null THEN 'null_text' END,
               CASE WHEN n_words < 30 THEN 'too_few_words' END,
               CASE WHEN n_words > 90 THEN 'too_many_words' END,
               CASE WHEN mean_word_len < 3.0 THEN 'mean_word_len_low' END,
               CASE WHEN mean_word_len > 5.0 THEN 'mean_word_len_high' END,
               CASE WHEN symbol_ratio > 0.1 THEN 'symbol_ratio_high' END,
               CASE WHEN stop_ratio < 0.02 THEN 'stopword_ratio_low' END) AS fails
           FROM sig)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio, stop_ratio,
           fails, CAST(fails = '' AS INT) AS keep
         FROM f""",

    // q80: replays the 6-word paragraphing and the WITHIN-doc keep-first
    // rule (partition by doc AND paragraph, first index wins)
    "q80_local_para_dedup" ->
      """WITH words AS (
           -- coalesce mirrors the paragraph family's NULL-text = empty-text rule
           SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
         paras AS (
           SELECT doc_id, i - 1 AS idx,
             array_to_string(w[(i - 1) * 6 + 1 : i * 6], ' ') AS para
           FROM words, LATERAL (
             SELECT unnest(range(1, CAST(ceil(len(w) / 6.0) AS INT) + 1)) AS i)),
         flagged AS (
           SELECT doc_id, idx, para,
             row_number() OVER (PARTITION BY doc_id, para ORDER BY idx) = 1 AS keep
           FROM paras)
         SELECT doc_id,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN para END, chr(10) || chr(10)
                               ORDER BY idx), '') AS clean_text
         FROM flagged GROUP BY doc_id""",

    // q81: replays BOTH capped vocabularies (en corpus and whole corpus,
    // top-24 by count desc tie token asc) and the one-pass double scoring
    "q81_moore_lewis" ->
      """WITH base AS (SELECT doc_id,
             unnest(CASE WHEN text IS NULL OR length(trim(text)) = 0
                         THEN [NULL]
                         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS tok
           FROM documents),
         inbase AS (SELECT d.doc_id,
             unnest(regexp_split_to_array(lower(trim(d.text)), '\s+')) AS tok
           FROM documents d WHERE d.lang = 'en'),
         invocab AS (SELECT tok, count(*) AS c FROM inbase GROUP BY 1),
         intot AS (SELECT greatest(sum(c), 1) AS total FROM invocab),
         intop AS (SELECT tok, c FROM invocab ORDER BY c DESC, tok LIMIT 24),
         genvocab AS (SELECT tok, count(*) AS c FROM base WHERE tok IS NOT NULL GROUP BY 1),
         gentot AS (SELECT greatest(sum(c), 1) AS total FROM genvocab),
         gentop AS (SELECT tok, c FROM genvocab ORDER BY c DESC, tok LIMIT 24),
         scored AS (
           SELECT b.doc_id, b.tok,
             round(ln(coalesce(CAST(ti.c AS DOUBLE), 1.0)
               / CAST((SELECT total FROM intot) AS DOUBLE)), 5) AS lnp_in,
             round(ln(coalesce(CAST(tg.c AS DOUBLE), 1.0)
               / CAST((SELECT total FROM gentot) AS DOUBLE)), 5) AS lnp_gen
           FROM base b
           LEFT JOIN intop ti ON b.tok = ti.tok
           LEFT JOIN gentop tg ON b.tok = tg.tok),
         agg AS (
           SELECT doc_id,
             CAST(count(tok) AS BIGINT) AS n_tokens,
             CAST(CAST(sum(CASE WHEN tok IS NOT NULL
                           THEN CAST(lnp_in AS DECIMAL(18,5)) END) AS VARCHAR) AS DOUBLE)
               / count(tok) AS mean_logprob_in,
             CAST(CAST(sum(CASE WHEN tok IS NOT NULL
                           THEN CAST(lnp_gen AS DECIMAL(18,5)) END) AS VARCHAR) AS DOUBLE)
               / count(tok) AS mean_logprob_gen
           FROM scored GROUP BY 1)
         SELECT doc_id, n_tokens, mean_logprob_in, mean_logprob_gen,
           mean_logprob_in - mean_logprob_gen AS ml_score
         FROM agg""",

    // q82: as-of semantics replayed as a theta-join + QUALIFY keep-best —
    // fine at oracle SF, exactly what the operator's merge window avoids
    "q82_asof_join" ->
      """WITH views AS (SELECT event_id, user_id, ts FROM events
             WHERE event_type = 'view'),
         clicks AS (SELECT user_id, ts, event_id, value FROM events
             WHERE event_type = 'click')
         SELECT v.event_id, v.user_id, v.ts,
           c.ts AS asof_ts, c.event_id AS asof_event_id, c.value AS asof_value
         FROM views v
         LEFT JOIN clicks c ON c.user_id = v.user_id
           AND c.ts <= v.ts AND c.ts >= v.ts - INTERVAL 1 HOUR
         QUALIFY row_number() OVER (PARTITION BY v.event_id
           ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) = 1""",

    // q83: the range predicate replayed directly as a theta-join — fine
    // at oracle SF, exactly the nested-loop the operator's binning avoids
    "q83_range_join" ->
      """WITH err AS (SELECT event_id AS err_id, ts AS err_ts,
             ts + INTERVAL 15 MINUTE AS err_end
           FROM events WHERE event_type = 'error'),
         clk AS (SELECT event_id AS click_id, ts AS click_ts, user_id
           FROM events WHERE event_type = 'click')
         SELECT e.err_id, c.click_id, c.user_id
         FROM err e JOIN clk c
           ON c.click_ts >= e.err_ts AND c.click_ts <= e.err_end""",

    // q84: LOCF replayed with DuckDB's IGNORE NULLS running last_value
    "q84_forward_fill" ->
      """WITH t AS (SELECT event_id, user_id, ts,
             CASE WHEN event_type <> 'error' THEN value END AS value
           FROM events)
         SELECT event_id, user_id, ts,
           last_value(value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
         FROM t""",

    // q85: the gate's EXACT semantics (bloom is only a prefilter) — plain
    // membership anti-join on the text key
    "q85_bloom_dedup_gate" ->
      """WITH hist AS (SELECT DISTINCT md5(text) AS k FROM documents
             WHERE doc_id < 400),
         inc AS (SELECT doc_id, md5(text) AS k FROM documents WHERE doc_id >= 400
             UNION ALL
             SELECT doc_id + 10000000, md5(text) FROM documents WHERE doc_id < 50)
         SELECT inc.doc_id,
           CAST(CASE WHEN hist.k IS NULL THEN 1 ELSE 0 END AS INT) AS is_new
         FROM inc LEFT JOIN hist ON inc.k = hist.k""",

    // q86: PMI collocations replayed — adjacent pairs via 1-based list
    // indexing, same 5-dp ln discipline, same (pmi desc, "w1 w2" asc) cut
    // q149: the q133 vocab build isolated — adjacent-pair counts over the
    // whitespace token stream (the q86 pair replay), top-256 by
    // (n DESC, space-joined pair) = the graft_top_k_by heap order
    "q149_bigram_vocab_build" ->
      """WITH toks AS (SELECT CASE WHEN text IS NULL OR length(trim(text)) = 0
             THEN [] ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
           FROM documents),
         pairs AS (SELECT t[i] AS prev, t[i + 1] AS tok
           FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)),
         pc AS (SELECT prev, tok, count(*) AS n FROM pairs GROUP BY 1, 2),
         r AS (SELECT prev, tok, n,
                 row_number() OVER (ORDER BY n DESC, prev || ' ' || tok) AS rnk
               FROM pc)
         SELECT prev, tok, n, CAST(rnk AS BIGINT) AS rank
         FROM r WHERE rnk <= 256""",

    "q86_collocations" ->
      """WITH toks AS (SELECT CASE WHEN text IS NULL OR length(trim(text)) = 0
             THEN [] ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
           FROM documents),
         uni AS (SELECT unnest(t) AS tok FROM toks),
         unic AS (SELECT tok, count(*) AS n_w FROM uni GROUP BY 1),
         total AS (SELECT greatest(count(*), 1) AS n FROM uni),
         pairs AS (SELECT t[i] AS w1, t[i + 1] AS w2
           FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)),
         pc AS (SELECT w1, w2, count(*) AS n_pair FROM pairs
           GROUP BY 1, 2 HAVING count(*) >= 5),
         scored AS (SELECT w1, w2, n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
           round(ln((CAST(n_pair AS DOUBLE) * (SELECT n FROM total))
             / (CAST(u1.n_w AS DOUBLE) * u2.n_w)), 5) AS pmi
           FROM pc JOIN unic u1 ON pc.w1 = u1.tok JOIN unic u2 ON pc.w2 = u2.tok)
         SELECT w1, w2, n_pair, n_w1, n_w2, pmi FROM scored
         ORDER BY pmi DESC, w1 || ' ' || w2 LIMIT 100""",

    // q87: equi-width binning replayed with the same double arithmetic
    // ((hi-lo)/10 width, floor, clamp into the last bin, 5-dp bounds)
    "q87_histogram" ->
      """WITH u AS (
           SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v
             FROM lineitem
           UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
             FROM lineitem
           UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE)
             FROM lineitem),
         s AS (SELECT col_name, min(v) AS lo, max(v) AS hi FROM u
           WHERE v IS NOT NULL GROUP BY 1),
         b AS (SELECT u.col_name,
             CAST(CASE WHEN (s.hi - s.lo) / 10.0 = 0 THEN 0
               ELSE least(greatest(floor((u.v - s.lo) / ((s.hi - s.lo) / 10.0)),
                 0), 9) END AS BIGINT) AS bin,
             s.lo AS slo, (s.hi - s.lo) / 10.0 AS w
           FROM u JOIN s ON u.col_name = s.col_name WHERE u.v IS NOT NULL)
         SELECT col_name, bin, round(slo + bin * w, 5) AS lo,
           round(slo + (bin + 1) * w, 5) AS hi, count(*) AS n
         FROM b GROUP BY 1, 2, slo, w""",

    // q105: the naive quadratic levenshtein IS the ground truth — the
    // gate passing proves the segment blocking lossless on real data
    "q105_fuzzy_match" ->
      """WITH f AS (SELECT doc_id, substring(text, 1, 40) AS s
                    FROM documents
                    WHERE text IS NOT NULL AND length(text) >= 40)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         FROM f a JOIN f b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.s, b.s) <= 3""",

    // q104: per column — ref-bounded equi-width bins over both halves,
    // floored proportions, 5-dp terms summed as DECIMAL (VARCHAR
    // round-trip for the decimal→double cast), thresholds on the sum
    "q104_psi_drift" -> {
      def one(c: String): String =
        s"""SELECT col_name,
             CASE WHEN tr0 = 0 OR tc0 = 0 THEN NULL ELSE psi END AS psi,
             CASE WHEN tr0 = 0 OR tc0 = 0 OR psi IS NULL THEN NULL
                  WHEN psi < 0.1 THEN 'stable'
                  WHEN psi < 0.25 THEN 'moderate'
                  ELSE 'major' END AS drift
           FROM (
             SELECT '$c' AS col_name,
               (SELECT count($c) FROM lineitem WHERE l_orderkey % 2 = 0) AS tr0,
               (SELECT count($c) FROM lineitem WHERE l_orderkey % 2 = 1) AS tc0,
               CAST(CAST(sum(CAST(term AS DECIMAL(18,5))) AS VARCHAR) AS DOUBLE) AS psi
             FROM (
               SELECT round((pc - pr) * ln(pc / pr), 5) AS term FROM (
                 SELECT
                   greatest(CAST(cr AS DOUBLE) / (sum(cr) OVER ()), 0.0001) AS pr,
                   greatest(CAST(cc AS DOUBLE) / (sum(cc) OVER ()), 0.0001) AS pc
                 FROM (
                   SELECT bin,
                     sum(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS cr,
                     sum(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS cc
                   FROM (
                     SELECT l_orderkey,
                       CASE WHEN w = 0 THEN
                           (CASE WHEN CAST($c AS DOUBLE) = lo THEN 0 ELSE 9 END)
                         ELSE CAST(least(greatest(
                           floor((CAST($c AS DOUBLE) - lo) / w), 0), 9) AS BIGINT)
                       END AS bin
                     FROM lineitem CROSS JOIN (
                       SELECT min(CAST($c AS DOUBLE)) AS lo,
                         (max(CAST($c AS DOUBLE)) - min(CAST($c AS DOUBLE))) / 10 AS w
                       FROM lineitem WHERE l_orderkey % 2 = 0)
                     WHERE $c IS NOT NULL)
                   GROUP BY bin))))"""
      Seq("l_quantity", "l_extendedprice", "l_discount")
        .map(one).mkString("\nUNION ALL\n")
    },

    // q103: per column — quartile cuts (quantile_cont, 5-dp like the
    // plan constants), bin = count of cuts <= v, outer-edge bounds NULL
    "q103_equidepth_bins" -> {
      def one(c: String): String =
        s"""SELECT '$c' AS col_name, bin,
             CASE bin WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 END AS lo,
             CASE bin WHEN 0 THEN c1 WHEN 1 THEN c2 WHEN 2 THEN c3 END AS hi,
             count(*) AS n
           FROM (
             SELECT CAST(CAST(v >= c1 AS INT) + CAST(v >= c2 AS INT)
                         + CAST(v >= c3 AS INT) AS BIGINT) AS bin, c1, c2, c3
             FROM (SELECT CAST($c AS DOUBLE) AS v FROM lineitem
                   WHERE $c IS NOT NULL)
             CROSS JOIN (SELECT
                 round(quantile_cont(CAST($c AS DOUBLE), 0.25), 5) AS c1,
                 round(quantile_cont(CAST($c AS DOUBLE), 0.50), 5) AS c2,
                 round(quantile_cont(CAST($c AS DOUBLE), 0.75), 5) AS c3
               FROM lineitem))
           GROUP BY bin, c1, c2, c3"""
      Seq("l_quantity", "l_extendedprice", "l_discount")
        .map(one).mkString("\nUNION ALL\n")
    },

    // q102: replays normalize (identical IEEE expression order: subtract,
    // divide, multiply, floor, clamp) and the bit interleave as literal
    // shift/mask/OR terms
    "q102_zorder_key" -> {
      // NULL input stays NULL (both engines' least/greatest SKIP nulls,
      // so the clamp needs the same explicit guard as normalizeToBits)
      def norm(v: String, lo: String, hi: String): String =
        s"CASE WHEN ($v) IS NULL THEN NULL ELSE " +
          s"CAST(least(greatest(floor(($v - $lo) / ($hi - $lo) * 256.0), 0), 255) AS BIGINT) END"
      // every term fully parenthesized: DuckDB gives <<, &, | EQUAL
      // precedence (left-assoc), so a bare chain folds wrongly
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((zx >> $i) & 1) << ${2 * i})", s"(((zy >> $i) & 1) << ${2 * i + 1})"))
        .mkString(" | ")
      s"""WITH b AS (SELECT CAST(min(user_id) AS DOUBLE) AS ulo,
                 CAST(max(user_id) AS DOUBLE) AS uhi,
                 min(value) AS vlo, max(value) AS vhi FROM events),
         norm AS (SELECT event_id,
             ${norm("CAST(user_id AS DOUBLE)", "ulo", "uhi")} AS zx,
             ${norm("value", "vlo", "vhi")} AS zy
           FROM events CROSS JOIN b)
         SELECT event_id, zx, zy, CAST($terms AS BIGINT) AS zkey FROM norm"""
    },

    // q101: single-phase ROLLUP is the semantic ground truth the
    // two-phase form must equal (counts sum, sums sum); GROUPING() uses
    // the same first-dim-MSB bit layout as Spark's grouping_id()
    "q101_rollup_summary" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS level,
           count(*) AS n,
           CAST(sum(l_quantity) AS DOUBLE) AS total
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

    // q88: TF-IDF replayed — same normalization, N = ALL docs, same
    // 5-dp rounding and (score desc, term asc) cut
    "q88_tfidf_terms" ->
      """WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
         tf AS (SELECT doc_id, term, count(*) AS n_td FROM toks GROUP BY 1, 2),
         len AS (SELECT doc_id, sum(n_td) AS len FROM tf GROUP BY 1),
         df AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
         n AS (SELECT greatest(count(*), 1) AS nd FROM documents),
         scored AS (SELECT tf.doc_id, tf.term, tf.n_td,
             round((CAST(tf.n_td AS DOUBLE) / len.len)
               * ln(CAST((SELECT nd FROM n) AS DOUBLE) / df.df_t), 5) AS score
           FROM tf JOIN len USING (doc_id) JOIN df USING (term))
         SELECT doc_id, term, n_td, score, CAST(rank AS BIGINT) AS rank FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS rank FROM scored)
         WHERE rank <= 5"""
  )

  /** q47: the LIKE-chain CASE is generated from [[Queries.q47Rules]] —
    * same rule list as the Spark plan. Rules are reversed because SQL CASE
    * is first-match-wins while the operator contract (and the reference's
    * sequential if-chain) is last-match-wins.
    */
  /** Substring-contains as LIKE, robust to metacharacters: `%`/`_` in a
    * pattern are escaped (backslash + ESCAPE clause) so the SQL matches
    * Spark's LITERAL `contains`, and single quotes double for SQL — a
    * rule list with "100%_pure" or "o'brien" stays oracle-equivalent.
    */
  private def sq(s: String): String = s.replace("'", "''")
  private def likeEsc(s: String): String =
    sq(s).replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")

  private def fuzzyCaseSql(textExpr: String, pick: graft.operators.FuzzyRecode.Rule => String): String =
    "CASE " + Queries.q47Rules.reverse.map { r =>
      val cond = r.patterns
        .map(p => s"$textExpr LIKE '%${likeEsc(p)}%' ESCAPE '\\'").mkString(" OR ")
      s"WHEN $cond THEN '${sq(pick(r))}'"
    }.mkString(" ") + " END"

  /** The q98 BM25 ranking CTE chain (through `bm25ranked`) — shared
    * verbatim by the q122 hybrid-fusion oracle so the scoring SQL exists
    * ONCE and cannot drift between queries.
    */
  private def bm25RankedCtes: String =
    """base AS (SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0),
         stats AS (SELECT greatest(count(*), 1) AS n,
                     sum(len(toks)) AS tot FROM base),
         terms AS (SELECT unnest(['spark', 'join', 'query']) AS term),
         hits AS (SELECT doc_id, len(toks) AS dl,
                    unnest(list_filter(toks,
                      x -> list_contains(['spark', 'join', 'query'], x))) AS term
                  FROM base),
         tfc AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                 FROM hits GROUP BY 1, 2),
         dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
         idf AS (SELECT t.term,
                   round(ln((n - coalesce(df, 0) + 0.5) / (coalesce(df, 0) + 0.5) + 1.0), 5) AS idf
                 FROM terms t LEFT JOIN dfs USING (term) CROSS JOIN stats),
         bm25scored AS (SELECT doc_id,
                      CAST(round((idf * (tf * (1.2 + 1.0)))
                        / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / n)))), 5)
                        AS DECIMAL(18,5)) AS s
                    FROM tfc JOIN idf USING (term) CROSS JOIN stats),
         bm25agg AS (SELECT doc_id, CAST(CAST(sum(s) AS VARCHAR) AS DOUBLE) AS bm25
                 FROM bm25scored GROUP BY 1),
         bm25ranked AS (SELECT doc_id, bm25,
                      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
                    FROM bm25agg)"""

  /** q124 replay: q21's md5 exact grouping → representative docs, the
    * shared component chain scoped to them, the q70 keep-best rank, and
    * three per-source censuses.
    */
  private def dedupAttritionOracle: String =
    s"""WITH RECURSIVE
       reps0 AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
                 FROM documents GROUP BY md5(text)),
       repdocs AS (SELECT d.* FROM documents d JOIN reps0 USING (doc_id)),
       ${componentCtes("repdocs")},
       comps AS (SELECT id AS doc_id, min(lbl) AS comp FROM reach GROUP BY id),
       qual AS (SELECT doc_id, ${qualityScalarSql("text")} AS quality FROM repdocs),
       labeled AS (
         SELECT d.doc_id, d.source, coalesce(c.comp, d.doc_id) AS comp, q.quality
         FROM repdocs d
         LEFT JOIN comps c ON c.doc_id = d.doc_id
         JOIN qual q ON q.doc_id = d.doc_id),
       ranked AS (
         SELECT comp, doc_id, source, quality,
           row_number() OVER (PARTITION BY comp ORDER BY quality DESC, doc_id) AS rn
         FROM labeled),
       kept AS (SELECT source FROM ranked WHERE rn = 1),
       cin AS (SELECT source AS g, count(*) AS n_in FROM documents GROUP BY 1),
       crep AS (SELECT source AS g, count(*) AS n_reps FROM repdocs GROUP BY 1),
       ckept AS (SELECT source AS g, count(*) AS n_kept FROM kept GROUP BY 1)
       SELECT cin.g AS source, n_in,
         n_in - coalesce(n_reps, 0) AS n_exact_dropped,
         coalesce(n_reps, 0) - coalesce(n_kept, 0) AS n_neardup_dropped,
         CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         round(CAST(coalesce(n_kept, 0) AS DOUBLE) / n_in, 5) AS retention
       FROM cin
       LEFT JOIN crep ON cin.g IS NOT DISTINCT FROM crep.g
       LEFT JOIN ckept ON cin.g IS NOT DISTINCT FROM ckept.g"""

  /** q122 replay: BM25 top-20 (shared q98 chain) ⊕ exact cosine top-20
    * vs query vector 0, RRF-fused with 9-dp decimal term sums.
    */
  private def hybridRrfOracle: String =
    s"""WITH $bm25RankedCtes,
       a AS (SELECT doc_id, rnk AS rank FROM bm25ranked WHERE rnk <= 20),
       q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       cvecs AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       cscored AS (SELECT neighbor_id, ${cosSql("qv", "cv")} AS cos
                   FROM cvecs CROSS JOIN q WHERE neighbor_id <> 0),
       cranked AS (SELECT neighbor_id AS doc_id,
                     row_number() OVER (ORDER BY cos DESC, neighbor_id) AS rank
                   FROM cscored),
       b AS (SELECT doc_id, rank FROM cranked WHERE rank <= 20),
       uni AS (SELECT * FROM a UNION ALL SELECT * FROM b),
       g AS (SELECT doc_id, count(*) AS n_lists,
               CAST(CAST(sum(CAST(round(CAST(1 AS DOUBLE) / (60 + rank), 9)
                 AS DECIMAL(19,9))) AS VARCHAR) AS DOUBLE) AS s
             FROM uni GROUP BY 1),
       f AS (SELECT doc_id, n_lists, s,
               row_number() OVER (ORDER BY s DESC, doc_id) AS fr FROM g)
       SELECT doc_id, n_lists, s AS rrf_score, CAST(fr AS BIGINT) AS fused_rank
       FROM f WHERE fr <= 15"""

  /** q117 replay: one moment-sum block per pair (4-dp decimal-quantized
    * inputs, exact decimal sums), then the Spark side's exact double
    * formula over VARCHAR-roundtripped sums (correctly-rounded decimal →
    * double in both engines).
    */
  private def corrMatrixOracle: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val union = pairs.map { case (x, y) =>
      s"""SELECT '$x' AS col_x, '$y' AS col_y, count(*) AS n_pairs,
            sum(qx) AS sx, sum(qy) AS sy, sum(qx*qx) AS sxx,
            sum(qy*qy) AS syy, sum(qx*qy) AS sxy
          FROM (SELECT CAST(CAST($x AS DECIMAL(18,4)) AS DECIMAL(28,4)) AS qx,
                       CAST(CAST($y AS DECIMAL(18,4)) AS DECIMAL(28,4)) AS qy
                FROM lineitem
                WHERE $x IS NOT NULL AND isfinite(CAST($x AS DOUBLE))
                  AND $y IS NOT NULL AND isfinite(CAST($y AS DOUBLE)))"""
    }.mkString("\nUNION ALL\n")
    s"""WITH p AS ($union),
       d AS (SELECT col_x, col_y, n_pairs, CAST(n_pairs AS DOUBLE) AS nd,
               CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dsx,
               CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dsy,
               CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dsxx,
               CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dsyy,
               CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dsxy
             FROM p)
       SELECT col_x, col_y, n_pairs,
         CASE WHEN n_pairs > 0 THEN round(dsx / nd, 6) END AS mean_x,
         CASE WHEN n_pairs > 0 THEN round(dsy / nd, 6) END AS mean_y,
         CASE WHEN (nd * dsxx - dsx * dsx) > 0 AND (nd * dsyy - dsy * dsy) > 0
              THEN round((nd * dsxy - dsx * dsy) /
                sqrt((nd * dsxx - dsx * dsx) * (nd * dsyy - dsy * dsy)), 6)
         END AS corr
       FROM d"""
  }

  /** q118 replay: per-pair joint/marginal CTE chain; chi2 from observed
    * cells only (n·Σ o²/(ra·cb) − n), 9-dp-rounded decimal term sums.
    */
  private def catAssocOracle: String = {
    val bucket = "CAST(CAST(floor(n_chars / 500) AS BIGINT) AS VARCHAR)"
    val pairs = Seq(
      ("lang", "lang", "source", "source"),
      ("lang", "lang", "len_bucket", bucket),
      ("source", "source", "len_bucket", bucket))
    pairs.map { case (xn, xe, yn, ye) =>
      s"""SELECT '$xn' AS col_x, '$yn' AS col_y, n, r_levels, c_levels,
            CASE WHEN n > 0 THEN round(chi2r, 6) END AS chi2,
            CASE WHEN n > 0 AND mdf >= 1 THEN
              round(sqrt(chi2r / (CAST(n AS DOUBLE) * mdf)), 6)
            END AS cramers_v
          FROM (
            WITH e AS (SELECT CAST($xe AS VARCHAR) AS a, CAST($ye AS VARCHAR) AS b
                       FROM documents
                       WHERE $xe IS NOT NULL AND $ye IS NOT NULL),
            j AS (SELECT a, b, count(*) AS o FROM e GROUP BY 1, 2),
            rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM j GROUP BY 1),
            cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM j GROUP BY 1),
            t AS (SELECT sum(CAST(round(CAST(o AS DOUBLE) * o / (ra * cb), 9)
                     AS DECIMAL(28,9))) AS s
                  FROM j JOIN rm USING (a) JOIN cm USING (b)),
            m AS (SELECT CAST(coalesce((SELECT sum(o) FROM j), 0) AS BIGINT) AS n,
                    (SELECT count(*) FROM rm) AS r_levels,
                    (SELECT count(*) FROM cm) AS c_levels,
                    (SELECT s FROM t) AS s)
            SELECT n, r_levels, c_levels,
              greatest(CAST(n AS DOUBLE) *
                (CAST(CAST(s AS VARCHAR) AS DOUBLE) - 1), CAST(0 AS DOUBLE)) AS chi2r,
              CAST(least(r_levels, c_levels) - 1 AS DOUBLE) AS mdf
            FROM m)"""
    }.mkString("\nUNION ALL\n")
  }

  private def q47Sql: String =
    s"""WITH p AS (SELECT p_partkey, lower(p_name) AS nm,
         CASE WHEN p_partkey % 4 = 0 THEN 'Oth' ELSE p_brand END AS v0,
         p_type AS l0 FROM part),
       m AS (SELECT p_partkey, v0, l0,
         ${fuzzyCaseSql("nm", _.value)} AS mv,
         ${fuzzyCaseSql("nm", _.label)} AS ml FROM p)
       SELECT p_partkey,
         CASE WHEN v0 = 'Oth' AND mv IS NOT NULL THEN mv ELSE v0 END AS org_value,
         CASE WHEN v0 = 'Oth' AND mv IS NOT NULL THEN ml ELSE l0 END AS org_label
       FROM m"""
}
