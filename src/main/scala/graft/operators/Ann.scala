package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, Similarity}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; the correctness yardstick).
  * Scale path: random-hyperplane LSH buckets — query and corpus hash to
  * buckets, candidates are same-bucket rows, so at 100 TB the join
  * shuffles |corpus| + |queries| rows on bucket id instead of streaming
  * the full corpus past every query. An IVF variant would swap the hash
  * for learned centroids; the plumbing (bucket column + co-partitioned
  * join + per-query top-k) is identical.
  *
  * Scale notes: similarity is computed BEFORE any pair-level shuffle, so
  * dedup/top-k stages move (ids, score) triples — never the vectors. All
  * vector math runs through graft's native codegen expressions
  * ([[graft.functions.VectorOps]]); the combinator forms kept in
  * [[Similarity]] are the spec-checked reference semantics.
  */
object Ann {

  /** The knob settings that SHIP — the production defaults the
    * BASELINE.md recall-tuning grid selected, stated as constants so the
    * grid's 0.02-recall corners (e.g. LSH at nPlanes 10/14 on
    * low-structure embeddings) cannot be shipped by accident. The
    * catalog's q31/q37/q95 entries that pass other values are DEMO
    * parameters exercising a knob direction, with q106 measuring the
    * consequence — not recommendations.
    *
    *  - LSH: nPlanes 6 × 4 tables — on low-structure corpora more planes
    *    empty the buckets before they sharpen them (0.24→0.02 recall@5
    *    going 6→10 planes at sf0.01); widen via FEWER planes or MORE
    *    tables/multi-probe, never via deeper single-table hashes.
    *  - IVF: nProbe 4 over [[autoCentroids]] (k = ⌈√n⌉, k-means-refined)
    *    — nProbe is the cleanest recall/cost dial (≈2× recall 1→4 probes
    *    at ≈4× candidate work) and auto-k keeps per-cell candidate lists
    *    √n-bounded at any corpus size.
    *  - PQ: m = 16 subspaces — halving compression m 8→16 roughly
    *    doubles recall on the driver's embeddings; drop m only when the
    *    code-table memory budget forces it.
    *  - IVFPQ + refine: ADC top-R cut at R = 50 before the exact
    *    re-rank — on the clustered (mixture-of-Gaussians) regime the
    *    refine stage is CANDIDATE-limited, so R, not the refine, is the
    *    recall dial: measured 0.576@R=25 → 0.808@R=50 (BASELINE.md
    *    table), at 2× refine cost that stays queries×R exact distances.
    */
  object ProductionDefaults {
    val LshNPlanes   = 6
    val LshNTables   = 4
    val IvfNProbe    = 4
    val PqSubspaces  = 16
    val IvfPqRefineR = 50
  }

  /** Exact brute-force cosine top-k per query. `queries` and `corpus` both
    * (idCol, vecCol). Queries are broadcast (the typical shape: few
    * queries, huge corpus), corpus is scanned once, top-k via window.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineFast(col("qv"), col("cv")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** LSH-bucketed ANN: candidates share a random-hyperplane bucket. Probes
    * multiple plane-sets (`nTables`) to recover recall lost to bucketing.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int,
              nTables: Int = 4): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame = {
      val tables = (0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          Similarity.rhpBucketFast(col(vec), nPlanes, seed = 42 + t * 7919).as("bkt"))
      }
      df.select(col(id), col(vec), explode(array(tables: _*)).as("tb"))
        .select(col(id), col(vec), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    }
    val q = bucketed(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id", "qv")
    // collapse-first (the [[embeddingNearDupPairs]] move, which the 300×
    // dup-heavy probe showed this operator needed too — 288 s at 3× the
    // 100× data): identical vectors share every bucket of every table,
    // so bucketing INSTANCES makes candidate volume quadratic in
    // duplicate-group size. Bucket and score one representative per
    // DISTINCT vector (vh = 8-byte hash surrogate, same collision
    // stance), cut to the k+1 best vhs per query, and only then expand
    // back to instances for the final instance-level top-k.
    //
    // Correctness of the vh cut: order vhs by (cos DESC, min instance id
    // ASC). Every vh ranked above a vh V contributes ≥1 instance beating
    // any of V's instances, so the true instance top-k lives inside the
    // top-k vhs — plus one slack slot because the query's OWN vh ranks
    // by a min_id its excluded self-instance may hold.
    val members = corpus.select(col(idCol).as("neighbor_id"),
      xxhash64(col(vecCol)).as("vh"))
    val sigs = corpus.select(xxhash64(col(vecCol)).as("vh"), col(vecCol).as("cv"))
      .dropDuplicates("vh")
    val minIds = members.groupBy("vh").agg(min("neighbor_id").as("min_id"))
    val c = bucketed(sigs, "vh", "cv")
    val scored = c.join(broadcast(q), Seq("tbl", "bkt"))
      .select(col("query_id"), col("vh"),
        Similarity.cosineFast(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("query_id", "vh")
    val vhCut = scored.join(minIds, Seq("vh"))
      .groupBy("query_id")
      .agg(call_function("graft_top_k_by",
        struct(col("vh"), col("cos")), col("cos"), col("min_id"),
        lit(k + 1)).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.vh").as("vh"), col("e.cos").as("cos"))
    val expanded = vhCut.join(members, Seq("vh"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    topKPerQuery(expanded, k)
  }

  /** Deterministic stride-sampled centroid pool (every 8th of the first
    * `nCentroids * 8` vectors by id) — the zero-pass baseline;
    * [[kmeansCentroidsExact]] is the learned upgrade. The collect is the
    * k×dim CENTROID MATRIX — a plan-time constant by definition — not
    * data.
    */
  def strideCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int): Array[Array[Float]] = {
    val cents: Array[Array[Float]] = corpus
      .orderBy(col(idCol)).limit(nCentroids * 8) // deterministic pool
      .select(col(idCol), col(vecCol)).collect()
      .zipWithIndex.collect { case (r, i) if i % 8 == 0 => r.getSeq[Float](1).toArray }
    require(cents.nonEmpty, "IVF needs a non-empty corpus to derive centroids")
    cents
  }

  /** Auto-sized centroid count: k = ⌈√n⌉ (capped). SemDeDup/IVF's
    * within-cluster work is quadratic per cluster, so k must GROW with the
    * corpus — k ≈ √n keeps E[cluster size] ≈ √n and the total pair space
    * ≈ n²/(2k) = n^1.5/2 instead of n²/(2·const). The cap bounds the
    * centroid matrix that rides the plan as a constant (16384 × 64 floats
    * = 4 MiB) and the O(n·k) assignment cost once clusters are already
    * small enough to self-join comfortably.
    */
  def autoCentroidCount(n: Long, maxK: Int = 16384): Int =
    math.max(1L, math.min(maxK.toLong,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Auto-sized centroids: ONE count job picks k = ⌈√n⌉
    * ([[autoCentroidCount]]), stride-samples the init pool, and refines it
    * with [[kmeansCentroidsExact]] — the learned-centroid default the
    * recall grid showed beating raw stride (0.64 vs 0.48 recall@5 on the
    * driver's embeddings, BASELINE.md). Fully deterministic AND
    * engine-portable: every arithmetic step of the refinement is either
    * exact integer math or a single IEEE double op in fixed order, so an
    * external engine (the DuckDB oracle) replays bit-identical centroids
    * from the same parquet.
    */
  def autoCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    iters: Int = 2, maxK: Int = 16384): Array[Array[Float]] = {
    val k = autoCentroidCount(corpus.count(), maxK)
    kmeansCentroidsExact(corpus, vecCol,
      strideCentroids(corpus, idCol, vecCol, k), iters)
  }

  /** Lloyd's k-means over whole vectors with ENGINE-PORTABLE exact mean
    * updates: the one-subspace call of [[pqTrainCodebooksExact]] (with
    * dsub = dim the slice is the whole vector), so IVF centroids and PQ
    * codebooks train on ONE Lloyd loop and share its micro-unit
    * arithmetic, empty-cluster rule and NULL / wrong-length handling.
    * The refinement is a pure function of (parquet bytes, init, iters)
    * that the DuckDB oracle re-derives bit-for-bit. Shuffle per
    * iteration: at most partitions × k × dim partial (sum, count) pairs;
    * only the k×dim matrix reaches the driver.
    */
  def kmeansCentroidsExact(corpus: DataFrame, vecCol: String,
                           init: Array[Array[Float]], iters: Int): Array[Array[Float]] = {
    require(init.nonEmpty, "kmeans needs >= 1 initial centroid")
    pqTrainCodebooksExact(corpus, vecCol, Array(init), iters).head
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their nearest
    * centroid in ONE codegen'd projection (the centroid list is a plan
    * literal — no assignment shuffle, no per-row join); queries probe the
    * `nProbe` nearest centroids; candidates meet in a shuffle keyed by
    * centroid id. vs LSH: recall tracks the data's actual clustering
    * rather than random hyperplanes. The centroids are the caller's
    * ([[strideCentroids]], [[kmeansCentroidsExact]], [[autoCentroids]] or
    * externally trained): only the matrix changes, the plan shape is
    * identical.
    */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int, cents: Array[Array[Float]],
                  nProbe: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(cents.nonEmpty, "ivfTopKWith needs at least one centroid")
    // assignment + probing run as single kernel expressions carrying the
    // centroid matrix as ONE plan constant — the combinator form
    // (least/array_sort over k literal structs) built an O(k × dim) tree
    // whose generated source alone took seconds to compile per run
    val centsLit = lit(GraftFunctions.encodeCents(cents))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      call_function("graft_ivf_nearest", col(vecCol), centsLit).as("cid"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode_outer(call_function("graft_ivf_probes", col(vecCol), centsLit,
          lit(nProbe))).as("cid"))
      .filter(col("cid").isNotNull)
    // no pair dedup: a corpus vector has exactly ONE cid and a query's
    // probe cids are distinct, so a (query, neighbor) pair meets at most
    // once — a dropDuplicates here would be a semantic no-op paying a
    // full candidate-set shuffle (LSH genuinely needs one: its pairs can
    // meet in several tables)
    val scored = c.join(broadcast(q), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineFast(col("qv"), col("cv")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"
    * — public paper): assign every vector to its nearest centroid, search
    * for near-duplicates WITHIN each cluster only, and greedily drop any
    * vector whose cosine to a smaller-id cluster-mate reaches `threshold`
    * (one deterministic representative per semantic near-dup set — the
    * paper keeps one item per ε-ball; id order stands in for its
    * keep-rule). Returns the KEPT (id, cid) rows.
    *
    * Scale notes: the centroid matrix rides the plan as one constant
    * (`graft_ivf_nearest` kernel — no assignment shuffle, same as IVF),
    * so the only shuffles are the cluster-keyed self-join and the drop
    * anti-join. The within-cluster pair space is the quadratic SemDeDup
    * itself prescribes — cluster count must scale with the corpus
    * (k ≈ √n keeps E[cluster] ≈ √n); a hot cluster is AQE skew-join
    * territory. Dup-heavy corpora should collapse identical vectors
    * first ([[embeddingNearDupPairs]]'s distinct-vector move) so exact
    * dups don't re-pair inside every cluster.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Float]], threshold: Double): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(cents.nonEmpty, "semanticDedup needs at least one centroid")
    val centsLit = lit(GraftFunctions.encodeCents(cents))
    // collapse-first (defaulted after the 300× dup-heavy probe measured
    // 72 s — exact duplicates re-paired inside every cluster): the
    // quadratic within-cluster pair space runs over DISTINCT vectors
    // (vh = 8-byte hash surrogate, the embeddingNearDupPairs stance),
    // each represented by its MIN instance id. This is EXACT, not an
    // approximation: cos(V, W) ≤ cos(V, V) after rounding, so
    //  - self_cos ≥ τ → every non-min replica drops against the min one,
    //    and the min instance drops iff a qualifying OTHER vector has a
    //    smaller min id — precisely the rep-level pair rule;
    //  - self_cos < τ (zero vectors, unreachable τ) → nothing can drop
    //    ANY instance of V, so the whole replica group survives.
    val members = corpus.select(col(idCol).as("iid"),
      xxhash64(col(vecCol)).as("vh"))
    val sigs = corpus
      .select(xxhash64(col(vecCol)).as("vh"), col(vecCol).as("v"))
      .dropDuplicates("vh")
      .withColumn("self_cos", round(Similarity.cosineFast(col("v"), col("v")), 4))
    val minIds = members.groupBy("vh").agg(min("iid").as("id"))
    val assigned = sigs.join(minIds, Seq("vh"))
      .select(col("vh"), col("id"), col("v"), col("self_cos"),
        call_function("graft_ivf_nearest", col("v"), centsLit).as("cid"))
      .hint("shuffle_hash") // self-join: shuffle both sides → ReusedExchange
    val drops = assigned.as("x").join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
      // round before the threshold like the rest of the ANN family: the
      // compare is then stable across engines' float printing
      .filter(round(Similarity.cosineFast(col("x.v"), col("y.v")), 4) >= threshold)
      .select(col("y.id").as("id")).distinct()
    val keptReps = assigned.join(drops, Seq("id"), "left_anti")
      .select(col("vh"), col("id").as("rep_id"), col("self_cos"), col("cid"))
    members.join(keptReps, Seq("vh"))
      .filter((col("self_cos") >= threshold && col("iid") === col("rep_id")) ||
        col("self_cos") < threshold)
      .select(col("iid").as(idCol), col("cid"))
  }

  /** Cluster-balanced diversity sampling: cap every semantic cluster's
    * representation at `perCluster` members, keeping the MOST CENTRAL
    * vectors (smallest L2 to the assigned centroid, tie → smallest id).
    * The complement of [[semanticDedup]]'s near-dup removal: instead of
    * dropping ε-duplicates, it bounds how much any one semantic region
    * contributes to a curated mix — the standard move for de-biasing a
    * web corpus whose clusters are wildly unequal (boilerplate clusters
    * hold millions, rare-topic clusters dozens).
    *
    * Scale notes: assignment AND the distance both run as codegen'd
    * kernel projections with the centroid matrix as ONE plan constant —
    * no assignment shuffle, no per-row join. The per-cluster cut is a
    * `graft_top_k_by` bounded-heap aggregation (k-row buffer,
    * ObjectHashAggregate, map-side partial): the only shuffle moves at
    * most k rows per cluster per map task, and there is no window sort
    * anywhere. Returns (idCol, cid, dist, rank), dist rounded 4dp.
    */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            cents: Array[Array[Float]], perCluster: Int): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    require(cents.nonEmpty, "clusterBalancedSample needs at least one centroid")
    require(perCluster >= 1, "perCluster must be >= 1")
    val centsLit = lit(GraftFunctions.encodeCents(cents))
    val centArr = typedLit(cents.map(_.toSeq).toSeq)
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cid", call_function("graft_ivf_nearest", col("v"), centsLit))
      .withColumn("dist", call_function("graft_vec_l2sq", col("v"),
        element_at(centArr, col("cid") + 1)))
    assigned.groupBy(col("cid"))
      .agg(call_function("graft_top_k_by",
        struct(col("id"), col("dist")), -col("dist"), col("id"), lit(perCluster)).as("top"))
      .select(col("cid"), posexplode(col("top")))
      .select(col("col.id").as(idCol), col("cid"),
        round(col("col.dist"), 4).as("dist"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** PCA-reduce an embedding column to `dims` components (Spark MLlib's
    * distributed PCA: one covariance aggregation over the corpus + a
    * driver-side eigendecomposition of the d×d matrix — d is the
    * embedding width, not the corpus size). The scale lever for the ANN
    * stack: 64-d → 16-d cuts every cosine and every shuffled vector
    * payload 4× while near-dup/top-k recall tracks the retained
    * variance. Returns (the frame with `outCol: Array[Float]`, the
    * fitted model for transforming FUTURE batches with the same basis —
    * reusing it is what keeps reduced vectors comparable across runs).
    */
  def pcaReduce(df: DataFrame, vecCol: String, dims: Int,
                outCol: String): (DataFrame, org.apache.spark.ml.feature.PCAModel) = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val withVec = df.withColumn("__pca_in",
      array_to_vector(col(vecCol).cast("array<double>")))
    val model = new PCA().setInputCol("__pca_in").setOutputCol("__pca_out")
      .setK(dims).fit(withVec)
    val out = model.transform(withVec)
      .withColumn(outCol, vector_to_array(col("__pca_out"), "float32"))
      .drop("__pca_in", "__pca_out")
    (out, model)
  }

  /** Split a centroid matrix into `m` per-subspace codebooks for product
    * quantization: codebook s holds every centroid's s-th dim/m-wide
    * slice. Deriving all subspace codebooks from ONE pool (stride sample
    * or k-means) keeps training a single pass and makes the construction
    * engine-replayable.
    */
  def pqCodebooks(cents: Array[Array[Float]], m: Int): Array[Array[Array[Float]]] = {
    require(cents.nonEmpty, "pqCodebooks needs at least one centroid")
    val dim = cents.head.length
    require(m >= 1 && dim % m == 0,
      s"subspace count $m must divide the vector dim $dim")
    val dsub = dim / m
    Array.tabulate(m)(s => cents.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /** Per-subspace k-means refinement of PQ codebooks (the training step
    * Jégou et al. 2011 prescribe: each subspace's codebook is k-means of
    * THAT subspace's slices, not a slice of full-vector centroids — a
    * sliced pool covers each subspace marginal with only |pool| points
    * and caps recall far below the quantizer's capacity); with m = 1 it
    * is plain Lloyd's k-means ([[kmeansCentroidsExact]]).
    *
    * Engine-portable arithmetic: assignment via the `graft_ivf_nearest`
    * kernel per subspace (fixed-order double L2, ties to the smaller
    * cid); each element is quantized to integer micro-units
    * (`floor(v·1e6 + 0.5)` as long — exact IEEE for |v| ≤ ~4e12) and the
    * cluster sums are LONG sums (order-independent — no
    * float-accumulation nondeterminism across partitions or engines);
    * the new element is `(sum.toDouble / n / 1e6).toFloat` — two
    * fixed-order double divisions + one float rounding, bit-identical in
    * any IEEE engine, so the DuckDB oracle replays it. Empty clusters
    * keep their previous centroid; NULL vectors are skipped; a vector
    * whose length is not m × dsub fails the job (`raise_error` inside
    * the training projection — no extra pass).
    *
    * Scale notes: ONE distributed pass per iteration trains ALL m
    * subspaces together — each row explodes to m (s, cid, slice) structs
    * and the shuffle carries ≤ partitions × m × ksub × dsub partial
    * sums; only the m × ksub × dsub codebook tensor reaches the driver.
    * At 100 TB train on a sample (quantizer quality saturates long
    * before the corpus is exhausted); encoding stays a full-corpus
    * codegen projection either way.
    */
  def pqTrainCodebooksExact(corpus: DataFrame, vecCol: String,
                            init: Array[Array[Array[Float]]],
                            iters: Int): Array[Array[Array[Float]]] = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(init.nonEmpty, "pq training needs >= 1 codebook")
    require(iters >= 0, s"pq training iters must be >= 0, got $iters")
    val m = init.length
    val dsub = init.head.head.length
    // a wrong-length vector fails the job inside the training projection
    // — trained by prefix or dropped, it would skew the means silently
    val guarded = when(size(col(vecCol)) === lit(m * dsub), col(vecCol))
      .otherwise(raise_error(concat(
        lit("k-means training: vector dim "), size(col(vecCol)).cast("string"),
        lit(s" != centroid dim ${m * dsub}"))))
    var books = init
    for (_ <- 0 until iters) {
      val subRows = (0 until m).map { s =>
        val sl = slice(guarded, s * dsub + 1, dsub)
        struct(lit(s).as("s"),
          call_function("graft_ivf_nearest", sl,
            lit(GraftFunctions.encodeCents(books(s)))).as("cid"),
          sl.as("v"))
      }
      val sums = corpus.filter(col(vecCol).isNotNull)
        .select(explode(array(subRows: _*)).as("r"))
        .select(col("r.s").as("s"), col("r.cid").as("cid"), posexplode(col("r.v")))
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg(sum(floor(col("col").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long")).as("sm"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          (r.getLong(3).toDouble / r.getLong(4) / 1000000.0).toFloat
      }
      books = next
    }
    books
  }

  /** Product-quantization encode (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search" — public paper): each
    * vector becomes `m` small codes, one per subspace — the nearest
    * codebook centroid of that subspace's slice. With m=8 and 16
    * centroids per codebook a 64-d float vector (256 B) compresses to 8
    * codes (≤ 8 B) — the ~30× memory/IO reduction that lets a 100 TB
    * embedding corpus's INDEX live in cluster memory while the raw
    * vectors stay on disk.
    *
    * Scale notes: one codegen projection — every codebook rides the plan
    * as a literal (`graft_ivf_nearest` per subspace slice), zero joins,
    * zero shuffles, streaming-safe.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Float]]],
               keepCols: Seq[String] = Nil): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    require(codebooks.nonEmpty, "pqEncode needs at least one codebook")
    val dsub = codebooks.head.head.length
    val dim = codebooks.length * dsub
    // a vector of the wrong dim would SILENTLY encode garbage — slice()
    // returns short arrays and the distance kernel's length guard scores
    // truncated prefixes — so gate every row loudly instead
    val guarded = when(col(vecCol).isNull || size(col(vecCol)) === lit(dim),
        col(vecCol))
      .otherwise(raise_error(concat(
        lit("pqEncode: vector dim "), size(col(vecCol)).cast("string"),
        lit(s" != codebook dim $dim"))))
    val codes = array(codebooks.zipWithIndex.map { case (cb, s) =>
      call_function("graft_ivf_nearest",
        slice(guarded, s * dsub + 1, dsub),
        lit(GraftFunctions.encodeCents(cb)))
    }.toIndexedSeq: _*)
    // NULL vector → NULL codes (not an array of NULL elements: `array`
    // would happily build one, and a null slot read downstream as int
    // decodes to centroid 0 — a NULL embedding silently scored as a real
    // point). pqTopK filters NULL codes; pqAdc rejects null ELEMENTS.
    val guardedCodes = when(col(vecCol).isNull, lit(null).cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType))).otherwise(codes)
    df.select(col(idCol) +: keepCols.map(col) :+ guardedCodes.as("codes"): _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays a
    * full vector, each candidate's distance is the sum of per-subspace
    * L2² distances from the query's slice to the candidate's CODED
    * centroid — the corpus scan reads only the 8-byte code column, never
    * the vectors. Each part is 5-dp-quantized as `floor(d·1e5 + 0.5)` in
    * exact long units and the parts summed as longs (order-independent,
    * pure-IEEE — engine-portable without decimal string semantics); the
    * output `adc` is emitted as-is, NOT re-rounded coarser (a quantized
    * value re-rounded at a coarser scale sits exactly on half-boundaries,
    * where engines legitimately disagree). Ranking is (adc asc,
    * neighbor asc).
    *
    * Scale notes: the whole distance is ONE `graft_pq_adc` kernel call —
    * all m codebooks ride as a single reference object and each pair is
    * one tight primitive loop. The first cut composed per-subspace
    * `element_at` lookups into a 2-D array literal instead: generic array
    * traversal + per-element boxing made it ~70× slower at the 10× probe
    * (252 s vs the kernel's brute-force-parity seconds) — the q37
    * combinator-vs-kernel lesson again. Queries broadcast (same contract
    * as [[bruteForceTopK]]); top-k is the bounded-heap aggregate — no
    * window sort. ADC approximates true distance (quantization error);
    * [[bruteForceTopK]] remains the declared yardstick.
    *
    * The codes side goes through an identity-`mapPartitions` CODEGEN
    * BARRIER before the join. Whole-stage codegen fuses the stream-side
    * projection into the nested-loop join and defers any expression the
    * join condition doesn't reference into the inner loop — so when
    * `codes` arrives as the UNMATERIALIZED [[pqEncode]] projection (the
    * one-plan catalog composition), the full encode (m × |codebook| ×
    * dsub multiplies per row) re-runs once per PAIR: measured 19.9 s vs
    * 3.5 s stored-codes at the 10× probe. The barrier materializes each
    * code row exactly once (4.2 s inline — brute-force parity); its cost
    * is one row ser/deser per corpus row, O(N) against the join's O(N·Q)
    * kernel work, so it stays on unconditionally even for stored codes.
    */
  def pqTopK(queries: DataFrame, codes: DataFrame, idCol: String,
             vecCol: String, codebooks: Array[Array[Array[Float]]],
             k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(queries.sparkSession)
    require(codebooks.nonEmpty, "pqTopK needs at least one codebook")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .filter(col("qv").isNotNull)
    // NULL-code rows (NULL embeddings in pqEncode) never rank: a null
    // code slot would otherwise decode as centroid 0 of every codebook
    // and a garbage row could surface as a top-k neighbor
    val cRaw = codes.select(col(idCol).as("neighbor_id"), col("codes"))
      .filter(col("codes").isNotNull)
    val c = cRaw.mapPartitions(it => it)(Encoders.row(cRaw.schema))
    val adc = call_function("graft_pq_adc", col("qv"), col("codes"),
      lit(GraftFunctions.encodeBooks(codebooks)))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
    scored.groupBy("query_id")
      .agg(call_function("graft_top_k_by",
        struct(col("neighbor_id"), col("adc")), -col("adc"),
        col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.adc").as("adc"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Per-vector IVF residuals: (id, res = v − coarse_centroid(cell)) —
    * the training input for residual-PQ codebooks ([[ivfPqTopK]] with
    * `residual = true` encodes exactly this). One codegen assignment +
    * one broadcast join with the k×dim matrix; subtraction is float IEEE
    * (engine-portable). NULL / unassignable vectors are dropped.
    */
  def ivfResiduals(corpus: DataFrame, idCol: String, vecCol: String,
                   cents: Array[Array[Float]], outCol: String = "res"): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(cents.nonEmpty, "ivfResiduals needs at least one centroid")
    val spark = corpus.sparkSession
    import spark.implicits._
    val centsDf = broadcast(
      cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("cid", "__centv"))
    corpus.select(col(idCol),
        call_function("graft_ivf_nearest", col(vecCol),
          lit(GraftFunctions.encodeCents(cents))).as("cid"),
        col(vecCol).as("__v"))
      .filter(col("cid").isNotNull)
      .join(centsDf, Seq("cid"))
      .select(col(idCol), col("cid"),
        zip_with(col("__v"), col("__centv"), (a, b) => a - b).as(outCol))
  }

  /** IVF-PQ: the coarse inverted file gates WHICH codes each query scores,
    * product quantization compresses WHAT gets scored — the composition
    * behind every production-scale ANN service (FAISS IVFPQ). [[pqTopK]]
    * alone still touches every code per query (its 100× probe tail);
    * here a query ADC-scans only its `nProbe` probed cells, ~nProbe/k of
    * the codes, and the scan reads (int cell, byte codes) — never the
    * vectors.
    *
    * Scale shape: ONE corpus pass emits (id, cell, codes) — the index
    * build; queries broadcast with their probe list exploded and join on
    * the cell id (no shuffle of the corpus beyond the scan); ADC is a
    * codegen kernel over the code bytes; top-k is the bounded-heap agg.
    * Same ADC/rank semantics as [[pqTopK]] restricted to probed cells —
    * recall loses only cell-miss candidates, exactly IVF's contract.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, cents: Array[Array[Float]],
                codebooks: Array[Array[Array[Float]]],
                k: Int, nProbe: Int, residual: Boolean = false): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(cents.nonEmpty, "ivfPqTopK needs at least one coarse centroid")
    require(codebooks.nonEmpty, "ivfPqTopK needs at least one codebook")
    val spark = corpus.sparkSession
    import spark.implicits._
    val centsLit = lit(GraftFunctions.encodeCents(cents))
    // residual = true: PQ encodes x − coarse_centroid(cell) and the query
    // side scores with its own per-cell residual (FAISS IVFPQ's default;
    // residuals concentrate near 0 so the same code budget spends its
    // precision on the within-cell geometry that actually ranks
    // neighbors). L2 is translation-invariant per cell:
    // ‖q − x‖ = ‖(q − c) − (x − c)‖, so residual ADC approximates the
    // SAME distance — only the quantization error shrinks. The per-cell
    // centroid arrives via a broadcast of the k×dim matrix; subtraction
    // is float IEEE (engine-portable).
    val centsDf = broadcast(
      cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("cid", "__centv"))
    def resOf(vec: Column): Column =
      zip_with(vec, col("__centv"), (a, b) => a - b)
    val withCid = corpus.select(col(idCol), col(vecCol),
        call_function("graft_ivf_nearest", col(vecCol), centsLit).as("cid"))
      .filter(col("cid").isNotNull)
    val coded =
      (if (residual)
        pqEncode(withCid.join(centsDf, Seq("cid"))
            .withColumn("__enc", resOf(col(vecCol))),
          idCol, "__enc", codebooks, keepCols = Seq("cid"))
      else pqEncode(withCid, idCol, vecCol, codebooks, keepCols = Seq("cid")))
        .filter(col("codes").isNotNull)
        .select(col(idCol).as("neighbor_id"), col("cid"), col("codes"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode_outer(call_function("graft_ivf_probes", col(vecCol), centsLit,
          lit(nProbe))).as("cid"))
      .filter(col("cid").isNotNull)
    val q = if (residual)
      q0.join(centsDf, Seq("cid"))
        .select(col("cid"), col("query_id"), resOf(col("qv")).as("qv"))
    else q0
    val adc = call_function("graft_pq_adc", col("qv"), col("codes"),
      lit(GraftFunctions.encodeBooks(codebooks)))
    // a corpus code has ONE cell and a query's probes are distinct, so a
    // (query, neighbor) pair meets at most once — no dedup (the
    // ivfTopKWith argument)
    val scored = coded.join(broadcast(q), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
    scored.groupBy("query_id")
      .agg(call_function("graft_top_k_by",
        struct(col("neighbor_id"), col("adc")), -col("adc"),
        col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.adc").as("adc"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Exact re-rank refinement (the FAISS `IndexRefine` pattern): take an
    * approximate candidate list (any (query_id, neighbor_id, …) frame —
    * typically [[ivfPqTopK]] at k = R > k_out) and re-score ONLY those
    * candidates with true cosine against the raw vectors, emitting the
    * exact-top-k_out of each candidate set. Recall@k_out becomes "did the
    * true neighbor make the candidate list at all" — the ADC quantization
    * error stops costing rank accuracy (measured 0.42 → 0.62 recall@5 at
    * probe4/R=50 on the driver's embeddings, which IS the probe-4 cell
    * ceiling: refinement recovers everything the coarse gate admits).
    *
    * Scale notes: candidates are queries × R rows — tiny. They broadcast
    * into ONE hash join against the corpus scan (vecCol + id only — with
    * R·|queries| ids the build side is MBs at thousands of queries), so
    * refinement costs one column-pruned corpus pass, not a per-candidate
    * lookup storm; queries broadcast as in [[bruteForceTopK]]; top-k is
    * the bounded-heap aggregate. On a bucketed/partitioned corpus layout
    * the scan prunes further, but even the plain pass is O(corpus) IO
    * against the ADC stage's O(corpus · queries) compute.
    */
  def refineTopK(candidates: DataFrame, queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(k >= 1, s"k must be >= 1, got $k")
    val cand = candidates.select(col("query_id"), col("neighbor_id"))
    val withVec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = withVec.join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineFast(col("qv"), col("cv")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Johnson–Lindenstrauss random projection: append `outCol` =
    * the `k`-dim projection of `vecCol` through deterministic ±1 planes
    * (`graft_rp_project` — one codegen kernel call per row, zero
    * shuffles, engine-replayable planes shared with the RHP-LSH
    * family). The JL lemma bounds pairwise-distance distortion by
    * ~1/√k, so a 64→16 reduction cuts every downstream distance
    * computation 4× while keeping neighborhoods mostly intact — the
    * cheap pre-step before brute-force re-rank or IVF over a shrunken
    * working set (the [[pcaReduce]] alternative when the data has no
    * low-rank structure for PCA to find — random projections need
    * none).
    */
  def rpProject(df: DataFrame, vecCol: String, outCol: String, k: Int,
                seed: Int = 7): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    require(k >= 1, s"k must be >= 1, got $k")
    // the engine-portable plane replay (64-bit LCG sums in an external
    // engine vs Scala's wrapping 32-bit arithmetic) agrees only for
    // non-negative hash sums — a negative seed would silently produce
    // planes no oracle can re-derive
    require(seed >= 0, s"seed must be >= 0, got $seed")
    df.withColumn(outCol,
      call_function("graft_rp_project", col(vecCol), lit(k), lit(seed)))
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * index-quality measurement every production ANN deployment runs
    * before trusting an index (tune nPlanes/nProbe/codebooks until
    * recall clears the bar, THEN deploy). Both inputs are
    * (query_id, neighbor_id, …) frames — the shape every topK operator
    * here emits — so any approximate method can be scored against any
    * exact yardstick. One row per EXACT-side query:
    * (query_id, n_matched, recall = n_matched / k) — a query the
    * approximate side missed entirely still scores (0, 0.0), never
    * vanishes; macro-average is one `avg(recall)` away.
    *
    * Scale notes: one left join on (query_id, neighbor_id) — both sides
    * are already tiny (queries × k rows) relative to the corpora that
    * produced them — and one hash agg on query_id; recall is exact
    * integer count ÷ k, engine-portable with no rounding.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1L))
    exact.select("query_id", "neighbor_id")
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_matched"))
      .withColumn("recall", col("n_matched").cast("double") / k)
  }

  /** Top-k by (cos desc, neighbor_id asc) via graft's bounded-heap
    * aggregate: O(log k) per candidate in ObjectHashAggregate, only k rows
    * per query per map task shuffle — a `row_number` window would sort
    * EVERY candidate of every query (and a window is also why the old plan
    * carried two Sort nodes).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(scored.sparkSession)
    val entry = struct(col("neighbor_id"), col("cos"))
    // order desc on cos, tie asc on neighbor_id — works for any orderable
    // id type (string ids included), unlike a numeric negation trick
    scored.groupBy("query_id")
      .agg(call_function("graft_top_k_by", entry, col("cos"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        round(col("col.cos"), 4).as("cos"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold via LSH-bucketed
    * self-join (id_a < id_b). The threshold filter runs BEFORE the pair
    * dedup, so only passing (id, id, cos) triples ever shuffle.
    *
    * Like [[NearDup.simhashPairs]], exact-duplicate vectors are collapsed
    * before bucketing: identical vectors land in every shared bucket of
    * every table, so dup-heavy corpora multiply candidate rows nTables-
    * fold. Bucketing runs on DISTINCT vectors; id pairs come back via
    * membership joins.
    *
    * Every distinct/membership shuffle keys on `vh = xxhash64(vector)` —
    * an 8-byte surrogate — instead of the 256-byte+ array value (the same
    * move [[NearDup.simhashPairs]] makes with its 8-byte signature).
    * Vectors themselves travel only where the math needs them (bucketing +
    * cosine on the DISTINCT set). A 64-bit collision between distinct
    * vectors would merge their identities; at 10^9 distinct vectors the
    * expected collision count is ~n²/2^65 ≈ 0.03 — accepted, exactly as
    * with the shingle hashes in [[NearDup.ngramJaccardPairs]].
    */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nPlanes: Int,
                            nTables: Int = 4): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    // slim membership: (id, 8-byte vector hash) — no vector payload
    val members = corpus.select(col(idCol).as("id"), xxhash64(col(vecCol)).as("vh"))
    // one representative vector per distinct hash; self-cosine rides along
    // so exact-dup pairs never need the vector again (≈1.0 after rounding,
    // except all-zero vectors whose cosine is 0 and correctly drops)
    val sigs = corpus
      .select(xxhash64(col(vecCol)).as("vh"), col(vecCol).as("v"))
      .dropDuplicates("vh")
      .withColumn("self_cos", round(Similarity.cosineFast(col("v"), col("v")), 4))
    val tables = (0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        Similarity.rhpBucketFast(col("v"), nPlanes, seed = 42 + t * 7919).as("bkt"))
    }
    val bucketed = sigs.select(col("vh"), col("v"), explode(array(tables: _*)).as("tb"))
      .select(col("vh"), col("v"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
      .hint("shuffle_hash") // self-join: shuffle both sides → ReusedExchange
    val sigPairs = bucketed.as("a").join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vh") < col("b.vh")) // total order on distinct hashes
      .select(col("a.vh").as("vh_a"), col("b.vh").as("vh_b"),
        round(Similarity.cosineFast(col("a.v"), col("b.v")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("vh_a", "vh_b")
    // exact-dup groups (identical vector ⇒ identical vh): slim id pairs,
    // cosine looked up from the distinct-signature table
    val selfCos = sigs.select(col("vh").as("vh_s"), col("self_cos"))
    val intra = members.as("m1").join(members.as("m2"),
        col("m1.vh") === col("m2.vh") && col("m1.id") < col("m2.id"))
      .join(selfCos, col("m1.vh") === col("vh_s"))
      .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"),
        col("self_cos").as("cos"))
      .filter(col("cos") >= threshold)
    val inter = sigPairs
      .join(members.as("ma"), col("ma.vh") === col("vh_a"))
      .join(members.as("mb"), col("mb.vh") === col("vh_b"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("cos"))
    intra.unionByName(inter)
  }

  /** Per-dimension embedding QA census — the sanity gate an embedding
    * pipeline runs before ANY of the similarity operators above are
    * trusted: dead dimensions (a projection bug or a clipped activation
    * zeroes a coordinate everywhere), constant dimensions (no variance ⇒
    * wasted index capacity and distorted cosines), and per-dimension
    * mean/std (detects unnormalized batches mixed into a normalized
    * corpus).
    *
    * EXACT-INTEGER discipline: each float widens to its exact double and
    * quantizes to 1e-6 micro-units via `floor(v·1e6 + 0.5)` — pure IEEE
    * ops every engine computes bit-identically (no decimal-string
    * rounding of floats, whose tie-breaking differs across engines).
    * Counts/min/max/sums are then integer-exact; mean/std derive from
    * the exact sums with deterministic double arithmetic.
    *
    * Scale notes: ONE pass — posexplode to (dim, q) pairs, then a hash
    * aggregation on `dim` whose partial aggregates shrink every
    * partition to d rows before the shuffle (shuffle volume = partitions
    * × d, independent of corpus size). No driver data, no windows. The
    * squared sum rides a decimal(38,0) so 100 TB of micro² terms cannot
    * overflow a long.
    */
  def embeddingDimStats(df: DataFrame, vecCol: String): DataFrame = {
    val micro = 1000000d
    val qq = col("q").cast("decimal(19,0)")
    df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)))
      .select(col("pos").cast("int").as("dim"),
        floor(col("col").cast("double") * micro + lit(0.5)).cast("long").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("q") === 0L, 1L).otherwise(0L)).as("n_dead"),
        min(col("q")).as("min_q"), max(col("q")).as("max_q"),
        sum(col("q")).as("sum_q"),
        sum(qq * qq).as("__ssq"))
      .select(col("dim"), col("n"), col("n_dead"), col("min_q"), col("max_q"),
        col("sum_q"),
        col("__ssq").cast("string").cast("double").as("sum_sq"),
        (col("sum_q").cast("double") / col("n") / micro).as("mean"),
        (sqrt(greatest(
          (col("__ssq").cast("string").cast("double") -
            col("sum_q").cast("double") * col("sum_q").cast("double") / col("n"))
            / col("n"), lit(0.0))) / micro).as("std"),
        (col("min_q") === col("max_q")).as("is_constant"),
        (col("n_dead") === col("n")).as("is_dead"))
  }
}
