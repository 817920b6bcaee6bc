package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-mix curation: deterministic per-stratum document selection.
  *
  * A pretraining pipeline rarely takes a corpus whole — it takes "N
  * tokens of lang=X, M tokens of source=Y" mixes. These operators make
  * that selection reproducible (no RNG in the cut decision) and
  * Spark-native.
  *
  * Scale notes: the budget cut is a running sum WINDOW per stratum — one
  * shuffle on the stratum key plus a per-stratum sort. That is the honest
  * cost of an order-dependent cut; when any-subset-of-the-right-size is
  * acceptable, prefer [[stratifiedFractions]] (pure map-side filter, no
  * shuffle at all). Strata counts are typically few (languages, sources),
  * so AQE's skew handling covers a dominant stratum.
  */
object Sampling {

  /** Keep documents, in `order` within each stratum, until each stratum's
    * token budget is exhausted: a doc is kept iff the budget was not
    * already spent when it started (the doc that CROSSES the budget line
    * is kept, matching "take until you have at least N tokens").
    */
  def tokenBudgetPerStratum(df: DataFrame, stratumCol: Column, order: Seq[Column],
                            tokenCount: Column, budget: Long): DataFrame =
    budgetCut(df, stratumCol, order, tokenCount, lit(budget))

  /** The one running-sum cut both budget forms share: keep a row iff its
    * stratum budget was not already spent when it started (null budget →
    * filter false → row dropped).
    */
  private def budgetCut(df: DataFrame, stratumCol: Column, order: Seq[Column],
                        tokenCount: Column, budget: Column): DataFrame = {
    val w = Window.partitionBy(stratumCol).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(tokenCount).over(w))
      .filter(col("__cum") - tokenCount < budget)
      .drop("__cum")
  }

  /** Skew-proof form of [[tokenBudgetPerStratum]] for MEGA-strata: when
    * one stratum is a dominant fraction of a 100 TB corpus (one language
    * at 40%), the single-phase window sorts that stratum on ONE task
    * chain. This two-phase cut range-partitions each stratum across
    * `slices` ordered partitions, computes per-slice token totals (a tiny
    * aggregate — at most slices + strata rows), turns them into per-slice
    * running OFFSETS on the driver, and finishes with a window keyed by
    * (slice, stratum) — so the sort work spreads over `slices` tasks per
    * stratum and no task ever sorts more than its slice.
    *
    * Output is EXACTLY [[tokenBudgetPerStratum]]'s (spec-pinned) provided
    * `order` is a total order within each stratum (the same requirement
    * the single-phase form has for determinism) and `tokenCount` is
    * INTEGRAL — counts are cast to long here so the driver-side offset
    * fold and the executor-side running sum share one arithmetic domain;
    * fractional counts would truncate and diverge from the single-phase
    * form, so use that form (or pre-round) for fractional weights.
    *
    * Cost: one range exchange + a localCheckpoint materialization (the
    * slice ids must stay FIXED between the totals pass and the final
    * window — range sampling is not re-run-stable), one small aggregate
    * job at plan-construction time (same plan-time-decision class as
    * `profileGatedDateCasts`), and the (slice, stratum)-keyed window.
    */
  def tokenBudgetPerStratumSliced(df: DataFrame, stratumCol: Column,
                                  order: Seq[Column], tokenCount: Column,
                                  budget: Long, slices: Int): DataFrame = {
    require(slices >= 1, s"slices must be >= 1, got $slices")
    val spark = df.sparkSession
    val prepared = df.withColumn("__stratum", stratumCol)
      // token counts are integral by contract; the long form keeps the
      // driver-side offset fold and the executor-side running sum in ONE
      // arithmetic domain
      .withColumn("__tok", tokenCount.cast("long"))
      .repartitionByRange(slices, (col("__stratum") +: order): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    // per-(slice, stratum) token totals → exclusive running offset per
    // stratum in slice order; ≤ slices + strata rows reach the driver
    // (range partitioning clusters each stratum into contiguous slices)
    val totals = prepared.groupBy(col("__pid"), col("__stratum"))
      .agg(coalesce(sum(col("__tok")), lit(0L)).as("__t"))
      .collect()
    val offsetRows = totals
      .groupBy(_.get(1))
      .iterator.flatMap { case (_, rows) =>
        rows.sortBy(_.getInt(0)).foldLeft((0L, List.empty[org.apache.spark.sql.Row])) {
          case ((acc, out), r) =>
            (acc + r.getLong(2),
              org.apache.spark.sql.Row(r.getInt(0), r.get(1), acc) :: out)
        }._2
      }.toSeq
    val offsetSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__pid2",
        org.apache.spark.sql.types.IntegerType),
      prepared.schema("__stratum").copy(name = "__stratum2"),
      org.apache.spark.sql.types.StructField("__offset",
        org.apache.spark.sql.types.LongType)))
    val offsets = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(offsetRows).asJava), offsetSchema)
    val w = Window.partitionBy(col("__pid"), col("__stratum"))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prepared.join(broadcast(offsets),
        col("__pid") === col("__pid2") && col("__stratum") <=> col("__stratum2"))
      .withColumn("__cum", col("__offset") + sum(col("__tok")).over(w))
      .filter(col("__cum") - col("__tok") < budget)
      .drop("__pid", "__pid2", "__stratum", "__stratum2", "__offset",
        "__cum", "__tok")
  }

  /** Concat-and-chunk sequence packing: assign each document its position
    * in the fixed-length training sequences a pretraining run would cut
    * from the stratum's concatenated token stream. With documents ordered
    * by `order` within each stratum, a doc starting at token offset s goes
    * to sequence `s / seqLen` at offset `s % seqLen` — exactly where its
    * first token lands when the stream is chunked every seqLen tokens
    * (docs may straddle a boundary; the id/offset name where they START,
    * which is all a loader needs to reassemble chunks).
    *
    * Adds `seq_id` and `seq_offset`. Deterministic — no RNG, stable
    * across retries and engines. Same window shape (and therefore the
    * same mega-stratum caveat and sliced escape path) as
    * [[tokenBudgetPerStratum]]: one shuffle on the stratum key + one
    * per-stratum sort.
    */
  def packSequences(df: DataFrame, stratumCol: Column, order: Seq[Column],
                    tokenCount: Column, seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = Window.partitionBy(stratumCol).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__start", sum(tokenCount.cast("long")).over(w) - tokenCount.cast("long"))
      .withColumn("seq_id", (col("__start") / seqLen).cast("long"))
      .withColumn("seq_offset", pmod(col("__start"), lit(seqLen)).cast("long"))
      .drop("__start")
  }

  /** Per-stratum token budgets — the training-mix composition step
    * ("600 M tokens of en, 200 M of de, 50 M of code"): the same
    * running-sum cut as [[tokenBudgetPerStratum]], but each stratum
    * reads its own budget from the map (strata absent from the map are
    * DROPPED — an unlisted source contributes nothing to the mix).
    * One window over the stratum key, same scale posture as the
    * single-budget form. NOTE the sliced mega-stratum escape
    * ([[tokenBudgetPerStratumSliced]]) currently takes ONE budget — for
    * a mix whose dominant stratum needs slicing, run the sliced form on
    * that stratum alone and this cut on the rest.
    */
  def tokenBudgetMix(df: DataFrame, stratumCol: Column, order: Seq[Column],
                     tokenCount: Column, budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ >= 0),
      "budgets must be non-empty and >= 0")
    budgetCut(df, stratumCol, order, tokenCount,
      element_at(typedLit(budgets), stratumCol.cast("string")))
  }

  /** Deterministic per-stratum upsampling for mix balancing: every row
    * repeats floor(factor) times, plus one more when the [[uniform01]]
    * hash of its id (ONE draw per source row — the fractional part
    * yields at most one extra copy) lands under frac(factor) — no RNG,
    * stable across retries and engines. `repeat` (0-based copy index)
    * is exposed so downstream shuffling/packing can differentiate
    * copies. Factors default to 1.0 for unlisted strata; factor 0 drops
    * the stratum. A pure generator projection — no shuffle; the explode
    * multiplies rows map-side.
    */
  def upsampleByFactor(df: DataFrame, stratumCol: Column, idCol: Column,
                       factors: Map[String, Double],
                       seed: Long = 42L): DataFrame = {
    require(factors.values.forall(f => f >= 0 && f <= 1000),
      "factors must be in [0, 1000]")
    val f = coalesce(element_at(typedLit(factors), stratumCol.cast("string")), lit(1.0))
    val whole = floor(f).cast("int")
    val frac = f - floor(f)
    // coalesce: a NULL id hashes to NULL → NULL extra would null __n and
    // silently DROP the row; a null-id row keeps its whole repeats
    val extra = coalesce(
      (uniform01(idCol, seed) < frac).cast("int"), lit(0))
    df.withColumn("__n", whole + extra)
      .filter(col("__n") > 0)
      .withColumn("repeat", explode(sequence(lit(0), col("__n") - 1)))
      .drop("__n")
  }

  /** Uniform value in [0, 1) as a pure function of (id, seed) — the
    * deterministic randomness every sampling decision here builds on:
    * stable across retries, repartitions, and engines (unlike seeded-RNG
    * `sample`, whose draw depends on row order). The draw is the first
    * 8 hex digits of md5(id || ':' || seed) over 2^32, so any SQL engine
    * reproduces it (the oracles replay exactly this expression). A NULL
    * id makes the md5 input NULL, so its draw is NULL.
    */
  def uniform01(id: Column, seed: Long = 42L): Column =
    conv(substring(md5(concat(id.cast("string"), lit(s":$seed"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Deterministic per-stratum fraction sampling WITHOUT a shuffle: keep a
    * row iff a uniform hash of its id lands under the stratum's fraction.
    * Unknown strata default to fraction 0.
    */
  def stratifiedFractions(df: DataFrame, stratumCol: Column, idCol: Column,
                          fractions: Map[String, Double],
                          seed: Long = 42L): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    // stratum keys the string-typed fractions map, so non-string strata
    // are cast (matching [[temperatureFractions]]' Map[String, _] keys)
    // instead of failing the element_at key-type resolution
    val frac = coalesce(
      element_at(typedLit(fractions), stratumCol.cast("string")), lit(0.0))
    df.filter(uniform01(idCol, seed) < frac)
  }

  /** Deterministic EXACT-k sample per stratum — the distributed reservoir:
    * every stratum keeps precisely min(k, |stratum|) rows, the ones whose
    * uniform id-hash is smallest (tie → smallest id), plus a 1-based
    * `rank` in hash order. Complements [[stratifiedFractions]] (expected
    * fraction, zero shuffle) when the contract is an exact COUNT — eval
    * sets, per-language audit samples, fixed-size dev splits — and stays
    * reproducible under reruns, repartitioning, and corpus growth (a
    * row's hash never changes, so adding data can only displace the
    * largest kept hashes).
    *
    * NULL-id rows are excluded (sampling keys on identity), matching
    * [[stratifiedFractions]].
    *
    * Scale notes: ONE `graft_top_k_by` bounded-heap aggregation over the
    * full rows — each map task holds at most k rows per stratum, the
    * shuffle moves only those k-row partials, and there is no window
    * sort anywhere (a row_number formulation would sort every stratum).
    * k×rowWidth per stratum per task is the only memory bound.
    */
  def stratifiedExactK(df: DataFrame, stratumCol: Column, idCol: Column,
                       k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // posexplode emits (pos, col); an input column with either name would
    // collide in the re-select — reject loudly like the sibling operators
    Seq("pos", "col", "rank").foreach { reserved =>
      require(!df.columns.exists(_.equalsIgnoreCase(reserved)),
        s"stratifiedExactK working/output column '$reserved' already exists on the input")
    }
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val u = uniform01(idCol, seed)
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.filter(idCol.isNotNull)
      .groupBy(stratumCol.as("__stratum"))
      .agg(call_function("graft_top_k_by", payload, -u, idCol, lit(k)).as("top"))
      .select(posexplode(col("top")))
      .select((df.columns.map(c => col(s"col.$c")) :+
        (col("pos") + 1).cast("long").as("rank")).toIndexedSeq: _*)
  }

  /** Per-domain contribution cap — at most `k` documents per registered
    * domain, the anti-boilerplate/anti-SEO-farm step web-crawl curation
    * runs right after URL canonicalization (one domain must not dominate
    * the corpus no matter how many pages it serves). Selection is
    * [[stratifiedExactK]] keyed on the domain: by default each domain
    * keeps its k smallest-id-hash docs (deterministic, order-free,
    * reproducible as the corpus grows); pass `priority` (a quality score,
    * a length…) to keep the k BEST instead — ties break by id, rows with
    * NULL priority are never kept. Output appends `rank` (1-based within
    * the domain).
    *
    * Scale shape: ONE aggregation with the bounded top-k heap — map-side
    * partial heaps merge, losing rows never shuffle, no window sort. A
    * NULL domain (unparseable URL) is dropped, not capped as a group:
    * routing every junk URL into one giant pseudo-domain would both skew
    * that reducer and silently keep k junk rows.
    */
  def perDomainCap(df: DataFrame, domainCol: Column, idCol: Column, k: Int,
                   priority: Option[Column] = None, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Seq("pos", "col", "rank").foreach { reserved =>
      require(!df.columns.exists(_.equalsIgnoreCase(reserved)),
        s"perDomainCap working/output column '$reserved' already exists on the input")
    }
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val key = priority.getOrElse(-uniform01(idCol, seed))
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.filter(idCol.isNotNull && domainCol.isNotNull &&
        (if (priority.isEmpty) lit(true) else key.isNotNull))
      .groupBy(domainCol.as("__domain"))
      .agg(call_function("graft_top_k_by", payload, key, idCol, lit(k)).as("top"))
      .select(posexplode(col("top")))
      .select((df.columns.map(c => col(s"col.$c")) :+
        (col("pos") + 1).cast("long").as("rank")).toIndexedSeq: _*)
  }

  /** Weighted deterministic exact-k per stratum — the A-ES weighted
    * reservoir (Efraimidis–Spirakis, public literature): each row draws
    * key = u^(1/w) from its id-hash uniform and every stratum keeps the
    * k LARGEST keys, so inclusion probability scales with weight (a
    * quality score, token count, dedup multiplicity…) while staying a
    * pure function of (id, weight) — reproducible under reruns,
    * repartitions, engines, and corpus growth, like [[stratifiedExactK]]
    * (its w ≡ 1 special case). Rows with NULL/zero/negative weight or a
    * NULL id are excluded (they cannot be drawn).
    *
    * Keys are rounded to 9 dp before ranking (ties then break by id):
    * the quantization is the [[temperatureFractions]] portability move —
    * a pow() ulp difference between engines can't reorder two keys that
    * agree at 9 dp, and the tie-break is total either way.
    *
    * Scale shape: identical to [[stratifiedExactK]] — ONE aggregation
    * with the bounded top-k heap (map-side partial heaps merge), no
    * window sort, no shuffle of the losing rows.
    */
  def weightedExactK(df: DataFrame, stratumCol: Column, idCol: Column,
                     weightCol: Column, k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Seq("pos", "col", "rank").foreach { reserved =>
      require(!df.columns.exists(_.equalsIgnoreCase(reserved)),
        s"weightedExactK working/output column '$reserved' already exists on the input")
    }
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val w = weightCol.cast("double")
    val key = round(pow(uniform01(idCol, seed), lit(1.0) / w), 9)
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.filter(idCol.isNotNull && w.isNotNull && w > 0)
      .groupBy(stratumCol.as("__stratum"))
      .agg(call_function("graft_top_k_by", payload, key, idCol, lit(k)).as("top"))
      .select(posexplode(col("top")))
      .select((df.columns.map(c => col(s"col.$c")) :+
        (col("pos") + 1).cast("long").as("rank")).toIndexedSeq: _*)
  }

  /** Temperature-balanced (α-sampling) mix fractions from OBSERVED stratum
    * sizes: sampling weight p_s ∝ n_s^α normalized over strata, target
    * take `total`·p_s, keep fraction min(1, total·p_s / n_s). α = 1 keeps
    * strata proportional to their size; α = 0 flattens them to equal
    * shares; the 0.3–0.7 range is the standard multilingual-LM move to
    * upweight small languages without letting them dominate (the
    * exponentiated-smoothing mix of the mBERT/XLM-R line of work; public
    * papers). Feed the result straight into [[stratifiedFractions]].
    *
    * Fractions are rounded to 6 dp — the quantization makes the
    * keep/drop threshold engine-portable (pow/division ulp differences
    * can't flip a row's `u < f` compare). The per-stratum size collect is
    * a plan-time constant (one row per stratum, like a centroid matrix),
    * not a data-path collect; NULL strata carry no fraction (unknown
    * strata sample at 0 in [[stratifiedFractions]]).
    */
  def temperatureFractions(df: DataFrame, stratumCol: Column, total: Double,
                           alpha: Double, weight: Column = lit(1L)): Map[String, Double] = {
    require(total > 0, "total must be positive")
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0, 1]")
    // stratum is cast to string so a numeric/date stratum yields the same
    // Map[String, Double] key space [[stratifiedFractions]] expects,
    // instead of a runtime ClassCastException on getString
    val sizes = df.filter(stratumCol.isNotNull)
      .groupBy(stratumCol.cast("string").as("__s"))
      .agg(sum(weight).cast("double").as("__n"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val pw = sizes.map { case (s, n) => s -> math.pow(n, alpha) }
    val z = pw.values.sum
    sizes.map { case (s, n) =>
      val f = math.min(1.0, total * (pw(s) / z) / n)
      s -> BigDecimal(f).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Deterministic train/validation/test split assignment: each row gets
    * the label whose cumulative weight interval contains its
    * [[uniform01]] draw. A pure map-side projection — no shuffle, no
    * state — and re-running over a GROWN corpus never reassigns an
    * existing id (the property that keeps eval sets stable as a 100 TB
    * corpus accretes). Weights must sum to 1.
    *
    * NULL ids land in the LAST split: a NULL id makes the uniform draw
    * NULL, every `when(u < cum)` branch is NULL, and the row falls through
    * to the `otherwise` — the same `CASE ... ELSE` fall-through a SQL
    * twin of this assignment has. That default silently concentrates
    * failed-id rows in the final (usually eval) split, so either gate
    * NULL ids upstream (`filter(id.isNotNull)`) or set
    * `requireNonNullIds = true` to make any NULL id fail the job loudly
    * (still a pure projection — the check is a per-row `raise_error`
    * branch, no extra pass).
    */
  def assignSplit(df: DataFrame, id: Column, splits: Seq[(String, Double)],
                  outCol: String = "split", seed: Long = 42L,
                  requireNonNullIds: Boolean = false): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0), "weights must be >= 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val u = uniform01(id, seed)
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val label = splits.init.zip(cums.init)
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), cum)) =>
        Some(acc.fold(when(u < cum, name))(_.when(u < cum, name)))
      }
      .fold(lit(splits.last._1))(_.otherwise(splits.last._1))
    val guarded =
      if (requireNonNullIds)
        when(id.isNotNull, label).otherwise(raise_error(
          lit("assignSplit: NULL id (requireNonNullIds = true)")))
      else label
    df.withColumn(outCol, guarded)
  }

  /** Deterministic global shuffle + sharding for training-data publish:
    * each row gets a `shard` (which output file group it belongs to) and
    * a 1-based `pos` (its position within that shard), both pure
    * functions of the id — the tokenizer-feed order is reproducible
    * across reruns, repartitions, and engines, unlike `orderBy(rand())`.
    * The within-shard order key is a SECOND independent hash (different
    * seed tag), so position within a shard is uncorrelated with the
    * shard assignment itself; ties (hash collisions) break by id.
    *
    * Scale shape: ONE shuffle keyed by shard (row_number partitions by
    * `shard`, orders by (hash, id)) — with `nShards` sized like the
    * cluster (thousands at 100 TB), every shard sorts in parallel and
    * no task sees more than ~N/nShards rows. This is the terminal
    * exchange a publish already pays; writing partitioned-by-shard
    * output reuses it.
    */
  def shardManifest(df: DataFrame, idCol: Column, nShards: Int,
                    seed: Long = 42L,
                    requireNonNullIds: Boolean = false): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import org.apache.spark.sql.expressions.Window
    // NULL ids share NULL hashes: they co-locate in the NULL shard and
    // their relative `pos` is NOT deterministic (every order key ties) —
    // a manifest consumer needing replay-stable order must either repair
    // ids upstream or set requireNonNullIds to fail loudly here
    val id =
      if (requireNonNullIds)
        when(idCol.isNotNull, idCol).otherwise(raise_error(
          lit("shardManifest: NULL id (requireNonNullIds = true)")))
      else idCol
    val shard = floor(uniform01(id, seed) * nShards).cast("int")
    val orderKey = uniform01(id, seed + 1)
    val w = Window.partitionBy(col("shard")).orderBy(col("__ord").asc, idCol.asc)
    df.withColumn("shard", shard)
      .withColumn("__ord", orderKey)
      .withColumn("pos", row_number().over(w))
      .drop("__ord")
  }

  /** Curriculum feed order: easy→hard bucket-major ordering with a
    * deterministic shuffle INSIDE each difficulty bucket — "train on the
    * short/clean documents first, mix randomly within a difficulty
    * band", reproducible across reruns, engines, and cluster sizes.
    * Buckets are equi-depth on the difficulty column (cuts at the
    * j/nBuckets quantiles, 5-dp-rounded; bucket = #cuts the value
    * EXCEEDS, so ties at a cut land low and every engine agrees);
    * within a bucket, rows get the [[shardManifest]] treatment — shard
    * + position from two independent [[uniform01]] id-hash draws. Global
    * order = (bucket, shard, pos) lexicographic. Rows with NULL id or
    * NULL/NaN/±Inf difficulty are excluded (they cannot be placed).
    *
    * Scale notes: cuts ride ONE fused narrowing batch (plan-time
    * constants); bucket/shard are pure codegen projections; the only
    * shuffle is the (bucket, shard) window — with nShards sized to the
    * cluster no task sorts more than ~N/(nBuckets·nShards) rows, and it
    * is the exchange a bucket/shard-partitioned publish already pays.
    */
  def curriculumManifest(df: DataFrame, idCol: Column, difficulty: Column,
                         nBuckets: Int, nShards: Int, seed: Long = 42L): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    Seq("bucket", "shard", "pos").foreach { reserved =>
      require(!df.columns.exists(_.equalsIgnoreCase(reserved)),
        s"curriculumManifest output column '$reserved' already exists on the input")
    }
    val d = difficulty.cast("double")
    // ±Inf is excluded like NaN: an infinite difficulty has no place in an
    // equi-depth ordering
    val placed = df.filter(idCol.isNotNull && d.isNotNull && !isnan(d) &&
      d > Double.NegativeInfinity && d < Double.PositiveInfinity)
    val qs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cuts: Seq[Double] = Summaries
      .exactQuantilesPerColumn(placed.select(d.as("__d")), Seq(("__d", qs)))
      .apply("__d").flatten.map(Summaries.round5)
    val bucket = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(d > c, 1).otherwise(0)
    }.cast("int")
    val shard = floor(uniform01(idCol, seed) * nShards).cast("int")
    val orderKey = uniform01(idCol, seed + 1)
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("__ord").asc, idCol.asc)
    placed.withColumn("bucket", bucket)
      .withColumn("shard", shard)
      .withColumn("__ord", orderKey)
      .withColumn("pos", row_number().over(w))
      .drop("__ord")
  }

  /** Rebalance a corpus to a TARGET stratum mix: exact-count sample where
    * stratum s receives its largest-remainder share of `totalK`
    * (base = ⌊totalK·p_s⌋, the leftover rows going +1 each to the
    * largest fractional remainders, remainder ties by stratum name) —
    * the mix-shaping move behind "40% web / 30% code / 20% books / 10%
    * reference" training compositions, with [[temperatureFractions]] as
    * the ∝n^α special case and [[stratifiedExactK]] as the uniform one.
    * Under-populated strata keep everything they have (k_s = min(alloc,
    * n_s)); the shortfall is NOT redistributed — a redistribution loop
    * would silently change the mix the caller asked for, the exact thing
    * this operator exists to prevent. Rows in strata absent from
    * `targets` are excluded. Selection within a stratum is the [[uniform01]]
    * id-hash order (smallest uniform first, ties by id), so the sample
    * is a pure function of (id, targets, totalK) — reproducible across
    * engines, reruns, and layouts.
    *
    * Allocation arithmetic is plain IEEE double (⌊totalK·p⌋ with p as
    * written) in BOTH the operator and any replaying engine — decimal
    * arithmetic would allocate differently (⌊200·0.6⌋ is 119 in doubles,
    * 120 in decimals; either is fine, but only one can be the contract).
    *
    * Scale notes: one tiny per-stratum count agg (the allocation input),
    * then ONE bounded-heap aggregation holding max(k_s) rows per stratum
    * with the per-stratum cut applied to the exploded heap via a
    * plan-constant map — no window sort, losers never shuffle.
    */
  def targetMix(df: DataFrame, stratumCol: Column, idCol: Column,
                targets: Seq[(String, Double)], totalK: Int,
                seed: Long = 42L): DataFrame = {
    require(targets.nonEmpty, "targetMix needs at least one target stratum")
    require(targets.map(_._1).distinct.size == targets.size, "duplicate strata")
    require(targets.forall(_._2 >= 0), "target proportions must be >= 0")
    require(math.abs(targets.map(_._2).sum - 1.0) < 1e-9, "targets must sum to 1")
    require(totalK >= 1, s"totalK must be >= 1, got $totalK")
    Seq("pos", "col", "rank").foreach { reserved =>
      require(!df.columns.exists(_.equalsIgnoreCase(reserved)),
        s"targetMix working/output column '$reserved' already exists on the input")
    }
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val sCol = stratumCol.cast("string")
    val names = targets.map(_._1)
    val inScope = df.filter(sCol.isInCollection(names) && idCol.isNotNull)
    val counts: Map[String, Long] = inScope
      .groupBy(sCol.as("__s")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // largest-remainder allocation, then the availability cap
    val exact = targets.map { case (s, p) => (s, totalK * p) }
    val base = exact.map { case (s, e) => (s, math.floor(e).toLong) }
    val leftover = totalK - base.map(_._2).sum
    val order = exact.zip(base).map { case ((s, e), (_, b)) => (s, e - b) }
      .sortBy { case (s, rem) => (-rem, s) }.map(_._1)
    val bumped = order.take(leftover.toInt).toSet
    val ks: Map[String, Long] = base.map { case (s, b) =>
      s -> math.min(b + (if (bumped(s)) 1L else 0L), counts.getOrElse(s, 0L))
    }.toMap
    val live = names.filter(ks(_) > 0)
    if (live.isEmpty)
      return df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        df.withColumn("rank", lit(1L)).schema)
    val maxK = live.map(ks).max.toInt
    val u = uniform01(idCol, seed)
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val ksLit = typedlit(live.map(s => s -> ks(s)).toMap)
    inScope.filter(sCol.isInCollection(live))
      .groupBy(sCol.as("__stratum"))
      .agg(call_function("graft_top_k_by", payload, -u, idCol, lit(maxK)).as("top"))
      .select(col("__stratum"), posexplode(col("top")))
      .filter((col("pos") + 1) <= element_at(ksLit, col("__stratum")))
      .select((df.columns.map(c => col(s"col.$c")) :+
        (col("pos") + 1).cast("long").as("rank")).toIndexedSeq: _*)
  }

  /** Padding-waste census over candidate sequence lengths — the report
    * that sizes a training run's packing decision: for each stratum
    * (language/source) and each candidate `seqLen`, how many sequences
    * does one-doc-per-sequence padding cost (`n_seqs_naive`, ceil per
    * doc) vs the packed lower bound (`n_seqs_packed`, ceil of the
    * stratum total), and how many pad tokens burn in each
    * (`waste_naive` / `waste_packed`, `naive_waste_pct`). The gap
    * between the two columns is exactly what [[packSequences]]-style
    * packing buys (it approaches the packed bound; first-fit typically
    * lands within a few % of it).
    *
    * Scale notes: a projection + ONE hash aggregation on
    * (stratum, seq_len) — the `seqLens` explode multiplies rows by a
    * small constant before the map-side combine shrinks each partition
    * to |strata|×|seqLens| rows. All counters are exact integers; the
    * one ratio derives from them in deterministic double arithmetic.
    */
  def paddingWasteCensus(df: DataFrame, stratumCol: Column, tokenCount: Column,
                         seqLens: Seq[Int]): DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ >= 1),
      s"seqLens must be non-empty positive lengths, got $seqLens")
    df.filter(tokenCount.isNotNull && tokenCount > 0)
      .select(stratumCol.as("stratum"), tokenCount.cast("long").as("__t"))
      .withColumn("seq_len", explode(array(seqLens.map(l => lit(l.toLong)): _*)))
      .groupBy(col("stratum"), col("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t")).as("total_tokens"),
        sum(expr("(__t + seq_len - 1) div seq_len")).as("n_seqs_naive"))
      .select(col("stratum"), col("seq_len"), col("n_docs"), col("total_tokens"),
        col("n_seqs_naive"),
        (col("n_seqs_naive") * col("seq_len") - col("total_tokens")).as("waste_naive"),
        expr("(total_tokens + seq_len - 1) div seq_len").as("n_seqs_packed"),
        (expr("(total_tokens + seq_len - 1) div seq_len") * col("seq_len")
          - col("total_tokens")).as("waste_packed"),
        ((col("n_seqs_naive") * col("seq_len") - col("total_tokens")).cast("double")
          / (col("n_seqs_naive") * col("seq_len")).cast("double")).as("naive_waste_pct"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public paper):
    * score every document by how much more likely its hashed
    * bag-of-words is under the TARGET distribution than under the RAW
    * pool, then draw k docs by Gumbel-top-k with the importance weight
    * as the (log-space) sampling potential. This is the scalable bridge
    * between Moore-Lewis RANKING ([[graft.operators.Quality.mooreLewisScore]],
    * which deterministically takes the top slice and skews the sample
    * toward the target's head) and true importance SAMPLING, which
    * preserves target-distribution coverage.
    *
    * EXACT-INTEGER discipline: per-bucket log ratios quantize to 1e-5
    * micro-units at birth (`round(ln(pt/pr)·1e5)` — pt/pr are add-one-
    * smoothed bucket probabilities), so the per-doc weight is an integer
    * SUM (order-independent under partial aggregation) and the Gumbel
    * key is one more rounded micro term — the DuckDB oracle replays the
    * whole chain and the hash compare is exact, no double accumulation.
    *
    * Scale notes (100 TB pool, small target):
    *  - Bucket statistics are two map-side-combined aggregations that
    *    shrink to `buckets` rows before the shuffle — the only full-
    *    corpus passes, both O(tokens) with O(buckets) shuffle volume.
    *  - The per-doc weight is explode → broadcast-join the bucket-ratio
    *    table (`buckets` rows) → one groupBy(id) integer sum.
    *  - The draw is a global top-k (TakeOrdered — per-partition heaps,
    *    never a global sort); ranks are assigned on the k survivors.
    *  - NULL/blank docs carry no tokens and are not resample candidates
    *    (DSIR weights are undefined on empty feature bags) — filter
    *    them upstream if they must be represented.
    *
    * @param targetFilter rows where it is true form the target corpus
    *                     (they stay in the raw pool too, as in the paper)
    * @param carry        pass-through columns (must be functionally
    *                     dependent on `idCol`, e.g. lang/source)
    * @return (idCol, carry..., n_tok, lw_micros, key_micros, rank) for
    *         the k selected docs; `lw_micros` = importance weight and
    *         `key_micros` = Gumbel key, both in 1e-5 log units
    */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   targetFilter: Column, k: Int, buckets: Int = 64,
                   carry: Seq[String] = Nil, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val micro = 100000.0
    val toks = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select((Seq(col(idCol)) ++ carry.map(col) :+ targetFilter.as("__tgt") :+
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__tok")).toIndexedSeq: _*)
      .withColumn("__b",
        pmod(conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)))
    val rawStats = toks.groupBy(col("__b")).agg(
      count(lit(1)).as("__cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"))
    // totals ride a single-row cross join; the ratio table is `buckets`
    // rows and broadcasts back onto the token stream
    val tot = rawStats.agg(sum(col("__cr")).as("__totr"), sum(col("__ct")).as("__tott"))
    val ratio = rawStats.crossJoin(broadcast(tot))
      .select(col("__b"),
        round((log((col("__ct") + 1.0) / (col("__tott") + buckets.toDouble)) -
               log((col("__cr") + 1.0) / (col("__totr") + buckets.toDouble))) * micro, 0)
          .cast("long").as("__lrm"))
    val docw = toks.join(broadcast(ratio), Seq("__b"))
      .groupBy((col(idCol) +: carry.map(col)).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n_tok"), sum(col("__lrm")).as("lw_micros"))
    // Gumbel key: u in (0,1) from the id-hash uniform shifted by half a
    // grid step (keeps the double log-log finite at the grid edges; both
    // steps are exact in binary, so this is (hex8 + 0.5) / 2^32)
    val u = uniform01(col(idCol), seed) + lit(0.5 / 4294967296.0)
    val keyed = docw.withColumn("key_micros",
      col("lw_micros") + round(-log(-log(u)) * micro, 0).cast("long"))
    // rank over exactly k rows: the frame is bounded by limit(k), so
    // pin it to ONE partition, sort within it, and number rows with
    // monotonically_increasing_id (0-based in partition row order on a
    // single partition) — same result as a global row_number window
    // without Spark's single-partition-window warning on every run
    keyed.orderBy(col("key_micros").desc, col(idCol).asc).limit(k)
      .repartition(1)
      .sortWithinPartitions(col("key_micros").desc, col(idCol).asc)
      .withColumn("rank", (monotonically_increasing_id() + 1L).cast("int"))
  }
}
