package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan assertions: the properties that make these operators
  * scale are pinned here so a refactor that silently de-optimizes a plan
  * (loses a broadcast, adds a sort, drops exchange reuse) fails CI.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    Queries.all(q)(spark, sf).queryExecution.executedPlan.toString

  test("q03 dim joins broadcast (fact side never shuffles for the join)") {
    val p = plan("q03_join_enrich")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q02 keep-latest dedup hash-aggregates with zero sorts") {
    val p = plan("q02_dedup_keep_latest")
    // graft_max_by (TypedImperativeAggregate) must run in
    // ObjectHashAggregate; builtin max_by(struct,struct) silently degrades
    // to SortAggregate (sorts every partition) — pin against regression
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(!p.contains("SortAggregate") && !p.contains("Window"), p.take(1500))
  }

  test("q26 shingle self-join reuses one exchange and shuffle-hash joins") {
    val df: DataFrame = Queries.all("q26_ngram_jaccard")(spark, sf)
    df.collect() // run THIS queryExecution so AQE finalizes its plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(p.contains("ReusedExchange"), p.take(2000))
  }

  test("q47 fuzzy recode is one shuffle-free codegen projection") {
    val p = plan("q47_fuzzy_recode")
    // the whole rule chain must compile into the scan's projection: no
    // exchange, no join (a rule list implemented as a lookup JOIN would
    // shuffle), no sort
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(1500))
    assert(p.contains("*(1)"), p.take(1500)) // whole-stage codegen stage marker
  }

  test("q71 neolab keep-latest hash-aggregates its string max (no sorts, no window)") {
    val p = plan("q71_neolab_episodes")
    // a plain max(stringCol) carries a var-width buffer → SortAggregate
    // over every partition; the graft_max_by form must hold the
    // ObjectHashAggregate plan
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("SortAggregate") && !p.contains("Window"), p.take(2000))
  }

  test("q73 DAX derived columns are one shuffle-free codegen projection") {
    val p = plan("q73_dax_derived")
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(1500))
    assert(p.contains("*(1)"), p.take(1500))
  }

  test("q74 paragraph dedup: hash aggregation winners, no window sort") {
    val p = plan("q74_paragraph_dedup")
    // the keep-first winner per paragraph must be the graft_min_by
    // ObjectHashAggregate, not a row_number window (which would sort the
    // whole exploded paragraph stream per partition)
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window") && !p.contains("SortAggregate"), p.take(2000))
  }

  test("q75 cluster sample: kernel assignment (no join), heap top-k (no window)") {
    val p = plan("q75_cluster_sample")
    // centroid assignment + distance are plan-constant kernel projections;
    // the per-cluster cut is the bounded-heap aggregate — a centroid JOIN
    // or a row_number Window would both be scale regressions
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("SortAggregate"),
      p.take(2000))
  }

  test("q76 categorical profile: heap top-k per column, broadcast census join") {
    val p = plan("q76_categorical_profile")
    // the top-k cut must be the bounded-heap aggregate and the tiny
    // census must broadcast — a Window or a sort-merge join here would
    // shuffle the full value-count stream again
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q78 shared spans: hash-join candidates; the window sees matches, not the corpus") {
    val df: DataFrame = Queries.all("q78_shared_spans")(spark, sf)
    df.collect() // AQE-finalize
    val p = df.queryExecution.executedPlan.toString
    // positional shingles must meet in a shuffle-hash join on the 8-byte
    // hash — a SortMergeJoin would sort the full shingle stream, which is
    // exactly the cost this operator exists to avoid
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q79 gopher filter is one shuffle-free codegen projection") {
    val p = plan("q79_gopher_filter")
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(1500))
    assert(p.contains("*(1)"), p.take(1500)) // concat_ws fail list stays codegen
  }

  test("q80 local paragraph scrub: no shuffle, no join — doc-local by construction") {
    val p = plan("q80_local_para_dedup")
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(1500))
  }

  test("q81 moore-lewis: pure projection — zero joins, zero exchanges") {
    val p = plan("q81_moore_lewis")
    // both capped LMs ride the plan as graft_vocab_lnp kernel constants
    // and score in ONE tokenization pass per row — the old
    // explode + broadcast-join + groupBy form shuffled the whole token
    // stream just to take a per-doc mean
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Generate"), p.take(2000)) // no token explode at all
  }

  test("q82 as-of join is one exchange + one window sort, no join operator") {
    val p = plan("q82_asof_join")
    // the merge-window formulation: a theta-join plan (BroadcastNestedLoop/
    // cartesian) would be quadratic in the match fan-in; the union form
    // shuffles ONCE on the key regardless of either side's size
    assert(!p.contains("Join") && !p.contains("Cartesian"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(2000)) // shuffle (+AQE reuse)
    assert(p.contains("Window"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(event_type)"), p.take(2000))
  }

  test("q83 range join is a bucket equi-join, never a nested loop") {
    val p = plan("q83_range_join")
    // keyless interval overlap: Spark's native plan is BroadcastNestedLoop
    // or cartesian — binning must turn it into a hash equi-join on the
    // time bucket with the exact range predicate as a post-filter
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      p.take(2000))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(event_type)"), p.take(2000))
  }

  test("q86 collocations: hash joins + bounded-heap top-k, no global sort") {
    val p = plan("q86_collocations")
    // count-lookup joins are shuffle_hash (unbounded vocab — no broadcast
    // build re-executing the agg subtree) and the top-K is an aggregation,
    // not a global Sort + Limit over every scored pair
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p.take(2000))
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
  }

  test("q88 tfidf: ONE corpus scan, zero joins, heap top-k") {
    val p = plan("q88_tfidf_terms")
    // length rides the explode projection and df is an unordered term
    // window, so the plan must have no join and exactly one scan — a
    // forked tf (len window + df agg + join) would rescan the corpus
    // whenever exchange reuse doesn't fire
    assert(!p.contains("Join"), p.take(2000))
    assert("Scan parquet".r.findAllIn(p).size === 1, p.take(2000))
    assert("Window".r.findAllIn(p).size === 1, p.take(2000))
    assert(p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"),
      p.take(2000))
  }

  test("q89 perplexity buckets: plan-constant cuts over a zero-shuffle score") {
    val p = plan("q89_perplexity_buckets")
    // the quantile cuts are computed at plan BUILD (exactQuantilesPerColumn)
    // and baked in as literals — bucketing must never rank/sort the corpus,
    // and scoring itself is now a graft_vocab_lnp kernel projection
    // (zero joins, zero exchanges — the old form shuffled the token
    // stream for the per-doc mean)
    assert(!p.contains("Window") && !p.contains("SortAggregate"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("q91 scd2 intervals: one key exchange feeds every window and agg, no join") {
    val p = plan("q91_scd2_history")
    // change-flag window, run-id window, run agg and close-out window all
    // cluster on user_id — a second exchange means a partitioning was lost
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(2000))
  }

  test("q93 stratified exact-k samples via bounded heap, never a rank window") {
    val p = plan("q93_stratified_sample")
    // the naive form (row_number over hash order) sorts EVERY stratum;
    // the heap keeps k rows per stratum per map task
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window") && !p.contains("SortAggregate"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(2000))
  }

  test("q95 PQ: codes pass the codegen barrier before the nested-loop join") {
    val p = plan("q95_ann_pq")
    // WSCG defers stream-side expressions the join condition doesn't
    // reference into the BNLJ inner loop — without the barrier the full
    // encode re-runs once per PAIR (measured 19.9 s vs 5.0 s at the 10×
    // probe); the identity mapPartitions materializes each code row once
    assert(p.contains("MapPartitions"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("graft_pq_adc"), p.take(2000))
    assert(p.contains("ObjectHashAggregate") && !p.contains("Window"), p.take(2000))
  }

  test("q98 bm25: plan-constant idf/avgdl, zero joins, heap top-k") {
    val p = plan("q98_bm25_topk")
    // corpus stats and idf are plan-time literals — scoring must never
    // join the corpus against anything
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("ObjectHashAggregate") && !p.contains("Window") &&
      !p.contains("SortAggregate"), p.take(2000))
  }

  test("q99 top paths: session agg reuses the window's partitioning") {
    val p = plan("q99_top_paths")
    // hashpartitioning(user_id) satisfies the (user_id, __sess) grouping,
    // so the per-session path agg adds NO exchange of its own: exactly
    // two key exchanges total (sessionize window + path count), plus the
    // single-partition heap top-k
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2, p.take(2000))
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
  }

  test("q101 rollup expands the aggregate, not the scan; fallback reuses the exchange") {
    val df: DataFrame = Queries.all("q101_rollup_summary")(spark, sf)
    df.collect() // AQE must finalize to materialize the exchange reuse
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    // two-phase contract: the raw scan feeds an ordinary hash agg; the
    // rollup Expand (which replicates its input ×levels) must sit ABOVE
    // that agg — in the printed top-down tree, aggregation appears BELOW
    // (after) the Expand. Single-phase rollup would put Expand deepest.
    assert("Expand".r.findAllIn(p).size === 1, p.take(2000))
    assert(p.lastIndexOf("HashAggregate") > p.indexOf("Expand"), p.take(2000))
    // the empty-input grand-total fallback references the fine aggregate
    // a second time — at runtime that branch must resolve to a
    // ReusedExchange of the first scan's shuffle, ONE physical scan total
    assert("Scan parquet".r.findAllIn(p).size === 1, p.take(3000))
    assert(p.contains("ReusedExchange"), p.take(3000))
  }

  test("q72 migration view is one shuffle-free codegen stage") {
    val p = plan("q72_migration_view")
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(1500))
    assert(p.contains("*(1)"), p.take(1500)) // whole-stage codegen stage marker
  }

  test("q32 multimodal decode never shuffles the blobs") {
    val p = plan("q32_multimodal_meta")
    assert(p.contains("MapPartitions"), p.take(2000))
    // The r20 id fan-out adds ONE exchange BELOW the synthesis — it may
    // carry the bare 8-byte id column only. Blobs exist only above the
    // first MapPartitions, so the pin is: no Exchange after the point
    // where blobs are born (the plan tree prints root-first: everything
    // BEFORE the last MapPartitions line is downstream of the decode).
    val afterBlobsBorn = p.substring(0, p.lastIndexOf("MapPartitions"))
    assert(!afterBlobsBorn.contains("Exchange"), p.take(3000))
    // and the one allowed exchange below synthesis carries ids only
    val tail = p.substring(p.lastIndexOf("MapPartitions"))
    if (tail.contains("Exchange"))
      assert(!tail.contains("bytes#"), p.take(3000))
  }

  test("q66 cross near-dup joins shingle hashes with shuffle_hash, not sort-merge") {
    val p = plan("q66_cross_neardup")
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q69 upsampling is a pure generator projection: no shuffle, no join") {
    val p = plan("q69_upsample_mix")
    assert(p.contains("Generate"), p.take(1500))
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(1500))
  }

  test("q70 keep-best resolves via hash aggregation, not a window sort") {
    val p = plan("q70_dedup_keep_best")
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q67 chunking: one Generate, no shuffle, no join, no sort") {
    val p = plan("q67_chunk_tokens")
    assert(p.contains("Generate"), p.take(1500))
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(1500))
  }

  test("q48 MCL discovery: one Generate into hash aggregation, no sorts") {
    val p = plan("q48_mcl_discovery")
    assert(p.contains("Generate"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("SortAggregate") && !p.contains("Window"), p.take(2000))
    // exactly the aggregation exchange — key domain, not data, shuffles
    assert(p.split("Exchange").length - 1 <= 2, p.take(2000))
  }

  test("q56 best-match join resolves via hash aggregation: one shuffle, zero sorts") {
    val p = plan("q56_best_match_join")
    // graft_min_by over (−score, tie) must run in ObjectHashAggregate with
    // a map-side partial before the single hash exchange; a window
    // row_number form would sort every candidate per admission instead
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("SortAggregate") && !p.contains("Window"), p.take(2000))
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p.take(2000))
  }

  test("q49 combined diagnoses union adds no shuffle of its own") {
    val p = plan("q49_combined_diagnoses")
    assert(p.contains("Union"), p.take(1500))
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(1500))
  }

  test("q50 metadata-compiled validation runs as one scan + one Generate") {
    val p = plan("q50_metadata_rules")
    assert(p.contains("Generate"), p.take(1500))
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(1500))
  }

  test("q53 scrub stack is one shuffle-free codegen projection") {
    val p = plan("q53_clean_redact")
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(1500))
    assert(p.contains("*(1)"), p.take(1500))
  }

  test("q52 budget cut costs exactly one stratum shuffle + sort (the honest window price)") {
    val p = plan("q52_token_budget_sample")
    assert(p.contains("Window"), p.take(1500))
    assert(p.split("Exchange").length - 1 == 1, p.take(1500))
  }

  test("q01 lineitem scan prunes to the referenced columns only") {
    val leaves = Queries.all("q01_agg_summary")(spark, sf)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaves.contains("ReadSchema"))
    assert(!leaves.contains("l_comment") && !leaves.contains("l_shipmode"), leaves.take(1500))
  }

  test("q18 validation predicate pushes to the parquet scan") {
    val leaves = Queries.all("q18_validate_ranges")(spark, sf)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // value IS NULL OR bounds — the disjunction itself can't push, but the
    // scan must at least prune columns to the four referenced
    assert(leaves.contains("ReadSchema") && !leaves.contains("props"), leaves.take(1500))
  }

  test("q29 embedding near-dup shuffles key on 8-byte hashes, never vectors") {
    val df: DataFrame = Queries.all("q29_embed_neardup")(spark, sf)
    df.collect() // run so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    // every Exchange must partition on scalar keys (vh/bkt/ids) — a
    // hashpartitioning over the raw vector column means 256-byte+ shuffle
    // keys crept back in
    val bad = "hashpartitioning\\((v|embedding|qv|cv|v_a|v_b)#".r
    assert(bad.findFirstIn(p).isEmpty,
      bad.findFirstIn(p).map(m => p.substring(p.indexOf(m.toString).max(0)).take(400)).getOrElse(""))
  }

  test("q46 session_window aggregates without a Window operator") {
    // the point of the scale form: gap-merge runs as aggregation, not as
    // a per-user row_number/lag window chain
    val p = plan("q46_session_window")
    assert(!p.contains("Window"), p.take(1500))
  }

  test("q107 dataset card: no cartesian, no sort-merge join, a plan-level union") {
    // the card is a unionByName of five section plans — each section's
    // aggregates shuffle on their own keys, but nothing joins the
    // sections (a cartesian or SMJ here would mean a section re-derived
    // another's frame through a join instead of a plan branch)
    val p = plan("q107_dataset_card")
    assert(p.contains("Union"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // the one join in the plan family is categoricalProfile's broadcast
    // of the tiny census — never a shuffle join
    assert(!p.contains("ShuffledHashJoin"), p.take(1500))
  }

  test("whole-stage codegen covers the text-analysis hot paths") {
    // the `*(n)` marker on the Project = inside a WholeStageCodegen stage.
    // q23 needs the native set-probe counter for this — the HOF stopword
    // lambda was CodegenFallback and kicked the Project out of codegen.
    for (q <- Seq("q22_token_count", "q23_quality_score")) {
      val p = Queries.all(q)(spark, sf).queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
        s"$q: ${p.take(1200)}")
    }
  }

  test("q111 vocab census: rank-limit pushdown, broadcast top-k join, no SMJ") {
    val df: DataFrame = Queries.all("q111_vocab_census")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // WindowGroupLimit = only ~k rows per group reach the rank window's
    // sort (the raw type table never globally sorts); the per-group
    // census joins the tiny top-k sums as a broadcast
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q112 shard manifest: exactly one exchange, keyed by shard") {
    val df: DataFrame = Queries.all("q112_shard_manifest")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.split("== Initial Plan ==").head
    // the manifest's one shuffle is the publish's own partitioned-write
    // exchange; a second exchange (e.g. a global orderBy) would be the
    // orderBy(rand()) anti-pattern sneaking back in
    assert(finalPlan.split("Exchange hashpartitioning").length - 1 == 1, finalPlan.take(2000))
    assert(finalPlan.contains("hashpartitioning(shard"), finalPlan.take(2000))
  }

  test("q113 IVF-PQ: broadcast cell join + bounded-heap top-k, no SMJ/cartesian") {
    val df: DataFrame = Queries.all("q113_ann_ivfpq")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // queries (with probes exploded) broadcast onto the coded corpus by
    // int cell id; top-k is the ObjectHashAggregate heap with map-side
    // partials — never a window sort over candidates
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q114 weighted sample: one bounded-heap aggregation, no window, no sort-agg") {
    val df: DataFrame = Queries.all("q114_weighted_sample")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window") && !p.contains("SortAggregate"), p.take(2000))
    // the drawability filter reaches the scan (NULL ids/weights never
    // leave the reader)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), IsNotNull(n_chars)"),
      p.take(2000))
  }

  test("q117 correlation matrix: ONE scan, one global agg, no joins") {
    val df: DataFrame = Queries.all("q117_corr_matrix")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.split("== Initial Plan ==").head
    // all C(4,2) pairs' moment sums ride a single scan + single global
    // aggregation — a per-pair job loop (the df.stat.corr shape) or any
    // join would show extra scans here
    assert(finalPlan.split("Scan parquet").length - 1 == 1, finalPlan.take(2000))
    assert(finalPlan.split("Exchange").length - 1 == 1, finalPlan.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q120 winsorize: the clip is a shuffle-free codegen projection") {
    // cuts are plan constants (computed by the narrowing at build time);
    // the query the caller pays per-row is scan + project ONLY
    val df: DataFrame = Queries.all("q120_winsorize")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window") && !p.contains("Aggregate"), p.take(2000))
  }

  test("q121 decayed engagement: one hash agg keyed by user, no window") {
    val df: DataFrame = Queries.all("q121_decayed_engagement")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.split("== Initial Plan ==").head
    // the decay factor is a pure projection: no self-join against "now",
    // no window over the timeline — one map-side-combined agg
    assert(finalPlan.split("Exchange").length - 1 == 1, finalPlan.take(2000))
    assert(finalPlan.contains("hashpartitioning(user_id"), finalPlan.take(2000))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
  }

  test("q122 hybrid RRF: bounded-heap fusion, no window, no SMJ") {
    val df: DataFrame = Queries.all("q122_hybrid_rrf")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // both retrieval legs + the fusion cut rank via graft_top_k_by heaps;
    // the only join is the declared brute-force broadcast cross (yardstick
    // cosine leg) — a window sort or sort-merge join is a regression
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q123 class balance: broadcast group joins, no SMJ, no window") {
    val df: DataFrame = Queries.all("q123_class_balance")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the (split, label) count table is the only data-sized aggregation;
    // census/top/entropy assembly joins are all broadcast on the tiny side
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p.take(2000))
  }

  test("q128 target mix: one bounded-heap agg, no window, filters pushed") {
    val df: DataFrame = Queries.all("q128_target_mix")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window") && !p.contains("SortAggregate"), p.take(2000))
    // the stratum scope + non-null id reach the scan
    assert(p.contains("IsNotNull(doc_id)") && p.contains("In(lang"), p.take(2000))
  }

  test("q130 concurrency: the catalog plan has no Window node") {
    import graft.operators.Windows
    val iv = spark.range(0, 500).selectExpr("id as s", "id + 40 as e")
    // an RDD fold over a RANGE exchange — no Window node (a global ORDER
    // BY window is a single-task sort) anywhere in its physical plan
    val fast = Windows.concurrency(iv, "s", "e")
    fast.collect()
    assert(!fast.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("q119 join pre-flight: per-side count aggs shuffle distinct keys once") {
    val df: DataFrame = Queries.all("q119_join_preflight")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // each side's rows collapse to (key, count) in ONE exchange per side;
    // the overlap join and the single-row stat aggs run over those tiny
    // frames — no cartesian anywhere, and the raw tables are scanned once
    // per side only
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.split("Scan parquet").length - 1 == 2, finalPlan.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q135/q138 are pure zero-exchange projections; q133 joins only broadcasts") {
    // char entropy and BPE encode claim streaming-safe single-pass
    // projections — zero Exchange anywhere (the model tables of q138
    // ride the plan as literals, not joins)
    for (q <- Seq("q135_char_entropy", "q138_bpe_encode")) {
      val df: DataFrame = Queries.all(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("Exchange"), s"$q: " + p.take(2000))
    }
    // the bigram scorer is a kernel projection since r15: the three
    // model tables ride the plan inside ONE graft_bigram_lnp reference
    // object — no joins, no exchanges, no token-stream re-shuffle (the
    // r14 pin asserted its joins broadcast; the r15 plan has none)
    val df = Queries.all("q133_bigram_logprob")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Generate"), p.take(2000))
  }

  test("q149/q133 vocab build: ONE data-sized exchange, heap aggs, no window") {
    // q133's remaining per-run cost is this build (the scorer itself is
    // exchange-free, pinned above); its scale shape — one (prev, tok)
    // hash partition then bounded heaps — must not regress into a
    // window sort or a second data-sized shuffle
    val df: DataFrame = Queries.all("q149_bigram_vocab_build")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(2500))
    assert(p.contains("ObjectHashAggregate"), p.take(2500))
    assert(!p.contains("Window") && !p.contains("SortAggregate"), p.take(2500))
    // the first-token-totals frame regroups the COLLAPSED table: its
    // second exchange moves distinct bigrams, not the token stream
    val (_, firstF) = graft.operators.Quality.bigramVocabFrames(
      graft.sources.Tables.documents(spark, sf), "text", 256, 24)
    val pf = firstF.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(pf).size <= 2, pf.take(2500))
    assert(!pf.contains("Window") && !pf.contains("SortAggregate"), pf.take(2500))
  }

  test("q154 dup-span strip: hash aggs + hash/broadcast joins, no window, no SMJ, no cartesian") {
    // the gram expansion must never sort-merge or window: candidates
    // are hash-agg'd (map-side combinable min/max) and joined back
    // hash-side; the span fold is array arithmetic in the projection
    val df: DataFrame = Queries.all("q154_dup_span_strip")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Window"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(p.contains("HashAggregate"), p.take(2500))
  }

  test("q157 incremental span gate: no window, no SMJ, no cartesian") {
    val df: DataFrame = Queries.all("q157_known_span_strip")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Window"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q155 unicode normalize is a zero-exchange codegen projection") {
    val df: DataFrame = Queries.all("q155_unicode_normalize")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(2000))
    assert(p.contains("*(1)"), p.take(2000)) // whole-stage codegen covers graft_nfc
  }

  test("q163 DSIR: bucket ratios broadcast, draw is a TakeOrdered — no SMJ, no global sort") {
    val df: DataFrame = Queries.all("q163_dsir_resample")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(2500)) // 64-row ratio table
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2500))
  }

  test("q170 linkage: block-key join + hash-agg argmax — no window over candidates") {
    val df: DataFrame = Queries.all("q170_record_linkage")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ObjectHashAggregate"), p.take(2500)) // graft_min_by argmax
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
  }

  test("q165 embedding stats: one scan into one hash aggregation, no joins") {
    val df: DataFrame = Queries.all("q165_embedding_stats")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("Sort "),
      p.take(2000))
  }

  test("q171 image phash dedup: banded hash joins, no window, no cartesian, no SMJ") {
    val df: DataFrame = Queries.all("q171_image_phash_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the signature self-join must be banded equi-joins (hash), never a
    // nested loop over hash pairs; CC labels and group reps ride hash
    // or broadcast joins; no window anywhere in the decision chain
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(!p.contains("Window"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
  }

  test("q172 PII redaction is one shuffle-free projection") {
    // one Project over the scan; the Luhn HOF lambdas keep it outside
    // whole-stage codegen (HigherOrderFunction has no doGenCode), which
    // is fine — the pin is zero exchanges/joins/windows, i.e. the scrub
    // never stops being a streaming-safe per-row projection
    val p = plan("q172_pii_redaction")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"), p.take(2000))
  }

  test("q173 trigram scoring: the SCORE is a zero-exchange kernel projection") {
    // the trainer pays its shuffles once (vocab build actions run before
    // the returned frame); the returned scoring plan itself must be a
    // pure projection — tables ride the plan as reference objects
    val df: DataFrame = Queries.all("q173_trigram_logprob")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"), p.take(2000))
  }

  test("q174 zlib profile is one shuffle-free projection") {
    val p = plan("q174_zlib_profile")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"), p.take(2000))
  }

  test("q156 heavy hitters: returns certified local rows, bounded by k") {
    // since the r17 advice fix the operator CONFIRMS inside the call
    // (persisted input, candidate-filtered agg, bounded TakeOrdered) and
    // returns the certified rows as a LOCAL relation — so the caller's
    // re-execution can never diverge from the certificate. The returned
    // plan must therefore be a bounded LocalTableScan (never a Window or
    // a re-run global agg); the internal confirm shape is semantics-
    // pinned by HeavyHittersSpec (exactness + fail-fast certificate).
    val df: DataFrame = Queries.all("q156_heavy_hitters")(spark, sf)
    val rows = df.collect()
    assert(rows.length <= 8)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("LocalTableScan"), p.take(2500))
    assert(!p.contains("Window") && !p.contains("Exchange"), p.take(2500))
  }
}
