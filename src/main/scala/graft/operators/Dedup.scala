package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact deduplication operators.
  *
  * Reference semantics: neotree deduplicates sessions to one row per
  * (uid, script) keeping the latest ingest
  * (reference: src/data_pipeline/pipelines/data_engineering/nodes_grouped/step_1_nodes/deduplicate_data.py:1,
  * queries/data_fix.py — Postgres `DISTINCT ON (...) ORDER BY ... DESC`).
  *
  * Scale notes: keep-latest is an aggregation, NOT a window. `max_by` over
  * a struct partial-aggregates map-side (combine before shuffle), needs no
  * per-partition sort, and shuffles only one row per key per map task. A
  * `row_number() OVER (PARTITION BY key ORDER BY ts DESC) = 1` plan
  * shuffles every row and sorts each partition — strictly worse at 100 TB.
  */
object Dedup {

  /** One row per key, keeping the row with the greatest orderKey.
    * Ties broken by `tieBreak` (greatest wins) to stay deterministic.
    *
    * Uses graft's hash-aggregable max_by ([[graft.functions
    * .HashExtremumBy]]): the builtin `max_by(struct, struct)` silently
    * degrades to SortAggregate (struct agg buffers can't hash-aggregate),
    * sorting every map and reduce partition; the typed-imperative form
    * runs in ObjectHashAggregate — no sorts, same one-row-per-key shuffle.
    */
  def keepLatest(df: DataFrame, keys: Seq[String], orderKey: Column, tieBreak: Column): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(call_function("graft_max_by", payload, struct(orderKey, tieBreak)).as("__row"))
      .select(col("__row.*"))
  }

  /** One row per key, keeping the row with the SMALLEST orderKey — the
    * reference's derived-table dedup keeps the first row per
    * (LEFT(unique_key,10), uid) (reference: queries/data_fix.py::
    * deduplicate_derived_tables ROW_NUMBER ... ORDER BY ctid, rn = 1).
    * Same aggregation shape as [[keepLatest]]: min_by partial-aggregates,
    * no window sort.
    */
  def keepFirst(df: DataFrame, keys: Seq[Column], orderKey: Column, tieBreak: Column): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    // leading isNull field: struct ordering is nulls-FIRST, so without it
    // a row with a NULL orderKey would beat every real row under min —
    // the opposite of min_by / Postgres ORDER BY, which put nulls last
    df.groupBy(keys.toIndexedSeq: _*)
      .agg(call_function("graft_min_by", payload,
        struct(orderKey.isNull, orderKey, tieBreak)).as("__row"))
      .select(col("__row.*"))
  }

  /** Null-safe content hash over a set of columns: md5 of the JSON-encoded
    * struct, so ("a", null, "b") never collides with ("a", "b") and the
    * encoding stays printable (no raw separator bytes in source).
    */
  def contentHash(hashCols: Seq[String]): Column =
    md5(to_json(struct(hashCols.map(col).toIndexedSeq: _*)))

  /** Duplicate census: one row per distinct hashCols combination with the
    * winning (minimum) id and the duplicate count. This is the aggregate
    * view; see [[dedupExactRows]] for the surviving full rows.
    */
  def exactByHash(df: DataFrame, hashCols: Seq[String], idCol: String): DataFrame =
    df.withColumn("__h", contentHash(hashCols))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__h")

  /** Exact duplicate removal: full surviving rows, keeping the first
    * occurrence (minimum idCol) per distinct hashCols combination. The
    * winner set is an aggregation (map-side combine, one shuffle) and the
    * join back is a semi-join on the unique id.
    */
  def dedupExactRows(df: DataFrame, hashCols: Seq[String], idCol: String): DataFrame = {
    val winners = df.withColumn("__h", contentHash(hashCols))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as("__keep"))
    df.join(winners, df(idCol) === winners("__keep"), "left_semi")
  }

  /** Paragraph-level exact deduplication (the Dolma/RefinedWeb curation
    * step: duplicate PARAGRAPHS are removed corpus-wide while their host
    * documents survive). Documents split on `sepPattern`; for every
    * distinct paragraph the globally FIRST occurrence (minimum
    * (id, paragraph-index), lexicographic) is kept and all later repeats
    * are dropped; surviving paragraphs reassemble in original order.
    * Returns one row per document: (idCol, n_paras, n_kept, clean_text) —
    * a fully-duplicate document keeps zero paragraphs and comes back with
    * `clean_text = ""` rather than vanishing (the caller decides whether
    * empty docs die; Dolma drops them in a later length filter). NULL
    * text is treated as empty text — the row survives with one empty
    * paragraph, never silently dropped.
    *
    * Scale notes: the winner set is a hash AGGREGATION on the paragraph's
    * md5 (128-bit — collision-safe where a 64-bit key would birthday at
    * ~4B distinct paragraphs), `graft_min_by` keeping the buffer a single
    * fixed-width row so ObjectHashAggregate holds (builtin `min(struct)`
    * degrades to SortAggregate). The exploded paragraph stream shuffles
    * twice (winner agg + winner join, same key → the join reuses the
    * aggregation's partitioning) plus the per-document reassembly agg —
    * no windows, no global sort, no driver state. The reassembly
    * collect_list buffer is bounded by a single document's paragraph
    * count, not the corpus.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sepPattern: String = "\n{2,}",
                      joinSep: String = "\n\n"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    Seq("__h", "__idx", "__para").foreach { reserved =>
      require(!df.columns.exists(_.equalsIgnoreCase(reserved)),
        s"dedupParagraphs uses '$reserved' internally — rename the existing column")
    }
    // NULL text coalesces to '' — split(NULL) is NULL and posexplode of
    // NULL emits ZERO rows, which would vanish the document and break
    // the one-row-per-doc contract; as '' it takes the same path as an
    // empty-string doc (one empty paragraph, clean_text = "")
    val paras = df.select(col(idCol).as("__id"),
        posexplode(split(coalesce(col(textCol), lit("")), sepPattern)))
      .select(col("__id"), col("pos").as("__idx"), col("col").as("__para"),
        md5(col("col")).as("__h"))
    val winners = paras.groupBy(col("__h"))
      .agg(call_function("graft_min_by",
        struct(col("__id"), col("__idx")), struct(col("__id"), col("__idx"))).as("__w"))
      .select(col("__h"), col("__w.__id").as("__wid"), col("__w.__idx").as("__widx"))
    val flagged = paras.join(winners, Seq("__h"))
      .withColumn("__keep", col("__id") === col("__wid") && col("__idx") === col("__widx"))
    flagged.groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"), struct(col("__idx"), col("__para"))))),
          x => x.getField("__para")), joinSep).as("clean_text"))
  }

  /** Connected components over an undirected near-dup pair list — the
    * step that turns PAIRS (what the near-dup family emits) into GROUPS
    * (what a dedup decision needs): every doc gets its component's
    * minimum id as `comp`. Classic iterative min-label propagation: each
    * round every node adopts the smallest label in its closed
    * neighborhood, converging in O(component diameter) rounds — near-dup
    * clusters are near-cliques (diameter 1-2), so 2-3 rounds in practice,
    * and `LabelRounds` bounds adversarial chains.
    *
    * Scale notes: each round is two shuffles over the EDGE list (join +
    * min-aggregate) — no per-component state, no driver data. Iterative
    * DataFrame algorithms accumulate lineage (round k would otherwise
    * replay rounds 1..k-1 every action), so labels are cut
    * (`Iterative.cut`) each round; on a cluster prefer
    * `spark.sparkContext.setCheckpointDir` + `checkpoint()` for fault
    * tolerance. For graphs with long chains at
    * extreme scale [[connectedComponentsStar]] (large-star/small-star
    * contraction) converges in O(log² n) rounds regardless of diameter,
    * so it is the automatic fallback: label propagation runs first —
    * cheaper on the near-clique graphs near-dup emits — and a graph it
    * cannot settle in `LabelRounds` rounds restarts on star contraction.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b"): DataFrame =
    labelPropagation(pairs, idA, idB, LabelRounds).getOrElse {
      System.err.println(
        s"[graft] connectedComponents: min-label propagation did not " +
          s"converge in $LabelRounds rounds (long-chain graph) — switching " +
          "to star-contraction")
      connectedComponentsStar(pairs, idA, idB)
    }

  /** Round cap of [[connectedComponents]]' label propagation; a graph
    * it cannot settle in this many rounds falls back to star contraction.
    */
  private val LabelRounds = 15

  /** The min-label propagation rounds of [[connectedComponents]]: the
    * labels if they reach a fixpoint within `maxIter` rounds, else None.
    * An unconverged exit never escapes as an answer — it would be SPLIT
    * components (several labels for one true component).
    */
  private[graft] def labelPropagation(pairs: DataFrame, idA: String,
                                      idB: String, maxIter: Int): Option[DataFrame] = {
    // No distinct(): duplicate edges only repeat rows under an idempotent
    // min — deduping them would cost a full extra shuffle of the edge
    // list. No pre-partitioning either: the label set is orders of
    // magnitude smaller than the edges, so each round's join broadcasts
    // labels and streams the checkpointed edges in place (measured: an
    // explicit repartition-on-dst made the 10× run ~45% SLOWER by forcing
    // the 4.8M-row shuffle that broadcast avoids).
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .transform(graft.plans.Iterative.cut) // edges are reused every round — cut the pair-gen plan
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .transform(graft.plans.Iterative.cut)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("nc")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nc")).as("nbr"))
      // fold the convergence probe into the round's one materialization:
      // a label changes exactly when some neighbor label undercuts it,
      // so `__chg` rides the cut job instead of costing a separate
      // next-join-labels + head action per round (r21, one job/round off)
      val (nextAll, changed) = graft.plans.Iterative.cutCounting(
        labels.as("l").join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
            (coalesce(col("nbr"), col("comp")) < col("comp")).as("__chg")),
        "__chg")
      converged = changed == 0L
      labels = nextAll.drop("__chg")
      i += 1
    }
    if (converged) Some(labels) else None
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * converges in O(log² n) rounds on ANY graph shape — the scale path for
    * long-chain graphs where min-label propagation needs O(diameter)
    * rounds. Same output contract as [[connectedComponents]]: one row per
    * node, `comp` = component minimum id.
    *
    * Each round is two aggregate+join passes over the edge list (min per
    * node is an aggregation, never a neighbor-list collect, so a hot node
    * with millions of neighbors stays a streaming aggregate, not a
    * buffered array). Edge sets are deduplicated per round — contraction
    * REWRITES edges (unlike label propagation, where duplicate edges just
    * repeat rows under an idempotent min), so without the distinct the
    * multiplicity would compound per round. `Iterative.cut` cuts the
    * iterative lineage exactly like the label-propagation form.
    */
  private[graft] def connectedComponentsStar(pairs: DataFrame,
                                             idA: String = "id_a",
                                             idB: String = "id_b",
                                             maxIter: Int = 40): DataFrame = {
    val nodes = pairs.select(col(idA).as("id"))
      .unionByName(pairs.select(col(idB).as("id")))
      .distinct()
      .transform(graft.plans.Iterative.cut)
    var edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .filter(col("src") =!= col("dst"))
      .dropDuplicates()
      .transform(graft.plans.Iterative.cut)

    // large-star: every neighbor v > u connects to min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, col("src") === col("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .dropDuplicates()
    }

    // small-star: direct edges high→low; every low neighbor (and the
    // center) connects to the minimum neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val joined = dir.join(mins, "u")
      joined.filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .unionByName(mins.select(col("u").as("src"), col("m").as("dst")))
        .dropDuplicates()
    }

    // convergence = edge-set fixpoint. The exact check (except) is a
    // distinct anti-join per round — measured as the dominant cost on a
    // 100k-node chain — so each round first compares a cheap signature
    // (count + order-independent XOR of edge hashes, one aggregate; XOR,
    // not sum, because ANSI mode throws on long-sum overflow and the edge
    // set is distinct so self-cancellation can't hide a change of
    // multiplicity); only when the signature matches does the EXACT check
    // run to confirm. The hash can only cause a spurious exact-check
    // (wasted work), never a wrong convergence claim.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var converged = false
    var i = 0
    var prevSig = signature(edges)
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).transform(graft.plans.Iterative.cut)
      val nextSig = signature(next)
      converged = nextSig == prevSig && next.except(edges).head(1).isEmpty
      edges = next
      prevSig = nextSig
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          "this exceeds the O(log² n) bound")
    // converged edges form stars: every non-root points at its component
    // minimum; roots (and singleton inputs like self-pairs) label
    // themselves
    nodes.join(edges.select(col("src").as("id"), col("dst").as("root")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
  }

  /** Increment edge count up to which [[updateComponents]] hard-broadcasts
    * its increment-sized frames. Those frames (incIds, lblA/lblB, remap)
    * hold up to TWO endpoints per edge, so 2 M edges is half the intended
    * ~4 M-row / tens-of-MB hash-relation budget.
    */
  private val MaxBroadcastIncrementRows = 2000000L

  /** INCREMENTAL connected-components maintenance — attach an increment's
    * edges to STANDING component labels without re-running CC over the
    * history pair graph (the continuous-ingest chain's last batch-only
    * stage until this operator: q85 gates exact dups per increment, and
    * resolving components used to replay [[connectedComponents]] over
    * history ∪ increment pairs every cycle).
    *
    * The standing labels ARE a contracted graph: every history node is
    * represented by its component's minimum id, and that minimum is
    * itself the super-node's name. So:
    *
    *  1. CONTRACT — map each endpoint of `newPairs` through `standing`:
    *     one streaming pass over standing extracts the increment-touched
    *     labels (broadcast SEMI join on the increment's endpoint ids —
    *     history never shuffles, nothing history-sized broadcasts), then
    *     that increment-sized subset broadcasts onto the edges; an
    *     endpoint with no standing label — an increment doc, or a
    *     history doc never seen in a pair — stays itself;
    *  2. DELTA CC — run [[connectedComponents]] ONLY over the contracted
    *     edge list: its node set is {touched standing labels} ∪ {fresh
    *     ids}, increment-sized, never history-sized. Min-label semantics
    *     survive contraction because each super-node's name is already
    *     the minimum of its members;
    *  3. RECONCILE — remap `standing` through the delta labels (a
    *     broadcast hash join on `comp`: history rows NEVER shuffle; an
    *     untouched component passes through unchanged) and append the
    *     fresh nodes' labels.
    *
    * Output contract = [[connectedComponents]] over (history pairs ∪
    * `newPairs`): one row per node of either graph, `comp` = the merged
    * component's minimum id — spec-proven equal (IncrementalCcSpec),
    * including standing-component MERGES caused by a new edge bridging
    * two old components, and self-pair singletons. Fold the output back
    * in as next cycle's `standing` (the bloom-gate fold contract at
    * component granularity).
    *
    * Scale: per-increment cost is O(new edges + touched components) —
    * history cost only enters through the broadcast remap, which streams
    * the standing frame map-side. Cite: reference near-dup grouping is a
    * one-shot batch (reference src/data_pipeline/pipelines/
    * data_engineering/nodes_grouped/step_2_nodes/deduplicate.py) — the
    * incremental face is the 100 TB continuous-crawl requirement.
    */
  def updateComponents(standing: DataFrame, newPairs: DataFrame,
                       idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    require(standing.columns.contains("id") && standing.columns.contains("comp"),
      s"updateComponents needs standing labels with (id, comp) columns " +
        s"(connectedComponents output), got ${standing.columns.mkString(",")}")
    val raw = newPairs.select(col(idA).as("__a"), col(idB).as("__b"))
      .transform(graft.plans.Iterative.cut) // read twice (touched-id probe + contraction)
    // Broadcast guard: the contract below hard-broadcasts every
    // increment-sized frame (id set, label maps, delta remap) so the
    // history-scale `standing` never shuffles. A hard broadcast() of an
    // UNEXPECTEDLY large increment would OOM instead of degrading the
    // way an AQE-decided plan would — so gate it on the increment's
    // edge count (raw is already checkpointed; the count is a cheap
    // second read). Past `MaxBroadcastIncrementRows` the same joins
    // run un-hinted and AQE picks shuffle plans: correctness identical,
    // history pays one shuffle — the right trade once the "increment" is
    // itself data-scale.
    val incrementBroadcastable = raw.count() <= MaxBroadcastIncrementRows
    def bcInc(df: DataFrame): DataFrame =
      if (incrementBroadcastable) broadcast(df) else df
    // 1. contract: endpoints adopt their standing label; fresh stay
    // themselves. A plain left join raw ⟕ standing would make STANDING
    // the only broadcastable side (left-outer BHJ builds right) — i.e.
    // the history-scale frame on the driver, growing per cycle (probed:
    // the r18 ingest probe blew up 6 s → 523 s as standing reached 2 M
    // rows). Instead: ONE streaming pass over standing extracts the
    // increment-touched labels via a broadcast semi-join on the
    // increment's endpoint ids (history never shuffles, nothing
    // history-sized ever broadcasts), and only that increment-sized
    // subset broadcasts onto the edges.
    val incIds = raw.select(col("__a").as("id"))
      .unionByName(raw.select(col("__b").as("id")))
      .distinct()
    val touched = standing
      .join(bcInc(incIds), Seq("id"), "left_semi")
      .transform(graft.plans.Iterative.cut) // increment-sized; read twice below
    val lblA = touched.select(col("id").as("__a"), col("comp").as("__ca"))
    val lblB = touched.select(col("id").as("__b"), col("comp").as("__cb"))
    val contracted = raw
      .join(bcInc(lblA), Seq("__a"), "left")
      .join(bcInc(lblB), Seq("__b"), "left")
      .select(coalesce(col("__ca"), col("__a")).as("id_a"),
        coalesce(col("__cb"), col("__b")).as("id_b"),
        col("__ca").isNull.as("__fa"), col("__cb").isNull.as("__fb"))
      .transform(graft.plans.Iterative.cut) // reused for edges + fresh nodes; cuts pair-gen lineage
    // fresh nodes BEFORE the self-loop cut: a fresh node whose only new
    // edge is a self-pair must still label itself (batch CC does)
    val freshNodes = contracted.where(col("__fa")).select(col("id_a").as("id"))
      .unionByName(contracted.where(col("__fb")).select(col("id_b").as("id")))
      .distinct()
    // 2. delta CC over contracted edges (self-loops contribute nothing)
    val deltaEdges = contracted.where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
    val delta = connectedComponents(deltaEdges, "id_a", "id_b")
      .transform(graft.plans.Iterative.cut)
    // 3a. remap standing by component label — broadcast(delta) keeps the
    // history-scale frame shuffle-free
    val remap = bcInc(delta
      .select(col("id").as("comp"), col("comp").as("__nc")))
    val remapped = standing.select(col("id"), col("comp"))
      .join(remap, Seq("comp"), "left")
      .select(col("id"), coalesce(col("__nc"), col("comp")).as("comp"))
    // 3b. fresh nodes take their delta label (or themselves if every
    // incident edge was a self-pair)
    val freshLabels = freshNodes
      .join(delta.withColumnRenamed("comp", "__nc"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__nc"), col("id")).as("comp"))
    remapped.unionByName(freshLabels)
  }

  /** The full dedup DECISION: pairs → components → keep the BEST-scoring
    * row of each near-dup group (ties → smallest id), the rule real
    * curation uses — keep the highest-quality copy, not an arbitrary
    * one (a constant score keeps each component's smallest id).
    * Rows in no pair are their own singleton component and always
    * survive. Adds `comp` (the component label) to the kept rows.
    *
    * Shuffle shape: the component labels (one slim (id, comp) row per
    * PAIRED doc — near-dup groups are a small fraction of a deduped
    * corpus) left-join the rows, then ONE `graft_min_by` hash
    * aggregation keyed by component picks winners — map-side partial,
    * no window sort, same posture as keepLatest. NULL-id rows can't
    * join any pair and pass through UNTOUCHED (with a null comp) —
    * grouping them would collapse all of them into one survivor.
    */
  def keepBestPerComponent(rows: DataFrame, idCol: String, pairs: DataFrame,
                           score: Column, idA: String = "id_a",
                           idB: String = "id_b"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(rows.sparkSession)
    require(!rows.columns.exists(_.equalsIgnoreCase("comp")),
      "keepBestPerComponent adds a 'comp' column — rename the existing one")
    // the internal working names would silently produce an ambiguous join
    // (__cc_id) or be swallowed by the payload unwrap (__row) — reject them
    // as loudly as the output column
    Seq("__cc_id", "__row").foreach { reserved =>
      require(!rows.columns.exists(_.equalsIgnoreCase(reserved)),
        s"keepBestPerComponent uses '$reserved' internally — rename the existing column")
    }
    val comps = connectedComponents(pairs, idA, idB)
      .withColumnRenamed("id", "__cc_id")
    val labeled = rows.filter(col(idCol).isNotNull)
      .join(comps, rows(idCol) === col("__cc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), rows(idCol)))
      .drop("__cc_id")
    val payload = struct(labeled.columns.map(col).toIndexedSeq: _*)
    // min_by over (scoreIsNull, −score, id): highest score wins, then the
    // smallest id — the isNull field keeps a NULL score from WINNING
    // under min (struct ordering is nulls-first; same guard as keepFirst)
    val kept = labeled.groupBy(col("comp"))
      .agg(call_function("graft_min_by", payload,
        struct(score.isNull, -score, col(idCol))).as("__row"))
      .select(col("__row.*"))
    kept.unionByName(
      rows.filter(col(idCol).isNull)
        .withColumn("comp", lit(null).cast(kept.schema("comp").dataType)),
      allowMissingColumns = false)
  }

  /** Serialized bloom filter over `history`'s text hashes — the build
    * half of [[bloomGate]], exposed so a STREAMING ingest can probe it:
    * build once per epoch from the batch history, then apply
    * [[bloomProbe]] as a stateless projection on the stream. One
    * distributed tree-aggregation pass; only the filter reaches the
    * driver.
    */
  def historyBloom(history: DataFrame, textCol: String,
                   expectedItems: Long, fpp: Double = 0.03): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems must be > 0, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val bloom = history.select(xxhash64(col(textCol)).as("__h"))
      .filter(col("__h").isNotNull)
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** TRUE when `textCol` is possibly in the filter's history (false
    * positives at the filter's fpp rate; false ⇒ DEFINITELY new). A pure
    * codegen projection — stateless, streaming-safe; the exact confirm
    * join of [[bloomGate]] needs the increment's aggregated maybe-set,
    * which a stream cannot produce, so a streaming gate uses this flag
    * alone and routes the maybe-dups to a batch confirm. Caller must
    * have run `GraftFunctions.ensureRegistered` on the session.
    */
  def bloomProbe(textCol: Column, bloomBytes: Array[Byte]): Column =
    call_function("graft_bloom_contains", xxhash64(textCol), lit(bloomBytes))

  /** Incremental exact-dedup gate: flag each `increment` row `flagCol` =
    * true when its `textCol` does NOT already appear in `history` — the
    * per-ingest membership check of a continuously-growing corpus. The
    * result is EXACT (a bloom false positive is resolved by a confirming
    * join); NULL text counts as new, matching SQL equality semantics.
    *
    * Scale notes: the point is that the history NEVER shuffles, at any
    * history:increment ratio. A plain anti-join would shuffle the full
    * history's keys on every ingest. Here: (1) one scan of history
    * tree-aggregates a bloom filter over xxhash64(text) (`Dataset.stat
    * .bloomFilter` — distributed build, driver holds only the filter,
    * sized by expectedItems/fpp: ~1.1 GB at 10⁹ docs / 3%); (2) the
    * increment probes the filter with [[graft.functions
    * .BloomContainsExpr]] — a codegen projection, filter deserialized
    * once per executor — and only the "maybe" subset (true dups + fpp of
    * the rest) ships its md5 keys; (3) a second history scan semi-joins
    * those keys BROADCAST (history side stays shuffle-free) to confirm
    * real dups; (4) the increment left-joins the confirmed keys
    * (broadcast) for the final flag. The broadcasts are bounded by the
    * maybe-set, i.e. by the increment's true-dup count + fpp·|increment|
    * — if an increment is mostly dups of a huge history (maybe-set ≈ the
    * whole increment, too big for the driver), set `broadcastConfirm =
    * false`: BOTH maybe-set joins turn into shuffle semi/left joins, so
    * nothing is driver-collected. In that mode the history's slim md5
    * key projection (32 B/row, one column) does shuffle — the honest
    * cost of an exact confirm at that ratio; the history's full rows
    * still never move.
    *
    * Note: steps (1)-(2) run EAGERLY at call time (the filter build is
    * an action), unlike graft's otherwise-lazy operators.
    */
  def bloomGate(increment: DataFrame, history: DataFrame, textCol: String,
                expectedItems: Long, fpp: Double = 0.03,
                flagCol: String = "is_new",
                broadcastConfirm: Boolean = true): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be > 0, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    // column-collision checks BEFORE the eager filter build: an invalid
    // flagCol must fail fast, not after paying a full history scan
    validateGateColumns(increment, flagCol)
    bloomGateWith(increment, history,
      historyBloom(history, textCol, expectedItems, fpp), textCol,
      flagCol, broadcastConfirm)
  }

  private def validateGateColumns(increment: DataFrame, flagCol: String): Unit =
    Seq("__k", "__dup", flagCol).foreach { c =>
      require(!increment.columns.exists(_.equalsIgnoreCase(c)),
        s"bloomGate output/working column '$c' already exists on the increment")
    }

  /** [[bloomGate]] against a PREBUILT standing filter — the persistent-
    * filter deployment: the r16 ingest artifact measured the per-round
    * bloom REBUILD as the gate's only history-linear term, and a
    * continuous ingest does not need it — build the filter once with
    * [[historyBloom]] and gate each increment against it. Exactness is
    * unchanged: the filter only prescreens (its false positives go to the
    * exact confirm join, which still scans history's md5 projection
    * under a broadcast semi join —
    * the one unavoidable history read of an exact gate); an UNDERSIZED
    * filter degrades cost, never correctness, exactly as the q85
    * undersized-filter spec proves. CONTRACT: the filter must COVER
    * every history text (blooms have no false negatives for inserted
    * items, so a build from the history satisfies it; extra entries are
    * harmless) — a filter MISSING history entries would flag their dups
    * "new", which is the one way this variant can lie.
    */
  def bloomGateWith(increment: DataFrame, history: DataFrame,
                    bloomBytes: Array[Byte], textCol: String,
                    flagCol: String = "is_new",
                    broadcastConfirm: Boolean = true): DataFrame = {
    validateGateColumns(increment, flagCol)
    graft.functions.GraftFunctions.ensureRegistered(increment.sparkSession)
    val probe = bloomProbe(col(textCol), bloomBytes)
    val maybeKeys = increment
      .filter(col(textCol).isNotNull && probe)
      .select(md5(col(textCol)).as("__k")).distinct()
    // broadcastConfirm gates BOTH maybe-set joins: broadcasting only the
    // final confirm would still driver-collect the (possibly increment-
    // sized) maybe-set here, defeating the escape hatch
    val maybeSide = if (broadcastConfirm) broadcast(maybeKeys) else maybeKeys
    val confirmed = history.select(md5(col(textCol)).as("__k"))
      .filter(col("__k").isNotNull)
      .join(maybeSide, Seq("__k"), "left_semi").distinct()
      .withColumn("__dup", lit(true))
    val confirmSide = if (broadcastConfirm) broadcast(confirmed) else confirmed
    increment.withColumn("__k", md5(col(textCol)))
      .join(confirmSide, Seq("__k"), "left")
      .withColumn(flagCol, col("__dup").isNull)
      .drop("__k", "__dup")
  }

  /** Dedup attrition report — "where did my data go", per group
    * (source/domain/license): rows in, exact-duplicate losses, near-dup
    * losses, survivors, retention ratio. The lineage table every
    * curation run owes its consumers before anyone asks why a source's
    * contribution halved.
    *
    * Two-stage attribution mirrors the pipeline's own decision chain:
    * stage 1 keeps the min-id instance per distinct `textCol`
    * ([[dedupExactRows]]); stage 2 runs shingle-blocked near-dup
    * components over the REPRESENTATIVES ONLY (the collapse-first
    * discipline — exact dups never reach the pair stream) and keeps the
    * best-`score` member per component ([[keepBestPerComponent]]).
    * Drops attribute to the group of the DROPPED instance, so a source
    * whose rows lose to a better copy elsewhere shows the loss.
    *
    * Scale notes: one content-hash aggregation + semi join (exact
    * stage), the q26 candidate machinery on distinct texts (near-dup
    * stage), then three tiny per-group censuses joined null-safe and
    * broadcast. NULL groups are groups; a group with zero survivors
    * still reports (n_kept = 0).
    */
  def attritionReport(docs: DataFrame, idCol: String, textCol: String,
                      groupCol: String, score: Column,
                      shingle: Int = 7, threshold: Double = 0.2): DataFrame = {
    val base = docs.select(col(idCol), col(groupCol), col(textCol))
    // NOTE (r20 probe): reps is read by three consumers, but its plan
    // ends in the exact-dedup aggregation exchange, which AQE stage
    // reuse dedups at runtime — an explicit localCheckpoint here
    // measured 3.5 → 8.8 s at sf0.1 (extra materialization + lost
    // exchange reuse). Leave it to AQE.
    val reps = dedupExactRows(base, Seq(textCol), idCol)
      .select(base.columns.map(col).toIndexedSeq: _*)
    val edges = NearDup.ngramJaccardComponentEdges(
      reps, idCol, textCol, shingle, threshold)
    val kept = keepBestPerComponent(
      reps.select(col(idCol), col(groupCol), score.as("__score")),
      idCol, edges, col("__score"))
    def census(df: DataFrame, name: String): DataFrame =
      df.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as(name))
    def joinNS(a: DataFrame, b: DataFrame): DataFrame =
      a.join(broadcast(b.withColumnRenamed("g", "g2")),
        col("g") <=> col("g2"), "left").drop("g2")
    joinNS(joinNS(census(base, "n_in"), census(reps, "n_reps")),
        census(kept, "n_kept"))
      .select(col("g").as(groupCol), col("n_in"),
        (col("n_in") - coalesce(col("n_reps"), lit(0L))).as("n_exact_dropped"),
        (coalesce(col("n_reps"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_neardup_dropped"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)).cast("double") / col("n_in"), 5)
          .as("retention"))
  }

  /** Exact duplicated-SUBSTRING removal (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * operation, at whitespace-token-gram granularity): find every
    * k-token gram whose exact text occurs in ≥ 2 distinct documents,
    * merge each document's duplicated gram starts into maximal covered
    * spans, and emit span stats plus the text with covered tokens cut.
    * This is the operator the doc-level family (q21/q74/q27) cannot
    * express: boilerplate sewn INTO otherwise-unique documents (license
    * footers, promo blocks, templated headers) is removed span-wise
    * while the unique prose stays.
    *
    * Scale shape (the whole point — a naive design shuffles k× the
    * corpus text): gram occurrences carry only `(xxhash64(gram), id,
    * pos)` — 8-byte hashes, never gram strings — into a map-side-
    * combinable min/max-id agg; only hash-level candidates (grams whose
    * hash spans ≥ 2 docs — at 100 TB a tiny fraction: true boilerplate
    * plus ~0 collisions) rehydrate their strings for an EXACT
    * string-level confirm, so a 64-bit collision can never mark a
    * unique gram duplicated. Hits fold per doc into sorted starts; span
    * merge + stats are one O(g) array fold, the token cut one
    * higher-order filter — no window, no explode of positions.
    *
    * Span semantics: covered = union of [start, start+k-1] token
    * intervals; `dup_spans` counts maximal contiguous covered runs
    * (overlapping AND back-to-back grams merge); `dup_ratio` =
    * dup_tokens / n_tokens rounded to 5dp; `clean_text` = uncovered
    * tokens joined by single spaces ("" when everything is covered).
    * Documents with fewer than k tokens have no grams and pass through
    * untouched. The q154 oracle replays gram expansion, the ≥2-distinct-
    * docs rule, interval cover and the cut in independent DuckDB
    * generate_series/window SQL.
    *
    * `winnow` is the 100 TB shuffle dial. At winnow = 1 (the default,
    * the oracle contract) every gram occurrence enters stage 1 — the
    * shuffle is per-TOKEN, ~2× corpus bytes even in hash form. At
    * winnow = w > 1 each document keeps only the leftmost-minimum-hash
    * gram of every w-gram window (winnowing, Schleimer et al. 2003
    * "Winnowing: Local Algorithms for Document Fingerprinting"):
    * selection depends ONLY on window contents, so two documents
    * sharing a run of ≥ k+w-1 tokens share at least one full window
    * and therefore select the SAME gram inside it — detection of spans
    * that long is GUARANTEED, not probabilistic, while gram volume
    * drops to ~2/(w+1) of the stream. Coverage turns conservative
    * (only selected grams mark their k tokens, so a detected span is
    * under-covered at its edges, and runs shorter than k+w-1 may be
    * missed entirely); docs too short to winnow (< k+w-1 tokens) keep
    * all grams. Spec-pinned: the guarantee witness and the
    * winnow==1 ⊇ winnow==w coverage containment (DupSpanSpec).
    *
    * Chaining note: the output's lineage is a LARGE expression tree
    * (occurrence explode, two candidate joins, the cover fold, the
    * token-cut lambda). `persist()` caches the DATA but leaves that
    * tree inside every downstream plan — the composed crawl probe
    * measured a fixed ~10× plan-time tax on every later stage until the
    * result was LANDED (parquet write + read-back, or
    * `localCheckpoint()`), which severs the lineage. Pass `land = true`
    * when chaining further pipeline stages — it localCheckpoints the
    * result for you; leave it off for a terminal write.
    *
    * When to turn the dial (dup_span_scale_r17.json): winnowing trades
    * per-gram selection CPU (an O(w) argmin scan per window) for the
    * ~2/(w+1) occurrence-volume cut. On a memory-bound local shuffle
    * the CPU side LOSES (1.9–2.5× the exact path at 500 k docs across four same-code runs); on a
    * network-bound 1000-executor shuffle the occurrence stream is the
    * bottleneck and the volume cut is the win. Default exact; winnow on
    * clusters where stage-1 shuffle bytes dominate.
    */
  def stripDupSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, winnow: Int = 1,
                    collapseExact: Boolean = false,
                    land: Boolean = false): DataFrame = landIf(land) {
    if (collapseExact) stripDupSpansCollapsed(docs, idCol, textCol, k, winnow)
    else {
      val id = col(idCol)
      val (base, occ) = spanOccurrences(docs, idCol, textCol, k, winnow)
      // stage 1 (hash-width shuffle, map-side-combinable min/max):
      // candidate hashes seen in >= 2 docs
      val candHash = occ.groupBy("__gh")
        .agg(min(id).as("__dmin"), max(id).as("__dmax"))
        .where(col("__dmin") =!= col("__dmax")).select("__gh")
      // candidate occurrences: candHash is small on realistic corpora
      // (true boilerplate + ~0 collisions), so AQE broadcasts the semi
      val candOcc = occ.join(candHash, Seq("__gh"), "left_semi")
      val hits = confirmByString(candOcc, base, idCol, k)
      cutCovered(base, hits, idCol, k)
    }
  }

  /** Sever the span family's large lineage tree when `land` is set: a
    * `localCheckpoint` (executor-storage materialization) so downstream
    * plans carry a leaf scan instead of the occurrence-explode/confirm/
    * cover tree — the measured ~10× per-stage plan-time tax of chaining
    * unlanded output (crawl_pipeline_r17b). Off by default: a terminal
    * write needs no landing.
    */
  private def landIf(land: Boolean)(df: => DataFrame): DataFrame =
    if (land) df.transform(graft.plans.Iterative.cut) else df

  /** COLLAPSE-FIRST twin of [[stripDupSpans]] (the repo-wide dup-heavy
    * idiom, here SEMANTICS-PRESERVING): on corpora where exact-duplicate
    * documents are common, every copy's every gram is trivially
    * duplicated, so the per-instance gram machinery does group-size ×
    * the work for answers that are equal within a group. This form runs
    * the gram machinery over DISTINCT texts only, with the multiplicity
    * rule that keeps results identical to the per-instance run:
    * a (selected) gram is a hit iff it occurs in ≥ 2 distinct TEXTS, or
    * its own text has multiplicity ≥ 2 — applied at HITS level so it
    * composes with winnow exactly like the per-instance run; results
    * join back to instances by text (null-SAFE, so NULL-text rows pass
    * through with null stats exactly as the per-instance form does).
    * Costs two text-wide shuffles
    * (group + join-back) that the dup-LIGHT default correctly avoids —
    * pick this form the way simhashPairs picks collapseExact: by the
    * corpus's duplicate rate. Equality is spec-proven (DupSpanSpec),
    * null texts included.
    */
  private def stripDupSpansCollapsed(docs: DataFrame, idCol: String,
      textCol: String, k: Int, winnow: Int): DataFrame = {
    val id = col(idCol)
    val keyed = docs.select(id, trim(col(textCol)).as("__t"))
    val groups = keyed.groupBy("__t")
      .agg(min(id).as("__rid"), count(lit(1)).as("__mult"))
    val (base, occ) = spanOccurrences(
      groups.select(col("__rid"), col("__t")), "__rid", "__t", k, winnow)
    val rid = col("__rid")
    val candHash = occ.groupBy("__gh")
      .agg(min(rid).as("__dmin"), max(rid).as("__dmax"))
      .where(col("__dmin") =!= col("__dmax")).select("__gh")
    val dupHits = confirmByString(
        occ.join(candHash, Seq("__gh"), "left_semi"), base, "__rid", k)
      .select(rid, col("__pos"))
    // multiplicity rule: every (selected) gram of a text with >= 2
    // instances is a cross-doc duplicate per-instance — hits-level, so
    // it composes with winnow exactly like the per-instance run (which
    // covers only SELECTED grams of duplicate groups, not full docs)
    val multHits = occ
      .join(groups.where(col("__mult") >= 2).select(rid), Seq("__rid"),
        "left_semi")
      .select(rid, col("__pos"))
    val perText = groups.join(
      cutCovered(base, dupHits.union(multHits).distinct(), "__rid", k),
      Seq("__rid"))
    // join-back is null-SAFE: a NULL-text group exists in `groups` and
    // gets null stats from cutCovered, so <=> routes NULL-text instances
    // to it — identical to the per-instance pass-through
    val stats = perText.drop("__rid", "__mult")
      .withColumnRenamed("__t", "__tt")
    keyed.join(stats, col("__t") <=> col("__tt"))
      .select(id, col("n_tokens"), col("dup_spans"), col("dup_tokens"),
        col("dup_ratio"), col("clean_text"))
  }

  /** Standing boilerplate-gram index: the distinct duplicated gram
    * STRINGS [[stripDupSpans]] would cut from `docs` at the same
    * k/winnow — ONE column `gram`. Persist it once over history, gate
    * every increment with [[stripKnownSpans]], and fold an increment's
    * own [[dupGramIndex]] back in with union/distinct — the q85
    * persistent-filter pattern applied to substring dedup: history text
    * is never re-scanned per increment.
    */
  def dupGramIndex(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, winnow: Int = 1): DataFrame = {
    val id = col(idCol)
    val (base, occ) = spanOccurrences(docs, idCol, textCol, k, winnow)
    val candHash = occ.groupBy("__gh")
      .agg(min(id).as("__dmin"), max(id).as("__dmax"))
      .where(col("__dmin") =!= col("__dmax")).select("__gh")
    val candOcc = occ.join(candHash, Seq("__gh"), "left_semi")
    candOcc.join(base, Seq(idCol))
      .select(gramAtCol(k)(col("__pos")).as("__gram"), id)
      .groupBy("__gram")
      .agg(min(id).as("__dmin"), max(id).as("__dmax"))
      .where(col("__dmin") =!= col("__dmax"))
      .select(col("__gram").as("gram"))
  }

  /** Cut spans covered by KNOWN boilerplate grams (a [[dupGramIndex]]
    * frame) from an increment — the incremental face of
    * [[stripDupSpans]]: the index probes by the SAME rolling gram hash
    * (hash-width semi join; broadcast when the index is small), then an
    * exact string confirm against the index's gram text, so a hash
    * collision can never cut clean prose. Same output schema as
    * [[stripDupSpans]].
    *
    * Contract: cuts grams known to the index ONLY. Boilerplate newly
    * duplicated WITHIN the increment is invisible here by design — run
    * [[dupGramIndex]] on the increment and union/distinct it into the
    * standing index (and optionally [[stripDupSpans]] within the
    * increment) the way the bloom gate folds admitted batches. Always
    * probes at winnow=1: an index gram can sit at ANY offset of an
    * increment doc, so every occurrence must be eligible (the index
    * side may have been built winnowed; that only narrows WHICH grams
    * are known).
    */
  def stripKnownSpans(docs: DataFrame, idCol: String, textCol: String,
                      index: DataFrame, k: Int = 8,
                      land: Boolean = false): DataFrame = landIf(land) {
    require(index.columns.contains("gram"),
      s"stripKnownSpans needs an index with a 'gram' column (dupGramIndex output), got ${index.columns.mkString(",")}")
    val id = col(idCol)
    val (base, occ) = spanOccurrences(docs, idCol, textCol, k, winnow = 1)
    val idxHash = index
      .select(gramHashFold(transform(split(col("gram"), " "),
        t => xxhash64(t))).as("__gh")).distinct()
    val candOcc = occ.join(idxHash, Seq("__gh"), "left_semi")
    val candStr = candOcc.join(base, Seq(idCol))
      .select(id, col("__pos"), gramAtCol(k)(col("__pos")).as("__gram"))
    val hits = candStr.join(
      index.select(col("gram").as("__gram")), Seq("__gram"), "left_semi")
    cutCovered(base, hits, idCol, k)
  }

  /** k-gram text at 0-based token offset `i` of the `__toks` column. */
  private def gramAtCol(k: Int)(i: Column): Column =
    concat_ws(" ", slice(col("__toks"), i + lit(1), lit(k)))

  /** The rolling gram hash shared by the occurrence stream and the
    * index probe: rotate-xor fold over xxhash64 token hashes
    * (order-sensitive, ANSI-safe — bit ops never overflow). The two
    * sides MUST stay formula-identical or index probes silently miss.
    */
  private def gramHashFold(tokenHashes: Column): Column =
    aggregate(tokenHashes, lit(-7046029254386353131L),
      (acc, h) =>
        (shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)))
          .bitwiseXOR(h))

  /** (base, occ): tokenized docs plus the (id, __pos, __gh) gram
    * occurrence stream — LONGS only, no gram text (the first cut of
    * q154 built a string per occurrence and re-exploded it per
    * downstream reference: 3 GB of string shuffle per pass at 500 k
    * docs; this form is what made the 500 k probe finish).
    */
  private def spanOccurrences(docs: DataFrame, idCol: String,
      textCol: String, k: Int, winnow: Int): (DataFrame, DataFrame) = {
    require(k >= 1, s"stripDupSpans needs k >= 1, got $k")
    require(winnow >= 1, s"stripDupSpans needs winnow >= 1, got $winnow")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val id = col(idCol)
    // NOTE (r20 probe): do NOT localCheckpoint `base` here. Its multiple
    // references (candidate agg, candidate semi join, string confirm,
    // cover join) look like repeated tokenize passes, but the expensive
    // repeats sit behind exchanges AQE stage-reuse dedups at runtime; an
    // explicit cut measured q154 4.1→10.6 s, q158 6.3→12.9 s at sf0.1
    // (extra materialization + lost reuse). Contrast phashDedup, where
    // the repeated subtree is a no-exchange mapPartitions decode and the
    // cut wins 2.5×.
    val base = docs
      .select(id, split(trim(col(textCol)), " ").as("__toks"))
      .select(id, col("__toks"), size(col("__toks")).as("n_tokens"))
    // gram start positions are 0-based array offsets; start i covers
    // tokens [i, i+k-1]
    val allStarts =
      when(col("n_tokens") >= k, sequence(lit(0), col("n_tokens") - k))
        .otherwise(array().cast("array<int>"))
    // rolling gram hashes in ONE codegen'd kernel pass (formula-identical
    // to gramHashFold, spec-pinned) — the transform-of-aggregate-over-
    // slice combinator form ran INTERPRETED per gram with a slice
    // allocation each; r21 measured it as the family's dominant task CPU
    val withArr = base.withColumn("__gh_arr",
      call_function("graft_gram_hashes_rolling",
        coalesce(col("__toks"), array().cast("array<string>")), lit(k)))
    // exact path: every start is selected, so the occurrence stream is a
    // plain posexplode of the hash array (codegen Generate) — the
    // transform-to-struct form below is only needed when winnowing picks
    // a subset, and runs interpreted (higher-order function)
    if (winnow == 1) {
      val occ1 = withArr
        .select(id, posexplode(col("__gh_arr")))
        .select(id, col("pos").as("__pos"), col("col").as("__gh"))
      return (base, occ1)
    }
    val withSel = {
        val w = winnow
        // per-window leftmost argmin over the gram-hash array; a
        // window's pick depends only on its own w hashes, so picks
        // inside a shared run agree across documents. Native array_min/
        // array_position (leftmost on ties)
        val sel = array_distinct(transform(
          sequence(lit(0), col("n_tokens") - k - (w - 1)),
          j => {
            val win = slice(col("__gh_arr"), j + lit(1), lit(w))
            (j + array_position(win, array_min(win)).cast("int") - lit(1))
          }))
        withArr.withColumn("__sel",
          when(col("n_tokens") >= k + w - 1, sel).otherwise(allStarts))
      }
    // the occurrence stream: (id, pos, gram-hash) — 16 B of longs per
    // gram after the struct unpacks, vs ~60 B of gram text
    val occ = withSel
      .select(id, explode(transform(col("__sel"), s =>
        struct(s.as("p"),
          element_at(col("__gh_arr"), s + lit(1)).as("h")))).as("__o"))
      .select(id, col("__o.p").as("__pos"), col("__o.h").as("__gh"))
    (base, occ)
  }

  /** Stage 2 of [[stripDupSpans]]: rehydrate gram STRINGS for candidate
    * occurrences only (join back to the token arrays by id — the
    * exchange this puts on `base` is reused by [[cutCovered]]'s output
    * join) and keep the occurrences whose exact TEXT spans >= 2 docs —
    * a 64-bit collision can never mark a unique gram duplicated.
    */
  private def confirmByString(candOcc: DataFrame, base: DataFrame,
      idCol: String, k: Int): DataFrame = {
    val id = col(idCol)
    val candStr = candOcc
      .join(base, Seq(idCol))
      .select(id, col("__pos"), gramAtCol(k)(col("__pos")).as("__gram"))
      .transform(graft.plans.Iterative.cut)
    val dupGram = candStr.groupBy("__gram")
      .agg(min(id).as("__dmin"), max(id).as("__dmax"))
      .where(col("__dmin") =!= col("__dmax")).select("__gram")
    candStr.join(dupGram, Seq("__gram"), "left_semi")
  }

  /** Shared tail of the span-strip family: merge each doc's duplicated
    * gram starts into maximal covered runs (one O(g) array fold), count
    * spans and covered tokens, cut covered tokens with one higher-order
    * filter, and emit (id, n_tokens, dup_spans, dup_tokens, dup_ratio,
    * clean_text).
    */
  private def cutCovered(base: DataFrame, hits: DataFrame,
      idCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(base.sparkSession)
    val id = col(idCol)
    val perDoc = hits.groupBy(id)
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
    // cover fold + token cut in ONE codegen'd kernel pass per doc
    // (graft_span_cut, spec-pinned equal to the old aggregate-fold +
    // filter/exists combinators, which ran INTERPRETED and made the cut
    // O(tokens × starts) per doc — r21, the family's 1-task ~1 s CPU
    // stages). A null token array coalesces to empty for the kernel and
    // clean_text is re-nulled after, exactly the old filter(null) → null.
    base.join(perDoc, Seq(idCol), "left")
      .withColumn("__st", call_function("graft_span_cut",
        coalesce(col("__toks"), array().cast("array<string>")),
        coalesce(col("__starts"), array().cast("array<int>")), lit(k)))
      .select(id,
        col("n_tokens").cast("long").as("n_tokens"),
        col("__st.spans").as("dup_spans"),
        col("__st.toks").as("dup_tokens"),
        round(col("__st.toks").cast("double") / col("n_tokens"), 5)
          .as("dup_ratio"),
        when(col("__toks").isNull, lit(null).cast("string"))
          .otherwise(col("__st.clean")).as("clean_text"))
  }
}
