package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for web-curation quality priors.
  *
  * A crawl pipeline ranks registered domains by link authority before it
  * ever scores a document's text: PageRank over the domain→domain link
  * graph is the classic quality prior (used as a C4/RefinedWeb-style
  * seed-list signal), and it is the one curation stage that is a GRAPH
  * iteration rather than a per-row projection or a single agg. Reference
  * analogue: the reference pipeline has no link graph (clinical data),
  * but its iterative min-label MCL-discovery loop
  * (`queries/assorted_queries.py` cross-table closure) establishes the
  * same pattern: a fixed-point iteration expressed as joins, which we
  * re-express Pregel-style with bounded rounds.
  *
  * EXACT-INTEGER discipline (the q160 unigram-trainer contract): ranks
  * live in integer micro-units (`unit` = 1e9 by default) and every
  * per-iteration redistribution is a floor division, so the whole
  * iteration is integer arithmetic — deterministic, order-independent
  * under partial aggregation, and replayable bit-for-bit by a DuckDB
  * CTE ladder (the q162 oracle). Float PageRank would make the oracle
  * hash-compare depend on double summation order; integer units make
  * `sum()` exact on both engines.
  *
  * Scale notes (100 TB crawl → ~1e8 domains, ~1e10 edges):
  *  - Each round is ONE join (ranks onto the outw-annotated edge list)
  *    plus ONE aggregation (contributions by dst) — the Pregel step as
  *    two shuffles over the edge list, no per-node state on the driver.
  *  - The rank table is orders of magnitude smaller than the edge list;
  *    AQE picks a broadcast for it at domain scale, leaving the
  *    checkpointed edge list in place (the connectedComponents measured
  *    result: forcing an edge repartition was ~45% slower than letting
  *    the small side move).
  *  - The dangling mass rides INTO the per-round contribution agg under
  *    the NULL group key, and its share rejoins the rank update as a
  *    broadcast SINGLE-ROW frame — no per-round driver fetch at all,
  *    never a node list.
  *  - Lineage is cut per round with `Iterative.cut` (iterative DataFrame
  *    plans otherwise replay all prior rounds per action); on a real
  *    cluster prefer `setCheckpointDir` + `checkpoint()` for fault
  *    tolerance, same as the CC scaladoc.
  *  - Duplicate (src,dst) edges are consolidated ONCE up front: floor
  *    divisions are not additive across duplicates, so the contract is
  *    one weighted edge per pair (also what caps the edge list at
  *    |domains|² rather than |docs|×outlinks).
  */
object Graphs {

  /** PageRank in integer micro-units over a weighted directed edge list.
    *
    * Semantics per iteration (all arithmetic in Long, `/` = floor):
    * {{{
    *   contrib(u→v) = r(u) * dampNum * w(u,v) / (dampDen * outw(u))
    *   dShare       = (Σ_{u dangling} r(u)) * dampNum / (dampDen * N)
    *   r'(v)        = unit*(dampDen-dampNum)/(dampDen*N) + dShare + Σ contrib(·→v)
    * }}}
    * Initial rank = `unit / N`. Total mass decays by the floor losses
    * (deterministically — both engines floor the same way); ranks remain
    * comparable within a run, which is all a quality prior needs.
    *
    * Overflow budget: r(u) ≤ unit = 1e9, so `r*dampNum*w` stays under
    * Long.Max while `w` ≤ ~1e8 — far beyond any consolidated domain-pair
    * weight; callers with heavier weights should pre-scale them.
    *
    * Runs exactly `iters` rounds. Per-round driver contract: ONE
    * blocking action (the contribution agg's lineage cut) and ZERO
    * scalar fetches — the dangling mass re-enters the rank update as a
    * broadcast single-row cross-join read from the already-materialized
    * agg, never via the driver. No node-list ever reaches the driver.
    *
    * @param edges   (srcCol, dstCol[, weightCol]) directed edges;
    *                duplicates are consolidated by summing weights.
    * @return one row per node: (id, pr_units, out_weight, n_in) —
    *         `pr_units` the integer rank, `out_weight` the consolidated
    *         out-weight (0 = dangling), `n_in` distinct in-neighbors.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               weightCol: Option[String] = None, iters: Int = 5,
               dampNum: Long = 85L, dampDen: Long = 100L,
               unit: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping must satisfy 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    val w = weightCol.map(col).getOrElse(lit(1L)).cast("long")
    // consolidate duplicates; self-loops stay legal (a domain linking to
    // itself feeds its own rank back, which the formula handles).
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"), w.as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .transform(graft.plans.Iterative.cut)
    val outw = e.groupBy(col("src").as("id")).agg(sum(col("w")).as("outw"))
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
      .join(outw, Seq("id"), "left")
      .select(col("id"), coalesce(col("outw"), lit(0L)).as("outw"))
      .transform(graft.plans.Iterative.cut)
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    // edge list annotated with the sender's out-weight — built once,
    // reused every round (the per-round join is ranks → this).
    val eAnn = e.join(outw.select(col("id").as("src"), col("outw")), Seq("src"))
      .transform(graft.plans.Iterative.cut)
    // node-sized projections over the cut `nodes` leaf: recomputing them
    // per use is a map over a checkpointed leaf, so they carry no cut of
    // their own (each eager cut is a blocking setup job).
    val danglingIds = nodes.filter(col("outw") === 0L).select(col("id"))
    val hasDangling = danglingIds.head(1).nonEmpty
    val tele = unit * (dampDen - dampNum) / (dampDen * n)
    var ranks = nodes.select(col("id"), lit(unit / n).as("r"))
    for (_ <- 0 until iters) {
      // ONE aggregation job per round (r18 verdict item: the dangling
      // mass used to be its own blocking action before the contribution
      // job — dead driver sync at high iteration counts): dangling rank
      // rows ride INTO the contribution agg under the NULL group key —
      // impossible to collide with a node id, since node ids are
      // filtered non-null up front. The cut materializes the combined
      // agg once; the dangling share and the rank update both read the
      // materialized frame.
      val contribs0 = eAnn
        .join(ranks.select(col("id").as("src"), col("r")), Seq("src"))
        // `div` (SQL integral division), NOT `/`: Spark's Divide widens
        // longs to double, and floor(double) drifts from the oracle's
        // integer `//` once products pass 2^53. All operands are
        // positive, so truncating div == floor on both engines.
        .select(col("dst").as("id"),
          expr(s"r * ${dampNum}L * w div (${dampDen}L * outw)").as("c"))
      val withDangling =
        if (!hasDangling) contribs0
        else contribs0.unionByName(
          ranks.join(danglingIds, Seq("id"), "left_semi")
            .select(lit(null).cast("string").as("id"), col("r").as("c")))
      // The cut below is the round's ONE blocking action: it
      // materializes the combined agg, and everything downstream —
      // the rank update, the dangling share, next round's join — reads
      // the checkpointed leaf. The new ranks are deliberately NOT cut:
      // their plan is a node-sized join over two checkpointed leaves
      // (nodes, agged), so lineage depth stays bounded without paying
      // a second job per round (the r18-anchor shape, minus even the
      // dangling scalar fetch).
      val agged = withDangling
        .groupBy(col("id")).agg(sum(col("c")).as("csum"))
        .transform(graft.plans.Iterative.cut)
      val updated = nodes.select(col("id"))
        .join(agged.filter(col("id").isNotNull), Seq("id"), "left")
      ranks =
        if (!hasDangling)
          updated.select(col("id"),
            (lit(tele) + coalesce(col("csum"), lit(0L))).as("r"))
        else {
          // dangling share rejoins the plan as a broadcast single-row
          // frame (coalesce covers the impossible-but-safe empty sum);
          // same integer `div` discipline as the contributions.
          val dm = agged.filter(col("id").isNull)
            .agg(coalesce(sum(col("csum")), lit(0L)).as("__dm"))
          updated.crossJoin(broadcast(dm))
            .select(col("id"),
              (lit(tele) +
                expr(s"__dm * ${dampNum}L div (${dampDen}L * ${n}L)") +
                coalesce(col("csum"), lit(0L))).as("r"))
        }
    }
    val inDeg = e.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("n_in"))
    ranks.join(nodes, Seq("id"))
      .join(inDeg, Seq("id"), "left")
      .select(col("id"), col("r").as("pr_units"), col("outw").as("out_weight"),
        coalesce(col("n_in"), lit(0L)).as("n_in"))
  }
}
