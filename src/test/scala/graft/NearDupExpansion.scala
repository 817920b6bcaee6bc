package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.NearDup

/** Spec-side expansions of the collapse-first near-dup operators back to
  * their exact per-instance pair streams (the `collapseExact = false`
  * output). NearDupSpec proves collapse-then-expand ≡ per-instance with
  * these; each is join-shaped, quadratic only in the true duplicate
  * multiplicities it re-materializes.
  */
object NearDupExpansion {

  /** A collapsed `NearDup.sharedSpans` result: inter-group rows fan out to
    * every (instance_a, instance_b) combo — re-orienting starts when the
    * instance order disagrees with the representative order — and
    * self-span rows (`id_a == id_b`) fan out to every unordered
    * intra-group instance pair. `members` is `NearDup.exactTextMembership`
    * of the SAME frame (non-normalized).
    */
  def sharedSpans(collapsed: DataFrame, members: DataFrame): DataFrame = {
    val ma = members.select(col("rid").as("id_a"), col("id").as("__ia"))
    val mb = members.select(col("rid").as("id_b"), col("id").as("__ib"))
    val inter = collapsed.filter(col("id_a") =!= col("id_b"))
      .join(ma, Seq("id_a")).join(mb, Seq("id_b"))
      .select(
        least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        when(col("__ia") < col("__ib"), col("a_start")).otherwise(col("b_start")).as("a_start"),
        when(col("__ia") < col("__ib"), col("b_start")).otherwise(col("a_start")).as("b_start"),
        col("span_tokens"))
    val intra = collapsed.filter(col("id_a") === col("id_b"))
      .join(ma, Seq("id_a")).join(mb, Seq("id_b"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        col("a_start"), col("b_start"), col("span_tokens"))
    inter.unionByName(intra)
  }

  /** A collapsed `NearDup.crossNgramPairs` result: every representative
    * pair fans out to all (left instance, right instance) combos with the
    * same jaccard/containment. The membership frames are
    * `NearDup.exactTextMembership` of each ORIGINAL side with
    * `normalize = true` (the identity crossNgramPairs collapses on).
    */
  def crossNgramPairs(collapsed: DataFrame, leftMembers: DataFrame,
                      rightMembers: DataFrame): DataFrame =
    collapsed
      .join(leftMembers.select(col("rid").as("id_l"), col("id").as("__il")), Seq("id_l"))
      .join(rightMembers.select(col("rid").as("id_r"), col("id").as("__ir")), Seq("id_r"))
      .select(col("__il").as("id_l"), col("__ir").as("id_r"),
        col("jaccard"), col("containment_l"))

  /** (id, rid) membership of every doc in its simhash SIGNATURE group —
    * rid = the smallest id sharing the signature (groups are keyed by
    * signature, not text: distinct texts that collide to one simhash merge
    * here exactly as their per-instance pairs would have met at hamming
    * 0). NULL-text docs have no signature and no membership row.
    */
  def simhashMembership(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val m = NearDup.simhashMembers(docs, idCol, textCol)
    m.join(m.groupBy("sh").agg(min("id").as("rid")), Seq("sh"))
      .select(col("id"), col("rid"))
  }

  /** A collapsed `NearDup.simhashPairs` result as (id_a, id_b, hamming):
    * inter-group rows fan out to every (instance_a, instance_b) combo
    * (hamming is symmetric — no reorientation needed), self rows
    * (`id_a == id_b`) to every unordered intra-group pair at hamming 0.
    * `members` is [[simhashMembership]] of the SAME frame.
    */
  def simhashPairs(collapsed: DataFrame, members: DataFrame): DataFrame = {
    val ma = members.select(col("rid").as("id_a"), col("id").as("__ia"))
    val mb = members.select(col("rid").as("id_b"), col("id").as("__ib"))
    val inter = collapsed.filter(col("id_a") =!= col("id_b"))
      .join(ma, Seq("id_a")).join(mb, Seq("id_b"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
    val intra = collapsed.filter(col("id_a") === col("id_b"))
      .join(ma, Seq("id_a")).join(mb, Seq("id_b"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"), col("hamming"))
    inter.unionByName(intra)
  }
}
