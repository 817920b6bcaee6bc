package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Plan utilities for ITERATIVE DataFrame algorithms (CC loops,
  * PageRank rounds, fold-the-output-back-in ingest chains).
  */
object Iterative {

  /** The iterative-fold lineage cut: `localCheckpoint()` semantics, but
    * the rebuilt leaf carries the EXACT row count it just materialized
    * (× the schema's row width), not the child plan's estimates. Plain
    * `localCheckpoint` preserves the child plan's Statistics, and a
    * join loop then SQUARES the carried sizeInBytes estimate every
    * fold — the BigInt's digits double per round until the driver
    * spends minutes in million-digit arithmetic inside statistics
    * estimation (measured: 10 s → 681 s per fold by fold 7 of the
    * ingest-CC chain, identical increments; see
    * [[org.apache.spark.sql.graftglue.StatsSafeCheckpoint]]).
    * Use this wherever a checkpointed frame re-enters a join in a
    * LOOP or is folded back in as the next cycle's input, and at a
    * fan-out point that many plans read (`ReferencePipeline`'s
    * `persistShared`): unlike `persist`, which keeps the whole upstream
    * tree inside every reader's plan, the readers plan from a leaf.
    */
  def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftglue.StatsSafeCheckpoint(df)

  /** [[cut]] that ALSO answers "how many rows set boolean `flagCol`?"
    * in the SAME materialization job — the iterative loop's convergence
    * probe without a follow-up join + head action per round (r21: the
    * CC loop paid one such job every round). Retry-safe: the count sums
    * per-partition results, not accumulators.
    */
  def cutCounting(df: DataFrame, flagCol: String): (DataFrame, Long) =
    org.apache.spark.sql.graftglue.StatsSafeCheckpoint.counting(df, flagCol)

  /** Free the checkpoint blocks under a [[cut]] frame: unpersist the
    * RDD its `LogicalRDD` leaf reads. `Dataset.unpersist` does not do
    * this — it only drops plan-keyed cache entries, and a cut is no
    * cache entry — so it leaves the blocks to the ContextCleaner, which
    * frees them once the frame is garbage-collected. Call it when the
    * frame's last reader has run and the blocks should go NOW (a
    * long-lived session publishing in a loop). Reading the frame after
    * its release fails loudly with Spark's "Checkpoint block … not
    * found"; it never silently recomputes. `df` must be a frame that
    * [[cut]] returned, not one derived from it.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case leaf: LogicalRDD => leaf.rdd.unpersist(blocking = true)
    case other => throw new IllegalArgumentException(
      s"Iterative.release: not a cut frame (plan root ${other.nodeName})")
  }
}
