package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Write side of the engine: the parquet landing of a published table and
  * the in-place rewrite protocol behind it.
  *
  * Reference analogue: the Kedro pipeline lands every derived/summary
  * table back into Postgres (reference: src/data_pipeline/pipelines/
  * data_engineering/queries — INSERT/CREATE TABLE AS). Here the landing
  * zone is columnar files: `ReferencePipeline` publishes each table with
  * [[parquet]] into a temp path and swaps it in ([[AtomicSwap]]), and
  * `StreamUpsert` rewrites its target through [[rewriteSwapped]]. Reads
  * go through `spark.read` directly or through [[Tables]].
  */
object Sinks {

  /** Plain parquet write (small dims, query results). */
  def parquet(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  /** Rewrite `path` in place via write-to-temp + atomic swap — THE one
    * implementation of the rewrite protocol (streaming upsert), so
    * swap-recovery semantics can't drift between call sites.
    */
  def rewriteSwapped(df: DataFrame, path: String, suffix: String = "__tmp"): Unit = {
    val tmp = path + suffix
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    AtomicSwap.replace(path, tmp)
  }

  /** The temp path [[rewriteSwapped]] uses for `path` — exposed so crash
    * recovery can look for a stranded replacement.
    */
  def rewriteTmpPath(path: String): String = path + "__tmp"
}
