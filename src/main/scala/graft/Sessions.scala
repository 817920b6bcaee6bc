package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings we want everywhere: AQE on
  * (runtime re-plan, skew-join splitting, partition coalescing), shuffle
  * partitions sized to the parallelism at hand, UTC session time. The
  * same knobs apply on a cluster via [[tune]].
  */
object Sessions {
  /** Local-mode session on `cpus` cores — the one factory behind Bench,
    * Verify, PlanDump and the specs. Logs at WARN.
    */
  def local(cpus: Int): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Apply graft's standard conf to any builder (cluster or local). */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.ui.enabled", "false")
    // testdata parquet carries TIMESTAMP(NANOS) columns (pyarrow default);
    // set once here rather than as a read-time side effect (sources.Tables)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // ObjectHashAggregateExec silently switches to SORT-based aggregation
    // once a task's hash map holds this many keys (default 128!) — the
    // plan still prints ObjectHashAggregate, so only runtime profiling
    // shows the per-task sort of the full input. graft's typed aggregates
    // (graft_max_by / graft_min_by / graft_top_k_by) carry small bounded
    // buffers (a row or a k-element heap), so 64k keys per task are a few
    // MB; measured: 1200-group top-k over 72M candidate rows went
    // 190 s → 36 s with the fallback lifted. CAVEAT: this is the memory-
    // safety valve for UNBOUNDED typed-agg buffers too (collect_list,
    // percentile, …) — a job aggregating those over high-cardinality keys
    // should re-lower the threshold for that query via
    // [[withObjectAggThreshold]].
    .config(ObjectAggThresholdKey, "65536")

  val ObjectAggThresholdKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Run `body` with SQL confs temporarily overridden, restoring the prior
    * values (set or unset) afterwards — even on exception. The conf is
    * read when a query EXECUTES, so the collect/write/show must happen
    * inside `body`; a DataFrame merely DEFINED inside inherits nothing.
    *
    * CONCURRENCY: this mutates the SESSION-global conf — a job racing on
    * another thread of the same session reads the override (or the
    * restore). Fine for the usual one-driver-thread batch loop; for
    * concurrent schedulers use [[withConfIsolated]], which scopes the
    * override to a fresh child session instead.
    */
  def withConf[T](spark: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Concurrency-safe conf scoping: `body` receives a CHILD session
    * (`newSession` — same SparkContext and cached data, separate SQL
    * conf) carrying the overrides, so parallel jobs on the parent session
    * never observe them. Build the DataFrames INSIDE `body` from the
    * session it is handed — frames bound to the parent session keep the
    * parent's conf.
    */
  def withConfIsolated[T](spark: SparkSession, pairs: (String, String)*)
                         (body: SparkSession => T): T = {
    val child = spark.newSession()
    // newSession starts from BUILDER-time options only — copy the
    // parent's current runtime conf first, so the child differs from the
    // parent in exactly the requested pairs (static/unsettable keys are
    // skipped; they cannot differ between sessions anyway)
    spark.conf.getAll.foreach { case (k, v) =>
      try child.conf.set(k, v) catch { case _: Exception => () }
    }
    pairs.foreach { case (k, v) => child.conf.set(k, v) }
    body(child)
  }

  /** Scope the ObjectHashAggregate sort-fallback threshold to one job:
    * graft's session default (65536) is sized for BOUNDED typed-agg
    * buffers; a query aggregating unbounded buffers (collect_list,
    * percentiles) over high-cardinality keys should run under the stock
    * safety valve — `withObjectAggThreshold(spark, 128) { df.write... }`.
    */
  def withObjectAggThreshold[T](spark: SparkSession, threshold: Int)(body: => T): T =
    withConf(spark, ObjectAggThresholdKey -> threshold.toString)(body)
}
