package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Readers for the graft table layout: one parquet dataset per table under
  * a scale-factor directory. Parquet gives us column pruning + predicate
  * pushdown for free; at 100 TB these would be partitioned/bucketed
  * datasets and the same `spark.read.parquet` call still applies.
  */
object Tables {
  // NOTE (r20 probe): do NOT blanket-rebalance under-split scans here.
  // The testdata's single-row-group parquet files DO pin every query's
  // stage 1 to one task, and guide §2.5 blesses repartition-after-read
  // for unsplittable inputs — but a reader-level round-robin repartition
  // taxed all 178 queries with an extra exchange (plus its deterministic
  // pre-shuffle sort, itself single-threaded on the one input split) PER
  // TABLE REFERENCE: full-catalog bench went 200 → 315 s with 83
  // per-query regressions, while only a handful of stage-1-CPU-bound
  // queries gained. At production scale inputs arrive as many splits and
  // the rebalance would be a no-op anyway. The one place under-split
  // inputs genuinely starve the engine — per-clip media codec work — is
  // fanned out on the bare id stream inside Multimodal.fanOutIds, where
  // the shuffled rows are 8-byte longs at any scale.
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` is parquet TIMESTAMP(NANOS) (pyarrow writer default),
    * which Spark's parquet reader rejects outright. Read nanos as long
    * (legacy conf, set at session build by [[graft.Sessions.tune]]; set
    * here too only as a fallback for externally-built sessions) and
    * floor-truncate to microsecond TimestampType — the same truncation the
    * DuckDB oracle applies via CAST(ts AS TIMESTAMP), so both engines
    * order and emit identical instants. Floor, not `div` (which truncates
    * toward zero): pre-epoch nanos would otherwise round up by 1us.
    */
  private def withNanosTs(spark: SparkSession, dir: String, name: String): DataFrame = {
    // value check, not getOption: a registered SQLConf always answers with
    // its default ("false"), so an Option-emptiness guard would never fire
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, name)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      // A TIMESTAMP_NTZ-written parquet (newer pyarrow emits isAdjustedToUTC
      // = false) reads back as TimestampNTZType, which functions like
      // unix_micros reject and which breaks the surface contract that `ts`
      // is TIMESTAMP. The NTZ→timestamp cast interprets the wall-clock in
      // the SESSION time zone — instant-preserving ONLY when that zone is
      // UTC. The build pins it (build.sbt), but a consumer embedding this
      // reader in their own session could silently shift every ts by
      // their zone offset — assert the invariant AT THE CAST SITE so a
      // mis-zoned session fails loudly instead of corrupting instants.
      case TimestampNTZType =>
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT",
          s"Tables: TIMESTAMP_NTZ -> TIMESTAMP relabeling requires " +
            s"spark.sql.session.timeZone=UTC (got '$tz') — the cast would " +
            "shift every ts by the zone offset")
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = withNanosTs(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
