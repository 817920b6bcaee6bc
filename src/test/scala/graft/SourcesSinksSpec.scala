package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.sources.Sinks

/** Sources/sinks: the parquet round-trip, the events reader's timestamp
  * normalization, the Z-order clustered layout, and filter pushdown
  * reaching the parquet reader.
  */
class SourcesSinksSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def sample = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"name_$i", i % 4, i * 1.5))
      .toDF("id", "name", "bucket", "score")
  }

  test("parquet round-trip preserves schema and rows") {
    val dir = tmp("pq")
    Sinks.parquet(sample, dir)
    val back = spark.read.parquet(dir)
    // parquet reads come back nullable — compare names and types
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      sample.schema.map(f => (f.name, f.dataType)))
    assert(back.count() == 100)
  }

  test("events reader normalizes a TIMESTAMP_NTZ-written ts to TIMESTAMP") {
    // Newer parquet writers mark timestamps isAdjustedToUTC=false, which
    // Spark reads back as TimestampNTZType — functions like unix_micros
    // reject it and the SQL surface contract says TIMESTAMP. The reader
    // must relabel (session TZ is pinned UTC, so the instant is unmoved).
    import spark.implicits._
    val dir = tmp("ntz")
    Seq(
      (1L, java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 15)),
      (2L, java.time.LocalDateTime.of(2024, 3, 2, 0, 0, 0)))
      .toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    // precondition: the fixture really does read back as NTZ raw
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      TimestampNTZType)
    val ev = graft.sources.Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(
      java.time.Instant.parse("2024-03-01T12:30:15Z").toEpochMilli * 1000L,
      java.time.Instant.parse("2024-03-02T00:00:00Z").toEpochMilli * 1000L))
  }

  test("events NTZ relabeling refuses a non-UTC session instead of shifting instants") {
    // the NTZ→TIMESTAMP cast is instant-preserving ONLY under a UTC
    // session zone; a consumer embedding the reader in a zoned session
    // must fail loudly at the cast site, not silently shift every ts
    import spark.implicits._
    val dir = tmp("ntz_tz")
    Seq((1L, java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0)))
      .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        graft.sources.Tables.events(spark, dir)
      }
      assert(e.getMessage.contains("timeZone"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
    // back under UTC the reader works again
    assert(graft.sources.Tables.events(spark, dir).count() === 1L)
  }

  test("Z-order clustered write: every file is a tight rectangle in BOTH dims") {
    import spark.implicits._
    import graft.operators.Layout
    // 4 "facilities" × 24 "months", shuffled so the input layout carries
    // no accidental clustering
    val df = (0 until 8000).map { i =>
      (i.toLong, (i * 2654435761L % 4).toInt, 202401 + (i * 40503 % 24).toInt, s"p$i")
    }.toDF("id", "fac", "ym", "payload").repartition(7)
    val dir = tmp("zorder")
    Layout.writeZorderClustered(df, dir, col("fac"), col("ym"), numFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 8000 && back.columns.contains("zkey"))
    // per-file min/max (what parquet footer stats expose): each file must
    // cover a SMALL rectangle of the (fac, ym) grid — that is the entire
    // data-skipping claim. Global ranges: fac 4 values, ym 24 values.
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    // RangePartitioner deduplicates tied sample boundaries, so the file
    // count can land a little under the request — the CLUSTERING claim,
    // not the exact split count, is the contract
    assert(files.length >= 4 && files.length <= 8, files.length.toString)
    val areas = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("fac"), max("fac"), min("ym"), max("ym")).head()
      (r.getInt(1) - r.getInt(0) + 1).toLong * (r.getInt(3) - r.getInt(2) + 1)
    }
    // every file covers a contiguous Z range = a small rectangle of the
    // 4×24 value grid. An unclustered layout gives every file the FULL
    // 96-cell box (sum = 96·files); Z-clustering keeps each file's
    // bounding box at no more than ~half the grid even when boundary
    // sampling merges a split
    assert(areas.forall(_ <= 48) && areas.sum <= files.length * 48L,
      s"bounding boxes: ${areas.mkString(",")}")
    // and the dimension predicates reach the scan as pushed filters
    val q = back.filter(col("fac") === 3 && col("ym") === 202413)
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(fac,3)") &&
      scan.contains("EqualTo(ym,202413)"), scan.take(2000))
    assert(q.count() ==
      df.filter(col("fac") === 3 && col("ym") === 202413).count())
  }

  test("predicate pushdown reaches the parquet scan") {
    val dir = tmp("pqpush")
    Sinks.parquet(sample, dir)
    val q = spark.read.parquet(dir).filter(col("id") > 90).select("id", "name")
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(id,90)"), scan.take(2000))
    // column pruning: the scan schema carries only the projected columns
    assert(scan.contains("ReadSchema") && !scan.contains("score"), scan.take(2000))
    assert(q.count() == 10)
  }
}
