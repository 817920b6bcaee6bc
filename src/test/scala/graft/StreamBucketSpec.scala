package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Cleanup, Multimodal}
import graft.streaming.StreamDedup

/** Streaming dedup, bucketed co-located joins, multimodal frame features,
  * and cleanup — the round-2 non-query surface.
  */
class StreamBucketSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("streaming dedup drops repeats of a key within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDS().toDF("uid", "ts", "payload")
    val q = StreamDedup.withinWatermark(df, Seq("uid"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    in.addData((1L, ts(0), "first"), (2L, ts(1), "other"))
    q.processAllAvailable()
    in.addData((1L, ts(2), "dup-second-batch"), (3L, ts(3), "new"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").select("uid", "payload")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "first"), (2L, "other"), (3L, "new")))
  }

  test("LLM ingest chain (scrub -> quality gate -> dedup) runs unchanged on a file stream") {
    import graft.functions.TextAnalysis
    // a REAL file stream (not MemoryStream): parquet files land in a dir,
    // the chain scrubs markup/PII, gates on token count, and drops exact
    // dups within the watermark — every operator is the same stateless
    // Column expression the batch queries use
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val batch1 = Seq(
      (1L, ts(0), "<p>the quick brown fox jumps over the lazy dog</p> mail me a@b.org"),
      (2L, ts(1), "too short"),
      (3L, ts(2), "the quick brown fox jumps over the lazy dog")) // dup of 1 post-scrub
    batch1.toDF("doc_id", "ts", "raw").write.parquet(s"$dir/in1")
    val schema = spark.read.parquet(s"$dir/in1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in*")
    val cleaned = stream
      .withColumn("clean", TextAnalysis.cleanForTraining(col("raw")))
      .withColumn("clean", regexp_replace(col("clean"), " mail me <EMAIL>", ""))
      .filter(TextAnalysis.tokenCountWs(col("clean")) >= 5)
    val deduped = StreamDedup.withinWatermark(
      cleaned.withColumn("th", xxhash64(col("clean"))), Seq("th"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory")
      .queryName("ingest_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ingest_out").select("doc_id").as[Long].collect().toSet
    // 2 gated out (short); 1 and 3 are identical post-scrub so exactly ONE
    // survives — WHICH one is unspecified for same-key rows in one
    // micro-batch (state-store arrival order), so assert the set shape
    assert(out.size === 1 && out.subsetOf(Set(1L, 3L)), out.toString)
  }

  test("gopher gate + local paragraph scrub run as stateless streaming projections") {
    import graft.operators.Quality
    import graft.functions.TextAnalysis
    // both new curation projections claim streaming safety (zero state,
    // zero shuffles) — prove it on a real file stream in append mode
    val dir = java.nio.file.Files.createTempDirectory("graft_gopher").toString
    Seq(
      (1L, "the cat sat on a mat with the dog of the house now"),
      (2L, "nav\n\nthe quick brown fox jumps over a lazy dog\n\nnav"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in1")
    val schema = spark.read.parquet(s"$dir/in1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in*")
    val combined = stream.select(col("doc_id"),
      TextAnalysis.dropRepeatedParagraphs(col("text")).as("r"))
      .select(col("doc_id"), col("r.clean_text").as("text"))
    val out = Quality.gopherFilter(combined, "doc_id", "text",
      Seq("the", "a", "of"), minWords = 5, maxWords = 50,
      minMeanLen = 2.0, maxMeanLen = 8.0,
      maxSymbolRatio = 0.5, minStopRatio = 0.1)
    val q = out.writeStream.format("memory")
      .queryName("gopher_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val res = spark.table("gopher_out").select("doc_id", "keep")
      .as[(Long, Int)].collect().toMap
    // doc 2's repeated "nav" paragraph is scrubbed BEFORE the gate sees
    // it; what remains (nav + 9-word sentence) passes every rule
    assert(res === Map(1L -> 1, 2L -> 1))
  }

  test("streaming ingest probes the history bloom as a stateless projection") {
    import graft.operators.Dedup
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val hist = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val bloom = Dedup.historyBloom(hist, "text", expectedItems = 100, fpp = 0.01)
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_stream").toString
    Seq((10L, "alpha"), (11L, "delta"), (12L, "beta"), (13L, "omega"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in1")
    val schema = spark.read.parquet(s"$dir/in1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in*")
      .withColumn("maybe_dup", Dedup.bloomProbe(col("text"), bloom))
    val q = stream.writeStream.format("memory")
      .queryName("bloom_stream").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val res = spark.table("bloom_stream").select("doc_id", "maybe_dup")
      .as[(Long, Boolean)].collect().toMap
    // history members MUST probe true (no false negatives); the fresh
    // docs probe false at this sizing (a 1% filter over 3 items)
    assert(res(10L) && res(12L), res.toString)
    assert(!res(11L) && !res(13L), res.toString)
  }

  test("chained curation gate across two increments: batch parity, zero exchanges") {
    import graft.operators.{Dedup, Quality, Sampling}
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // the curation chain as one stateless pipeline: history bloom gate →
    // split assignment → gopher quality verdict. The history rides the
    // plan as a constant (bloom bytes); its rows never move.
    val stop = Seq("the", "a", "of", "and")
    val hist = Seq(
      (900L, "the quick brown fox jumps over the lazy dog"),
      (901L, "a b c")).toDF("doc_id", "text")
    val bloom = Dedup.historyBloom(hist, "text", expectedItems = 100, fpp = 0.01)
    def gate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val flagged = df
        .withColumn("maybe_dup", Dedup.bloomProbe(col("text"), bloom))
      val split = Sampling.assignSplit(flagged, col("doc_id"),
        Seq(("train", 0.8), ("eval", 0.2)))
      // gopherFilter projects (idCol, signals) — the composite struct id
      // carries the upstream flags through it, keeping the chain 1:1
      val packed = split.select(struct(col("doc_id"), col("maybe_dup"),
        col("split")).as("k"), col("text"))
      Quality.gopherFilter(packed, "k", "text", stop,
          minWords = 5, maxWords = 100, minMeanLen = 2.0, maxMeanLen = 8.0,
          maxSymbolRatio = 0.5, minStopRatio = 0.05)
        .select(col("k.doc_id").as("doc_id"), col("k.maybe_dup").as("maybe_dup"),
          col("k.split").as("split"), col("keep").as("quality_keep"))
        .withColumn("admit", !col("maybe_dup") && col("quality_keep") === 1)
    }
    val inc1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // history dup
      (11L, "a fresh document with plenty of words and the right shape"),
      (13L, "xx")) // gopher-fails: too few words
      .toDF("doc_id", "text")
    val inc2 = Seq(
      (20L, "another fresh and clean document of the second increment batch"),
      (21L, "a b c")) // history dup arriving in the SECOND increment
      .toDF("doc_id", "text")
    // the whole chain — history gate included — compiles to an
    // exchange-free plan: nothing shuffles at ANY history size
    val plan = gate(inc1).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    // two increments land as separate files; the stream picks each up as
    // its own micro-batch
    val dir = java.nio.file.Files.createTempDirectory("graft_curation").toString
    inc1.write.parquet(s"$dir/in1")
    val schema = spark.read.parquet(s"$dir/in1").schema
    val stream = gate(spark.readStream.schema(schema).parquet(s"$dir/in*"))
    val q = stream.writeStream.format("memory")
      .queryName("curation_gate").outputMode("append").start()
    q.processAllAvailable()
    inc2.write.parquet(s"$dir/in2")
    q.processAllAvailable()
    q.stop()
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "maybe_dup", "split", "quality_keep", "admit")
      .as[(Long, Boolean, String, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val got = shape(spark.table("curation_gate"))
    // batch parity: the SAME gate over the unioned increments row for row
    assert(got === shape(gate(inc1.unionByName(inc2))))
    // and the routing is the one the chain promises
    assert(got.filter(_._2._4).keySet === Set(11L, 20L)) // admitted
    assert(got(10L)._1 && got(21L)._1)                   // history dups flagged
    assert(got(13L)._3 === 0)                            // quality-failed
    assert(got.values.forall(v => v._2 == "train" || v._2 == "eval"))
  }

  test("ingest projections v2 (C4 lines -> BPE encode -> char entropy): stream ≡ batch, zero exchanges") {
    import graft.operators.Quality
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // the production shape: the merge table is TRAINED OFFLINE (a batch
    // job) and ships into the stream as a plan constant — the encode,
    // the line filter, and the entropy profile are all pure projections,
    // so the whole chain is stateless and admissible in append mode
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"))
    def chain(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val c4 = Quality.c4LineFilter(df, "doc_id", "text")
      val enc = Quality.bpeEncode(c4, "doc_id", "clean_text", merges,
        keepCols = Seq("doc_flagged", "kept_ratio", "clean_text"))
      val packed = enc.select(struct(col("doc_id"), col("doc_flagged"),
        col("kept_ratio"), col("n_bpe_tokens")).as("k"), col("clean_text"))
      Quality.charEntropyProfile(packed, "k", "clean_text")
        .select(col("k.doc_id").as("doc_id"),
          col("k.doc_flagged").as("doc_flagged"),
          col("k.kept_ratio").as("kept_ratio"),
          col("k.n_bpe_tokens").as("n_bpe_tokens"), col("char_entropy"))
        .withColumn("admit", col("doc_flagged") === 0 &&
          col("kept_ratio") >= 0.5 && col("char_entropy").between(1.0, 4.5))
    }
    val inc1 = Seq(
      (1L, "the wind and the rain fell all day.\nshort line"),
      (2L, "lorem ipsum boilerplate that should flag the doc entirely.\nand another sentence that is fine."),
      (3L, "aaaa aaaa aaaa aaaa.")) // low-entropy filler
      .toDF("doc_id", "text")
    val inc2 = Seq(
      (4L, "a second increment with a clean and proper sentence here.\nplus another keeper to hold the ratio."),
      (5L, "")) // blank doc: NULL stats must survive the whole chain
      .toDF("doc_id", "text")
    // the full chain compiles exchange-free: nothing shuffles at any
    // corpus size — encode table and thresholds are plan constants
    val plan = chain(inc1).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest2").toString
    inc1.write.parquet(s"$dir/in1")
    val schema = spark.read.parquet(s"$dir/in1").schema
    val stream = chain(spark.readStream.schema(schema).parquet(s"$dir/in*"))
    val q = stream.writeStream.format("memory")
      .queryName("ingest_v2").outputMode("append").start()
    q.processAllAvailable()
    inc2.write.parquet(s"$dir/in2")
    q.processAllAvailable()
    q.stop()
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "doc_flagged", "kept_ratio", "n_bpe_tokens",
        "char_entropy", "admit")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val got = shape(spark.table("ingest_v2"))
    assert(got === shape(chain(inc1.unionByName(inc2)))) // batch parity
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(got(4L).last === true)   // the clean doc admits
    assert(got(2L).head === 1)      // lorem ipsum doc flagged
    assert(got(3L).last === false)  // low-entropy filler rejected
    assert(got(5L).drop(1).forall(_ == null)) // blank doc keeps NULL stats
  }

  test("URL curation front door (canonicalize -> domain gate): stream ≡ batch, zero exchanges") {
    import graft.functions.TextAnalysis
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // the crawl ingest's FIRST step is stateless by design: the kernel
    // projection + the plan-constant blocklist gate admit URLs in append
    // mode with zero exchanges; the per-domain CAP is the batch-side
    // aggregation that follows (bounded-heap, q148) — capping needs the
    // domain's full increment, which a row-at-a-time stream cannot see
    val blocked = Seq("spam.co.uk", "seo-farm.com")
    def chain(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("doc_id"), col("url"),
          TextAnalysis.canonicalUrl(col("url")).as("url_canon"),
          TextAnalysis.registeredDomain(col("url")).as("domain"))
        .withColumn("admit", col("url_canon").isNotNull &&
          !TextAnalysis.domainBlocked(col("domain"), blocked))
    val inc1 = Seq(
      (1L, "HTTPS://WWW.Example.COM/a?utm_source=x&id=1#frag"),
      (2L, "http://news.spam.co.uk/story"),
      (3L, "not a url at all")).toDF("doc_id", "url")
    val inc2 = Seq(
      (4L, "https://sub.seo-farm.com:443/landing"),
      (5L, "https://good.org/page?gclid=z")).toDF("doc_id", "url")
    val plan = chain(inc1).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    val dir = java.nio.file.Files.createTempDirectory("graft_urlstream").toString
    inc1.write.parquet(s"$dir/in1")
    val schema = spark.read.parquet(s"$dir/in1").schema
    val q = chain(spark.readStream.schema(schema).parquet(s"$dir/in*"))
      .writeStream.format("memory").queryName("url_front").outputMode("append").start()
    q.processAllAvailable()
    inc2.write.parquet(s"$dir/in2")
    q.processAllAvailable()
    q.stop()
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "url_canon", "domain", "admit")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val got = shape(spark.table("url_front"))
    assert(got === shape(chain(inc1.unionByName(inc2)))) // batch parity
    assert(got(1L) === Seq("https://example.com/a?id=1", "example.com", true))
    assert(got(2L)(2) === false)            // multi-label blocklist hit
    assert(got(3L) === Seq(null, null, false)) // unparseable: routed, not dropped
    assert(got(4L)(2) === false)            // subdomain + default port still gated
    assert(got(5L) === Seq("https://good.org/page", "good.org", true))
  }

  test("streaming forward-fill carries observations across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamFill
    import graft.streaming.StreamFill.{Filled, Reading}
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val in = MemoryStream[Reading]
    val q = StreamFill.fill(in.toDS()).writeStream
      .format("memory").queryName("fill_out").outputMode("append").start()
    // batch 1: an observation, then a gap (arrives unsorted — the fold
    // sorts per batch)
    in.addData(Reading(1L, ts(2), 2L, None), Reading(1L, ts(1), 1L, Some(7.0)))
    q.processAllAvailable()
    // batch 2: the observation must carry over; a fresh key starts unfilled
    in.addData(Reading(1L, ts(3), 3L, None), Reading(2L, ts(3), 4L, None))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("fill_out").as[Filled].collect()
      .map(f => f.event_id -> ((f.value_filled, f.was_filled))).toMap
    assert(out(1L) === ((Some(7.0), false)))
    assert(out(2L) === ((Some(7.0), true)))  // intra-batch fill after sort
    assert(out(3L) === ((Some(7.0), true)))  // carried ACROSS batches
    assert(out(4L) === ((None, false)))      // fresh key: nothing to carry
  }

  test("bucketed tables join without any shuffle exchange") {
    val facts = (1 to 1000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "v")
    val dims = (0 to 49).map(i => (i.toLong, s"label_$i")).toDF("k", "name")
    saveBucketed(facts, "graft_bucketed_facts", "k", 8)
    saveBucketed(dims, "graft_bucketed_dims", "k", 8)
    // broadcast would hide the point — force a non-broadcast join
    withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("graft_bucketed_facts")
        .join(spark.table("graft_bucketed_dims"), Seq("k"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p.take(2000))
      assert(joined.count() == 1000)
    }
  }

  test("Cdc over bucketed publishes: snapshotDiff plans ZERO Exchange, mergeAdditive merges exactly") {
    import graft.operators.Cdc
    // two consecutive bucketed publishes of a keyed rollup (the q115/q126
    // incremental story's physical half): the diff and the additive merge
    // must consume the write-time bucketing instead of re-shuffling
    val v1 = (1L to 500L).map(k => (k, k % 7, k * 2)).toDF("k", "n", "sum_v")
    val v2 = (3L to 502L).map(k => (k, k % 7 + (if (k == 10) 1 else 0), k * 2))
      .toDF("k", "n", "sum_v")
    saveBucketed(v1, "graft_pub_v1", "k", 8)
    saveBucketed(v2, "graft_pub_v2", "k", 8)
    withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (o, n) = (spark.table("graft_pub_v1"), spark.table("graft_pub_v2"))
      val diff = Cdc.snapshotDiff(o, n, Seq("k"), assumeKeysNotNull = true)
      val pd = diff.queryExecution.executedPlan.toString
      assert(!pd.contains("Exchange"), pd.take(2000))
      assert(diff.filter(col("change") === "added").count() === 2)
      assert(diff.filter(col("change") === "removed").count() === 2)
      assert(diff.filter(col("change") === "changed").count() === 1)
      // the additive merge over the two bucketed publishes equals the
      // merge of the unbucketed frames: one row per key. A group-by
      // straight over the union of the two columnar bucketed scans
      // planned no exchange and kept one row per key per part (1000)
      def merge(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        Cdc.mergeAdditive(Seq(a, b), Seq("k"), countCols = Seq("n"), sumCols = Seq("sum_v"))
      val merged = merge(o, n)
      assert(merged.count() === 502)
      assert(merged.collect().map(_.toString).sorted ===
        merge(v1, v2).collect().map(_.toString).sorted)
    }
  }

  test("streaming upsert lands keep-latest state across micro-batches") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("upsert").toString + "/table"
    val ckpt = Files.createTempDirectory("upsert_ckpt").toString
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = graft.streaming.StreamUpsert.start(
      in.toDS().toDF("uid", "ts", "payload"), path,
      keys = Seq("uid"), orderCol = "ts", tieBreak = "payload", checkpoint = ckpt)
    // first batch carries an intra-batch duplicate of uid 1 — the empty-
    // table path must dedup it too
    in.addData((1L, ts(0), "v0"), (1L, ts(2), "v1"), (2L, ts(1), "v1"))
    q.processAllAvailable()
    in.addData((1L, ts(5), "v2"), (3L, ts(6), "v1")) // update uid 1, insert uid 3
    q.processAllAvailable()
    in.addData((2L, ts(0), "stale")) // OLDER than uid 2's current row → ignored
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(path).select("uid", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "v2", 2L -> "v1", 3L -> "v1"))
  }

  test("windowed flag counts emit finalized windows that match the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDS().toDF("ts", "facility", "v")
    val q = graft.streaming.StreamCounts.windowedFlagCounts(
        df, "ts", delay = "5 minutes", windowLen = "10 minutes",
        groupCols = Seq("facility"),
        flags = Seq("n_total" -> lit(true), "n_high" -> (col("v") > 10.0)))
      .writeStream.format("memory").queryName("wc_out").outputMode("append").start()
    in.addData((ts(1), "F1", 5.0), (ts(2), "F1", 15.0), (ts(4), "F2", 20.0),
      (ts(12), "F1", 9.0))
    q.processAllAvailable()
    in.addData((ts(59), "F9", 1.0)) // advance watermark → finalize earlier windows
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wc_out")
      .select("window_start", "facility", "n_total", "n_high")
      .as[(Timestamp, String, Long, Long)].collect().toSet
    assert(out.contains((ts(0), "F1", 2L, 1L)))
    assert(out.contains((ts(0), "F2", 1L, 1L)))
    assert(out.contains((ts(10), "F1", 1L, 0L)))
  }

  test("windowed counts: late-within-watermark merges into its window; beyond-watermark drops") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDS().toDF("ts", "facility", "v")
    val q = graft.streaming.StreamCounts.windowedFlagCounts(
        df, "ts", delay = "5 minutes", windowLen = "10 minutes",
        groupCols = Seq("facility"),
        flags = Seq("n_total" -> lit(true)))
      .writeStream.format("memory").queryName("wc_late").outputMode("append").start()
    in.addData((ts(7), "F1", 1.0))
    q.processAllAvailable() // watermark ≈ 10:02
    // out-of-order but ABOVE the watermark: must still merge into the
    // open [10:00, 10:10) window — the lateness budget exists for this
    in.addData((ts(3), "F1", 2.0))
    q.processAllAvailable()
    // finalize [10:00, 10:10): watermark moves past the window end
    in.addData((ts(30), "F1", 3.0))
    q.processAllAvailable()
    // BEYOND the watermark (≈10:25): dropped by the pre-aggregation
    // filter — the finalized window is already emitted and append-mode
    // rows are final, so this must neither re-emit nor re-count
    in.addData((ts(4), "F1", 4.0))
    q.processAllAvailable()
    in.addData((ts(59), "F9", 9.0)) // flush the rest
    q.processAllAvailable()
    q.stop()
    val f1 = spark.table("wc_late")
      .filter(col("facility") === "F1")
      .select("window_start", "n_total")
      .as[(Timestamp, Long)].collect().sorted.toSeq
    // exactly one [10:00] row, counting the on-time + late-merged rows
    // only; exactly one [10:30] row — the sub-watermark straggler is gone
    assert(f1 === Seq((ts(0), 2L), (ts(30), 1L)), f1.toString)
  }

  test("streaming session_window emits gap-merged sessions on watermark close") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDS().toDF("ts", "user_id")
    val q = graft.streaming.StreamCounts.sessionCounts(
        df, "ts", delay = "5 minutes", gap = "10 minutes", keyCols = Seq("user_id"))
      .writeStream.format("memory").queryName("sw_out").outputMode("append").start()
    // user 1: events 2 min apart (one session), then a 20-min gap
    in.addData((ts(0), 1L), (ts(2), 1L), (ts(22), 1L), (ts(3), 2L))
    q.processAllAvailable()
    in.addData((ts(59), 9L)) // watermark far past every session's close
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sw_out")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(out.contains((1L, ts(0), ts(12), 2L)))  // end = last event + gap
    assert(out.contains((1L, ts(22), ts(32), 1L)))
    assert(out.contains((2L, ts(3), ts(13), 1L)))
  }

  test("multimodal frameFeatures emits one row per sampled frame, batched per partition") {
    val media = MediaFixtures.synthesize((1 to 20).map(i => Tuple1(i.toLong)).toDF("id"), "id")
    val feats = Multimodal.frameFeatures(media, everyNth = 2)
    val rows = feats.collect()
    // n_frames = id % 8 + 1; sampled every 2nd → ceil(n/2) rows per item
    val expected = (1 to 20).map(i => (i % 8 + 1 + 1) / 2).sum
    assert(rows.length == expected)
    assert(rows.forall(_.getAs[Seq[Float]]("feature").length == 8))
    // deterministic: same media → same feature
    val again = Multimodal.frameFeatures(media, everyNth = 2).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("cleanup normalizes column names to snake_case") {
    val df = Seq((1, 2, 3)).toDF("Visit.Date", "NeoTreeID", "keep_me")
    val out = Cleanup.snakeCaseColumns(df)
    assert(out.columns.toSeq == Seq("visit_date", "neo_tree_id", "keep_me"))
  }

  /** Bucketed catalog table: `bucketBy` co-locates rows by hash(key) at
    * write time, so later joins/aggregations on the key skip their
    * shuffle. The in-memory catalog forgets tables between JVMs but their
    * warehouse directories persist — clear both before recreating.
    */
  private def saveBucketed(df: org.apache.spark.sql.DataFrame, table: String,
                           key: String, nBuckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), table)
    if (loc.exists()) { loc.listFiles().foreach(_.delete()); loc.delete() }
    df.write.mode("overwrite").format("parquet").bucketBy(nBuckets, key)
      .saveAsTable(table)
  }

  private def withSqlConf[A](kvs: (String, String)*)(f: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
