package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Joins, Mcl, Summaries, Windows}

/** Specs for the round-2 operator additions: salted join, MCL explode,
  * day-offset slices, non-empty completeness, IVF ANN.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join, and salts spread a hot key") {
    val big = (1 to 1000).map(i => (if (i % 2 == 0) 1L else (i % 10).toLong, i.toLong))
      .toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "warm"), (3L, "cold")).toDF("k", "label")
    val saltedOut = Joins.salted(big, dim, "k", col("payload"), buckets = 8)
      .select("k", "payload", "label")
    val plainOut = big.join(dim, Seq("k")).select("k", "payload", "label")
    assert(saltedOut.collect().toSet == plainOut.collect().toSet)
    // the hot key's rows really do carry distinct salts pre-join
    val salts = big.withColumn("__salt", pmod(xxhash64(col("payload")), lit(8)))
      .filter(col("k") === 1L).select("__salt").distinct().count()
    assert(salts == 8)
  }

  test("mcl explode trims, drops empties, and recodes with passthrough") {
    val df = Seq((1L, "A, B ,"), (2L, ""), (3L, "C"), (4L, " , ,")).toDF("id", "mcl")
    val out = Mcl.explodeChoices(df, col("mcl"))
      .select(col("id"), Mcl.recodeChoice(col("choice"), Map("A" -> "Alpha")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "Alpha"), (1L, "B"), (3L, "C")))
  }

  test("dayOffsetSlice picks exactly the day-N rows per entity") {
    val df = Seq(
      (1L, "2026-01-01 10:00:00", "a"), (1L, "2026-01-02 09:00:00", "b"),
      (1L, "2026-01-02 23:00:00", "c"), (1L, "2026-01-04 01:00:00", "d"),
      (2L, "2026-03-05 00:00:00", "e"), (2L, "2026-03-06 12:00:00", "f"))
      .toDF("uid", "ts", "tag").withColumn("ts", to_timestamp(col("ts")))
    val day2 = Windows.dayOffsetSlice(df, Seq("uid"), col("ts"), day = 2)
      .select("tag").as[String].collect().toSet
    assert(day2 == Set("b", "c", "f"))
  }

  test("completenessNonEmpty treats blanks as missing, completeness does not") {
    val df = Seq(("x", "a"), ("", "b"), ("  ", "c"), (null, "d")).toDF("s", "t")
    val plain = Summaries.completeness(df, Seq("s")).head.getDouble(0)
    val strict = Summaries.completenessNonEmpty(df, Seq("s")).head.getDouble(0)
    assert(plain == 0.75 && strict == 0.25)
  }

  // 4 tight clusters (deterministic seed): approximate methods cannot
  // miss the true neighbor, so agreement with brute force is exact
  private lazy val clustered = {
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(4)(c => Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    (0 until 200).map { i =>
      val c = i % 4
      (i.toLong, base(c).map(v => v + rnd.nextFloat() * 0.01f))
    }.toDF("vec_id", "embedding")
  }

  // 4 axis-aligned clusters with explicit orthogonal centroids: every
  // vector lands on its own axis' centroid, intra-cluster cosine ≈ 1,
  // cross-cluster ≈ 0 — assignment and dedup decisions are unambiguous
  private lazy val axisCents = Array.tabulate(4)(c =>
    Array.tabulate(16)(j => if (j == c) 1f else 0f))
  private lazy val axisVecs = (0 until 40).map { i =>
    val c = i % 4
    (i.toLong, Array.tabulate(16)(j =>
      (if (j == c) 1f else 0f) + (if (j == 8 + c) 0.001f * (i / 4 + 1) else 0f)).toSeq)
  }.toDF("vec_id", "embedding")

  private def rootMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")

  test("exactQuantile matches the percentile aggregate across random data, ties, edges") {
    import graft.operators.Summaries
    val rnd = new scala.util.Random(23)
    def quantileOf(df: org.apache.spark.sql.DataFrame, q: Double,
                   threshold: Int = 1 << 20): Option[Double] =
      Summaries.exactQuantilesPerColumn(df, Seq("x" -> Seq(q)), threshold)("x").head
    def check(values: Seq[Double], q: Double, threshold: Int): Unit = {
      val df = values.map(Tuple1(_)).toDF("x")
      val expected = df.agg(expr(s"percentile(x, $q)")).head().getDouble(0)
      val got = quantileOf(df, q, threshold)
      assert(got === Some(expected), s"q=$q threshold=$threshold n=${values.size}")
    }
    // random continuous data, forced through several narrowing rounds
    val cont = Seq.fill(5000)(rnd.nextDouble() * 1e6 - 5e5)
    for (q <- Seq(0.0, 0.25, 0.5, 0.9, 1.0)) check(cont, q, threshold = 64)
    // heavy ties (11 distinct values over 5000 rows)
    val tied = Seq.fill(5000)((rnd.nextInt(11) * 0.05 * 100).toDouble)
    for (q <- Seq(0.1, 0.5, 0.99)) check(tied, q, threshold = 64)
    // all-equal column, singleton, interpolated even-count median
    check(Seq.fill(100)(42.0), 0.5, 16)
    check(Seq(7.0), 0.5, 16)
    check(Seq(1.0, 2.0), 0.5, 16)
    // empty / all-null
    assert(quantileOf(Seq.empty[Tuple1[java.lang.Double]].toDF("x"), 0.5) === None)
    // ±Infinity selects positionally, like the percentile aggregate
    check(Seq(Double.NegativeInfinity, 1.0, 2.0, 3.0, Double.PositiveInfinity), 0.5, 16)
    check(Seq(Double.NegativeInfinity, Double.NegativeInfinity, 5.0), 0.0, 16)
    check(Seq(1.0, Double.PositiveInfinity), 1.0, 16)
    // full-double-range column: interval arithmetic must not overflow
    check(Seq(-1.6e308, 1.6e308) ++ Seq.fill(500)(rnd.nextDouble() * 1e6), 0.5, 64)
    // signed zero: numerically equal to percentile; the BIT pattern is
    // unpinnable — the percentile aggregate's own -0.0/0.0 representative
    // depends on partial-merge order (observed -0.0 single-partition)
    val sz = Seq(-0.0, 0.0).map(Tuple1(_)).toDF("x")
    val got = quantileOf(sz, 0.5, threshold = 16)
    assert(got.get == 0.0, s"got $got")
  }

  test("AQE splits the hot partition of a skewed shuffle join (pinned, not assumed)") {
    // the scale notes for q38/q63 lean on "AQE handles residual skew" —
    // this pins that the splitter actually FIRES on a hot-key join shape:
    // 80% of the fact side hashes to one reduce partition, broadcast is
    // disabled so the join must shuffle, and thresholds are scaled down
    // to test-data sizes (the same ratios a 100 TB run sees vs defaults)
    Sessions.withConfIsolated(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
    ) { s =>
      val fact = s.range(0, 50000).select(
        when(col("id") % 5 =!= 0, 0L).otherwise(col("id") % 97).as("k"),
        sha2(col("id").cast("string"), 256).as("payload")) // incompressible
      val dim = s.range(0, 97).select(col("id").as("k"), col("id").cast("string").as("v"))
      val j = fact.join(dim, "k")
      j.collect() // run THIS queryExecution so AQE finalizes its plan
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(1500))
    }
  }

  test("salted join spreads a pathological hot key across reducers; AQE-less plain join cannot") {
    // The q38 decision rule measured at 10x (SURVEY §8 r10): AQE's skew
    // split handles moderate skew WHEN it is on and the partition
    // crosses its thresholds; salting is the deterministic lever that
    // works regardless of AQE state/thresholds. This pins the MECHANISM
    // deterministically: with AQE off, the plain shuffle join piles the
    // hot key's rows onto ONE reduce partition, while the salted form
    // spreads them ~evenly — and the two joins agree row-for-row.
    Sessions.withConfIsolated(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") { s =>
      val fact = s.range(0, 40000).select(
        when(col("id") % 10 < 9, lit(7L)).otherwise(col("id") % 97).as("k"),
        col("id").as("src"))
      val dim = s.range(0, 97).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("v"))
      def maxPartition(df: org.apache.spark.sql.DataFrame): Long =
        df.groupBy(spark_partition_id()).count()
          .agg(max("count")).head().getLong(0)
      val plain = fact.join(dim, "k")
      val salted = Joins.salted(fact, dim, "k", saltSrc = col("src"), buckets = 32)
      val (mp, ms) = (maxPartition(plain), maxPartition(salted))
      info(s"hot-key rows on the biggest reduce partition: plain=$mp salted=$ms")
      assert(mp >= 36000L, s"fixture lost its skew: $mp") // all hot rows, one reducer
      // with only 4 test partitions the (key, salt) combos collide
      // (multinomial), so the pin is the halving, not perfect balance —
      // at production partition counts the spread approaches 1/buckets
      assert(ms <= mp / 2, s"salting failed to spread: $ms vs $mp")
      // same result, different physical distribution
      assert(salted.select("k", "src", "v").collect().map(_.toString).sorted
        === plain.select("k", "src", "v").collect().map(_.toString).sorted)
    }
  }

  test("numericProfile's scalable exact path equals the percentile form") {
    import graft.operators.Summaries
    val rnd = new scala.util.Random(7)
    val df = (1 to 4000).map { i =>
      (rnd.nextDouble() * 1e4,
        if (i % 5 == 0) null else java.lang.Double.valueOf((i % 7).toDouble),
        null: java.lang.Double) // an all-null column must profile, not throw
    }.toDF("cont", "tied", "empty")
    val cols = Seq("cont", "tied", "empty")
    // every quantile column equals the spec's percentile reference —
    // the median alone, and the full card quantile VECTOR, whose five
    // ranks of all columns share ONE narrowing sequence
    for (qs <- Seq(Seq(0.5), Seq(0.25, 0.5, 0.75, 0.95, 0.99))) {
      val got = Summaries.numericProfile(df, cols, exact = true, quantiles = qs)
        .collect().map(r => r.getString(0) -> r).toMap
      for (c <- cols) {
        val want = ExactReference.percentiles(df, c, qs)
        qs.map(Summaries.quantileColName).zipWithIndex.foreach { case (qn, i) =>
          val r = got(c)
          val v = if (r.isNullAt(r.fieldIndex(qn))) None else Some(r.getAs[Double](qn))
          assert(v === want.map(_(i)), s"$c $qn")
        }
      }
      // the non-quantile stats are the sketch mode's single aggregation
      def stats(exact: Boolean) = Summaries.numericProfile(df, cols, exact,
          quantiles = qs).select("column_name", "n_non_null", "n_null", "min",
          "max", "mean").orderBy("column_name").collect().map(_.toSeq).toSeq
      assert(stats(exact = true) === stats(exact = false))
    }
  }

  test("exact order statistics run no Percentile aggregate; ksDrift and concurrency no Window") {
    import org.apache.spark.grafttest.PlanCapture
    import org.apache.spark.sql.catalyst.expressions.aggregate.PercentileBase
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExecBase
    // every Dataset action of construction + collect, walked through the
    // adaptive plans and subqueries; class matches, not plan strings
    // ("approx_percentile" contains "percentile")
    object Walk extends AdaptiveSparkPlanHelper {
      def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
    }
    val s2 = spark.newSession() // its own listener manager: no other queries
    val df = s2.range(0, 2000).selectExpr("id",
      "CAST(id % 97 AS DOUBLE) AS a",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id * id AS DOUBLE) END AS b",
      "CAST(id % 3 AS STRING) AS g")
    val iv = s2.range(0, 500).selectExpr("id AS s", "id + 40 AS e")
    val even = df.filter(col("id") % 2 === 0)
    val odd = df.filter(col("id") % 2 === 1)
    val cases: Seq[(String, Boolean, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("numericProfile", false, () => Summaries.numericProfile(df, Seq("a", "b"), exact = true)),
      ("equidepthBins", false, () => Summaries.equidepthBins(df, Seq("a", "b"))),
      ("winsorize", false, () => Summaries.winsorize(df, Seq("a", "b"))),
      ("DatasetCard", false, () => graft.operators.DatasetCard.build(df,
        Seq("a", "b"), Seq("g"), exactMedians = true)),
      ("ksDrift", true, () => Summaries.ksDrift(even, odd, Seq("a", "b"))),
      ("concurrency", true, () => Windows.concurrency(iv, "s", "e")))
    for ((name, noWindow, build) <- cases) {
      val (_, qes) = PlanCapture(s2)(build().collect())
      assert(qes.nonEmpty, name)
      for (qe <- qes) {
        val nodes = Walk.nodes(qe.executedPlan)
        assert(!nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[PercentileBase]))),
          s"$name ran a percentile aggregate:\n${qe.executedPlan}")
        if (noWindow)
          assert(!nodes.exists(_.isInstanceOf[WindowExecBase]),
            s"$name ran a Window:\n${qe.executedPlan}")
      }
    }
  }

  test("semanticDedup keeps one representative per tight cluster") {
    val kept = Ann.semanticDedup(axisVecs, "vec_id", "embedding", axisCents, 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 1L, 2L, 3L)) // smallest id per cluster survives
  }

  test("semanticDedup keeps everything when the threshold is unreachable") {
    val kept = Ann.semanticDedup(axisVecs, "vec_id", "embedding", axisCents, 1.1)
    assert(kept.count() === 40L)
  }

  test("clusterBalancedSample caps each cluster at k, keeping the most central") {
    // axisVecs' perturbation grows with i/4, so per cluster c the most
    // central members are c, c+4, c+8, ... in that order
    val out = Ann.clusterBalancedSample(axisVecs, "vec_id", "embedding",
        axisCents, perCluster = 2)
      .select("vec_id", "cid", "rank").as[(Long, Int, Long)].collect()
    assert(out.length === 8) // 4 clusters x 2
    assert(out.groupBy(_._2).forall(_._2.length == 2))
    val byCluster = out.groupBy(_._2).map { case (c, rows) =>
      c -> rows.sortBy(_._3).map(_._1).toSeq
    }
    assert(byCluster === Map(0 -> Seq(0L, 4L), 1 -> Seq(1L, 5L),
      2 -> Seq(2L, 6L), 3 -> Seq(3L, 7L)))
  }

  test("IVF topK finds the same top-1 as brute force for clustered data") {
    val queries = clustered.filter(col("vec_id") < 4)
    val ivf = Ann.ivfTopKWith(queries, clustered, "vec_id", "embedding", k = 1,
        Ann.strideCentroids(clustered, "vec_id", "embedding", 8), nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val bf = Ann.bruteForceTopK(queries, clustered, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(ivf == bf)
  }

  test("PQ encodes per-subspace codes; ADC top-k stays within the true cluster") {
    val cbs = Ann.pqCodebooks(
      Ann.strideCentroids(clustered, "vec_id", "embedding", 16), m = 4)
    assert(cbs.length === 4 &&
      cbs.forall(cb => cb.length === 16 && cb.forall(_.length === 4)))
    val codes = Ann.pqEncode(clustered, "vec_id", "embedding", cbs)
    val carr = codes.select("codes").as[Seq[Int]].collect()
    assert(carr.length === 200 &&
      carr.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 16)))
    val queries = clustered.filter(col("vec_id") < 4)
    val top = Ann.pqTopK(queries, codes, "vec_id", "embedding", cbs, k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect()
    assert(top.length === 20)
    // quantization error ≪ inter-cluster distance: every ADC neighbor
    // must come from the query's own cluster (within-cluster ORDER may
    // differ from exact — codes can tie — which is the declared
    // approximation; bruteForceTopK stays the yardstick)
    assert(top.forall(r => r._2 % 4 == r._1 % 4), top.sortBy(r => (r._1, r._3)).mkString(","))
  }

  test("PQ: NULL embeddings encode to NULL codes and never rank as neighbors") {
    val cbs = Ann.pqCodebooks(
      Ann.strideCentroids(clustered, "vec_id", "embedding", 16), m = 4)
    // null out one corpus row; codes must be NULL (not [null,null,..] —
    // a null SLOT reads as centroid 0 and the row would score as a point)
    val withNull = clustered.withColumn("embedding",
      when(col("vec_id") === 7L, lit(null)).otherwise(col("embedding")))
    val codes = Ann.pqEncode(withNull, "vec_id", "embedding", cbs)
    val nullRows = codes.filter(col("vec_id") === 7L).select("codes").collect()
    assert(nullRows.length === 1 && nullRows.head.isNullAt(0))
    val queries = withNull.filter(col("vec_id") < 8) // includes the NULL row
    val top = Ann.pqTopK(queries, codes, "vec_id", "embedding", cbs, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(!top.exists(_._2 == 7L), "NULL-embedding row ranked as a neighbor")
    assert(!top.exists(_._1 == 7L), "NULL-embedding query produced results")
    assert(top.map(_._1).distinct.length === 7) // the 7 real queries answered
    // defense in depth: externally-built codes with a null ELEMENT fail
    // loudly in the kernel instead of silently scoring centroid 0
    val badCodes = codes.withColumn("codes",
      when(col("vec_id") === 3L, array(lit(0), lit(null).cast("int"), lit(0), lit(0)))
        .otherwise(col("codes")))
    val e = intercept[Throwable] {
      Ann.pqTopK(clustered.filter(col("vec_id") === 0L), badCodes,
        "vec_id", "embedding", cbs, k = 5).collect()
    }
    def rootMsgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    assert(rootMsgs(e).contains("NULL entry"), rootMsgs(e))
  }

  test("IVF-PQ with every cell probed equals plain PQ exactly") {
    // probing ALL cells removes the IVF restriction — the composition
    // must then reproduce pqTopK row-for-row (same ADC quantization,
    // same rank tie-break); any drift means the cell gating changed
    // scoring semantics instead of just candidate coverage
    val cbs = Ann.pqCodebooks(
      Ann.strideCentroids(clustered, "vec_id", "embedding", 16), m = 4)
    val cents = Ann.strideCentroids(clustered, "vec_id", "embedding", 4)
    val queries = clustered.filter(col("vec_id") < 8)
    val full = Ann.pqTopK(queries,
        Ann.pqEncode(clustered, "vec_id", "embedding", cbs),
        "vec_id", "embedding", cbs, k = 5)
      .select("query_id", "neighbor_id", "adc", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val ivfpq = Ann.ivfPqTopK(queries, clustered, "vec_id", "embedding",
        cents, cbs, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id", "adc", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    assert(ivfpq === full)
  }

  test("IVF-PQ at nProbe=1 keeps neighbors in the query's own cluster") {
    val cbs = Ann.pqCodebooks(
      Ann.strideCentroids(clustered, "vec_id", "embedding", 16), m = 4)
    val cents = Ann.kmeansCentroidsExact(clustered, "embedding",
      Ann.strideCentroids(clustered, "vec_id", "embedding", 4), iters = 3)
    val queries = clustered.filter(col("vec_id") < 4)
    val top = Ann.ivfPqTopK(queries, clustered, "vec_id", "embedding",
        cents, cbs, k = 5, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top.length === 20) // every query fully answered from one cell
    assert(top.forall(r => r._2 % 4 == r._1 % 4),
      top.sortBy(_._1).mkString(","))
  }

  test("PQ rejects dimension-mismatched vectors loudly") {
    val cbs = Ann.pqCodebooks(
      Ann.strideCentroids(clustered, "vec_id", "embedding", 16), m = 4)
    // encode: a short vector would SILENTLY produce truncated-prefix codes
    // (slice + the distance kernel's length guard) — must raise instead
    val shortVecs = clustered.select(col("vec_id"),
      slice(col("embedding"), 1, 5).as("embedding"))
    val e1 = intercept[Throwable] {
      Ann.pqEncode(shortVecs, "vec_id", "embedding", cbs).collect()
    }
    assert(rootMessages(e1).contains("pqEncode"), rootMessages(e1))
    // ADC: a short QUERY vector must fail with the contract violation,
    // not an ArrayIndexOutOfBoundsException from generated code
    val codes = Ann.pqEncode(clustered, "vec_id", "embedding", cbs)
    val e2 = intercept[Throwable] {
      Ann.pqTopK(shortVecs.filter(col("vec_id") < 4), codes,
        "vec_id", "embedding", cbs, k = 5).collect()
    }
    assert(rootMessages(e2).contains("graft_pq_adc"), rootMessages(e2))
  }

  test("recallAtK: per-query overlap over k; fully-missed queries keep a 0 row") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L)).toDF("query_id", "neighbor_id")
    val out = Ann.recallAtK(approx, exact, k = 2)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((1L, 0.5)))
    assert(out(2L) === ((0L, 0.0))) // query 2 absent from approx entirely
  }

  test("LSH topK finds the same top-1 as brute force for clustered data") {
    val queries = clustered.filter(col("vec_id") < 4)
    val lsh = Ann.lshTopK(queries, clustered, "vec_id", "embedding",
      k = 1, nPlanes = 8, nTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val bf = Ann.bruteForceTopK(queries, clustered, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(lsh == bf)
  }

  test("lshTopK collapse-first ≡ per-instance reference on a dup-heavy corpus") {
    import graft.functions.Similarity
    import org.apache.spark.sql.expressions.Window
    // 8 distinct base vectors, each replicated 25× with distinct ids —
    // the exact-duplicate shape the 300× probe showed makes per-instance
    // bucketing quadratic. The collapsed path must return the IDENTICAL
    // per-instance rows (ranks, ties by neighbor_id, self-exclusion).
    val rng = new scala.util.Random(23)
    val bases = Seq.fill(8)(Array.fill(64)(rng.nextFloat() * 2 - 1))
    val rows = for (b <- bases.indices; r <- 0 until 25)
      yield ((b * 100 + r).toLong, bases(b))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    val got = Ann.lshTopK(queries, corpus, "vec_id", "embedding",
        k = 5, nPlanes = 6, nTables = 4)
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    // reference: the pre-collapse per-instance form (bucket every
    // instance, score, dedupe, window top-k with the same tie-break)
    def bucketed(df: org.apache.spark.sql.DataFrame, id: String, vec: String) = {
      val tables = (0 until 4).map { t =>
        struct(lit(t).as("tbl"),
          Similarity.rhpBucketFast(col(vec), 6, seed = 42 + t * 7919).as("bkt"))
      }
      df.select(col(id), col(vec), explode(array(tables: _*)).as("tb"))
        .select(col(id), col(vec), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    }
    val q = bucketed(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv")
    val c = bucketed(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv")), "neighbor_id", "cv")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val expect = c.join(q, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineFast(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank").cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === expect)
  }

  test("semanticDedup collapse-first ≡ per-instance reference on replicas (zero vectors keep all)") {
    import graft.functions.{GraftFunctions, Similarity}
    val rng = new scala.util.Random(29)
    val bases = Seq.fill(5)(Array.fill(64)(rng.nextFloat() * 2 - 1))
    val zero = Array.fill(64)(0f)
    val rows = (for (b <- bases.indices; r <- 0 until 10)
      yield ((b * 100 + r).toLong, bases(b))) ++
      (0 until 10).map(r => ((900 + r).toLong, zero))
    val corpus = rows.toDF("vec_id", "embedding")
    val cents = Ann.strideCentroids(corpus, "vec_id", "embedding", 3)
    val got = Ann.semanticDedup(corpus, "vec_id", "embedding", cents, 0.9)
      .as[(Long, Int)].collect().toSet
    // per-instance reference: the pre-collapse rule verbatim
    val centsLit = lit(GraftFunctions.encodeCents(cents))
    val assigned = corpus.select(col("vec_id").as("id"), col("embedding").as("v"),
      call_function("graft_ivf_nearest", col("embedding"), centsLit).as("cid"))
    val drops = assigned.as("x").join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
      .filter(round(Similarity.cosineFast(col("x.v"), col("y.v")), 4) >= 0.9)
      .select(col("y.id").as("id")).distinct()
    val expect = assigned.join(drops, Seq("id"), "left_anti")
      .select(col("id"), col("cid")).as[(Long, Int)].collect().toSet
    assert(got === expect)
    // all ten zero-vector instances survive (cos(0, ·) = 0 pairs nothing)
    assert((900L until 910L).forall(i => got.exists(_._1 == i)))
  }

  test("embedding near-dup pair set equals brute force at high threshold") {
    import graft.functions.Similarity
    val lshPairs = Ann.embeddingNearDupPairs(clustered, "vec_id", "embedding",
        threshold = 0.99, nPlanes = 6, nTables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = clustered.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = clustered.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(round(Similarity.cosineFast(col("va"), col("vb")), 4) >= 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty && lshPairs == brute)
  }

  test("ANN recall-tuning grid: knob directions hold and measured floors stand") {
    // The BASELINE.md recall-tuning table, regression-gated: on the
    // sf0.01 embeddings (500 vectors, 10 queries, k=5; fully
    // deterministic — hash planes, stride+kmeans centroids, no RNG) each
    // index family's tuning knob must keep its measured direction, and
    // the best grid point of each family must hold its floor (measured
    // r9 values minus safety margin; the synthetic corpus is
    // near-uniform, so absolute recall is structurally modest — the
    // DIRECTIONS are the contract). A deliberate algorithm change that
    // moves these updates the floors consciously, like the golden file.
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.embeddings(spark, dir)
    val queries = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val k = 5
    val exact = Ann.bruteForceTopK(queries, e, "vec_id", "embedding", k)
    def mean(approx: org.apache.spark.sql.DataFrame): Double =
      Ann.recallAtK(approx, exact, k).agg(avg("recall")).head().getDouble(0)
    // LSH: fewer planes → bigger buckets → more candidates → higher recall
    val lsh = Seq(6, 10, 14).map(p =>
      p -> mean(Ann.lshTopK(queries, e, "vec_id", "embedding", k, p)))
    info(s"LSH (nPlanes → recall): $lsh")
    assert(lsh(0)._2 >= lsh(1)._2 && lsh(1)._2 >= lsh(2)._2, lsh.toString)
    assert(lsh(0)._2 >= 0.15, s"LSH@6 floor: ${lsh(0)._2}") // measured 0.24
    // IVF: more probes → more candidate cells → monotone recall
    val stride16 = Ann.strideCentroids(e, "vec_id", "embedding", 16)
    val ivf = Seq(1, 2, 4).map(p =>
      p -> mean(Ann.ivfTopKWith(queries, e, "vec_id", "embedding", k, stride16, p)))
    info(s"IVF nCent=16 (nProbe → recall): $ivf")
    assert(ivf(0)._2 <= ivf(1)._2 && ivf(1)._2 <= ivf(2)._2, ivf.toString)
    assert(ivf(2)._2 >= 0.35, s"IVF@4 floor: ${ivf(2)._2}") // measured 0.50
    // PQ: more subspaces → finer quantization → higher recall
    val cents = Ann.kmeansCentroidsExact(e, "embedding", stride16, iters = 5)
    val pq = Seq(8, 16).map { m =>
      val books = Ann.pqCodebooks(cents, m)
      m -> mean(Ann.pqTopK(queries,
        Ann.pqEncode(e, "vec_id", "embedding", books),
        "vec_id", "embedding", books, k))
    }
    info(s"PQ 16-word books (m → recall): $pq")
    assert(pq(0)._2 <= pq(1)._2, pq.toString)
    assert(pq(1)._2 >= 0.25, s"PQ@16 floor: ${pq(1)._2}") // measured 0.38
    // the SHIPPED defaults are the best grid point of each family — a
    // grid re-measurement that dethrones one must consciously move the
    // constant too, not just the floor
    import Ann.ProductionDefaults._
    assert(LshNPlanes === lsh.maxBy(_._2)._1, s"LSH default vs grid: $lsh")
    assert(IvfNProbe === ivf.maxBy(_._2)._1, s"IVF default vs grid: $ivf")
    assert(PqSubspaces === pq.maxBy(_._2)._1, s"PQ default vs grid: $pq")
    assert(LshNTables === 4)
    // IVF-PQ (q113): the coarse gate trades recall for scan volume —
    // nProbe=1 scans ~1/k of the codes and must still clear a usable
    // floor, and by the production nProbe the gate should cost little
    // vs plain PQ on the same books (strict ≤/monotone are NOT asserted:
    // ADC displacement means a removed bad candidate can raise recall)
    val acents = Ann.autoCentroids(e, "vec_id", "embedding")
    val books16 = Ann.pqCodebooks(cents, 16)
    val ivfpq = Seq(1, 2, 4).map(p =>
      p -> mean(Ann.ivfPqTopK(queries, e, "vec_id", "embedding",
        acents, books16, k, p)))
    info(s"IVF-PQ auto-k cents, m=16 books (nProbe → recall): $ivfpq; plain PQ ${pq(1)._2}")
    assert(ivfpq(2)._2 >= pq(1)._2 - 0.15,
      s"IVF-PQ@4 lost more than 0.15 recall vs plain PQ: $ivfpq vs ${pq(1)._2}")
    assert(ivfpq(0)._2 >= 0.10, s"IVF-PQ@1 floor: ${ivfpq(0)._2}")
  }

  test("kmeans centroids: recall on testdata embeddings >= stride-sample baseline") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
    val queries = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val truth = Ann.bruteForceTopK(queries, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(cents: Array[Array[Float]]): Double = {
      val got = Ann.ivfTopKWith(queries, e, "vec_id", "embedding", 5, cents, nProbe = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val stride = Ann.strideCentroids(e, "vec_id", "embedding", 16)
    val km = Ann.kmeansCentroidsExact(e, "embedding", stride, iters = 5)
    val (rs, rk) = (recall(stride), recall(km))
    info(s"recall stride=$rs kmeans=$rk")
    assert(rk >= rs, s"kmeans recall $rk fell below stride baseline $rs")
    // and k-means actually moved the centroids (it LEARNED something)
    assert(km.zip(stride).exists { case (a, b) => !a.sameElements(b) })
  }

  test("autoCentroidCount: k = ceil(sqrt(n)), floored at 1, capped at maxK") {
    assert(Ann.autoCentroidCount(0) === 1)
    assert(Ann.autoCentroidCount(1) === 1)
    assert(Ann.autoCentroidCount(500) === 23)
    assert(Ann.autoCentroidCount(2000) === 45)
    assert(Ann.autoCentroidCount(1000000) === 1000)
    assert(Ann.autoCentroidCount(Long.MaxValue) === 16384) // cap
    assert(Ann.autoCentroidCount(10000, maxK = 50) === 50)
  }

  test("kmeansCentroidsExact equals a driver-side micro-unit Lloyd's bit-for-bit") {
    // same init, same data, same iteration count: the distributed loop
    // must reproduce ExactReference.kmeans exactly (and iters=0 must be
    // the identity)
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
    val init = Ann.strideCentroids(e, "vec_id", "embedding", 16)
    assert(Ann.kmeansCentroidsExact(e, "embedding", init, iters = 0)
      .zip(init).forall { case (a, b) => a.sameElements(b) })
    val vecs = e.select("embedding").as[Seq[Float]].collect().map(_.toArray).toSeq
    val ex = Ann.kmeansCentroidsExact(e, "embedding", init, iters = 2)
    val ref = ExactReference.kmeans(vecs, init, iters = 2)
    assert(ex.length === ref.length)
    ex.zip(ref).zipWithIndex.foreach { case ((a, b), c) =>
      assert(a.map(java.lang.Float.floatToIntBits).toSeq ===
        b.map(java.lang.Float.floatToIntBits).toSeq, s"centroid $c")
    }
    // and the refinement moved something (the comparison is not vacuous)
    assert(ex.zip(init).exists { case (a, b) => !a.sameElements(b) })
  }

  test("a wrong-length vector fails k-means and PQ training; NULL vectors are skipped") {
    val good = Seq(Seq(1f, 0f, 0f, 0f), Seq(0.9f, 0.1f, 0f, 0f),
      Seq(0f, 1f, 0f, 0f), Seq(0f, 0.8f, 0.2f, 0f))
    val init = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    def frame(vs: Seq[Option[Seq[Float]]]) =
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    // one short and one long vector: each must fail both trainers (the
    // assignment kernel alone would score a short vector by its prefix)
    for (bad <- Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f, 0f, 0f))) {
      val vecs = frame(good.map(Some(_)) :+ Some(bad))
      val km = intercept[Exception] {
        Ann.kmeansCentroidsExact(vecs, "v", init, iters = 1)
      }
      assert(rootMessages(km).contains(s"vector dim ${bad.length} != centroid dim 4"),
        rootMessages(km))
      val pq = intercept[Exception] {
        Ann.pqTrainCodebooksExact(vecs, "v", Ann.pqCodebooks(init, 2), iters = 1)
      }
      assert(rootMessages(pq).contains(s"vector dim ${bad.length} != centroid dim 4"),
        rootMessages(pq))
    }
    val withNull = frame(good.map(Some(_)) :+ None)
    assert(Ann.kmeansCentroidsExact(withNull, "v", init, iters = 2).map(_.toSeq).toSeq ===
      ExactReference.kmeans(good.map(_.toArray), init, iters = 2).map(_.toSeq).toSeq)
  }

  test("kmeansCentroidsExact: empty clusters keep their previous centroid") {
    val vecs = (0 until 8).map { i =>
      val base = if (i < 4) 1.0f else -1.0f
      (i.toLong, Array.fill(4)(base + i * 1e-3f).toSeq)
    }.toDF("id", "v")
    val init = Array(
      Array.fill(4)(1.0f), Array.fill(4)(-1.0f),
      Array.fill(4)(100.0f), Array.fill(4)(-100.0f))
    val out = Ann.kmeansCentroidsExact(vecs, "v", init, iters = 3)
    assert(out.length === 4)
    assert(out.forall(_.forall(x => !x.isNaN)))
    assert(out(2).sameElements(init(2)) && out(3).sameElements(init(3)))
  }

  test("autoCentroids (q37/q63 default): recall floor and nProbe direction hold") {
    // the auto-sized learned centroids that q37/q63 now ship: k=ceil(sqrt(n))
    // (23 at sf0.01), stride init, 2 exact kmeans iterations. Measured r10:
    // nProbe 2/4/8 -> 0.50/0.62/0.82, vs fixed stride-16 @4 = 0.50 — the
    // learned auto-k pool beats the old fixed pool at the same nProbe.
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.embeddings(spark, dir)
    val queries = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val exact = Ann.bruteForceTopK(queries, e, "vec_id", "embedding", 5)
    def mean(approx: org.apache.spark.sql.DataFrame): Double =
      Ann.recallAtK(approx, exact, 5).agg(avg("recall")).head().getDouble(0)
    val auto = Ann.autoCentroids(e, "vec_id", "embedding")
    assert(auto.length === 23, s"expected k=ceil(sqrt(500))=23, got ${auto.length}")
    val rs = Seq(2, 4, 8).map(np =>
      np -> mean(Ann.ivfTopKWith(queries, e, "vec_id", "embedding", 5, auto, np)))
    info(s"autoCentroids IVF (nProbe → recall): $rs")
    assert(rs(0)._2 <= rs(1)._2 && rs(1)._2 <= rs(2)._2, rs.toString)
    assert(rs(1)._2 >= 0.5, s"auto-k IVF@4 floor: ${rs(1)._2}") // measured 0.62
  }

  test("explodeChoices treats the separator literally, not as a regex") {
    val out = Mcl.explodeChoices(Seq("a|b|c").toDF("mcl"), col("mcl"), sep = "|")
      .select("choice").as[String].collect().toSeq
    assert(out === Seq("a", "b", "c")) // unquoted "|" would split per char
  }

  test("pcaReduce: top-k over an 8-d reduction preserves neighbors of low-rank data") {
    // embeddings with genuine low-dim structure: 64-d vectors living in a
    // 4-d subspace plus small noise (real text/image embeddings are
    // low-rank-ish; graft's isotropic random testdata embeddings are NOT,
    // and PCA rightly cannot compress those — measured 0.38 variance at
    // 16/64, the documented not-applicable case)
    val rnd = new scala.util.Random(5)
    val basis = Array.fill(4, 64)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 200L).map { i =>
      val w = Array.fill(4)(rnd.nextGaussian().toFloat * 3f)
      val v = Array.tabulate(64)(d =>
        (0 until 4).map(b => w(b) * basis(b)(d)).sum + rnd.nextGaussian().toFloat * 0.01f)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val truth = Ann.bruteForceTopK(
        vecs.filter(pmod(col("vec_id"), lit(20)) === 0), vecs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val (reduced, model) = Ann.pcaReduce(vecs, "embedding", dims = 8, outCol = "emb8")
    assert(reduced.select("emb8").head.getSeq[Float](0).length === 8)
    assert(model.explainedVariance.toArray.sum > 0.99) // 4-d structure captured
    val got = Ann.bruteForceTopK(
        reduced.filter(pmod(col("vec_id"), lit(20)) === 0), reduced,
        "vec_id", "emb8", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"recall@5 after 64->8 PCA on rank-4 data: $recall%.2f")
    assert(recall >= 0.9, s"PCA reduction destroyed neighborhood structure: $recall")
    // the fitted basis transforms a future batch into the same space
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val again = model.transform(vecs.limit(5).withColumn("__pca_in",
        array_to_vector(col("embedding").cast("array<double>"))))
      .withColumn("emb8", vector_to_array(col("__pca_out"), "float32"))
    assert(again.select("emb8").head.getSeq[Float](0).length === 8)
  }

  test("token-budget cut handles a null stratum and keeps budget semantics") {
    import graft.operators.Sampling
    val docs = Seq(
      (1L, null.asInstanceOf[String], 600L), (2L, null.asInstanceOf[String], 600L),
      (3L, "en", 600L), (4L, "en", 300L), (5L, "en", 300L)
    ).toDF("doc_id", "lang", "n_tok")
    def kept(budget: Long): Seq[Long] = Sampling.tokenBudgetPerStratum(
        docs, col("lang"), Seq(col("doc_id")), col("n_tok"), budget)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // NULL is one stratum of its own; a doc starting under the budget is
    // kept even when it crosses the line
    assert(kept(1000L) === Seq(1L, 2L, 3L, 4L, 5L))
    assert(kept(700L) === Seq(1L, 2L, 3L, 4L))
    assert(kept(600L) === Seq(1L, 3L))
  }

  test("withObjectAggThreshold scopes the fallback per job and restores the default") {
    val key = Sessions.ObjectAggThresholdKey
    assert(spark.conf.get(key) === "65536") // session default (bounded buffers)
    val inside = Sessions.withObjectAggThreshold(spark, 128) {
      // an unbounded-buffer aggregation would EXECUTE here under the
      // stock safety valve; assert the conf a running job would read
      spark.conf.get(key)
    }
    assert(inside === "128")
    assert(spark.conf.get(key) === "65536") // restored
    // restored even when the body throws
    intercept[RuntimeException] {
      Sessions.withObjectAggThreshold(spark, 128) { throw new RuntimeException("boom") }
    }
    assert(spark.conf.get(key) === "65536")
    // and an unset key is unset again afterwards, not pinned to a value
    Sessions.withConf(spark, "graft.test.ephemeral" -> "x") {
      assert(spark.conf.get("graft.test.ephemeral") === "x")
    }
    assert(spark.conf.getOption("graft.test.ephemeral").isEmpty)
  }

  test("withConfIsolated scopes overrides to a child session, parent untouched") {
    val key = Sessions.ObjectAggThresholdKey
    val (childVal, parentDuring) = Sessions.withConfIsolated(spark, key -> "128") { child =>
      (child.conf.get(key), spark.conf.get(key)) // parent readable CONCURRENTLY
    }
    assert(childVal === "128" && parentDuring === "65536")
    assert(spark.conf.get(key) === "65536")
  }

  private def sameBooks(a: Array[Array[Array[Float]]],
                        b: Array[Array[Array[Float]]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => u.sameElements(v) }
    }

  test("pqTrainCodebooksExact: iters=0 = init, partition-invariant, moves off init") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("id", "v")
    val init = Ann.pqCodebooks(
      Array.fill(4)(Array.fill(8)(rnd.nextGaussian().toFloat)), m = 2)
    assert(sameBooks(Ann.pqTrainCodebooksExact(vecs, "v", init, iters = 0), init))
    // exact long-unit cluster sums are order-independent → training is
    // bit-identical at ANY partitioning (the engine-portability contract)
    val b1 = Ann.pqTrainCodebooksExact(vecs.repartition(1), "v", init, iters = 3)
    val b7 = Ann.pqTrainCodebooksExact(vecs.repartition(7), "v", init, iters = 3)
    assert(sameBooks(b1, b7), "training depends on partitioning")
    assert(!sameBooks(b1, init), "3 iterations left every codebook unmoved")
    // loud, accurate argument errors (not the old conflated message)
    val e1 = intercept[IllegalArgumentException](
      Ann.pqTrainCodebooksExact(vecs, "v", init, iters = -1))
    assert(e1.getMessage.contains("iters"))
    val e2 = intercept[IllegalArgumentException](
      Ann.pqTrainCodebooksExact(vecs, "v", Array.empty, iters = 1))
    assert(e2.getMessage.contains("codebook"))
  }

  test("pqTrainCodebooksExact: empty clusters keep their previous centroid") {
    // all mass near ±1 per subspace; centroids at ±100 never win a point
    val vecs = (0 until 8).map { i =>
      val base = if (i < 4) 1.0f else -1.0f
      (i.toLong, Array.fill(8)(base + i * 1e-3f).toSeq)
    }.toDF("id", "v")
    val init = Ann.pqCodebooks(Array(
      Array.fill(8)(1.0f), Array.fill(8)(-1.0f),
      Array.fill(8)(100.0f), Array.fill(8)(-100.0f)), m = 2)
    val out = Ann.pqTrainCodebooksExact(vecs, "v", init, iters = 3)
    for (s <- 0 until 2) {
      assert(out(s).forall(_.forall(x => !x.isNaN)))
      assert(out(s)(2).sameElements(init(s)(2)) && out(s)(3).sameElements(init(s)(3)),
        s"far centroid of subspace $s should be untouched")
    }
  }

  test("refineTopK: equals exact top-k restricted to the candidate list") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 80L)
      .map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(pmod(col("vec_id"), lit(20)) === 0)
    // candidate list = every even id (minus self): refinement must return
    // EXACTLY brute-force top-3 over the even-id corpus
    val cand = q.select(col("vec_id").as("query_id"))
      .crossJoin(vecs.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("neighbor_id")))
      .filter(col("query_id") =!= col("neighbor_id"))
    val refined = Ann.refineTopK(cand, q, vecs, "vec_id", "embedding", k = 3)
    val exactEven = Ann.bruteForceTopK(q, vecs.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", 3)
    assert(refined.collect().toSet === exactEven.collect().toSet)
    intercept[IllegalArgumentException](
      Ann.refineTopK(cand, q, vecs, "vec_id", "embedding", k = 0))
  }

  test("pq training on a corpus SAMPLE holds the full-corpus recall (the 100 TB path)") {
    // the 300x probe's q132 cost is training passes over the full corpus;
    // the documented scale path trains the quantizer on a sample — prove
    // the quality claim: books trained on 40% of residuals lose ~nothing
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.embeddings(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val coarse = Ann.autoCentroids(e, "vec_id", "embedding")
    val init = Ann.pqCodebooks(
      Ann.strideCentroids(e, "vec_id", "embedding", nCentroids = 16), m = 16)
    val res = Ann.ivfResiduals(e, "vec_id", "embedding", coarse)
    val fullBooks = Ann.pqTrainCodebooksExact(res, "res", init, iters = 2)
    val sampleBooks = Ann.pqTrainCodebooksExact(
      res.filter(pmod(col("vec_id"), lit(5)) < 2), "res", init, iters = 2)
    val exact = Ann.bruteForceTopK(q, e, "vec_id", "embedding", 5)
    def recallWith(books: Array[Array[Array[Float]]]): Double = {
      val cand = Ann.ivfPqTopK(q, e, "vec_id", "embedding", coarse, books,
        k = 25, nProbe = 4, residual = true)
      val refined = Ann.refineTopK(cand, q, e, "vec_id", "embedding", k = 5)
      Ann.recallAtK(refined, exact, 5).agg(avg("recall")).head().getDouble(0)
    }
    val (full, sampled) = (recallWith(fullBooks), recallWith(sampleBooks))
    info(f"refined recall@5: full-trained $full%.3f vs 40%%-sample-trained $sampled%.3f")
    assert(sampled >= full - 0.06,
      f"sample training lost too much recall: $sampled%.3f vs $full%.3f")
    assert(sampled >= 0.5, f"sample-trained floor: $sampled%.3f")
  }

  test("q132 composition: refined recall clears the floor AND hits the candidate ceiling") {
    // the catalog's exact composition at sf0.01 (probe4, R=25 candidates,
    // residual-trained m=16 books, ALL training on the deterministic 40%
    // sample — the 100 TB default): refine re-ranks ADC candidates by
    // true cosine, so recall@5 must EQUAL the candidate-list containment
    // of the exact top-5 — quantization error stops costing rank accuracy
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.embeddings(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val train = e.filter(pmod(col("vec_id"), lit(5)) < 2)
    val coarse = Ann.autoCentroids(train, "vec_id", "embedding")
    val init = Ann.pqCodebooks(
      Ann.strideCentroids(train, "vec_id", "embedding", nCentroids = 16), m = 16)
    val books = Ann.pqTrainCodebooksExact(
      Ann.ivfResiduals(train, "vec_id", "embedding", coarse), "res", init,
      iters = 2)
    val cand = Ann.ivfPqTopK(q, e, "vec_id", "embedding", coarse, books,
      k = 25, nProbe = 4, residual = true)
    val refined = Ann.refineTopK(cand, q, e, "vec_id", "embedding", k = 5)
    val exact = Ann.bruteForceTopK(q, e, "vec_id", "embedding", 5)
    val rec = Ann.recallAtK(refined, exact, 5)
      .agg(avg("recall")).head().getDouble(0)
    info(f"q132 refined recall@5 (probe4/R=25): $rec%.3f")
    assert(rec >= 0.5, f"refined recall floor: $rec%.3f") // measured 0.62
    val nExact = exact.count()
    val ceiling = exact
      .join(cand.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .count().toDouble / nExact
    assert(math.abs(rec - ceiling) < 1e-9,
      f"refined recall $rec%.4f != candidate-list ceiling $ceiling%.4f")
  }

  test("clustered-embedding regime: LSH/IVF/IVFPQ recall gates (mixture of Gaussians)") {
    // the BASELINE recall table only covers the driver's near-uniform
    // vectors, where absolute recall is structurally modest; real
    // embeddings CLUSTER. This fixture is a deterministic 16-cluster
    // Gaussian mixture in 64 dims (centers ~N(0,1), points ~N(center,
    // 0.25²)) — the regime every index family is supposed to shine in —
    // and regression-gates all three families at production knobs.
    val rnd = new scala.util.Random(20260815L)
    val (dims, nClusters, perCluster) = (64, 16, 150)
    val centers = Array.fill(nClusters, dims)(rnd.nextGaussian().toFloat)
    val rows = for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val v = centers(c).map(x => x + (rnd.nextGaussian() * 0.25).toFloat)
      ((c.toLong * perCluster + i), v.toSeq)
    }
    val e = rows.toDF("vec_id", "embedding")
      .repartition(8).persist()
    val q = e.filter(pmod(col("vec_id"), lit(48)) === 0) // 50 queries
    val exact = Ann.bruteForceTopK(q, e, "vec_id", "embedding", 5).persist()
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double =
      Ann.recallAtK(approx, exact, 5).agg(avg("recall")).head().getDouble(0)

    val lsh = recallOf(Ann.lshTopK(q, e, "vec_id", "embedding", 5,
      nPlanes = Ann.ProductionDefaults.LshNPlanes,
      nTables = Ann.ProductionDefaults.LshNTables))
    val coarse = Ann.autoCentroids(e, "vec_id", "embedding")
    val ivf = recallOf(Ann.ivfTopKWith(q, e, "vec_id", "embedding", 5,
      coarse, nProbe = Ann.ProductionDefaults.IvfNProbe))
    val init = Ann.pqCodebooks(
      Ann.strideCentroids(e, "vec_id", "embedding", nCentroids = 16),
      m = Ann.ProductionDefaults.PqSubspaces)
    val books = Ann.pqTrainCodebooksExact(
      Ann.ivfResiduals(e, "vec_id", "embedding", coarse), "res", init,
      iters = 2)
    def ivfpqAt(r: Int): Double = recallOf(Ann.refineTopK(
      Ann.ivfPqTopK(q, e, "vec_id", "embedding", coarse, books,
        k = r, nProbe = Ann.ProductionDefaults.IvfNProbe, residual = true),
      q, e, "vec_id", "embedding", k = 5))
    val (ivfpq25, ivfpq50) =
      (ivfpqAt(25), ivfpqAt(Ann.ProductionDefaults.IvfPqRefineR))
    info(f"clustered recall@5: LSH $lsh%.3f, IVF $ivf%.3f, " +
      f"IVFPQ+refine R=25 $ivfpq25%.3f / R=50 $ivfpq50%.3f")
    e.unpersist(); exact.unpersist()
    // gates sit a margin under the measured values (BASELINE.md table):
    // LSH 0.872, IVF 1.000 — clustering is exactly what these exploit.
    // IVFPQ+refine is CANDIDATE-limited here (0.576 at R=25): within a
    // tight cluster the m=16 residual codes barely separate true
    // neighbors from cluster-mates, so the ADC cut — not the refine —
    // caps recall; widening R is the dial (documented in BASELINE.md)
    assert(lsh >= 0.75, f"clustered LSH recall $lsh%.3f")
    assert(ivf >= 0.90, f"clustered IVF recall $ivf%.3f")
    assert(ivfpq25 >= 0.45, f"clustered IVFPQ+refine R=25 recall $ivfpq25%.3f")
    assert(ivfpq50 >= ivfpq25,
      f"widening the ADC cut must not lose recall: $ivfpq50%.3f vs $ivfpq25%.3f")
    // the SHIPPED dial (ProductionDefaults.IvfPqRefineR = 50) must hold
    // the measured clustered-regime recall, margin under 0.808
    assert(ivfpq50 >= 0.70,
      f"clustered IVFPQ+refine at ProductionDefaults R recall $ivfpq50%.3f")
  }

  test("rpProject (JL): deterministic, norm-preserving in expectation, useful recall") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.embeddings(spark, dir)
    // a negative seed would break the engine-portable plane replay
    // (64-bit oracle sums vs wrapping 32-bit Scala) — refused at the API
    intercept[IllegalArgumentException](
      Ann.rpProject(e, "embedding", "p", k = 16, seed = -1))
    val p1 = Ann.rpProject(e, "embedding", "p", k = 16, seed = 7)
    val p2 = Ann.rpProject(e, "embedding", "p", k = 16, seed = 7)
    assert(p1.select("vec_id", "p").collect().toSeq.map(_.toString).sorted ===
      p2.select("vec_id", "p").collect().toSeq.map(_.toString).sorted)
    // E||proj||^2 = ||v||^2 (the 1/sqrt(k) JL scaling): the mean ratio
    // over the corpus must sit near 1
    val ratio = p1.select(
        (aggregate(col("p"), lit(0.0), (a, x) => a + x * x) /
         aggregate(col("embedding"), lit(0.0),
           (a, x) => a + x.cast("double") * x.cast("double"))).as("r"))
      .agg(avg("r")).head().getDouble(0)
    assert(math.abs(ratio - 1.0) < 0.15, s"norm ratio $ratio")
    // neighborhood preservation needs neighborhoods to exist: like the
    // pcaReduce spec, measure on rank-4 structured data (real embeddings
    // are low-rank-ish; graft's ISOTROPIC random testdata has cosine
    // gaps far below the 1/sqrt(16) JL noise floor, where 64->16
    // rightly cannot help — measured 0.08, the documented
    // not-applicable case)
    val rnd = new scala.util.Random(5)
    val basis = Array.fill(4, 64)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 200L).map { i =>
      val w = Array.fill(4)(rnd.nextGaussian().toFloat * 3f)
      val v = Array.tabulate(64)(d =>
        (0 until 4).map(b => w(b) * basis(b)(d)).sum
          + rnd.nextGaussian().toFloat * 0.01f)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val pv = Ann.rpProject(vecs, "embedding", "p", k = 16, seed = 7)
    val q = pv.filter(pmod(col("vec_id"), lit(20)) === 0)
    val exact = Ann.bruteForceTopK(
      vecs.filter(pmod(col("vec_id"), lit(20)) === 0), vecs,
      "vec_id", "embedding", 5)
    val approx = Ann.bruteForceTopK(q, pv, "vec_id", "p", 5)
    val rec = Ann.recallAtK(approx, exact, 5).agg(avg("recall")).head().getDouble(0)
    info(f"JL 64->16 recall@5 on rank-4 data: $rec%.3f")
    assert(rec >= 0.5, f"JL recall floor: $rec%.3f")
    // top-25 candidate containment is what a full-dim re-rank consumes
    val approx25 = Ann.bruteForceTopK(q, pv, "vec_id", "p", 25)
    val ceil = exact.join(approx25.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / exact.count()
    info(f"JL top-25 containment of exact top-5: $ceil%.3f")
    assert(ceil >= 0.8, f"containment floor: $ceil%.3f")
  }
}
