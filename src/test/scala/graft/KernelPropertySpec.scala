package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.functions.GraftFunctions
import graft.operators.{KeyRepair, NearDup}

/** Property-style sweeps over seeded random data: each test checks an
  * operator against an independent reference model (window form, vote
  * invariance, a driver-side reimplementation) across many generated
  * cases, rather than a single example.
  */
class KernelPropertySpec extends SparkSpec {
  import spark.implicits._

  test("ngramAnyIn membership equals hash-set intersection across random corpora") {
    import graft.operators.Quality
    val rnd = new scala.util.Random(19)
    val words = Vector("a", "bb", "ccc", "δδ", "ee", "φ", "g", "hi")
    def doc() = (1 to rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    for (trial <- 1 to 10) {
      val n = rnd.nextInt(3) + 1
      val bench = (1 to 5).map(_ => doc()).toDF("text")
      val corpus = (1 to 40).map(i => (i.toLong, doc())).toDF("doc_id", "text")
      val hashes = Quality.benchmarkHashes(bench, "text", n)
      // reference model: doc flagged ⟺ its distinct n-gram hash set
      // intersects the benchmark set (the graft_ngram_hashes kernel)
      val expected = corpus
        .select(col("doc_id"), call_function("graft_ngram_hashes",
          split(lower(trim(col("text"))), "\\s+"), lit(n)).as("sh"))
        .as[(Long, Seq[Long])].collect()
        .filter(_._2.exists(hashes.toSet)).map(_._1).toSet
      val got = corpus.filter(Quality.contaminatedFlag(col("text"), hashes, n))
        .select("doc_id").as[Long].collect().toSet
      assert(got === expected, s"trial $trial n=$n")
    }
  }

  test("dedupParagraphs equals a driver-side keep-first model on random corpora") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(47)
    val paraPool = Vector("aa", "bb", "cc", "dd", "ee", "ff") // heavy dup rate
    for (trial <- 1 to 8) {
      val docs = (1 to (rnd.nextInt(15) + 3)).map { i =>
        val ps = (1 to (rnd.nextInt(5) + 1)).map(_ => paraPool(rnd.nextInt(paraPool.size)))
        (i.toLong, ps.mkString("\n\n"))
      }
      // reference model: first (doc, idx) per distinct paragraph wins
      val seen = scala.collection.mutable.Set[String]()
      val expected = docs.map { case (id, text) =>
        val ps = text.split("\n{2,}").toSeq
        val kept = ps.filter(p => seen.add(p)) // add returns false on repeat
        (id, ps.size.toLong, kept.size.toLong, kept.mkString("\n\n"))
      }
      val got = Dedup.dedupParagraphs(docs.toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
      assert(got === expected, s"trial $trial")
    }
  }

  test("exactQuantile fuzz: equals percentile across distributions, thresholds, q") {
    import graft.operators.Summaries
    val rnd = new scala.util.Random(31)
    def gen(kind: Int, n: Int): Seq[Double] = kind match {
      case 0 => Seq.fill(n)(rnd.nextDouble() * 2e4 - 1e4)               // uniform
      case 1 => Seq.fill(n)(math.exp(rnd.nextGaussian() * 6))           // lognormal, extreme spread
      case 2 => Seq.fill(n)((rnd.nextInt(4) * 10).toDouble)             // few heavy ties
      case 3 => Seq.fill(n)(5.0) ++ Seq(1e12, -1e12)                    // constant + outliers
      case 4 => Seq.fill(n)(rnd.nextDouble() * 4.9e-324 * 100)          // subnormal zone
    }
    for (trial <- 1 to 15) {
      val values = gen(trial % 5, rnd.nextInt(900) + 100)
      val q = Seq(0.0, 0.01, 0.37, 0.5, 0.93, 1.0)(rnd.nextInt(6))
      val threshold = Seq(2, 8, 64, 1 << 20)(rnd.nextInt(4))
      val df = values.map(Tuple1(_)).toDF("x")
      val expected = df.agg(expr(s"percentile(x, $q)")).head().getDouble(0)
      val got = Summaries.exactQuantile(df, "x", q, threshold)
      assert(got === Some(expected),
        s"trial $trial kind=${trial % 5} n=${values.size} q=$q thr=$threshold")
    }
  }

  test("exactQuantilesPerColumn fuzz: fused multi-column run equals per-column percentile") {
    import graft.operators.Summaries
    // the multi-column fusion must be invisible: mixing distributions of
    // very different shapes (spread, ties, outliers, NULL density) in ONE
    // batched call yields exactly what Spark's percentile gives each
    // column alone — including the interpolated ranks and low thresholds
    // that force real narrowing rounds
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 5) {
      val n = rnd.nextInt(700) + 200
      val rows = (1 to n).map { i =>
        (rnd.nextDouble() * 2e4 - 1e4,                       // uniform
          math.exp(rnd.nextGaussian() * 6),                  // lognormal
          (rnd.nextInt(4) * 10).toDouble,                    // heavy ties
          if (i % 3 == 0) None else Some(rnd.nextDouble()))  // NULL-dense
      }
      val df = rows.toDF("a", "b", "c", "d")
      val qs = Seq(0.0, 0.25, 0.37, 0.5, 0.93, 1.0)
      val threshold = Seq(8, 64, 1 << 20)(rnd.nextInt(3))
      val got = Summaries.exactQuantilesPerColumn(
        df, Seq("a", "b", "c", "d").map(_ -> qs), threshold)
      for (c <- Seq("a", "b", "c", "d"); q <- qs) {
        val expected = df.agg(expr(s"percentile($c, $q)")).head().getDouble(0)
        assert(got(c)(qs.indexOf(q)) === Some(expected),
          s"trial $trial col=$c q=$q thr=$threshold")
      }
    }
    // absent data: an all-NULL column in the batch yields all-None
    // without disturbing its neighbors
    val mixed = Seq((1.0, Option.empty[Double]), (2.0, None), (3.0, None))
      .toDF("x", "y")
    val r = Summaries.exactQuantilesPerColumn(
      mixed, Seq("x" -> Seq(0.5), "y" -> Seq(0.5)))
    assert(r("x") === Seq(Some(2.0)) && r("y") === Seq(None))
    // ±Inf positional extremes keep PER-COLUMN census bookkeeping: each
    // column's nNeg/nPos must come from its own values, not the batch's
    val inf = Seq(
      (Double.NegativeInfinity, 1.0),
      (1.0, Double.PositiveInfinity),
      (2.0, 3.0),
      (Double.PositiveInfinity, 4.0)).toDF("x", "y")
    val qs2 = Seq(0.0, 0.5, 1.0)
    val gotInf = Summaries.exactQuantilesPerColumn(
      inf, Seq("x" -> qs2, "y" -> qs2))
    for (c <- Seq("x", "y"); (q, i) <- qs2.zipWithIndex) {
      val expected = inf.agg(expr(s"percentile($c, $q)")).head().getDouble(0)
      assert(gotInf(c)(i) === Some(expected), s"col=$c q=$q")
    }
  }

  test("exactQuantilesPerColumn fuzz: packed finalize batches equal per-column percentile") {
    import graft.operators.Summaries
    // many columns of mixed size under a low threshold: the big columns
    // narrow into several small intervals, the small ones resolve
    // directly, and the finalize packs them all into several batches
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 4) {
      val nCols = 6 + rnd.nextInt(5)
      val sizes = Seq.fill(nCols)(Seq(5, 20, 300)(rnd.nextInt(3)))
      val n = sizes.max
      val names = (0 until nCols).map(i => s"c$i")
      val df = spark.createDataFrame(spark.sparkContext.parallelize((0 until n).map { i =>
        Row.fromSeq(sizes.zipWithIndex.map { case (sz, ci) =>
          if (i >= sz) null
          else if (ci % 3 == 0) (rnd.nextInt(7) * 3).toDouble     // ties
          else rnd.nextGaussian() * math.pow(10, ci % 5)          // spread
        })
      }, 3), StructType(names.map(StructField(_, DoubleType))))
      val qs = Seq(0.0, 0.1, 0.5, 0.77, 1.0)
      val threshold = Seq(16, 32, 48)(rnd.nextInt(3))
      val got = Summaries.exactQuantilesPerColumn(df, names.map(_ -> qs), threshold)
      for (c <- names; (q, i) <- qs.zipWithIndex) {
        val expected = df.agg(expr(s"percentile($c, $q)")).head().getDouble(0)
        assert(got(c)(i) === Some(expected), s"trial $trial col=$c q=$q thr=$threshold")
      }
    }
  }

  test("exactQuantilesPerColumn: a value shared by two resolved intervals counts in both") {
    import graft.operators.Summaries
    // 0..1024 narrows with bucket width 8: rank 511 (value 511) picks
    // bucket 63, rank 512 (value 512) bucket 64, and both tightened
    // intervals, [504, 512] and [512, 520], hold the boundary value 512.
    // At threshold 24 the two 9-value intervals share one finalize batch,
    // so 512 must be tagged with BOTH groups: a single tag per value
    // would shift the second interval's ranks by one (513 for the median)
    val df = (0 to 1024).map(i => Tuple1(i.toDouble)).toDF("x")
    assert(Summaries.exactQuantilesPerColumn(
      df, Seq("x" -> Seq(511.0 / 1024, 0.5)), collectThreshold = 24)("x") ===
      Seq(Some(511.0), Some(512.0)))
    // the same overlap next to an oversize tie cluster, which resolves on
    // the distinct-value path over values the batch also collects
    val tied = ((0 to 1024).map(_.toDouble) ++ Seq.fill(40)(512.0)).map(Tuple1(_)).toDF("x")
    val qs = Seq(0.3, 511.0 / 1064, 0.5, 552.0 / 1064, 0.9)
    val got = Summaries.exactQuantilesPerColumn(tied, Seq("x" -> qs), collectThreshold = 24)
    for ((q, i) <- qs.zipWithIndex) {
      val expected = tied.agg(expr(s"percentile(x, $q)")).head().getDouble(0)
      assert(got("x")(i) === Some(expected), s"q=$q")
    }
  }

  test("exactQuantilesPerColumn finalize: job count independent of column count") {
    import graft.operators.Summaries
    import org.apache.spark.grafttest.JobCounter
    val rnd = new scala.util.Random(61)
    val df = (1 to 400).map(_ => Tuple6(rnd.nextDouble(), rnd.nextGaussian(),
      rnd.nextInt(9).toDouble, rnd.nextDouble() * 1e6, -rnd.nextDouble(),
      rnd.nextInt(3).toDouble)).toDF("a", "b", "c", "d", "e", "f")
    val qs = Seq(0.25, 0.5, 0.9)
    val (one, jobsOne) = JobCounter(spark.sparkContext)(
      Summaries.exactQuantilesPerColumn(df, Seq("a" -> qs)))
    val (six, jobsSix) = JobCounter(spark.sparkContext)(
      Summaries.exactQuantilesPerColumn(df, df.columns.toSeq.map(_ -> qs)))
    assert(one("a") === six("a"))
    assert(jobsOne > 0 && jobsSix === jobsOne, s"1 column: $jobsOne jobs, 6 columns: $jobsSix")
  }

  test("packBatches keeps every batch within the cap, in order, each interval once") {
    import graft.operators.Summaries.packBatches
    val rnd = new scala.util.Random(67)
    for (_ <- 1 to 200) {
      val cap = 1L + rnd.nextInt(64)
      val sizes = Seq.fill(rnd.nextInt(30))((rnd.nextDouble() * (cap + 1)).toLong.min(cap))
      val batches = packBatches(sizes, cap)
      assert(batches.flatten === sizes.indices)
      assert(batches.forall(b => b.nonEmpty && b.map(sizes).sum <= cap))
      // greedy: a batch closes only when the next interval would overflow it
      batches.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
        assert(a.map(sizes).sum + sizes(b.head) > cap)
      }
    }
    assert(packBatches(Seq(3L, 3L, 2L, 5L), 6L) === Seq(Seq(0, 1), Seq(2), Seq(3)))
    intercept[IllegalArgumentException](packBatches(Seq(7L), 6L))
  }

  test("top-k agg equals window rank across random k / groups / heavy ties") {
    GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 4) {
      val k = 1 + rnd.nextInt(4)
      val nGroups = 1 + rnd.nextInt(30)
      // scores from a tiny discrete set → constant tie pressure on the
      // (order desc, id asc) contract
      val rows = (1 to 1500).map { i =>
        (rnd.nextInt(nGroups).toLong, i.toLong, rnd.nextInt(8) / 4.0)
      }
      val df = rows.toDF("g", "id", "score")
      val agg = df.groupBy("g")
        .agg(call_function("graft_top_k_by",
          struct(col("id"), col("score")), col("score"), col("id"), lit(k)).as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), col("col.id").as("id"), col("col.score").as("score"),
          (col("pos") + 1).as("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
      val w = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
      val win = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("g"), col("id"), col("score"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(agg == win, s"k=$k nGroups=$nGroups")
    }
  }

  test("simhash signatures are token-order invariant (vote symmetry)") {
    GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(29)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (1L to 40L).map { i =>
      val toks = Seq.fill(3 + rnd.nextInt(20))(words(rnd.nextInt(words.size)))
      (i, toks.mkString(" "), rnd.shuffle(toks).mkString(" "))
    }.toDF("id", "text", "shuffled")
    val bad = docs.select(
        (NearDup.simhashFast(col("text")) =!= NearDup.simhashFast(col("shuffled"))).as("x64"),
        (NearDup.simhashMd5Fast(col("text")) =!= NearDup.simhashMd5Fast(col("shuffled"))).as("md5"))
      .filter(col("x64") || col("md5")).count()
    assert(bad == 0)
  }

  test("key repair matches a driver-side reference model on random collisions") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 400).map { i =>
      val uid = if (rnd.nextInt(5) == 0) null else s"u${rnd.nextInt(30)}"
      val content = s"c${rnd.nextInt(3)}"
      val fb = if (rnd.nextInt(4) == 0) null else f"2026-01-${1 + rnd.nextInt(28)}%02d"
      (i.toLong, uid, content, fb)
    }
    val df = rows.toDF("id", "uid", "content", "fb")
    val got = KeyRepair.regenerateUniqueKeys(df, "uid", Seq("content"), Seq(col("fb")))
      .select("id", "unique_key").as[(Long, String)].collect().toMap
    // reference model, recomputed independently on the driver
    val variants = rows.filter(_._2 != null).groupBy(_._2)
      .map { case (u, rs) => u -> rs.map(_._3).distinct.size }
    val expected = rows.map { case (id, uid, _, fb) =>
      id -> (if (uid == null) fb
             else if (variants(uid) > 1) Seq(uid, fb).filter(_ != null).mkString("#")
             else uid)
    }.toMap
    assert(got == expected)
  }

  test("connectedComponents matches a union-find model on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = (1 to 55).map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong) }
        .distinct
      // driver-side union-find oracle (min-id representative per component)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inPairs = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = (0 until n).groupBy(find).values
        .flatMap { g => val m = g.min.toLong; g.map(_.toLong -> m) }
        .filter { case (id, _) => inPairs.contains(id) }.toMap
      val got = graft.operators.Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected)
    }
  }

  test("extractYears agrees with a port of the reference model on random age strings") {
    import graft.operators.DeriveColumns
    // reference model (utils/assorted_fixes.py::extract_years): anchored
    // number (optional 'years') wins whole; else first '<n> years' phrase
    // anywhere; else None — int(float(...)) truncation
    val whole = """(?i)^(\d+(\.\d+)?)\s*(years?)?$""".r
    val embedded = """(?i)(\d+(\.\d+)?)\s*years?""".r
    def model(v: String): Option[Int] = {
      val s = v.trim
      whole.findFirstMatchIn(s).map(_.group(1))
        .orElse(embedded.findFirstMatchIn(s).map(_.group(1)))
        .map(n => n.toDouble.toInt)
    }
    val rnd = new scala.util.Random(13)
    val bits = Vector("23", "23.5", "years", "year", "YEARS", "old", "aged",
      "unknown", "", " ", "3 months", "about")
    val cases = (1 to 300).map { i =>
      (i.toLong, (1 to (1 + rnd.nextInt(3))).map(_ => bits(rnd.nextInt(bits.size))).mkString(" "))
    }
    val got = cases.toDF("id", "raw")
      .select(col("id"), DeriveColumns.extractYears(col("raw")).as("y"))
      .as[(Long, Option[Int])].collect().toMap
    cases.foreach { case (id, s) => assert(got(id) === model(s), s"input: '$s'") }
  }

  test("fuzzyRecode matched() agrees with the last-match-wins model on random soup") {
    import graft.operators.FuzzyRecode
    val rnd = new scala.util.Random(11)
    val vocab = Vector("kleb", "klebsiella", "proteus", "staph", "yeast",
      "coagulase", "negative", "species", "group", "viridans")
    val rules = Seq(
      FuzzyRecode.Rule(Seq("kleb", "klesiella"), "KLS", "Klebsiella sp."),
      FuzzyRecode.Rule(Seq("proteus"), "Prot", "Proteus sp."),
      FuzzyRecode.Rule(Seq("coagulase negative", "staph"), "CONS", "CoNS"),
      FuzzyRecode.Rule(Seq("viridans"), "VirSt", "Viridans strep"))
    def model(text: String): Option[String] =
      rules.foldLeft(Option.empty[String]) { (acc, r) =>
        if (r.patterns.exists(text.toLowerCase.contains(_))) Some(r.value) else acc
      }
    val texts = (1 to 200).map { i =>
      (i.toLong, (1 to (1 + rnd.nextInt(6)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = texts.toDF("id", "t")
      .select(col("id"), FuzzyRecode.matched(col("t"), rules).getField("value").as("v"))
      .as[(Long, Option[String])].collect().toMap
    texts.foreach { case (id, t) => assert(got(id) === model(t), s"text: $t") }
  }

  test("editDistancePairs equals naive levenshtein across random edit corpora") {
    def lev(a: String, b: String): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 0 to a.length) dp(i)(0) = i
      for (j <- 0 to b.length) dp(0)(j) = j
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(53)
    val alpha = "abcd" // tiny alphabet: plenty of accidental closeness
    def randStr(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(4))).mkString
    def mutate(s: String, k: Int): String = (1 to k).foldLeft(s) { (t, _) =>
      if (t.isEmpty) randStr(1)
      else rnd.nextInt(3) match {
        case 0 => val i = rnd.nextInt(t.length) // substitute
          t.updated(i, alpha(rnd.nextInt(4)))
        case 1 => val i = rnd.nextInt(t.length + 1) // insert
          t.take(i) + alpha(rnd.nextInt(4)) + t.drop(i)
        case _ => val i = rnd.nextInt(t.length) // delete
          t.take(i) + t.drop(i + 1)
      }
    }
    for (trial <- 1 to 5) {
      val maxDist = 1 + rnd.nextInt(3)
      val bases = (1 to 12).map(_ => randStr(8 + rnd.nextInt(12)))
      // short strings (incl. empty and boundary lengths around maxDist+1)
      // exercise the deletion-variant band and its PassJoin crossover
      val shorts = (0 to 2 * maxDist + 1).map(randStr) :+ ""
      val strs = bases ++ (1 to 18).map(_ =>
        mutate(bases(rnd.nextInt(bases.size)), rnd.nextInt(5))) ++
        shorts ++ shorts.take(3) // duplicate short strings: intra path
      val rows = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val got = NearDup.editDistancePairs(rows.toDF("id", "s"), "id", "s", maxDist)
        .as[(Long, Long, Long)].collect().toSet
      // model: plain quadratic levenshtein over EVERY row — no length
      // carve-out; the operator covers short strings too
      val expected = (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
        d = lev(sa, sb) if d <= maxDist
      } yield (ia, ib, d.toLong)).toSet
      assert(got === expected, s"trial $trial maxDist=$maxDist")
    }
  }

  private def secTs(s: Int) =
    java.sql.Timestamp.valueOf(f"2026-01-01 ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d")

  test("scd2Intervals equals a driver-side run-collapse model on random change-logs") {
    import graft.operators.Windows
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 6) {
      val rows = (1 to 80).map { i =>
        val v: Option[String] =
          if (rnd.nextInt(5) == 0) None else Some(('a' + rnd.nextInt(3)).toChar.toString)
        (i.toLong, rnd.nextInt(4).toLong, secTs(rnd.nextInt(300)), v)
      }
      val got = Windows.scd2Intervals(
          rows.toDF("event_id", "k", "ts", "v"),
          keys = Seq("k"), order = Seq(col("ts"), col("event_id")),
          tracked = Seq("v"), tsCol = col("ts"))
        .select("k", "v", "valid_from", "valid_to", "is_current")
        .as[(Long, Option[String], java.sql.Timestamp, Option[java.sql.Timestamp], Int)]
        .collect().toSet
      // model: sort per key, collapse null-safe runs, half-open intervals
      val expected = rows.groupBy(_._2).flatMap { case (k, rs) =>
        val runs = rs.sortBy(r => (r._3.getTime, r._1))
          .foldLeft(List.empty[(Option[String], java.sql.Timestamp)]) { (acc, r) =>
            if (acc.headOption.exists(_._1 == r._4)) acc else (r._4, r._3) :: acc
          }.reverse
        runs.zipWithIndex.map { case ((v, from), i) =>
          val to = runs.lift(i + 1).map(_._2)
          (k, v, from, to, if (to.isEmpty) 1 else 0)
        }
      }.toSet
      assert(got === expected, s"trial $trial")
    }
  }

  test("stratifiedExactK (portable) equals the md5 hash-order model") {
    import graft.operators.Sampling
    def u(id: Long, seed: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:$seed".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0
    }
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 6) {
      val k = 1 + rnd.nextInt(5)
      val seed = rnd.nextLong().abs
      val rows = (1 to 120).map { i =>
        val stratum: Option[String] =
          if (rnd.nextInt(8) == 0) None else Some(('x' + rnd.nextInt(3)).toChar.toString)
        (i.toLong, stratum)
      }
      val got = Sampling.stratifiedExactK(rows.toDF("id", "s"),
          col("s"), col("id"), k, seed, portable = true)
        .select("s", "id", "rank").as[(Option[String], Long, Long)].collect()
        .groupBy(_._1).map { case (s, g) => s -> g.sortBy(_._3).map(_._2).toSeq }
      // model: per stratum (NULL strata sample too), the k smallest hash
      // values, tie by id, ranked in that order
      val expected = rows.groupBy(_._2).map { case (s, g) =>
        s -> g.map(_._1).sortBy(id => (u(id, seed), id)).take(k)
      }
      assert(got === expected, s"trial $trial k=$k seed=$seed")
    }
  }

  test("funnelSteps equals the ordered min-timestamp model on random event streams") {
    import graft.operators.Funnel
    val rnd = new scala.util.Random(37)
    val types = Vector("a", "b", "c", "d")
    for (trial <- 1 to 6) {
      val steps = Seq("a", "b", "c").take(2 + rnd.nextInt(2))
      val rows = (1 to 100).map { i =>
        (rnd.nextInt(8).toLong, secTs(rnd.nextInt(200)), types(rnd.nextInt(types.size)))
      }
      val got = Funnel.funnelSteps(rows.toDF("u", "ts", "et"), "u", "ts", "et", steps)
        .select(col("u") +: col("steps_completed") +:
          steps.indices.map(i => col(s"t${i + 1}")): _*)
        .collect().map { r =>
          (r.getLong(0), r.getInt(1),
            steps.indices.map(i => Option(r.getTimestamp(2 + i))))
        }.toSet
      // model: t1 = min ts of step 1; t(i+1) = min ts of step i+1 STRICTLY
      // after t(i); steps_completed counts the non-null prefix
      val expected = rows.groupBy(_._1).map { case (u, evs) =>
        val ts = steps.foldLeft(List.empty[Option[java.sql.Timestamp]]) { (acc, st) =>
          val after = acc.headOption
          val gate: java.sql.Timestamp => Boolean = after match {
            case Some(Some(prev)) => t => t.after(prev)
            case Some(None) => _ => false
            case None => _ => true
          }
          val cand = evs.filter(e => e._3 == st && gate(e._2)).map(_._2)
          (if (cand.isEmpty) None else Some(cand.minBy(_.getTime))) :: acc
        }.reverse
        (u, ts.count(_.isDefined), ts.toIndexedSeq)
      }.toSet
      assert(got === expected, s"trial $trial steps=$steps")
    }
  }

  test("transitionMatrix equals the driver-side bigram model") {
    import graft.operators.Funnel
    val rnd = new scala.util.Random(41)
    val types = Vector("a", "b", "c")
    for (trial <- 1 to 6) {
      val rows = (1 to 90).map { i =>
        (rnd.nextInt(6).toLong, secTs(rnd.nextInt(150)), i.toLong,
          types(rnd.nextInt(types.size)))
      }
      val got = Funnel.transitionMatrix(rows.toDF("u", "ts", "eid", "et"),
          "u", "ts", "eid", "et")
        .select("from_type", "to_type", "n", "p")
        .as[(String, String, Long, Double)].collect().toSet
      val bigrams = rows.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
        val s = evs.sortBy(e => (e._2.getTime, e._3)).map(_._4)
        s.zip(s.drop(1))
      }
      val counts = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val fromTotals = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val expected = counts.map { case ((f, t), n) =>
        (f, t, n, n.toDouble / fromTotals(f))
      }.toSet
      assert(got === expected, s"trial $trial")
    }
  }

  test("slidingRangeStats equals the brute-force trailing-window model") {
    import graft.operators.Windows
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 6) {
      val win = 30 + rnd.nextInt(60)
      val rows = (1 to 80).map { i =>
        val v: Option[Double] =
          if (rnd.nextInt(7) == 0) None else Some(rnd.nextDouble() * 100 - 50)
        (i.toLong, rnd.nextInt(4).toLong, secTs(rnd.nextInt(240)), v)
      }
      val got = Windows.slidingRangeStats(rows.toDF("eid", "k", "ts", "value"),
          Seq("k"), col("ts"), col("value"), windowSec = win,
          nName = "n", avgName = "avg")
        .select("eid", "n", "avg").as[(Long, Long, Option[Double])]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      // model: [t-win, t] inclusive; values 4-dp-HALF_UP-rounded, summed
      // exactly, divided by the NON-NULL count (the operator's decimal
      // discipline)
      rows.foreach { case (eid, k, ts, _) =>
        val inWin = rows.filter(r => r._2 == k &&
          !r._3.after(ts) && r._3.getTime >= ts.getTime - win * 1000L)
        val vals = inWin.flatMap(_._4)
          .map(BigDecimal(_).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        val expAvg = if (vals.isEmpty) None
          else Some(vals.sum.toDouble / vals.size)
        val (n, avg) = got(eid)
        assert(n === inWin.size.toLong, s"trial $trial eid=$eid n")
        assert(avg === expAvg, s"trial $trial eid=$eid avg")
      }
    }
  }

  test("tokenProfile kernel bit-equals the three-regex Column forms") {
    import graft.functions.TextAnalysis
    GraftFunctions.ensureRegistered(spark)
    // adversarial fixtures first: every whitespace class Java \\s knows,
    // leading/trailing space vs tab, all-whitespace, empty, unicode
    // letters (punct under the declared semantics), emoji, digits
    val fixed = Seq(
      "a b", " a  b ", "\ta b\t", "\t", " ", "", "a\tb\nc\u000Bd\fe\rf",
      "\n\nx\n\n", "..a..", "δφ ωδ", "😀 ok!", "12 3-4", "a" * 300,
      "  \t \r\n ", "word, word; word.", "\u00A0nbsp stays a token")
    val rnd = new scala.util.Random(20260815)
    val alphabet = "ab1.!,\t\n\r\u000B\f δ😀 "
    val random = (1 to 200).map(_ =>
      (1 to rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val docs = (fixed ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val p = TextAnalysis.tokenProfile(col("t"))
    val rows = docs.select(
        TextAnalysis.tokenCountWs(col("t")).cast("long").as("ws_ref"),
        TextAnalysis.tokenCountBpe(col("t")).as("bpe_ref"),
        p.getItem(0).as("ws_k"),
        TextAnalysis.bpeishFromProfile(p).as("bpe_k"),
        col("t"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(0), s"ws mismatch on ${r.getString(4)}")
      assert(r.getLong(3) === r.getLong(1), s"bpe mismatch on ${r.getString(4)}")
    }
    // NULL text: kernel stays NULL like the regex forms stay NULL
    val nr = Seq((1L, null.asInstanceOf[String])).toDF("id", "t")
      .select(TextAnalysis.tokenProfile(col("t")).as("p")).head()
    assert(nr.isNullAt(0))
  }

  test("bigram LM kernel bit-equals the join pipeline across random corpora") {
    import graft.operators.Quality
    GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(133)
    val words = Vector("a", "bb", "ccc", "dd", "e", "ff", "oov1", "zz")
    def doc() = (0 until rnd.nextInt(14))
      .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    for (trial <- 1 to 6) {
      val corpus = ((1 to 60).map(i => (i.toLong, doc())) ++
        Seq((98L, ""), (99L, null.asInstanceOf[String])))
        .toDF("doc_id", "text")
      val v = Quality.bigramVocab(corpus, "text",
        maxBigrams = 1 + rnd.nextInt(12), maxVocab = 1 + rnd.nextInt(6))
      val got = Quality.bigramLogProb(corpus, "doc_id", "text", v)
        .orderBy("doc_id").collect().toSeq
      val ref = Quality.bigramLogProbViaJoin(corpus, "doc_id", "text", v)
        .orderBy("doc_id").collect().toSeq
      assert(got === ref, s"trial $trial")
    }
  }

  test("repetition-profile kernel bit-equals the aggregate form on random corpora") {
    import graft.operators.Quality
    GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(60)
    val words = Vector("a", "b", "cc", "d", "a", "b") // skew toward repeats
    def doc() = (0 until rnd.nextInt(16))
      .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    for (trial <- 1 to 6) {
      val n = 2 + rnd.nextInt(3)
      val corpus = ((1 to 50).map(i => (i.toLong, doc())) ++
        Seq((98L, ""), (99L, null.asInstanceOf[String])))
        .toDF("doc_id", "text")
      val got = Quality.repetitionProfile(corpus, "doc_id", "text", n)
        .orderBy("doc_id").collect().toSeq
      val ref = Quality.repetitionProfileViaAgg(corpus, "doc_id", "text", n)
        .orderBy("doc_id").collect().toSeq
      assert(got === ref, s"trial $trial n=$n")
    }
  }
}
