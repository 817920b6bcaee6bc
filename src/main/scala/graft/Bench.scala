package graft

/** Per-round benchmark: times every catalog query at the driver-supplied
  * scale factor and prints ONE JSON line. Any query failure is recorded in
  * the JSON AND propagated as a nonzero exit code — a Spark job abort must
  * never masquerade as a clean run.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)
    // Warm up the JVM (catalyst init, codegen compiler, parquet reader,
    // string-expression JIT) on the tiny SF so the first timed queries
    // aren't charged for one-time compilation.
    val warmDir =
      if (new java.io.File("/root/testdata/sf0.001").isDirectory) "/root/testdata/sf0.001"
      else sfDir // no tiny SF on this host: warm on the target (costs one extra pass)
    try {
      SparkEntry.queries("q01_agg_summary")(spark, warmDir).count()   // agg path
      SparkEntry.queries("q24_lang_id")(spark, warmDir).count()       // text path
      SparkEntry.queries("q03_join_enrich")(spark, warmDir).count()   // join path
    } catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }
    var failed = List.empty[String]
    // debugging/iteration knobs: comma-separated query names to leave out,
    // or (for targeted scale probes) the only ones to run. ONLY wins when
    // both are set; both match exact-or-"p_" prefix so "q133" selects
    // "q133_bigram_logprob" without spelling the suffix but "q14" does
    // NOT sweep in q140-q149.
    val exclude = sys.env.getOrElse("GRAFT_BENCH_EXCLUDE", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val only = sys.env.getOrElse("GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    def matches(p: String, n: String) = n == p || n.startsWith(p + "_")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        if (only.nonEmpty) only.exists(matches(_, n))
        else !exclude.exists(matches(_, n))
      }
    def timeOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        // toRdd.count(), NOT count(): a count() aggregate needs zero
        // columns, so Catalyst prunes pure-projection outputs down to a
        // parquet-footer row count and the benchmark measures NOTHING
        // for projection queries (q139 measured 0.27 s "at 300×" vs
        // 6.2 s of real work). toRdd materializes every output row of
        // the query AS WRITTEN — the honest cost of producing the
        // result — while agg-ending queries pay only their few final
        // rows extra.
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Two passes per query, reporting the per-query MIN over SUCCESSFUL
    // passes (a fast crash must not masquerade as a fast run): pass 1 pays
    // driver-side plan + codegen compile (noise at bench SF, irrelevant at
    // 100 TB); the min is the repeatable statistic and makes early/late
    // queries comparable. Between queries a driver GC drains ContextCleaner
    // (accumulated shuffle files / broadcasts), outside the timed window,
    // so no query pays for its predecessors' leftovers.
    def pass(): Seq[(String, (Double, Boolean))] =
      names.map { case (n, fn) => val t = timeOne(n, fn); System.gc(); n -> t }
    val cold = pass()
    val steady = pass()
    val results = cold.zip(steady).map { case ((n, (c, okc)), (_, (s, oks))) =>
      n -> ((okc, oks) match {
        case (true, false)  => c
        case (false, true)  => s
        case _              => math.min(c, s) // both ok, or both failed (exit 1 anyway)
      })
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val coldTotal = cold.map(_._2._1).sum
    // Entry tags so scale headlines stop conflating three different
    // costs (r15 verdict item 8): "yardstick" = declared quadratic/exact
    // reference implementations whose production twins are the gated
    // sublinear paths (kept in the catalog BECAUSE they are the recall/
    // exactness oracles); "certification" = deliberate batched==sequential
    // / full-train certification runs whose cost is the certification's
    // point, not the operator's (q132's bench shape trains the auto-k
    // quantizer on the whole probe corpus — the documented 100 TB path is
    // sample-trained, recall-gated within 0.06); everything untagged is
    // "operator" — the engine's real per-query cost.
    val kinds: Map[String, String] = Map(
      "q30_ann_topk" -> "yardstick", "q95_ann_pq" -> "yardstick",
      "q106_ann_recall" -> "yardstick", "q140_rp_ann" -> "yardstick",
      "q62_numeric_profile" -> "yardstick",
      "q141_bpe_encode_deep" -> "certification",
      "q142_bpe_train_deep" -> "certification",
      "q132_ann_refined" -> "certification",
      // q151: the 1/5-sampled REAL GIF encode+decode round-trip — the
      // per-row cost IS the certification's synthesis+codec work, not an
      // operator the pipeline pays per document (r16 verdict item 6)
      "q151_video_frames" -> "certification",
      // q158: the collapse-first twin re-certifying per-instance ==
      // collapsed against q154's identical oracle; its cost is the
      // certification's, q154 is the measured operator
      "q158_dup_span_collapsed" -> "certification",
      // q159: runs batch CC over history INSIDE the row to have a
      // standing to attach to, then certifies incremental == batch via
      // q51's oracle; the batch-standing setup is the certification cost
      "q159_incremental_components" -> "certification",
      // q178 composes eight already-benched operators as ONE oracled
      // plan — its cost is the composition certification's, the member
      // operators are the measured rows
      "q178_curation_chain" -> "certification")
    def kindTotal(k: String): Double =
      results.filter(r => kinds.getOrElse(r._1, "operator") == k).map(_._2).sum
    val kindsJson = kinds.toSeq.sorted.filter { case (n, _) => results.exists(_._1 == n) }
      .map { case (n, k) => "\"" + n + "\":\"" + k + "\"" }.mkString("{", ",", "}")
    // In-repo regression gate (BASELINE.md): compare each query's min-of-2
    // against tools/bench_baseline.json when benchmarking the SAME sf dir.
    // >1.8× AND >0.5 s slower counts as a regression — measured same-code
    // run-to-run noise on a busy host is ~20%, so a tighter cut against a
    // fastest-observed baseline cries wolf; a real de-optimization (lost
    // broadcast, added sort) shows 2×+. The TOTAL gets its own 1.4× check
    // (noise averages out across 56 queries; a broad slowdown is real).
    // Loud on stderr, fatal only under GRAFT_BENCH_STRICT=1 so new queries
    // and deliberate trade-offs don't hard-fail the harness run.
    val regressions: Seq[(String, Double, Double)] = {
      val path = sys.env.getOrElse("GRAFT_BENCH_BASELINE", "tools/bench_baseline.json")
      val f = new java.io.File(path)
      if (!f.isFile) Nil
      else {
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
        val sfOk = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(text)
          .forall(_.group(1) == sfDir)
        if (!sfOk) Nil
        else {
          val base = "\"(q[0-9][0-9a-z_]+)\"\\s*:\\s*([0-9.]+)".r
            .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
          val perQuery = results.flatMap { case (name, t) =>
            base.get(name).collect {
              case b if t > b * 1.8 && t - b > 0.5 => (name, t, b)
            }
          }
          val baseTotal = results.flatMap(r => base.get(r._1)).sum
          val sharedTotal = results.filter(r => base.contains(r._1)).map(_._2).sum
          val totalReg =
            if (baseTotal > 0 && sharedTotal > baseTotal * 1.4)
              Seq(("total(shared)", sharedTotal, baseTotal))
            else Nil
          perQuery ++ totalReg
        }
      }
    }
    regressions.foreach { case (n, t, b) =>
      System.err.println(f"[bench] REGRESSION $n: $t%.2fs vs baseline $b%.2fs (${t / b}%.2fx)")
    }
    val regs = regressions.map { case (n, t, b) =>
      s"""{"query":"$n","sec":$t,"baseline_sec":$b}""" }.mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,"regressions":$regs,"timing":"min-of-2","cold_total":$coldTotal,"total_operator":${kindTotal("operator")},"total_yardstick":${kindTotal("yardstick")},"total_certification":${kindTotal("certification")},"kinds":$kindsJson,"sf":"$sfDir"}"""
    println(json)
    // the driver captures only a bounded log TAIL (the r5 artifact lost
    // q01-q13's timings to the 2,000-char cut) — persist the full line to
    // a file so every per-query timing survives regardless of log volume
    val outFile = sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
    if (regressions.nonEmpty && sys.env.get("GRAFT_BENCH_STRICT").contains("1"))
      sys.exit(1)
  }
}
