package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TextKernels}
import graft.operators.LangId

/** Trained weight-vector language ID (q153). The hash/weights/argmax
  * chain is certified against the DuckDB list-SQL replay by the oracle
  * gate; THIS spec pins training determinism, the kernel against an
  * independent reference scorer, prediction edge semantics, the
  * documented accuracy probe, and the plan shape.
  */
class LangIdVecSpec extends SparkSpec {
  import spark.implicits._

  test("training: deterministic, sorted langs, smoothed dense weights") {
    val m1 = LangId.train(LangId.seedCorpus)
    val m2 = LangId.train(LangId.seedCorpus)
    assert(m1.langs === Seq("ar", "de", "el", "en", "es", "fr", "hi", "it",
      "ja", "ko", "nl", "pt", "ru", "sv", "zh"))
    assert(m1.nBuckets === 1024)
    (m1.scaled, m2.scaled).zipped.foreach((a, b) => assert(a.toSeq === b.toSeq))
    // NB log-probs are strictly negative and DENSE (smoothing gives every
    // bucket a weight — unseen grams still score, they just score low)
    assert(m1.scaled.forall(w => w.length === 1024 && w.forall(_ < 0L)))
    // a bucket hit in training must outscore the unseen floor
    m1.scaled.foreach(w => assert(w.max > w.min))
  }

  test("kernel fuzz: one-walk scorer == independent reference scorer") {
    val m = LangId.default
    // reference: BigInt md5 bucket + plain per-gram map sums — shares no
    // code with md5Bucket or the kernel walk
    def refBucket(g: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
      (BigInt(1, md.take(4)) % m.nBuckets).toInt
    }
    def ref(text: String): Seq[Long] = {
      val s = text.toLowerCase(java.util.Locale.ROOT)
      val grams = (0 to s.length - 3).map(i => s.substring(i, i + 3))
      grams.size.toLong +: m.scaled.map(w => grams.map(g => w(refBucket(g))).sum)
    }
    val kernel = new TextKernels.LangIdVecKernel(m.langs, m.scaled, m.n)
    def kout(text: String): Seq[Long] = {
      val a = kernel.eval(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      (0 until a.numElements()).map(a.getLong)
    }
    val rnd = new scala.util.Random(20260818L)
    val pool = (Queries.langIdVocab.flatMap(_._2) ++
      Seq("", "ß", "日本語テキスト", "MIXED Case Words", "a b", "xy")).toArray
    for (_ <- 1 to 1500) {
      val text = Seq.fill(rnd.nextInt(12))(pool(rnd.nextInt(pool.length)))
        .mkString(" ")
      assert(kout(text) === ref(text), s"text=<$text>")
    }
    assert(kout("") === Seq(0L) ++ Seq.fill(m.langs.length)(0L))
    assert(kout("ab") === Seq(0L) ++ Seq.fill(m.langs.length)(0L)) // shorter than one gram
  }

  test("predict: und on gram-less text, ties to first language, margin >= 0") {
    GraftFunctions.ensureRegistered(spark)
    val tiny = Seq((1L, "ab"), (2L, ""), (3L, "the weather is lovely today"))
      .toDF("doc_id", "text")
    val out = LangId.predict(tiny, "text")
      .select("doc_id", "lang_pred", "n_grams", "score", "margin")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) === "und" && out(1L).isNullAt(3))
    assert(out(2L).getString(1) === "und")
    assert(out(3L).getString(1) === "en" && out(3L).getDouble(4) > 0)
    // tie: two "languages" with IDENTICAL weights — argmax must take the
    // FIRST in ascending code order, deterministically
    val w = Array.fill(64)(-100000L)
    val tieModel = LangId.Model(Seq("aa", "bb"), Seq(w, w), 3)
    val tied = LangId.predict(Seq((1L, "anything goes here")).toDF("doc_id", "text"),
      "text", tieModel).select("lang_pred", "margin").collect()(0)
    assert(tied.getString(0) === "aa" && tied.getDouble(1) === 0.0)
  }

  test("accuracy probe: >= 95% on the confusable multilingual synthesis") {
    // the documented probe: 15 languages over 8 scripts incl. the
    // romance overlaps and the zh/ja Han-share, 12-word
    // docs — q153's own frame carries lang_true, so accuracy is a query
    val df = Queries.all("q153_lang_id_vec")(spark, "/root/testdata/sf0.001")
    val agg = df.agg(
      count(lit(1)).as("n"),
      sum(when(col("lang_pred") === col("lang_true"), 1L).otherwise(0L)).as("ok"),
      min("margin").as("worst")).collect()(0)
    val acc = agg.getLong(1).toDouble / agg.getLong(0)
    info(f"langid accuracy ${acc * 100}%.1f%% over ${agg.getLong(0)} docs")
    assert(acc >= 0.95, f"accuracy $acc%.3f")
    // every language must be predicted for some row (not one-class collapse)
    assert(df.select("lang_pred").distinct().count() >= 15)
  }

  test("q153 plan: shuffle-free codegen projection, ONE kernel walk per row") {
    val df = Queries.all("q153_lang_id_vec")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Sort"),
      p.take(1500))
    assert(p.contains("*(1)"), p.take(1500))
    // pred/n_grams/score/margin all index ONE scores array — CSE must
    // collapse to a single kernel eval
    val code = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert("langIdVecKernel(\\w*)\\.eval".r.findAllIn(code).size <= 2, code.take(2000))
  }

  test("custom model: a two-language trainer separates its own corpus") {
    GraftFunctions.ensureRegistered(spark)
    val corpus = Seq(
      "xx" -> "zebra zebra quartz quartz zebra quartz jazzy zebra quartz zebra",
      "yy" -> "mellow mellow willow willow mellow willow hollow mellow willow")
    val m = LangId.train(corpus, nBuckets = 256)
    val docs = Seq((1L, "zebra quartz jazzy"), (2L, "willow mellow hollow"))
      .toDF("doc_id", "text")
    val got = LangId.predict(docs, "text", m)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "xx", 2L -> "yy"))
  }
}
