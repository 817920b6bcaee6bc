package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TextAnalysis}

/** The native text expressions must agree with the Column-combinator
  * reference implementations they replace.
  */
class TextExprSpec extends SparkSpec {
  import spark.implicits._

  private val markers = Map(
    "en" -> Seq("the", "a", "fast", "slow"),
    "de" -> Seq("table", "scan", "row"),
    "es" -> Seq("data", "query", "value"),
    "zh" -> Seq("spark", "join", "merge"))

  private def docs = Seq(
    "the fast query joins the slow table",
    "table scan row row scan",
    "data query value data",
    "spark join merge spark",
    "nothing matching here at all",
    "the table", // en/de tie → greatest lang code wins
    "", "  ", "one"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("langIdFast matches combinator langId, including ties and und") {
    GraftFunctions.ensureRegistered(spark)
    val bad = docs.select(
      ExactReference.langId(col("text"), markers).as("ref"),
      TextAnalysis.langIdFast(col("text"), markers).as("fast")
    ).filter(col("ref") =!= col("fast")).count()
    assert(bad === 0)
  }

  test("ngram hashes: distinct count matches distinct string shingles") {
    GraftFunctions.ensureRegistered(spark)
    for (n <- Seq(2, 5, 7)) {
      val bad = docs.select(
        size(graft.operators.NearDup.shingles(col("text"), n)).as("ref"),
        size(call_function("graft_ngram_hashes",
          split(lower(trim(col("text"))), "\\s+"), lit(n))).as("fast")
      ).filter(col("ref") =!= col("fast")).count()
      assert(bad === 0, s"n=$n")
    }
  }

  test("stopwordRatioFast / qualityScoreFast match combinator versions") {
    GraftFunctions.ensureRegistered(spark)
    val sw = Seq("the", "a", "of")
    val bad = docs.select(
      ExactReference.stopwordRatio(col("text"), sw).as("r1"),
      TextAnalysis.stopwordRatioFast(col("text"), sw).as("f1"),
      ExactReference.qualityScore(col("text"), sw).as("r2"),
      TextAnalysis.qualityScoreFast(col("text"), sw).as("f2")
    ).filter(col("r1") =!= col("f1") || col("r2") =!= col("f2")).count()
    assert(bad === 0)
  }

  test("ngram hashes equal xxhash64 of the string shingles as a set") {
    GraftFunctions.ensureRegistered(spark)
    val cmp = docs.select(
      array_sort(transform(graft.operators.NearDup.shingles(col("text"), 3),
        s => xxhash64(s))).as("ref"),
      array_sort(call_function("graft_ngram_hashes",
        split(lower(trim(col("text"))), "\\s+"), lit(3))).as("fast"))
    assert(cmp.filter(not(col("ref") === col("fast"))).count() === 0)
  }

  test("marker words containing separators round-trip the marker encoding") {
    GraftFunctions.ensureRegistered(spark)
    // markers with ',' ':' '|' '%' — raw separators would split them into
    // wrong markers (or crash decode) and silently misclassify
    val markers = Map(
      "pt" -> Seq("e,", ",a"),
      "tb" -> Seq("a|b", "x:y", "50%"))
    val out = Seq("foo e, bar", "val a|b end", "val x:y end", "50% off", "zzzz")
      .toDF("t")
      .select(TextAnalysis.langIdFast(col("t"), markers))
      .as[String].collect()
    assert(out(0) === "pt")
    assert(out(1) === "tb" && out(2) === "tb" && out(3) === "tb")
    assert(out(4) === "und")
  }

  test("graft_ngram_hashes rejects non-positive n at plan time") {
    GraftFunctions.ensureRegistered(spark)
    val e = intercept[IllegalArgumentException] {
      docs.select(call_function("graft_ngram_hashes",
        split(col("text"), " "), lit(0))).collect()
    }
    assert(e.getMessage.contains("n >= 1"))
  }
}
