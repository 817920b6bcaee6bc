package graft

import org.apache.spark.sql.functions._
import graft.operators.Privacy

/** k-anonymity / l-diversity census ([[Privacy.kAnonymityCensus]], q164):
  * census arithmetic and NULL-as-a-QI-value grouping.
  */
class PrivacySpec extends SparkSpec {

  private def df = {
    import spark.implicits._
    Seq(
      // (zip, age_band, diagnosis)
      ("1010", "30-39", "flu"), ("1010", "30-39", "cold"),
      ("1010", "30-39", "flu"), ("1010", "30-39", "asthma"),
      ("1010", "30-39", "flu"),                       // n=5, div=3: safe
      ("2020", "40-49", "flu"), ("2020", "40-49", "flu"),
      ("2020", "40-49", "flu"), ("2020", "40-49", "flu"),
      ("2020", "40-49", "flu"),                        // n=5, div=1: not l-diverse
      ("3030", "50-59", "flu"), ("3030", "50-59", "cold"), // n=2: not k-anon
      (null, "30-39", "flu"), (null, "30-39", "cold"),
      (null, "30-39", "flu"), (null, "30-39", "hip"),
      (null, "30-39", "flu")                           // NULL zip is a group: n=5, div=3
    ).toDF("zip", "age_band", "diag")
  }

  private def census = Privacy
    .kAnonymityCensus(df, Seq("zip", "age_band"), "diag", k = 5L, l = 2L)
    .collect()
    .map(r => (Option(r.getString(0)).getOrElse("∅"), r.getLong(2), r.getLong(3),
      r.getBoolean(4), r.getBoolean(5)))
    .toSet

  test("census: size, diversity, and both flags per QI group") {
    assert(census == Set(
      ("1010", 5L, 3L, true, true),
      ("2020", 5L, 1L, true, false),
      ("3030", 2L, 2L, false, true),
      ("∅", 5L, 3L, true, true)))
  }

  test("null sensitive values do not count toward diversity") {
    import spark.implicits._
    val d2 = Seq(("a", "x"), ("a", null), ("a", null)).toDF("qi", "s")
    val got = Privacy.kAnonymityCensus(d2, Seq("qi"), "s", k = 2L, l = 2L)
      .collect().head
    assert(got.getLong(1) == 3L && got.getLong(2) == 1L && !got.getBoolean(4))
  }
}
