package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Round-4 operators: fuzzy substring canonicalization, MCL key
  * auto-discovery, metadata-compiled validation rules.
  */
class RecodeDiscoverySpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    FuzzyRecode.Rule(Seq("klesiella", "klebsiella", "kleb"), "KLS", "Klebsiella sp."),
    FuzzyRecode.Rule(Seq("proteus", "ptoteus"), "Prot", "Proteus sp."),
    FuzzyRecode.Rule(Seq("kleb proteus special"), "KPS", "Special combo"))

  test("fuzzyRecode: misspellings match, case-insensitive, gate respected") {
    val df = Seq(
      (1L, "Oth", "orig", "found KLESIELLA in culture"), // misspelling, uppercased
      (2L, "Oth", "orig", "ptoteus colonies"),           // misspelling of proteus
      (3L, "Oth", "orig", "nothing recognizable"),       // no match → sentinel stays
      (4L, "SA", "Staph", "klebsiella everywhere")       // gate not met → untouched
    ).toDF("id", "v", "l", "txt")
    val out = FuzzyRecode.canonicalize(df, "v", "l", col("txt"), rules)
      .orderBy("id").select("v", "l").as[(String, String)].collect()
    assert(out === Array(
      ("KLS", "Klebsiella sp."),
      ("Prot", "Proteus sp."),
      ("Oth", "orig"),
      ("SA", "Staph")))
  }

  test("fuzzyRecode: LAST matching rule wins (reference overwrite chain)") {
    // matches rule 1 ("kleb"), rule 2 ("proteus") AND rule 3 (full phrase):
    // the reference's sequential ifs leave the last assignment standing
    val df = Seq((1L, "Oth", "x", "kleb proteus special case")).toDF("id", "v", "l", "txt")
    val out = FuzzyRecode.canonicalize(df, "v", "l", col("txt"), rules)
      .select("v", "l").as[(String, String)].head()
    assert(out === ("KPS", "Special combo"))
  }

  test("fuzzyRecode: ungated form canonicalizes every matching row") {
    val df = Seq((1L, "SA", "Staph", "klebsiella")).toDF("id", "v", "l", "txt")
    val out = FuzzyRecode.canonicalize(df, "v", "l", col("txt"), rules, gate = None)
      .select("v", "l").as[(String, String)].head()
    assert(out === ("KLS", "Klebsiella sp."))
  }

  test("discoverMclKeys: mixed-shape batch, multi-value + name rules") {
    val batch = Seq(
      // legacy list shape: Diag multi-valued here, Fever single, NoneOth empty
      """[{"key": "Diag", "values": [{"value": "A"}, {"value": "B"}]},
          {"key": "Fever", "values": [{"value": "yes"}]},
          {"key": "NoneOth", "values": []}]""",
      // dict shape: Diag single HERE (batch-wide max still 2), AdmReason
      // name rule, Temp single
      """{"Diag": {"values": {"value": ["A"], "label": ["La"]}},
          "AdmReason": {"values": {"value": ["R"], "label": ["Re"]}},
          "Temp": {"values": {"value": ["37"], "label": ["37"]}}}""",
      // list shape: ReasOth single → name rule fires (has a value)
      """[{"key": "ReasOth", "values": [{"value": "free text"}]}]"""
    ).toDF("entries_json")
    val out = JsonImport.discoverMclKeys(batch)
      .orderBy("key").as[(String, Int, Boolean)].collect()
    assert(out === Array(
      ("AdmReason", 1, true),  // exact-name rule
      ("Diag", 2, true),       // >1 values somewhere in the batch
      ("Fever", 1, false),
      ("NoneOth", 0, false),   // name rule needs >= 1 value (reference branch)
      ("ReasOth", 1, true),    // suffix rule
      ("Temp", 1, false)))
    assert(JsonImport.discoverMclKeyList(batch) ===
      Seq("AdmReason", "Diag", "ReasOth"))
  }

  test("extractYears parses bare numbers, year phrases, and rejects garbage") {
    val out = Seq("23", " 23 years ", "23.5", "aged 23.5 years old", "23.9 YEARS",
        "unknown", "", "3 months")
      .toDF("raw")
      .select(DeriveColumns.extractYears(col("raw"))).as[Option[Int]].collect()
    assert(out === Array(Some(23), Some(23), Some(23), Some(23), Some(23),
      None, None, None))
  }

  test("coerceByFieldInfo date default accepts what the validation regex accepts") {
    // an ISO datetime passes the generated DatetimeRegex rule — the
    // coercion half of the same metadata must not silently NULL it
    val meta = Seq(Validation.FieldInfo("visit", dataType = "datetime"))
    val out = DeriveColumns.coerceByFieldInfo(
      Seq((1L, "2026-01-07T08:00:00"), (2L, "2026-01-07"), (3L, "NaT"))
        .toDF("id", "visit_value"), meta)
      .orderBy("id").select("visit_value").collect()
    assert(!out(0).isNullAt(0) && !out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("discoverMclKeys and explodeMclKey tolerate malformed/corrupt entries rows") {
    val batch = Seq(
      """[{"key": "Diag", "values": [{"value": "A"}, {"value": "B"}]}]""",
      """not json at all""",
      """{"Diag": "shape surprise — values not an object"}""",
      """[]""",
      null.asInstanceOf[String]
    ).toDF("entries_json")
    val keys = JsonImport.discoverMclKeys(batch)
      .as[(String, Int, Boolean)].collect().toSet
    assert(keys === Set(("Diag", 2, true))) // garbage rows contribute nothing
    val exploded = JsonImport.explodeMclKey(
      batch.withColumn("uid", lit("u1")).withColumn("scriptid", lit("adm")), "Diag")
    assert(exploded.select("value").as[String].collect().toSet === Set("A", "B"))
  }

  test("fuzzyRecode: label decision uses the ORIGINAL value column") {
    // regression guard for the withColumn-sequencing trap: if the label
    // replacement re-read the already-rewritten value column the gate
    // would no longer hold and the label would stay stale
    val df = Seq((1L, "Oth", "stale", "kleb")).toDF("id", "v", "l", "txt")
    val out = FuzzyRecode.canonicalize(df, "v", "l", col("txt"), rules)
      .select("v", "l").as[(String, String)].head()
    assert(out === ("KLS", "Klebsiella sp."))
  }
}
