package graft

import org.apache.spark.sql.functions._
import graft.pipeline.ReferencePipeline

/** The full reference DAG over synthetic session exports: parse → dedup →
  * widen → join → derive → summarize, with corrupt/uid-less routing.
  */
class ReferencePipelineSpec extends SparkSpec {
  import spark.implicits._

  private def session(uid: String, script: String, facility: String,
                      started: String, completed: String, temp: String): String =
    s"""{"scriptid":"$script","facility":"$facility","uid":"$uid",
        "started_at":"$started","completed_at":"$completed",
        "entries":[{"key":"Temp","values":[{"value":"$temp","label":"Temperature"}]}]}"""
      .replaceAll("\n\\s*", "")

  private def raw = Seq(
    session("u1", "adm", "F1", "2026-01-01T08:00:00", "2026-01-01T08:30:00", "36.6"),
    // duplicate of u1's admission, EARLIER start → dedup keeps the later one
    session("u1", "adm", "F1", "2026-01-01T07:00:00", "2026-01-01T07:20:00", "35.0"),
    session("u1", "dis", "F1", "2026-01-04T10:00:00", "2026-01-04T10:30:00", "37.0"),
    session("u2", "adm", "F1", "2026-01-02T09:00:00", "2026-01-02T09:30:00", "38.2"),
    // u2 has no discharge → no_discharge flag
    session("u3", "adm", "F2", "2026-02-01T11:00:00", "2026-02-01T11:30:00", "36.9"),
    session("u3", "dis", "F2", "2026-02-02T12:00:00", "2026-02-02T12:30:00", "36.8"),
    """{"scriptid":"adm","entries":[]}""", // uid-less → exceptions
    """broken json"""                      // corrupt → exceptions
  ).toDF("json")

  private lazy val out = ReferencePipeline.run(raw, "json", Seq("Temp"))

  test("corrupt and uid-less sessions route to exceptions, not silently away") {
    assert(out.exceptions.count() == 2)
    assert(out.admissions.count() + out.discharges.count() == 5)
  }

  test("dedup keeps the latest admission per (uid, script)") {
    val u1 = out.admissions.filter(col("uid") === "U1")
    assert(u1.count() == 1)
    assert(u1.select("temp_value").head.getString(0) == "36.6")
  }

  test("joined table derives LOS and flags missing discharges") {
    val rows = out.joined.select("uid", "los_days", "no_discharge")
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)).map(_.toString.toInt), r.get(2).toString.toInt)).toMap
    assert(rows("U1") == ((Some(3), 0)))
    assert(rows("U2") == ((None, 1)))
    assert(rows("U3") == ((Some(1), 0)))
  }

  test("summary counts aggregate by facility and month") {
    val sc = out.summaryCounts
      .select(col("facility"), col("month_year_sort").cast("long"),
        col("n_admissions"), col("n_no_discharge"), col("n_long_stay"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(sc == Set(("F1", 202601L, 2L, 1L, 1L), ("F2", 202602L, 1L, 0L, 0L)))
  }

  test("completeness reflects the uid-present pipeline contract") {
    val c = out.completeness.head
    assert(c.getDouble(0) == 1.0) // uid always present post-filter
  }

  test("uid-less session WITH a date entry is repaired, not excepted") {
    val withDate =
      """{"scriptid":"adm","facility":"F1","started_at":"2026-03-01T08:00:00",
         "entries":[{"key":"DateAdmission","values":[{"value":"2026-03-01","label":"Admitted"}]}]}"""
        .replaceAll("\n\\s*", "")
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(withDate).toDF("json")), "json", Seq("Temp"))
    assert(out2.exceptions.count() == 2) // still only corrupt + date-less
    assert(out2.admissions.filter(col("uid") === "2026-03-01").count() == 1)
  }

  test("two DIFFERENT records sharing a uid both survive with distinct keys") {
    def collider(temp: String, dateAdm: String): String =
      s"""{"scriptid":"adm","facility":"F1","uid":"u9",
          "started_at":"${dateAdm}T08:00:00","completed_at":"${dateAdm}T09:00:00",
          "entries":[{"key":"Temp","values":[{"value":"$temp","label":"T"}]},
                     {"key":"DateAdmission","values":[{"value":"$dateAdm","label":"D"}]}]}"""
        .replaceAll("\n\\s*", "")
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(collider("36.0", "2026-01-05"),
        collider("39.9", "2026-01-06")).toDF("json")), "json", Seq("Temp"))
    val u9 = out2.admissions.filter(col("uid").startsWith("U9#"))
      .select("uid").as[String].collect().toSet
    assert(u9 == Set("U9#2026-01-05", "U9#2026-01-06")) // dedup swallowed neither
  }

  test("MCL tables are DISCOVERED from the batch and combined diagnoses unions both sources") {
    val multiDiag =
      """{"scriptid":"adm","uid":"u6","facility":"F1","started_at":"2026-01-06T08:00:00",
         "entries":[{"key":"Diagnoses","values":[{"value":"SEP","label":"Sepsis"},
                                                 {"value":"JAU","label":"Jaundice"}]},
                    {"key":"Temp","values":[{"value":"38.0","label":"T"}]}],
         "repeatables":{"diagnoses":[
           {"id":"d1","createdAt":"2026-01-06T09:00:00","Diag":{"value":"Asphyxia"}}]}}"""
        .replaceAll("\n\\s*", "")
    val singleDiag =
      """{"scriptid":"adm","uid":"u7","facility":"F1","started_at":"2026-01-07T08:00:00",
         "entries":[{"key":"Diagnoses","values":[{"value":"PRE","label":"Prematurity"}]}]}"""
        .replaceAll("\n\\s*", "")
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(multiDiag, singleDiag).toDF("json")),
      "json", Seq("Temp"), repeatableKeys = Seq("Diag"))
    // Diagnoses is multi-valued on u6 → discovered as MCL; Temp never is
    assert(out2.mclKeys === Seq("Diagnoses"))
    val exploded = out2.mclTables("Diagnoses")
    assert(exploded.filter(col("uid") === "U6").select("label")
      .as[String].collect().toSet === Set("Sepsis", "Jaundice"))
    // combined view: exploded labels (3) + repeatable-group diagnosis (1)
    val combined = out2.combinedDiagnoses.select("uid", "diagnosis")
      .as[(String, String)].collect().toSet
    assert(combined === Set(
      ("U6", "Sepsis"), ("U6", "Jaundice"), ("U7", "Prematurity"),
      ("U6", "Asphyxia")))
  }

  test("fuzzy canonicalization rewrites 'Oth' coded organisms from free text in the DAG") {
    def labSession(uid: String, orgValue: String, orgLabel: String, other: String): String =
      s"""{"scriptid":"adm","uid":"$uid","facility":"F1","started_at":"2026-01-08T08:00:00",
          "entries":[{"key":"Org1","values":[{"value":"$orgValue","label":"$orgLabel"}]},
                     {"key":"OtherOrg1","values":[{"value":"$other","label":"Other"}]}]}"""
        .replaceAll("\n\\s*", "")
    val rules = Seq(
      graft.operators.FuzzyRecode.Rule(
        Seq("klesiella", "klebsiella", "kleb"), "KLS", "Klebsiella sp."))
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(
        labSession("u8", "Oth", "Other organism", "found KLESIELLA colonies"),
        labSession("u9", "SA", "Staph aureus", "klebsiella mention ignored")).toDF("json")),
      "json", Seq("Org1", "OtherOrg1"),
      fuzzyRules = Seq(("Org1", "OtherOrg1", rules)))
    val got = out2.admissions.filter(col("uid").isin("U8", "U9"))
      .select("uid", "org1_value", "org1_label")
      .as[(String, String, String)].collect().map { case (k, v, l) => k -> ((v, l)) }.toMap
    assert(got("U8") === (("KLS", "Klebsiella sp.")))   // misspelled free text → canonical
    assert(got("U9") === (("SA", "Staph aureus")))      // gate not met → untouched
  }

  test("combined diagnoses still publishes when the batch's Diagnoses are all single-valued") {
    // no session carries >1 diagnosis → the key is NOT discovered as MCL;
    // the entries side must still reach the combined view
    val single =
      """{"scriptid":"adm","uid":"u7","facility":"F1","started_at":"2026-01-07T08:00:00",
         "entries":[{"key":"Diagnoses","values":[{"value":"PRE","label":"Prematurity"}]}]}"""
        .replaceAll("\n\\s*", "")
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(single).toDF("json")), "json", Seq("Temp"))
    assert(out2.mclKeys.isEmpty)
    assert(out2.combinedDiagnoses.select("uid", "diagnosis")
      .as[(String, String)].collect().toSet === Set(("U7", "Prematurity")))
  }

  test("knownMclKeys skips discovery and pins the MCL table set") {
    val out2 = ReferencePipeline.run(raw, "json", Seq("Temp"),
      knownMclKeys = Some(Seq("Temp")))
    assert(out2.mclKeys === Seq("Temp"))
    assert(out2.mclTables.keySet === Set("Temp"))
  }

  test("one fieldInfo frame drives typed coercion AND generated validation") {
    val meta = Seq(
      graft.operators.Validation.FieldInfo("Temp", dataType = "number",
        optional = false, minValue = Some(30.0), maxValue = Some(43.0)),
      // script metadata covers MORE fields than the widened key set —
      // rules for absent columns must be skipped, not crash resolution
      graft.operators.Validation.FieldInfo("Ghost", dataType = "number",
        optional = false))
    val hot =
      """{"scriptid":"adm","uid":"u9","facility":"F1","started_at":"2026-01-09T08:00:00",
         "entries":[{"key":"Temp","values":[{"value":"98.6","label":"T"}]}]}"""
        .replaceAll("\n\\s*", "")
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(hot).toDF("json")), "json", Seq("Temp"),
      fieldInfo = meta)
    // coercion: temp_value published as a DOUBLE column
    assert(out2.admissions.schema("temp_value").dataType.simpleString === "double")
    // validation: the Fahrenheit outlier lands in ruleExceptions with the
    // generated range code; clean rows do not
    val ex = out2.ruleExceptions.select("uid", "code")
      .as[(String, String)].collect().toSet
    assert(ex === Set(("U9", "Temp_above_max")))
  }

  test("publish materializes every table atomically and re-reads round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_publish").toString
    ReferencePipeline.publish(out, dir)
    val published = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(published.contains("admissions") && published.contains("joined")
      && published.contains("combined_diagnoses") && published.contains("rule_exceptions"))
    assert(!published.exists(_.endsWith(".tmp"))) // all swaps completed
    val back = spark.read.parquet(s"$dir/admissions")
    assert(back.count() === out.admissions.count())
    // republish over existing tables (the daily-cron path) keeps working
    ReferencePipeline.publish(out, dir)
    assert(spark.read.parquet(s"$dir/joined").count() === out.joined.count())
  }

  test("dataset card publishes as dataset_card; summary_baseline is the row-level projection; joined clusters on (facility, month)") {
    val out2 = ReferencePipeline.run(raw, "json", Seq("Temp"),
      cardNumericCols = Seq("los_days"), cardCategoricalCols = Seq("facility"))
    val names = ReferencePipeline.tableList(out2).map(_._1)
    assert(names.contains("dataset_card") && names.contains("summary_baseline"))
    // summary_baseline matches the reference's actual shape: one row per
    // joined uid, with the renamed identifiers and the Mon-YYYY /
    // YYYYmm admission keys (create_summary_baselines_sql.py) — NOT the
    // long-format card
    val sb = out2.summaryBaseline
    assert(sb.count() == out2.joined.count())
    assert(Set("uid", "facility", "admission_datetime", "discharge_datetime",
      "admission_month_year", "admission_month_year_sort", "los_days")
      .subsetOf(sb.columns.toSet))
    assert(!sb.columns.contains("section"))
    val card = out2.datasetCard
    // all four no-reference sections present (psi needs a reference sample)
    assert(card.select("section").distinct().collect().map(_.getString(0)).toSet ==
      Set("numeric", "categorical", "histogram", "equidepth"))
    // numeric: mean of los_days (3, NULL, 1) = 2 — exact on BOTH median
    // paths (the default card median is the approx sketch, so the mean is
    // the stable fact to pin here; exactQuantilesPerColumn equality is spec'd in
    // the operator suites)
    val mean = card.filter(col("section") === "numeric" && col("item") === "mean")
      .select("col_name", "value_d").head()
    assert(mean.getString(0) == "los_days" && mean.getDouble(1) == 2.0)
    // categorical: top facility is F1 with 2 of the 3 admissions
    val top1 = card.filter(col("section") === "categorical" && col("item") === "1")
      .select("value_s", "n").head()
    assert(top1.getString(0) == "F1" && top1.getLong(1) == 2L)
    // and the psi section appears when a reference sample is declared
    val withRef = ReferencePipeline.run(raw, "json", Seq("Temp"),
      cardNumericCols = Seq("los_days"), cardCategoricalCols = Seq("facility"),
      cardReference = Some(out2.joined))
    assert(withRef.datasetCard.filter(col("section") === "psi").count() == 1)

    // Z-order clustered publish of the joined table round-trips with the
    // cluster key and drops nothing (NULL month rows included)
    val dir = java.nio.file.Files.createTempDirectory("zjoined").toString
    ReferencePipeline.publishJoinedClustered(out2, s"$dir/joined_clustered",
      numFiles = 2)
    val back = spark.read.parquet(s"$dir/joined_clustered")
    assert(back.count() == out2.joined.count())
    assert(back.columns.contains("zkey"))
  }

  test("outcome-flag family rides the joined table as 1-or-NULL columns") {
    def dis(uid: String, outcome: String): String =
      s"""{"scriptid":"dis","facility":"F1","uid":"$uid",
          "started_at":"2026-01-03T10:00:00","completed_at":"2026-01-03T10:30:00",
          "entries":[{"key":"NeoTreeOutcome","values":[{"value":"D","label":"$outcome"}]},
                     {"key":"BirthWeight","values":[{"value":"2000","label":"BW"}]}]}"""
        .replaceAll("\n\\s*", "")
    def adm(uid: String): String =
      s"""{"scriptid":"adm","facility":"F1","uid":"$uid",
          "started_at":"2026-01-01T08:00:00","completed_at":"2026-01-01T08:30:00",
          "entries":[{"key":"BirthWeight","values":[{"value":"2000","label":"BW"}]}]}"""
        .replaceAll("\n\\s*", "")
    val raw2 = Seq(
      adm("f1"), dis("f1", "NND less than 24 hrs old"),
      adm("f2"), dis("f2", "Discharged")).toDF("json")
    val flags = graft.operators.DeriveColumns.referenceOutcomeFlags(
      outcomeLabel = col("NeoTreeOutcome_label"),
      birthWeight = col("birth_weight_value"),
      thermia = lit(null).cast("string"))
    val out2 = ReferencePipeline.run(raw2, "json",
      Seq("NeoTreeOutcome", "BirthWeight"), outcomeFlags = flags)
    val got = out2.joined
      .select("uid", "death_count", "death_lt_24hrs_count", "discharge_count",
        "premature_count", "hypothermia_count")
      .collect().map(r => r.getString(0) ->
        (1 until 6).map(i => if (r.isNullAt(i)) null else r.getInt(i))).toMap
    // reference CASE WHEN ... THEN 1 END: NULL (not 0) on miss, so
    // SUM/COUNT both count hits
    assert(got("F1") === Seq(1, 1, null, 1, null)) // NND<24h: death + <24h + premature(BW 2000)
    assert(got("F2") === Seq(null, null, 1, 1, null)) // discharged, still premature
  }

  test("day-1/2/3 vitals slices publish per-admission date-offset tables") {
    val s =
      """{"scriptid":"adm","uid":"u5","facility":"F1","started_at":"2026-01-05T08:00:00",
         "entries":[],"repeatables":{"vitals":[
           {"id":"m1","createdAt":"2026-01-05T08:10:00","Temp":{"value":"36.5"}},
           {"id":"m2","createdAt":"2026-01-05T12:10:00","Temp":{"value":"36.9"}},
           {"id":"m3","createdAt":"2026-01-06T08:10:00","Temp":{"value":"37.5"}},
           {"id":"m4","createdAt":"2026-01-07T08:10:00","Temp":{"value":"38.5"}}]}}"""
        .replaceAll("\n\\s*", "")
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(s).toDF("json")), "json", Seq("Temp"), Seq("Temp"),
      vitalsTables = Seq("vitals"))
    assert(out2.dayVitals.keySet === Set(1, 2, 3))
    def temps(n: Int) = out2.dayVitals(n).filter(col("uid") === "U5")
      .select("Temp_value").as[String].collect().toSet
    assert(temps(1) === Set("36.5", "36.9")) // both day-1 measurements
    assert(temps(2) === Set("37.5"))
    assert(temps(3) === Set("38.5"))
    // publish emits the reference's summary_day<N>_vitals table names
    val dir = java.nio.file.Files.createTempDirectory("graft_vitals").toString
    ReferencePipeline.publish(out2, dir)
    val published = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(Set("summary_day1_vitals", "summary_day2_vitals", "summary_day3_vitals",
      "summary_joined_vitals").subsetOf(published))
    // the joined table is the UNION ALL of the day tables, each row
    // tagged with its day (create_summary_joined_vitals_sql.py)
    val joined = spark.read.parquet(s"$dir/summary_joined_vitals")
    val dayTotals = (1 to 3)
      .map(n => spark.read.parquet(s"$dir/summary_day${n}_vitals").count()).sum
    assert(joined.count() === dayTotals)
    assert(joined.filter(col("uid") === "U5").groupBy("day").count()
      .as[(String, Long)].collect().toMap === Map("1" -> 2L, "2" -> 1L, "3" -> 1L))
  }

  test("neolab route publishes the episode summary without re-keying cultures") {
    def lab(uid: String, episode: String, bcr: String, bct: String,
            bcType: String, bcResult: String, org1v: String, org1l: String,
            started: String): String =
      s"""{"scriptid":"lab","uid":"$uid","facility":"F1",
          "started_at":"$started","completed_at":"$started",
          "entries":[{"key":"Episode","values":[{"value":"$episode","label":"Episode"}]},
                     {"key":"DateBCR","values":[{"value":"$bcr","label":"Reported"}]},
                     {"key":"DateBCT","values":[{"value":"$bct","label":"Taken"}]},
                     {"key":"BCType","values":[{"value":"$bcType","label":"Type"}]},
                     {"key":"BCResult","values":[{"value":"$bcResult","label":"Result"}]},
                     {"key":"Org1","values":[{"value":"$org1v","label":"$org1l"}]},
                     {"key":"OtherOrg1","values":[{"value":"","label":""}]}]}"""
        .replaceAll("\n\\s*", "")
    val labs = Seq(
      // episode 1, culture 1 (older report date — loses the keep-latest
      // MAX(DateBCR) within the episode, still counted in the census)
      lab("n1", "1", "2026-01-10", "2026-01-08", "CULTURE FINAL", "Pos",
        "CONS", "CoNS", "2026-01-10T08:00:00"),
      // episode 1, culture 2: submitted twice with the same culture-date
      // key — the resubmission (later started_at) must win the dedup
      lab("n1", "1", "2026-01-12", "2026-01-09", "GRAM PRELIMINARY", "PosP",
        "ECOLI", "E. coli", "2026-01-12T08:00:00"),
      lab("n1", "1", "2026-01-12", "2026-01-09", "GRAM PRELIMINARY", "NegP",
        "ECOLI", "E. coli", "2026-01-12T09:00:00"),
      // episode 2: final positive, old enough to be outside the window
      lab("n1", "2", "2026-01-02", "2026-01-01", "CULTURE FINAL", "Pos",
        "GBS", "Group B strep", "2026-01-02T08:00:00"),
      // test uid → scrubbed from the summary entirely
      lab("0000t", "1", "2026-01-05", "2026-01-04", "CULTURE FINAL", "Pos",
        "CONS", "CoNS", "2026-01-05T08:00:00"))
    val out2 = ReferencePipeline.run(
      raw.unionByName(labs.toDF("json")), "json", Seq("Temp"),
      neolabScript = Some("lab"), neolabAsOf = lit("2026-01-14"))
    val rows = out2.summaryNeolab
      .select("uid", "episode", "date_bcr", "bc_result", "status",
        "n_cultures_episode", "combined_result")
      .as[(String, String, String, String, String, Long, String)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    // keep-latest joined culture 2's CORRECTED row: NegP, within 5 days of
    // asOf → awaiting; census counts both deduped cultures of episode 1
    assert(rows(("N1", "1")) === (("N1", "1", "2026-01-12", "NegP",
      "PRELIMINARY", 2L, "Awaiting Final Result")))
    // 12 days old → window expired; plain result passes through
    assert(rows(("N1", "2")) === (("N1", "2", "2026-01-02", "Pos",
      "FINAL", 1L, "Pos")))
    assert(rows.size === 2) // the 0000-prefixed test uid never publishes
    // a run with no neolab script configured emits no table
    assert(out2.summaryNeolab != null && out.summaryNeolab == null)
    val dir = java.nio.file.Files.createTempDirectory("graft_neolab").toString
    ReferencePipeline.publish(out2, dir)
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet
      .contains("summary_neolab"))
  }

  test("vitalsTables keeps a pre-admission diagnoses row from shifting the day baseline") {
    val s =
      """{"scriptid":"adm","uid":"u5","facility":"F1","started_at":"2026-01-05T08:00:00",
         "entries":[],"repeatables":{
           "diagnoses":[{"id":"d1","createdAt":"2026-01-04T22:00:00","Temp":{"value":"x"}}],
           "vitals":[{"id":"m1","createdAt":"2026-01-05T08:10:00","Temp":{"value":"36.5"}},
                     {"id":"m2","createdAt":"2026-01-06T08:10:00","Temp":{"value":"37.5"}}]}}"""
        .replaceAll("\n\\s*", "")
    val raw2 = raw.unionByName(Seq(s).toDF("json"))
    // unscoped: no vitalsTables → NO day tables (slicing every repeat
    // group would let the day-earlier diagnoses row set the baseline and
    // publish itself as a day-1 'vital' — refuse rather than emit that)
    val unfiltered = ReferencePipeline.run(raw2, "json", Seq("Temp"), Seq("Temp"))
    assert(unfiltered.dayVitals.isEmpty)
    // filtered to the vitals table: baseline = first VITALS row
    val out2 = ReferencePipeline.run(raw2, "json", Seq("Temp"), Seq("Temp"),
      vitalsTables = Seq("vitals"))
    def temps(n: Int) = out2.dayVitals(n).filter(col("uid") === "U5")
      .select("Temp_value").as[String].collect().toSet
    assert(temps(1) === Set("36.5") && temps(2) === Set("37.5"))
  }

  test("publish hygiene: confidential and artifact columns never reach disk") {
    val s =
      """{"scriptid":"adm","uid":"u8","facility":"F1","started_at":"2026-01-08T08:00:00",
         "entries":[{"key":"FirstName","values":[{"value":"Ada","label":"First name"}]},
                    {"key":"DOBTOB","values":[{"value":"2026-01-01T01:00","label":"DOB"}]},
                    {"key":"X","values":[{"value":"artifact","label":"junk"}]},
                    {"key":"Temp","values":[{"value":"36.6","label":"T"}]}]}"""
        .replaceAll("\n\\s*", "")
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(s).toDF("json")), "json",
      Seq("Temp", "FirstName", "DOBTOB", "X"))
    // in-memory frame still carries them (analysis needs them pre-publish)
    assert(out2.admissions.columns.exists(_.contains("first_name")))
    val dir = java.nio.file.Files.createTempDirectory("graft_hygiene").toString
    ReferencePipeline.publish(out2, dir)
    val back = spark.read.parquet(s"$dir/admissions")
    val lc = back.columns.map(_.toLowerCase).toSet
    assert(!lc.exists(_.contains("firstname")) && !lc.exists(_.contains("first_name")),
      back.columns.mkString(","))
    assert(!lc.exists(_.contains("dobtob")), back.columns.mkString(","))
    assert(!back.columns.exists(_.length == 1), back.columns.mkString(","))
    assert(lc.contains("temp_value")) // clinical content survives
  }

  test("cross-facility union views align drifting schemas and publish as *_all") {
    def fac(uid: String, facility: String, key: String): String =
      s"""{"scriptid":"adm","uid":"$uid","facility":"$facility",
          "started_at":"2026-01-02T08:00:00","completed_at":"2026-01-02T08:30:00",
          "entries":[{"key":"$key","values":[{"value":"36.6","label":"T"}]}]}"""
        .replaceAll("\n\\s*", "")
    // schema drift: facility A widened Temp, facility B TempNew
    val outA = ReferencePipeline.run(Seq(fac("a1", "FA", "Temp")).toDF("json"),
      "json", Seq("Temp"))
    val outB = ReferencePipeline.run(Seq(fac("b1", "FB", "TempNew")).toDF("json"),
      "json", Seq("TempNew"))
    val dir = java.nio.file.Files.createTempDirectory("graft_union").toString
    ReferencePipeline.publishWithUnions(Seq("fa" -> outA, "fb" -> outB), dir)
    val all = spark.read.parquet(s"$dir/all/admissions_all")
    assert(all.count() === 2)
    val lc = all.columns.map(_.toLowerCase).toSet
    assert(lc.contains("temp_value") && lc.contains("temp_new_value"))
    // NULL-padded where the facility never had the column
    assert(all.filter(col("uid") === "B1").select("temp_value").head.isNullAt(0))
    // per-facility tables also published
    assert(new java.io.File(s"$dir/fa/admissions").isDirectory)
    // the union itself adds no shuffle: no Exchange directly above the
    // union branches beyond what each branch already contains
    val u = ReferencePipeline.unionViews(Seq(outA, outB))
      .find(_._1 == "admissions_all").get._2
    val p = u.queryExecution.executedPlan.toString
    val branchExchanges = Seq(outA, outB).map(o =>
      "Exchange".r.findAllIn(o.admissions.queryExecution.executedPlan.toString).size).sum
    assert("Exchange".r.findAllIn(p).size <= branchExchanges, p.take(2000))
    assert(p.contains("Union"), p.take(2000))
  }

  test("repeatables output: per-measurement rows ride the pipeline keys") {
    val s =
      """{"scriptid":"adm","uid":"u5","facility":"F1","started_at":"2026-01-05T08:00:00",
         "entries":[],"repeatables":{"vitals":[
           {"id":"m1","createdAt":"2026-01-05T08:10:00","Temp":{"value":"36.5"}},
           {"id":"m2","createdAt":"2026-01-05T12:10:00","Temp":{"value":"37.5"}}]}}"""
        .replaceAll("\n\\s*", "")
    val out2 = ReferencePipeline.run(
      raw.unionByName(Seq(s).toDF("json")), "json", Seq("Temp"), Seq("Temp"))
    val vitals = out2.repeatables.filter(col("uid") === "U5")
    assert(vitals.count() == 2)
    assert(vitals.select("Temp_value").as[String].collect().toSet == Set("36.5", "37.5"))
  }

  private def runWithCard(persistShared: Boolean, raw: org.apache.spark.sql.DataFrame = raw) =
    ReferencePipeline.run(raw, "json", Seq("Temp"),
      cardNumericCols = Seq("los_days"), cardCategoricalCols = Seq("facility"),
      neolabScript = Some("lab"), persistShared = persistShared)

  /** The RDD under each shared cut frame's `LogicalRDD` leaf. */
  private def cutRddIds(out: ReferencePipeline.Outputs): Set[Int] = out.shared.map(
    _.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id)
    .toSet

  private def persistentRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("persistShared: the tables derived from joined read the cut, not a second bestMatch") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plans = new AdaptiveSparkPlanHelper {}
    // the bestMatch join is the one keyed on the base uid
    def bestMatchJoins(p: SparkPlan) = plans.collect(p) {
      case j: BaseJoinExec if j.expressions.flatMap(_.references).exists(_.name == "base_uid") => j
    }
    def cacheScans(p: SparkPlan) = plans.collect(p) { case s: InMemoryTableScanExec => s }
    def derivedTables(out: ReferencePipeline.Outputs) = Seq(
      "summary_counts" -> out.summaryCounts, "completeness" -> out.completeness,
      "summary_baseline" -> out.summaryBaseline, "dataset_card" -> out.datasetCard)
      .map { case (name, df) => name -> df.queryExecution.executedPlan }

    // control: without the cut, every one of them re-runs bestMatch
    derivedTables(runWithCard(persistShared = false)).foreach { case (name, plan) =>
      assert(bestMatchJoins(plan).nonEmpty, s"$name: expected the bestMatch join in\n$plan")
    }

    val out2 = runWithCard(persistShared = true)
    try derivedTables(out2).foreach { case (name, plan) =>
      assert(bestMatchJoins(plan).isEmpty, s"$name re-runs bestMatch:\n$plan")
      // a cache scan would mean the table still carries (and re-plans)
      // the whole tree above the fan-out point
      assert(cacheScans(plan).isEmpty, s"$name reads a cached plan, not the cut:\n$plan")
    } finally out2.shared.foreach(graft.plans.Iterative.release)
  }

  test("persistShared: no published table scans the raw input") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val plans = new AdaptiveSparkPlanHelper {}
    val rawDir = java.nio.file.Files.createTempDirectory("graft_raw").toString + "/sessions"
    raw.write.text(rawDir)
    val rawFiles = spark.read.text(rawDir).withColumnRenamed("value", "json")
    def rawScans(out: ReferencePipeline.Outputs) = ReferencePipeline.tableList(out).map {
      case (name, df) => name -> plans.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(rawDir)) => s
      }
    }.filter(_._2.nonEmpty).map(_._1)

    // control: without the cut, the tables that branch off the parsed
    // rows plan their own scan of the raw files
    val lazyOut = runWithCard(persistShared = false, rawFiles)
    assert(Set("exceptions", "summary_neolab", "joined").subsetOf(rawScans(lazyOut).toSet))

    val out2 = runWithCard(persistShared = true, rawFiles)
    try assert(rawScans(out2).isEmpty, "tables scanning the raw JSON")
    finally out2.shared.foreach(graft.plans.Iterative.release)
  }

  test("a failed publish still releases the shared persists") {
    // a regular file where the publish directory should be fails the
    // first table's write
    val notADir = java.nio.file.Files.createTempFile("graft_publish", ".file").toString
    val out2 = runWithCard(persistShared = true)
    val ids = cutRddIds(out2)
    assert(out2.shared.size == 3 && ids.size == 3)
    assert(ids.subsetOf(persistentRddIds), "the cuts' blocks are not held before publish")
    intercept[Exception](ReferencePipeline.publish(out2, notADir))
    assert((ids & persistentRddIds).isEmpty, "publish leaked the shared cuts after a failed write")
    // a released frame fails loudly instead of silently recomputing
    val e = intercept[org.apache.spark.SparkException](out2.joined.count())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)

    val outA = runWithCard(persistShared = true)
    val idsA = cutRddIds(outA)
    assert(idsA.size == 3 && idsA.subsetOf(persistentRddIds))
    intercept[Exception](ReferencePipeline.publishWithUnions(Seq("fa" -> outA), notADir))
    assert((idsA & persistentRddIds).isEmpty,
      "publishWithUnions leaked the shared cuts after a failed write")
  }
}
