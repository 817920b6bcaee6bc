package graft

import org.apache.spark.sql.functions._
import graft.operators.JsonImport

/** Session-JSON ingest: both entries shapes, uid fallback recovery, and
  * wide key-value extraction.
  */
class JsonImportSpec extends SparkSpec {

  private val listShape =
    """{"scriptid":"adm","scriptVersion":"3","appVersion":"v12","facility":"F1",
       "started_at":"2026-01-01T08:00:00","completed_at":"2026-01-01T08:30:00",
       "uid":null,
       "entries":[{"key":"NeoTreeID","values":[{"value":"ab-12","label":"ID"}]},
                  {"key":"Temp","values":[{"value":"36.6","label":"Temperature"}]}]}"""
      .replaceAll("\n\\s*", "")

  private val dictShape =
    """{"scriptid":"dis","scriptVersion":"4","appVersion":"v13","facility":"F2",
       "started_at":"2026-01-02T09:00:00","completed_at":"2026-01-02T09:45:00",
       "entries":{"UID":{"values":{"value":["cd-34"]}},
                  "Temp":{"values":{"value":["37.1"]}}}}"""
      .replaceAll("\n\\s*", "")

  private val topLevelUid =
    """{"scriptid":"adm","uid":"ef-56","facility":"F3","entries":[]}"""

  private def raw = {
    import spark.implicits._
    Seq(listShape, dictShape, topLevelUid).toDF("json")
  }

  test("uid recovery: top-level wins, else entries fallbacks, uppercased") {
    val parsed = JsonImport.parseSessions(raw, "json")
    val uids = parsed.select("scriptid", "uid").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(uids == Set(("adm", "AB-12"), ("dis", "CD-34"), ("adm", "EF-56")))
  }

  test("routing by script id filters the right sessions") {
    val parsed = JsonImport.parseSessions(raw, "json")
    assert(JsonImport.routeByScript(parsed, "adm").count() == 2)
    assert(JsonImport.routeByScript(parsed, "dis").count() == 1)
  }

  test("timestamps and metadata parse") {
    val row = JsonImport.parseSessions(raw, "json")
      .filter(col("scriptid") === "dis")
      .select("facility", "script_version", "started_at", "completed_at").head
    assert(row.getString(0) == "F2" && row.getString(1) == "4")
    assert(row.getTimestamp(2).toString.startsWith("2026-01-02 09:00"))
    assert(row.getTimestamp(3).toString.startsWith("2026-01-02 09:45"))
  }

  test("extractKeyValues widens both entry shapes into value/label columns") {
    val parsed = JsonImport.parseSessions(raw, "json")
    val wide = JsonImport.extractKeyValues(parsed, Seq("Temp"))
    val byScript = wide.collect().map(r =>
      r.getString(1) -> (r.getString(2), r.getString(3))).toMap
    assert(byScript("adm") == (("36.6", "Temperature")) ||
      byScript.get("adm").exists(_._1 == null)) // the empty-entries adm row
    val nonNull = wide.filter(col("Temp_value").isNotNull).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(nonNull == Set(("adm", "36.6", "Temperature"), ("dis", "37.1", null)))
  }

  test("parseSessions over a text-dir export: corrupt rows routed, not dropped") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_raw").toString
    Seq(
      """{"scriptid":"adm","uid":"rr-1","entries":[{"key":"Temp","values":[{"value":"36","label":"T"}]}]}""",
      """definitely not json"""
    ).toDF("value").coalesce(1).write.text(s"$dir/day1")
    // spark.read.text keeps each line opaque, so a malformed document
    // reaches parseSessions' corrupt-row routing
    val parsed = JsonImport.parseSessions(
      spark.read.text(s"$dir/day*").withColumnRenamed("value", "json"), "json")
    assert(parsed.count() === 2)
    assert(parsed.filter(col("is_corrupt")).count() === 1)
    assert(parsed.filter(col("uid") === "RR-1").count() === 1)
  }

  test("explodeRepeatables: 3-measurement session yields 3 rows, both field shapes") {
    import spark.implicits._
    val session =
      """{"scriptid":"adm","uid":"ab-12","facility":"F1","entries":[],
         "repeatables":{"vitals":[
           {"id":"m1","createdAt":"2026-01-01T08:00:00","Temp":{"value":"36.5","label":"36.5 C"},"Note":"ok"},
           {"id":"m2","createdAt":"2026-01-01T12:00:00","Temp":{"value":"37.1"}},
           {"id":"m3","createdAt":"2026-01-01T16:00:00","Temp":{"value":"38.0","label":"38 C"}},
           {"createdAt":"2026-01-01T20:00:00","Temp":{"value":"39.9"}}],
          "feeds":[{"id":"f1","createdAt":"2026-01-02T08:00:00","Type":"EBM"}]}}"""
        .replaceAll("\n\\s*", "")
    val parsed = JsonImport.parseSessions(Seq(session).toDF("json"), "json")
    val rows = JsonImport.explodeRepeatables(parsed, Seq("Temp", "Type"))
    // entry without id is dropped (reference behavior); 3 vitals + 1 feed
    assert(rows.filter(col("table_name") === "vitals").count() == 3)
    assert(rows.count() == 4)
    val m1 = rows.filter(col("form_id") === "m1").head
    assert(m1.getAs[String]("Temp_value") == "36.5")
    assert(m1.getAs[String]("Temp_label") == "36.5 C")
    val f1 = rows.filter(col("form_id") === "f1").head
    assert(f1.getAs[String]("Type_value") == "EBM") // bare-scalar shape
    assert(f1.getAs[String]("Type_label") == null)
  }
}
