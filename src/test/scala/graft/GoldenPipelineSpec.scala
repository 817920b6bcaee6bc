package graft

import org.apache.spark.sql.functions._
import graft.pipeline.ReferencePipeline

/** End-to-end GOLDEN-FILE gate for the full publish composition: one
  * miniature raw-session corpus exercising every pipeline feature at once
  * (dedup, key repair + collision split, MCL discovery, combined
  * diagnoses, fuzzy recode, typed coercion + validation, best-match
  * duplicate resolution, outcome flags, day-N vitals, neolab, dataset
  * card, hygiene) replayed through `run` + `publish`, and every published
  * table hashed against `src/test/resources/golden/reference_pipeline.txt`.
  *
  * The per-operator suites pin each stage in isolation; THIS spec pins
  * their composition — a change anywhere in the chain that shifts any
  * published byte fails here, visibly. The hash is order-independent
  * (rows sorted on their full stringified form, columns sorted by name),
  * so physical plan changes that only reorder rows do NOT trip it.
  *
  * Deliberate updates: run with GRAFT_UPDATE_GOLDEN=1 to REWRITE the
  * golden file from the current behavior, then review the diff like any
  * other source change — that review IS the point of the gate.
  */
class GoldenPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val goldenPath = "src/test/resources/golden/reference_pipeline.txt"

  private def j(s: String): String = s.replaceAll("\n\\s*", "")

  private def goldenRaw = Seq(
    // u1: duplicate admission (earlier one must lose dedup), rich entries,
    // multi-valued Diagnoses (forces MCL discovery), vitals + diagnoses
    // repeat groups, TWO discharge candidates (best-match resolution:
    // the clinically-close one must win)
    j("""{"scriptid":"adm","uid":"u1","facility":"F1",
         "started_at":"2026-01-01T08:00:00","completed_at":"2026-01-01T08:30:00",
         "entries":[{"key":"Temp","values":[{"value":"36.6","label":"T"}]},
                    {"key":"BirthWeight","values":[{"value":"2000","label":"BW"}]},
                    {"key":"Gestation","values":[{"value":"30","label":"wks"}]},
                    {"key":"OFC","values":[{"value":"30","label":"cm"}]},
                    {"key":"Diagnoses","values":[{"value":"SEP","label":"Sepsis"},
                                                 {"value":"JAU","label":"Jaundice"}]}],
         "repeatables":{
           "vitals":[{"id":"m1","createdAt":"2026-01-01T08:10:00","Temp":{"value":"36.5"}},
                     {"id":"m2","createdAt":"2026-01-01T12:10:00","Temp":{"value":"36.9"}},
                     {"id":"m3","createdAt":"2026-01-02T08:10:00","Temp":{"value":"37.5"}},
                     {"id":"m4","createdAt":"2026-01-03T08:10:00","Temp":{"value":"38.5"}}],
           "diagnoses":[{"id":"d1","createdAt":"2026-01-01T09:00:00","Diag":{"value":"Asphyxia"}}]}}"""),
    j("""{"scriptid":"adm","uid":"u1","facility":"F1",
         "started_at":"2026-01-01T07:00:00","completed_at":"2026-01-01T07:20:00",
         "entries":[{"key":"Temp","values":[{"value":"35.0","label":"T"}]}]}"""),
    j("""{"scriptid":"dis","uid":"u1","facility":"F1",
         "started_at":"2026-01-04T10:00:00","completed_at":"2026-01-04T10:30:00",
         "entries":[{"key":"NeoTreeOutcome","values":[{"value":"D","label":"NND less than 24 hrs old"}]},
                    {"key":"BirthWeight","values":[{"value":"2010","label":"BW"}]},
                    {"key":"Gestation","values":[{"value":"30","label":"wks"}]},
                    {"key":"OFC","values":[{"value":"31","label":"cm"}]}]}"""),
    j("""{"scriptid":"dis","uid":"u1","facility":"F1",
         "started_at":"2026-01-05T10:00:00","completed_at":"2026-01-05T10:30:00",
         "entries":[{"key":"NeoTreeOutcome","values":[{"value":"DC","label":"Discharged"}]},
                    {"key":"BirthWeight","values":[{"value":"3500","label":"BW"}]},
                    {"key":"Gestation","values":[{"value":"40","label":"wks"}]},
                    {"key":"OFC","values":[{"value":"40","label":"cm"}]}]}"""),
    // u2: Fahrenheit outlier (validation rule fires), no discharge
    j("""{"scriptid":"adm","uid":"u2","facility":"F1",
         "started_at":"2026-01-02T09:00:00","completed_at":"2026-01-02T09:30:00",
         "entries":[{"key":"Temp","values":[{"value":"98.6","label":"T"}]}]}"""),
    // u3: clean F2 admission + discharge
    j("""{"scriptid":"adm","uid":"u3","facility":"F2",
         "started_at":"2026-02-01T11:00:00","completed_at":"2026-02-01T11:30:00",
         "entries":[{"key":"Temp","values":[{"value":"36.9","label":"T"}]},
                    {"key":"Diagnoses","values":[{"value":"PRE","label":"Prematurity"}]}]}"""),
    j("""{"scriptid":"dis","uid":"u3","facility":"F2",
         "started_at":"2026-02-02T12:00:00","completed_at":"2026-02-02T12:30:00",
         "entries":[{"key":"NeoTreeOutcome","values":[{"value":"DC","label":"Discharged"}]}]}"""),
    // u4: 'Oth'-gated fuzzy recode from free text
    j("""{"scriptid":"adm","uid":"u4","facility":"F1",
         "started_at":"2026-01-08T08:00:00","completed_at":"2026-01-08T08:30:00",
         "entries":[{"key":"Org1","values":[{"value":"Oth","label":"Other organism"}]},
                    {"key":"OtherOrg1","values":[{"value":"found KLESIELLA colonies","label":"Other"}]}]}"""),
    // u5 collision: same uid, same script, DIFFERENT payloads → uid#date
    // split keeps both records
    j("""{"scriptid":"adm","uid":"u5","facility":"F2",
         "started_at":"2026-01-09T08:00:00","completed_at":"2026-01-09T08:30:00",
         "entries":[{"key":"Temp","values":[{"value":"36.0","label":"T"}]},
                    {"key":"DateAdmission","values":[{"value":"2026-01-09","label":"adm"}]}]}"""),
    j("""{"scriptid":"adm","uid":"u5","facility":"F2",
         "started_at":"2026-01-10T08:00:00","completed_at":"2026-01-10T08:30:00",
         "entries":[{"key":"Temp","values":[{"value":"39.0","label":"T"}]},
                    {"key":"DateAdmission","values":[{"value":"2026-01-10","label":"adm"}]}]}"""),
    // uid-less WITH a recoverable date entry → repaired key
    j("""{"scriptid":"adm","facility":"F1",
         "started_at":"2026-01-11T08:00:00","completed_at":"2026-01-11T08:30:00",
         "entries":[{"key":"DateAdmission","values":[{"value":"2026-01-11","label":"adm"}]},
                    {"key":"Temp","values":[{"value":"37.1","label":"T"}]}]}"""),
    // unrecoverable: uid-less, date-less → exceptions
    j("""{"scriptid":"adm","entries":[]}"""),
    // corrupt → exceptions
    """broken json {{{""",
    // neolab route: keep-latest within (uid, month, culture-date),
    // resubmission correction, test-uid scrub, awaiting-window grading
    j("""{"scriptid":"lab","uid":"n1","facility":"F1",
         "started_at":"2026-01-10T08:00:00","completed_at":"2026-01-10T08:30:00",
         "entries":[{"key":"Episode","values":[{"value":"1","label":"Episode"}]},
                    {"key":"DateBCR","values":[{"value":"2026-01-10","label":"Reported"}]},
                    {"key":"DateBCT","values":[{"value":"2026-01-08","label":"Taken"}]},
                    {"key":"BCType","values":[{"value":"CULTURE FINAL","label":"Type"}]},
                    {"key":"BCResult","values":[{"value":"Pos","label":"Result"}]},
                    {"key":"Org1","values":[{"value":"CONS","label":"CoNS"}]},
                    {"key":"OtherOrg1","values":[{"value":"","label":""}]}]}"""),
    j("""{"scriptid":"lab","uid":"n1","facility":"F1",
         "started_at":"2026-01-12T08:00:00","completed_at":"2026-01-12T08:30:00",
         "entries":[{"key":"Episode","values":[{"value":"1","label":"Episode"}]},
                    {"key":"DateBCR","values":[{"value":"2026-01-12","label":"Reported"}]},
                    {"key":"DateBCT","values":[{"value":"2026-01-09","label":"Taken"}]},
                    {"key":"BCType","values":[{"value":"GRAM PRELIMINARY","label":"Type"}]},
                    {"key":"BCResult","values":[{"value":"NegP","label":"Result"}]},
                    {"key":"Org1","values":[{"value":"ECOLI","label":"E. coli"}]},
                    {"key":"OtherOrg1","values":[{"value":"","label":""}]}]}"""),
    j("""{"scriptid":"lab","uid":"0000t","facility":"F1",
         "started_at":"2026-01-05T08:00:00","completed_at":"2026-01-05T08:30:00",
         "entries":[{"key":"Episode","values":[{"value":"1","label":"Episode"}]},
                    {"key":"DateBCR","values":[{"value":"2026-01-05","label":"Reported"}]},
                    {"key":"DateBCT","values":[{"value":"2026-01-04","label":"Taken"}]},
                    {"key":"BCType","values":[{"value":"CULTURE FINAL","label":"Type"}]},
                    {"key":"BCResult","values":[{"value":"Pos","label":"Result"}]},
                    {"key":"Org1","values":[{"value":"CONS","label":"CoNS"}]},
                    {"key":"OtherOrg1","values":[{"value":"","label":""}]}]}""")
  ).toDF("json")

  private def fullRun(persistShared: Boolean = true) = ReferencePipeline.run(goldenRaw, "json",
    keys = Seq("Temp", "NeoTreeOutcome", "BirthWeight", "Gestation", "OFC",
      "Org1", "OtherOrg1"),
    repeatableKeys = Seq("Temp", "Diag"),
    fuzzyRules = Seq(("Org1", "OtherOrg1", Seq(
      graft.operators.FuzzyRecode.Rule(
        Seq("klesiella", "klebsiella", "kleb"), "KLS", "Klebsiella sp.")))),
    fieldInfo = Seq(
      graft.operators.Validation.FieldInfo("Temp", dataType = "number",
        optional = false, minValue = Some(30.0), maxValue = Some(43.0))),
    outcomeFlags = graft.operators.DeriveColumns.referenceOutcomeFlags(
      outcomeLabel = col("NeoTreeOutcome_label"),
      birthWeight = col("birth_weight_value"),
      thermia = lit(null).cast("string")),
    vitalsTables = Seq("vitals"),
    neolabScript = Some("lab"), neolabAsOf = lit("2026-01-14"),
    cardNumericCols = Seq("los_days"), cardCategoricalCols = Seq("facility"),
    persistShared = persistShared)

  /** Order-independent stable digest: columns sorted by name, every value
    * stringified (NULL → ␀ sentinel distinct from ""), rows sorted, md5
    * over the row stream. Byte-equal across physical plans and row orders.
    */
  private def tableDigest(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toIndexedSeq
    val rows = df
      .select(cols.map(c => coalesce(col(c).cast("string"), lit("␀")).as(c)): _*)
      .collect().map(_.mkString("")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  test("full publish matches the golden digests table for table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden").toString
    ReferencePipeline.publish(fullRun(), dir)
    val published = new java.io.File(dir).listFiles().map(_.getName).sorted
    val got = published.map { name =>
      val (n, h) = tableDigest(spark.read.parquet(s"$dir/$name"))
      s"$name $n $h"
    }.toSeq
    val goldenFile = new java.io.File(goldenPath)
    if (sys.env.get("GRAFT_UPDATE_GOLDEN").contains("1")) {
      goldenFile.getParentFile.mkdirs()
      java.nio.file.Files.writeString(goldenFile.toPath,
        got.mkString("", "\n", "\n"))
      info(s"golden file rewritten: $goldenPath (${got.size} tables)")
    } else {
      assert(goldenFile.isFile,
        s"golden file missing — run once with GRAFT_UPDATE_GOLDEN=1 to create $goldenPath")
      val want = java.nio.file.Files.readAllLines(goldenFile.toPath)
        .toArray.map(_.toString).filter(_.nonEmpty).toSeq
      // compare as aligned name→digest maps so a failure names the table
      def toMap(ls: Seq[String]) =
        ls.map { l => val p = l.split(" "); p(0) -> (p(1), p(2)) }.toMap
      val (g, w) = (toMap(got), toMap(want))
      assert(g.keySet == w.keySet,
        s"published table set drifted: +${g.keySet -- w.keySet} -${w.keySet -- g.keySet}")
      val diffs = g.keySet.toSeq.sorted.flatMap { t =>
        if (g(t) == w(t)) None
        else Some(s"$t: got rows=${g(t)._1} md5=${g(t)._2}, golden rows=${w(t)._1} md5=${w(t)._2}")
      }
      assert(diffs.isEmpty, "composition drift:\n" + diffs.mkString("\n"))
    }
  }

  /** Every published table of `dir` as name → (rows, md5). */
  private def publishedDigests(dir: String): Map[String, (Long, String)] =
    new java.io.File(dir).listFiles().map(_.getName)
      .map(name => name -> tableDigest(spark.read.parquet(s"$dir/$name"))).toMap

  test("persistShared changes no published table and leaves nothing cached") {
    // suites share one session; start from an empty cache so the check
    // below sees only this run's entries
    spark.catalog.clearCache()
    val cached = java.nio.file.Files.createTempDirectory("graft_golden_cached").toString
    val lazyDir = java.nio.file.Files.createTempDirectory("graft_golden_lazy").toString
    ReferencePipeline.publish(fullRun(persistShared = true), cached)
    assert(spark.sharedState.cacheManager.isEmpty,
      "publish left a shared persist in the cache")
    ReferencePipeline.publish(fullRun(persistShared = false), lazyDir)
    val (c, l) = (publishedDigests(cached), publishedDigests(lazyDir))
    assert(c.keySet == l.keySet)
    val diffs = c.keySet.toSeq.sorted.filter(t => c(t) != l(t))
      .map(t => s"$t: persisted ${c(t)}, unpersisted ${l(t)}")
    assert(diffs.isEmpty, "persistShared changed published tables:\n" + diffs.mkString("\n"))
  }
}
