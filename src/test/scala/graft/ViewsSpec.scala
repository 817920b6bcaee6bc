package graft

import org.apache.spark.sql.functions._
import graft.operators.Views

/** Convenience views: sentinel scrubbing, the era migration view, and
  * pushdown through a temp view. */
class ViewsSpec extends SparkSpec {
  import spark.implicits._

  test("scrubbed nulls sentinels and Unk-prefixes, passes real values") {
    val df = Seq("2026-01-05", "NaT", "Unknown", "Unk", "ok", "NaN").toDF("v")
    val out = df.select(Views.scrubbed(col("v"))).as[Option[String]].collect().toSeq
    assert(out == Seq(Some("2026-01-05"), None, None, None, Some("ok"), None))
  }

  test("scrubbedDate yields NULL for sentinels and dates for valid strings") {
    val df = Seq("2026-01-05", "NaT", "Unknown").toDF("v")
    val out = df.select(Views.scrubbedDate(col("v")).cast("string"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(Some("2026-01-05"), None, None))
  }

  test("scrubbedDateStrict enforces shape, calendar validity, and range") {
    // each arm of the reference's CASE (assorted_queries.py:649-670):
    // sentinel / empty / NULL / regex-fail / calendar-invalid / year-zero
    // all NULL; a real shaped in-range date survives
    val df = Seq(
      Some("2021-02-03"), Some("NaT"), Some(""), None,
      Some("96/01/01"), Some("2021-3-4"), Some("2021-13-45"),
      Some("0000-01-01"), Some("9999-12-31")).toDF("v")
    val out = df.select(Views.scrubbedDateStrict(col("v")).cast("string"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(Some("2021-02-03"), None, None, None,
      None, None, None, None, Some("9999-12-31")))
  }

  test("eraMigrationView: either-date era window over strictly scrubbed columns") {
    val df = Seq(
      // (facility, discharge, death) → kept?
      ("SMCH", "2021-02-10", null),         // discharge in era → kept
      ("SMCH", "2020-01-01", "2021-03-01"), // death rescues the row
      ("SMCH", "2020-01-01", null),         // both pre-era → dropped
      ("SMCH", "garbage", "2021-13-45"),    // nothing valid → dropped
      ("OTH", "2021-02-10", null)           // facility gate → dropped
    ).toDF("facility", "dis", "death")
    val out = graft.operators.Views.eraMigrationView(df, Seq("dis", "death"),
      col("facility") === "SMCH", lit("2021-02-01").cast("date"))
    val got = out.select(col("dis").cast("string"), col("death").cast("string"))
      .as[(Option[String], Option[String])].collect().toSet
    assert(got === Set(
      (Some("2021-02-10"), None),
      (Some("2020-01-01"), Some("2021-03-01"))))
    // the raw strings were REPLACED by their scrubbed date form
    assert(out.schema("dis").dataType.typeName == "date")
  }

  test("views stay transparent to pushdown: filter through a view reaches the scan") {
    graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "orders")
      .createOrReplaceTempView("orders")
    val q = spark.sql("SELECT o_orderkey FROM orders WHERE o_orderkey = 42")
    val leaves = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaves.contains("PushedFilters") && leaves.contains("EqualTo(o_orderkey,42)"),
      leaves.take(800))
  }
}
