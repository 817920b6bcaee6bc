package graft

import org.apache.spark.sql.functions._
import graft.operators.{DeriveColumns, KeyRepair, Validation}

/** Round-3 repair/rules operators: unique-key regeneration, profile-gated
  * date cast, declarative validation rule-sets.
  */
class RepairRulesSpec extends SparkSpec {
  import spark.implicits._

  test("regenerateUniqueKeys: two DIFFERENT records sharing a uid survive distinctly") {
    val df = Seq(
      ("u1", "admission", "2026-01-01"), // u1 carries two different contents
      ("u1", "discharge", "2026-01-02"), //   → collision: both get uid#date
      ("u2", "admission", "2026-01-03"), // clean uid → unchanged
      (null, "admission", "2026-01-04"), // missing uid → date fallback
      ("u3", "admission", "2026-01-05"), // true duplicates (same content)
      ("u3", "admission", "2026-01-05")  //   → NOT a collision, keep uid
    ).toDF("uid", "content", "date_admission")
    val out = KeyRepair.regenerateUniqueKeys(df, "uid",
      Seq("content"), Seq(col("date_admission")))
    val keys = out.select("unique_key").as[String].collect().toSeq
    assert(keys.toSet == Set("u1#2026-01-01", "u1#2026-01-02", "u2",
      "2026-01-04", "u3"))
    // the colliding pair is now distinct; the true-dup pair still collapses
    assert(keys.distinct.size == 5 && keys.size == 6)
  }

  test("regenerateUniqueKeys: collision WITHOUT a fallback keeps the bare uid (keep-latest wins)") {
    val df = Seq(
      ("u4", "v1", null.asInstanceOf[String]),
      ("u4", "v2", null.asInstanceOf[String])
    ).toDF("uid", "content", "date_admission")
    val keys = KeyRepair.regenerateUniqueKeys(df, "uid", Seq("content"),
      Seq(col("date_admission"))).select("unique_key").as[String].collect()
    // nothing distinguishes a resubmission from a shared-uid pair here;
    // the reference's default is keep-latest dedup on the uid
    assert(keys.toSeq == Seq("u4", "u4"))
  }

  test("regenerateUniqueKeys: scope columns keep cross-script uid sharing out of collision") {
    val df = Seq(
      ("u6", "adm", "admission-payload", "2026-01-01"),
      ("u6", "dis", "discharge-payload", "2026-01-02")
    ).toDF("uid", "script", "content", "d")
    val scoped = KeyRepair.regenerateUniqueKeys(df, "uid", Seq("content"),
      Seq(col("d")), scopeCols = Seq("script"))
      .select("unique_key").as[String].collect().toSet
    assert(scoped == Set("u6")) // same patient, two forms — NOT a collision
    val unscoped = KeyRepair.regenerateUniqueKeys(df, "uid", Seq("content"),
      Seq(col("d"))).select("unique_key").as[String].collect().toSet
    assert(unscoped == Set("u6#2026-01-01", "u6#2026-01-02"))
  }

  test("regenerateUniqueKeys: all-null content adds no phantom variant (COUNT DISTINCT parity)") {
    val df = Seq(
      ("u5", null.asInstanceOf[String], "2026-01-01"),
      ("u5", "a", "2026-01-02")
    ).toDF("uid", "content", "date_admission")
    val keys = KeyRepair.regenerateUniqueKeys(df, "uid", Seq("content"),
      Seq(col("date_admission"))).select("unique_key").as[String].collect().toSet
    assert(keys == Set("u5")) // one real variant → no collision
  }

  test("regenerateUniqueKeys: fallback precedence follows the given order") {
    val df = Seq(
      (null.asInstanceOf[String], "a", null.asInstanceOf[String], "2026-02-02"),
      (null.asInstanceOf[String], "b", "2026-02-01", "2026-02-02")
    ).toDF("uid", "content", "date_admission", "date_death")
    val out = KeyRepair.regenerateUniqueKeys(df, "uid", Seq("content"),
      Seq(col("date_admission"), col("date_death")))
    val keys = out.orderBy("content").select("unique_key").as[String].collect()
    assert(keys.toSeq == Seq("2026-02-02", "2026-02-01"))
  }

  test("profileGatedDateCast: 95%-valid column casts, 50%-valid stays text") {
    val rows = (1 to 100).map { i =>
      (i.toLong,
        if (i % 20 == 0) "junk" else "2026-01-15",  // 95% valid
        if (i % 2 == 0) "junk" else "2026-01-15")   // 50% valid
    }
    val df = rows.toDF("id", "mostly_good", "half_bad")
    val out = DeriveColumns.profileGatedDateCasts(df, Seq(
      ("mostly_good", Seq("yyyy-MM-dd"), 90.0),
      ("half_bad", Seq("yyyy-MM-dd"), 90.0)))
    assert(out.schema("mostly_good").dataType.typeName == "timestamp")
    assert(out.schema("half_bad").dataType.typeName == "string")
    // invalid values in the cast column became NULL; valid ones parsed
    assert(out.filter(col("mostly_good").isNull).count() == 5)
  }

  test("profileGatedDateCast: all-null column passes vacuously (nothing to disprove)") {
    val df = Seq((1L, null.asInstanceOf[String])).toDF("id", "dt")
    val out = DeriveColumns.profileGatedDateCasts(df, Seq(("dt", Seq("yyyy-MM-dd"), 90.0)))
    assert(out.schema("dt").dataType.typeName == "timestamp")
  }

  test("validation exceptions: one row per violated rule, with reason codes") {
    val df = Seq(
      (1L, Some(5.0), "OK"),    // too low
      (2L, Some(50.0), "BAD"),  // set violation
      (3L, None, "BAD"),        // null AND set violation → two rows
      (4L, Some(20.0), "OK")    // clean
    ).toDF("id", "v", "s")
    val out = Validation.exceptions(df, Seq("id"), Seq(
      Validation.NotNull("v", "v_null"),
      Validation.Min("v", 10.0, "v_low"),
      Validation.InSet("s", Seq("OK"), "bad_s")))
    val got = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      (1L, "v", "v_low", "5.0"),
      (2L, "s", "bad_s", "BAD"),
      (3L, "v", "v_null", null),
      (3L, "s", "bad_s", "BAD")))
  }

  test("validation rules compose onto a stream unchanged (stateless exceptions feed)") {
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val df = in.toDF().toDF("id", "v")
    val exc = Validation.exceptions(df, Seq("id"), Seq(
      Validation.Min("v", 10.0, "v_low"), Validation.Max("v", 100.0, "v_high")))
    val q = exc.writeStream.format("memory").queryName("rules_exc")
      .outputMode("append").start()
    in.addData((1L, 5.0), (2L, 50.0), (3L, 500.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rules_exc").select("id", "code")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "v_low"), (3L, "v_high")))
  }

  test("fromFieldInfoDf compiles a metadata frame to the hand-authored rule list") {
    val meta = Seq(
      ("temp", "number", false, Some(30.0), Some(45.0), Seq.empty[String]),
      ("adm", "date", true, None, None, Seq.empty[String]),
      ("mode", "", true, None, None, Seq("SVD", "CS")))
      .toDF("key", "data_type", "optional", "min_value", "max_value", "options")
    val rules = Validation.fromFieldInfoDf(meta)
    // sorted by key (adm, mode, temp); per field: required → range →
    // format → options, with the derived code naming scheme
    assert(rules.map(r => (r.column, r.code)) === Seq(
      ("adm_value", "adm_bad_datetime"),
      ("mode_value", "mode_bad_value"),
      ("temp_value", "temp_required"),
      ("temp_value", "temp_below_min"),
      ("temp_value", "temp_above_max"),
      ("temp_value", "temp_non_numeric")))
    // and the generated rules behave: sentinels fire required, garbage
    // fires format not range, out-of-range numerics fire range
    val df = Seq(
      (1L, "36.5", "2026-01-01", "SVD"),  // clean
      (2L, "nan", "2026-01-01", "SVD"),   // temp_required (pandas sentinel)
      (3L, "abc", "NaT", "SVD"),          // temp_non_numeric + adm_bad_datetime
      (4L, "99.0", "2026-01-01", "HOME")  // temp_above_max + mode_bad_value
    ).toDF("id", "temp_value", "adm_value", "mode_value")
    val out = Validation.exceptions(df, Seq("id"), rules)
      .select("id", "code").as[(Long, String)].collect().toSet
    assert(out === Set(
      // 'nan' is missing (required) AND format garbage (non-numeric) —
      // but NOT out of range: NaN must not trip the max-bound comparison
      (2L, "temp_required"), (2L, "temp_non_numeric"),
      (3L, "temp_non_numeric"), (3L, "adm_bad_datetime"),
      (4L, "temp_above_max"), (4L, "mode_bad_value")))
  }

  test("fromFieldInfo: boolean type and custom column naming") {
    val rules = Validation.fromFieldInfo(
      Seq(Validation.FieldInfo("alive", dataType = "yesno", optional = false)),
      colName = identity)
    assert(rules.map(_.code) === Seq("alive_required", "alive_bad_boolean"))
    val out = Validation.exceptions(
      Seq((1L, "Y"), (2L, "maybe"), (3L, "")).toDF("id", "alive"),
      Seq("id"), rules).select("id", "code").as[(Long, String)].collect().toSet
    assert(out === Set((2L, "alive_bad_boolean"), (3L, "alive_required")))
  }

  test("LabelMatchesOption: coded value must carry its expected label (case-insensitive)") {
    val rules = Seq(Validation.LabelMatchesOption(
      "mode_value", "mode_label", Map("SVD" -> "Normal delivery", "CS" -> "Caesarean"),
      "mode_label_mismatch"))
    val df = Seq(
      (1L, "SVD", "normal delivery"), // case-insensitive match → clean
      (2L, "SVD", "Caesarean"),       // wrong label → flagged
      (3L, "OTH", "whatever"),        // value not in options → passes
      (4L, "CS", null),               // missing label for mapped value → flagged
      (5L, "", "x")                   // blank value → passes
    ).toDF("id", "mode_value", "mode_label")
    val out = Validation.exceptions(df, Seq("id"), rules)
      .select("id").as[Long].collect().toSet
    assert(out === Set(2L, 4L))
  }

  test("SimilarToLabel: levenshtein-ratio gate mirrors the 90%-similar contract") {
    val rules = Seq(Validation.SimilarToLabel(
      "lbl", "Coagulase negative staphylococcus", 0.9, "lbl_drift"))
    val df = Seq(
      (1L, "Coagulase negative staphylococcus"),  // exact → clean
      (2L, "coagulase negative Staphylococcus"),  // case only → clean
      (3L, "Coagulase negative staphylococus"),   // one-char typo ≈ 0.97 → clean
      (4L, "Klebsiella sp.")                      // unrelated → flagged
    ).toDF("id", "lbl")
    val out = Validation.exceptions(df, Seq("id"), rules)
      .select("id").as[Long].collect().toSet
    assert(out === Set(4L))
  }

  test("fromFieldInfo emits the label rule when option labels exist in metadata") {
    val meta = Seq(
      ("mode", "", true, None: Option[Double], None: Option[Double],
        Seq("SVD", "CS"), Map("SVD" -> "Normal delivery", "CS" -> "Caesarean")))
      .toDF("key", "data_type", "optional", "min_value", "max_value",
        "options", "option_labels")
    val rules = Validation.fromFieldInfoDf(meta)
    assert(rules.map(_.code) === Seq("mode_bad_value", "mode_label_mismatch"))
    val df = Seq((1L, "CS", "Caesarean"), (2L, "CS", "C-section"))
      .toDF("id", "mode_value", "mode_label")
    val out = Validation.exceptions(df, Seq("id"), rules)
      .select("id", "code").as[(Long, String)].collect().toSet
    assert(out === Set((2L, "mode_label_mismatch")))
  }

  test("coerceByFieldInfo casts wide columns per metadata, reference null semantics") {
    val meta = Seq(
      Validation.FieldInfo("temp", dataType = "number"),
      Validation.FieldInfo("alive", dataType = "boolean"),
      Validation.FieldInfo("adm", dataType = "date"),
      Validation.FieldInfo("mode", dataType = "dropdown"),
      Validation.FieldInfo("ghost", dataType = "number")) // no such column → skipped
    val df = Seq(
      (1L, "36.5", "Yes", "2026-01-01", "SVD"),
      (2L, "oops", "maybe", "NaT", "CS"),
      (3L, null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("id", "temp_value", "alive_value", "adm_value", "mode_value")
    val out = DeriveColumns.coerceByFieldInfo(df, meta).orderBy("id")
    val types = out.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("temp_value") === "double" && types("alive_value") === "boolean")
    assert(types("adm_value") === "timestamp" && types("mode_value") === "string")
    val rows = out.collect()
    assert(rows(0).getDouble(1) === 36.5 && rows(0).getBoolean(2))
    assert(rows(1).isNullAt(1) && !rows(1).getBoolean(2) && rows(1).isNullAt(3))
    assert(rows(2).isNullAt(1) && !rows(2).getBoolean(2)) // null bool → false (fillna)
  }

  test("firstViolation: rule order is reason precedence (the q18 shape)") {
    val rules = Seq(
      Validation.NotNull("v", "null_value"),
      Validation.Min("v", 10.0, "too_low"),
      Validation.Max("v", 990.0, "too_high"))
    val df = Seq((Some(5.0), "too_low"), (None, "null_value"),
      (Some(1000.0), "too_high"), (Some(500.0), null.asInstanceOf[String]))
      .toDF("v", "expected")
    val out = df.withColumn("reason", Validation.firstViolation(rules))
    assert(out.filter(!(col("reason") <=> col("expected"))).count() == 0)
  }
}
