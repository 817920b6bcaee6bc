package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Derived-column operators: bucketing, date derivation, multi-format
  * timestamp normalization, dictionary recode, conditional record fixes.
  *
  * Reference semantics:
  *  - CASE-WHEN bucket/recode columns (TempGroup, WeightGroup, Gestation
  *    Group…) (reference: queries/create_summary_admissions_sql.py:120,
  *    data_tyding/create_derived_columns.py:1)
  *  - MonthYear + sortable month key + length-of-stay + <24h-death flags
  *    (reference: derive_data/create_joined_table_and_derived_columns.py)
  *  - multi-format date parsing with regex dispatch
  *    (reference: utils/custom_date_formatter.py:1, date_validator.py)
  *  - label dictionary fixes (reference: utils/data_label_fixes.py,
  *    fix_data_labels.py)
  *  - manual record repairs (reference:
  *    nodes_grouped/step_3_nodes/manually_fix_admissions_records.py:1).
  *
  * Scale notes: everything here is a pure Column expression — codegen'd,
  * pushdown-friendly, zero UDFs, zero shuffles.
  */
object DeriveColumns {

  /** First alias actually present in the frame's schema (case-insensitive)
    * — the reference's column-presence gates over historical export
    * schemas (`if 'BirthWeight.value' in table: … elif 'BW.value' …`,
    * data_tyding/create_derived_columns.py:61-86/184-225, where the same
    * clinical field arrived as BirthWeight/BW/Bw depending on script
    * vintage). Plan-time schema resolution — never a data scan.
    */
  def firstPresent(df: DataFrame, aliases: Seq[String]): Option[String] = {
    val have = df.columns.map(c => c.toLowerCase -> c).toMap
    aliases.collectFirst { case a if have.contains(a.toLowerCase) => have(a.toLowerCase) }
  }

  /** [[bucket]] with the reference's pandas-ladder NULL semantics: the
    * ladder's blanket "Unknown" assignment survives wherever no numeric
    * condition overwrites it, so NULL (including coercion garbage that
    * `try_cast` nulled) → `unknownLabel` instead of propagating
    * (create_derived_columns.py:64 BWGroup, :93 AWGroup, :174 TempThermia).
    */
  def bucketOrUnknown(value: Column, thresholds: Seq[(Double, String)],
                      lastLabel: String, unknownLabel: String): Column =
    when(value.isNull, lit(unknownLabel)).otherwise(bucket(value, thresholds, lastLabel))

  /** Cascading source fallback with a terminal default: the reference's
    * AdmissionSource/EXTERNALSOURCE DAX replication (`IF(ISBLANK(
    * AdmittedFrom), "External Referral", AdmittedFrom)` with ReferredFrom
    * / ReferredFrom2 fallbacks, create_derived_columns.py:17-30). NOTE the
    * reference fillna's AdmittedFrom with the default BEFORE cascading, so
    * its fallbacks are unreachable; this operator applies the default
    * LAST (the evident intent) — callers wanting the reference's literal
    * behavior pass only the primary column.
    */
  def cascadeSource(sources: Seq[Column], default: Column): Column =
    coalesce(sources :+ default: _*)

  /** One alias-gated ladder derivation: pick the first present alias,
    * numeric-coerce (garbage → NULL, `try_cast`), bucket with
    * Unknown-on-null. Absent field (no alias present) → the reference's
    * `else: table[out] = None` branch (create_derived_columns.py:116-118):
    * both the coerced value column and the bucket column are typed NULLs,
    * so downstream projections keep a stable schema across export eras.
    */
  case class AliasedLadder(aliases: Seq[String], valueOut: String, bucketOut: String,
                           thresholds: Seq[(Double, String)], lastLabel: String,
                           unknownLabel: String = "Unknown")

  def aliasedLadders(df: DataFrame, ladders: Seq[AliasedLadder]): DataFrame =
    ladders.foldLeft(df) { (acc, l) =>
      firstPresent(acc, l.aliases) match {
        case Some(src) =>
          val v = col(src).try_cast(org.apache.spark.sql.types.DoubleType)
          acc.withColumn(l.valueOut, v)
            .withColumn(l.bucketOut, bucketOrUnknown(col(l.valueOut), l.thresholds, l.lastLabel, l.unknownLabel))
        case None =>
          acc.withColumn(l.valueOut, lit(null).cast("double"))
            .withColumn(l.bucketOut, lit(null).cast("string"))
      }
    }

  /** Chained threshold bucketing: thresholds = (upperExclusive, label),
    * ascending; values ≥ last threshold get `lastLabel`. NULL-preserving.
    */
  def bucket(value: Column, thresholds: Seq[(Double, String)], lastLabel: String): Column =
    when(value.isNull, lit(null).cast("string"))
      .otherwise(thresholds.reverse.foldLeft(lit(lastLabel): Column) {
        case (acc, (upper, label)) => when(value < upper, label).otherwise(acc)
      })

  /** Paired bucket LABEL + numeric SORT key — the reference's BI-facing
    * bucket families carry both, so dashboards order categorical buckets
    * correctly ("<28wks" < "Term" numerically, not alphabetically), and
    * NULL gets an explicit bucket instead of vanishing (reference:
    * queries/create_summary_maternal_outcomes_sql.py GestationGroup /
    * GestationGroupSort, BirthWeightGroup/BirthWeightGroupSort — null →
    * 'Unknown' with the LAST sort position). Sort keys are 1-based bucket
    * indexes; `lastLabel` gets thresholds.size+1, null thresholds.size+2.
    * Pure codegen expressions.
    */
  def bucketWithSort(value: Column, thresholds: Seq[(Double, String)],
                     lastLabel: String, nullLabel: String): (Column, Column) = {
    val label = when(value.isNull, lit(nullLabel))
      .otherwise(bucket(value, thresholds, lastLabel))
    val sortBase = thresholds.zipWithIndex.reverse
      .foldLeft(lit(thresholds.size + 1): Column) {
        case (acc, ((upper, _), i)) => when(value < upper, lit(i + 1)).otherwise(acc)
      }
    val sort = when(value.isNull, lit(thresholds.size + 2)).otherwise(sortBase)
    (label, sort)
  }

  /** "Mon-YYYY" bucket + numeric sortable key (reference MonthYear /
    * MonthYearSort columns).
    */
  def monthYear(ts: Column): Column     = date_format(ts, "MMM-yyyy")
  def monthYearSort(ts: Column): Column = (year(ts) * 100 + month(ts)).cast("int")

  /** Parse a string timestamp that may arrive in any of `formats`
    * (first match wins), like the reference's regex-dispatched
    * to_timestamp chains.
    */
  def multiFormatTimestamp(s: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_timestamp(s, lit(f))).toIndexedSeq: _*)

  /** Dictionary recode with passthrough for unknown labels (reference
    * data_label_fixes). Broadcast-safe: the map lives in the plan.
    */
  def recode(c: Column, mapping: Map[String, String]): Column = {
    if (mapping.isEmpty) c
    else {
      val m = map(mapping.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toIndexedSeq: _*)
      coalesce(element_at(m, c), c)
    }
  }

  /** Conditional record repair: where `cond`, replace `colName` with
    * `fixed`, else keep (reference manual-fix nodes).
    */
  def manualFix(df: DataFrame, colName: String, cond: Column, fixed: Column): DataFrame =
    df.withColumn(colName, when(cond, fixed).otherwise(col(colName)))

  /** 0/1 outcome flag (reference DeathCount / PrematureCount columns). */
  def flag(cond: Column): Column = when(cond, 1).otherwise(0)

  /** Outcome-count flag, 1-or-NULL form: the reference's joined-table
    * flag family is `CASE WHEN cond THEN 1 END` — NULL (not 0) when the
    * condition fails, so `SUM(flag)` and `COUNT(flag)` both count hits
    * (reference: queries/create_convenience_views_sql.py:85-113,
    * DeathCount / Death<24hrsCount / PrematureCount / HypothermiaCount …).
    */
  def outcomeFlag(cond: Column): Column = when(cond, 1)

  /** The reference's outcome-flag family as named 1-or-NULL columns over
    * a joined admissions⟕discharges frame (reference:
    * create_convenience_views_sql.py:88-113): death / death-by-age-bracket
    * from the outcome label, premature from birth weight, hypothermia from
    * the derived thermia bucket. Column names are graft snake_case of the
    * reference's aliases. All pure projections — zero runtime cost.
    *
    * @param outcomeLabel discharge NeoTreeOutcome label column
    * @param birthWeight  admission birth weight (numeric or numeric string)
    * @param thermia      derived TempThermia bucket column
    */
  def referenceOutcomeFlags(outcomeLabel: Column, birthWeight: Column,
                            thermia: Column): Seq[(String, Column)] = {
    val bw = birthWeight.try_cast(org.apache.spark.sql.types.DoubleType)
    Seq(
      "death_count" -> outcomeFlag(outcomeLabel.contains("Death") ||
        outcomeLabel.contains("Died") || outcomeLabel.contains("NND") ||
        outcomeLabel.contains("BID")),
      "death_lt_24hrs_count" -> outcomeFlag(outcomeLabel.isin(
        "Death (at LESS than 24 hrs of age)", "NND less than 24 hrs old")),
      "death_gt_24hrs_count" -> outcomeFlag(outcomeLabel.isin(
        "Death (at MORE than 24 hrs of age)", "NND more than 24 hrs old")),
      "discharge_count" -> outcomeFlag(outcomeLabel === "Discharged"),
      "transferred_out_count" -> outcomeFlag(
        outcomeLabel === "Transferred to other hospital"),
      "absconded_count" -> outcomeFlag(outcomeLabel === "Absconded"),
      "neo_tree_outcome_count" -> outcomeFlag(outcomeLabel.isNotNull),
      "premature_count" -> outcomeFlag(!isnan(bw) && bw < 2500.0),
      "hypothermia_count" -> outcomeFlag(thermia === "Hypothermia"))
  }

  /** Normalize free-text ages to whole years (reference:
    * utils/assorted_fixes.py::extract_years): a bare number (optionally
    * suffixed 'years') parses whole; otherwise the first '<n> years'
    * phrase anywhere in the text ("aged 23.5 years old" → 23); otherwise
    * NULL. Truncates like the reference's int(float(...)). Patterns stay
    * in the Java∩RE2 subset so SQL oracles reproduce them.
    */
  def extractYears(c: Column): Column = {
    val s = trim(c.cast("string"))
    val whole = regexp_extract(s, "(?i)^(\\d+(\\.\\d+)?)\\s*(years?)?$", 1)
    val embedded = regexp_extract(s, "(?i)(\\d+(\\.\\d+)?)\\s*years?", 1)
    floor(coalesce(nullif(whole, lit("")), nullif(embedded, lit(""))).cast("double"))
      .cast("int")
  }

  /** Metadata-driven type coercion of a wide key-value table: every
    * `<key>_value` string column whose field metadata declares a type is
    * cast to it (reference: conf/common/scripts.py::
    * process_dataframe_with_types — the typed-table step between
    * extraction and publishing). Semantics mirrored from the reference:
    * numbers coerce-to-null on garbage, dates parse under the given
    * formats (null on failure), booleans map y/yes/true/1 → true and
    * n/no/false/0 → false with EVERYTHING else (nulls included) → false
    * (the reference's `fillna(False)`), select types stay strings.
    * Columns without metadata, and metadata without columns, pass
    * through. Pure projection — schema changes, no data moves.
    */
  def coerceByFieldInfo(df: DataFrame, fields: Seq[Validation.FieldInfo],
                        colName: String => String = k => s"${k}_value",
                        dateFormats: Seq[String] = DefaultDateFormats): DataFrame = {
    val present = df.columns.toSet
    // ONE withColumns projection: a per-field withColumn fold re-analyzes
    // the whole plan per field — quadratic for the hundreds-of-fields
    // metadata frames this serves
    val casts = fields.filter(f => present.contains(colName(f.key))).flatMap { f =>
      val c = colName(f.key)
      f.dataType match {
        case "number" | "integer" | "float" | "timer" =>
          Some(c -> col(c).try_cast(org.apache.spark.sql.types.DoubleType))
        case "datetime" | "timestamp" | "date" =>
          Some(c -> multiFormatTimestamp(col(c), dateFormats))
        case "boolean" | "yesno" =>
          val v = lower(trim(col(c)))
          Some(c -> when(v.isin("y", "yes", "true", "1"), true)
            .when(v.isin("n", "no", "false", "0"), false)
            .otherwise(false))
        case _ => None // select/dropdown/free text stay strings
      }
    }.toMap
    if (casts.isEmpty) df else df.withColumns(casts)
  }

  /** Default formats for metadata-driven date coercion — the same shapes
    * the validation DatetimeRegex accepts (date-only and ISO datetime),
    * so a value the generated rules pass is not silently nulled by the
    * coercion half of the same metadata.
    */
  val DefaultDateFormats: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm", "yyyy-MM-dd HH:mm", "yyyy-MM-dd")

  /** Profile-gated date casts: convert each text column `c` of `specs`
    * (column, formats, minValidPercent) to timestamp ONLY when at least
    * `minValidPercent` of its non-null values parse under `formats`
    * (reference: queries/data_fix.py:592
    * date_data_type_fix(min_valid_percent=90)) — a half-garbage column
    * stays text for repair instead of being nulled wholesale.
    *
    * ONE aggregation pass profiles every candidate (two counts per
    * column), so N gated columns cost one extra scan, not N. Its
    * single-row result is a driver-side decision because a cast changes
    * the SCHEMA, which is a plan-time choice (the same reason the
    * reference samples before ALTER TABLE). Returns the frame with the
    * passing columns cast and the rest untouched.
    */
  def profileGatedDateCasts(df: DataFrame,
      specs: Seq[(String, Seq[String], Double)]): DataFrame = {
    if (specs.isEmpty) return df
    val aggs = specs.flatMap { case (c, formats, _) =>
      Seq(count(col(c)).as(s"__nn_$c"),
        count(multiFormatTimestamp(col(c), formats)).as(s"__v_$c"))
    }
    val profile = df.agg(aggs.head, aggs.tail: _*).head()
    specs.foldLeft(df) { case (acc, (c, formats, minPct)) =>
      val nonnull = profile.getAs[Long](s"__nn_$c")
      val valid = profile.getAs[Long](s"__v_$c")
      val pct = if (nonnull == 0L) 100.0 else valid * 100.0 / nonnull
      if (pct >= minPct) acc.withColumn(c, multiFormatTimestamp(col(c), formats))
      else acc
    }
  }
}
