package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** The reference pipeline end-to-end, composed from graft operators: raw
  * session JSON → parsed/routed/deduped clinical tables → wide key-value
  * tables → repaired/recoded columns → joined + derived outcomes → summary
  * counts → completeness — the same stage graph as the Kedro DAG
  * (reference: src/data_pipeline/pipelines/data_engineering/pipeline.py),
  * declared as one lazy Spark plan per output table.
  *
  * Every stage is a DataFrame transform, so the flow inherits Spark's
  * partitioning/pushdown and runs identically over 10 rows or 100 TB of
  * exports. Construction runs jobs in three places: the MCL key discovery
  * (a plan-time KEY LIST, like `extractAllKeys`; pass `knownMclKeys` to
  * skip it); when a dataset card is configured, `DatasetCard.build`'s
  * equi-width bounds and exact-quantile collects over the joined table;
  * and, under `persistShared`, the three cut jobs that materialize the
  * parsed, deduped and joined frames. Without any of them, construction
  * is fully lazy.
  */
object ReferencePipeline {

  /** Script ids standing in for the reference's admission/discharge forms. */
  val AdmissionScript = "adm"
  val DischargeScript = "dis"

  /** Suffix for discharge-side columns whose names collide with admission
    * columns in the joined table — the reference's pandas
    * `suffixes=('', '_discharge')` merge convention.
    */
  val DischargeSuffix = "_discharge"

  /** The reference's clinical match-score fields: (form key, max points,
    * penalty unit) — OFC ±1 pt/cm to 10, Gestation ±1 pt/week to 10,
    * BirthWeight ±1 pt/500 g to 5 ("not to be trusted", so weighted less)
    * (reference: create_joined_table_and_derived_columns.py:268-330).
    */
  val DefaultMatchScoreFields: Seq[(String, Double, Double)] =
    Seq(("OFC", 10.0, 1.0), ("Gestation", 10.0, 1.0), ("BirthWeight", 5.0, 500.0))

  /** One run's output tables (see [[tableList]] for the published names).
    *
    * @param shared under `persistShared`, the run's three cut frames —
    *   joined, deduped, parsed: dependents first — whose checkpoint blocks
    *   every table reads; empty otherwise. [[publish]] and
    *   [[publishWithUnions]] release them. A caller that materializes the
    *   tables itself must call `graft.plans.Iterative.release` on each
    *   after its last read: `Dataset.unpersist` does not free checkpoint
    *   blocks and leaves them to the ContextCleaner (which frees them once
    *   the frames are garbage-collected; the pipeline benchmark's passes
    *   measured no heap cost from that). A table read after the release
    *   fails loudly with Spark's "Checkpoint block … not found"; it never
    *   silently recomputes.
    */
  case class Outputs(
      admissions: DataFrame,
      discharges: DataFrame,
      repeatables: DataFrame,
      joined: DataFrame,
      summaryCounts: DataFrame,
      completeness: DataFrame,
      exceptions: DataFrame,
      mclKeys: Seq[String] = Nil,
      mclTables: Map[String, DataFrame] = Map.empty,
      combinedDiagnoses: DataFrame = null,
      ruleExceptions: DataFrame = null,
      dayVitals: Map[Int, DataFrame] = Map.empty,
      summaryNeolab: DataFrame = null,
      summaryBaseline: DataFrame = null,
      datasetCard: DataFrame = null,
      shared: Seq[DataFrame] = Nil)

  /** Run the full flow from a DataFrame bearing one raw session JSON
    * string per row (column `jsonCol`).
    *
    * @param keys the clinical keys to widen into `<key>_value` columns
    * @param repeatableKeys fields to extract from repeated entry groups
    * @param diagnosesKey the MCL key whose exploded labels feed the
    *   combined cross-source diagnoses view, unioned with repeatable-group
    *   rows from `diagnosesRepeatTable` (reference:
    *   queries/create_combined_diagnoses_sql.py:1-11)
    * @param fuzzyRules free-text canonicalization on the admissions route
    *   (reference: neolab_data_cleanup.py): each (codedKey, freeTextKey,
    *   rules) rewrites `<codedKey>_value`/`_label` from the substring rule
    *   chain over `<freeTextKey>_value` when the coded value is the 'Oth'
    *   sentinel — both keys must be in `keys`
    * @param fieldInfo per-key metadata driving BOTH the typed coercion of
    *   the wide tables (process_dataframe_with_types) and the generated
    *   validation rules feeding `Outputs.ruleExceptions`
    *   (validate_dataframe_with_ge) — one metadata frame, two derived
    *   behaviors, like the reference's script-config JSON
    * @param persistShared cut lineage (`graft.plans.Iterative.cut`) at the
    *   plan's three fan-out points: the parsed sessions, which the key
    *   repair, `exceptions` and `summary_neolab` read; the deduped
    *   sessions, which every other table derives from; and the joined
    *   table, which `summary_counts`, `completeness`, `summary_baseline`
    *   and `dataset_card` derive from. Each is materialized once, during
    *   `run`, and every table downstream plans from a leaf carrying its
    *   exact row count: publishing scans the raw JSON and runs
    *   `Joins.bestMatch` once, and no table re-analyzes the JSON →
    *   key-repair → dedup → bestMatch tree. Nothing is cached by logical
    *   plan. The three frames are returned in `Outputs.shared`, which
    *   states who releases them. A cut's partitions are the AQE-coalesced
    *   ones of the plan it materialized, so `joined` and
    *   `summary_baseline` publish a single part file on small inputs, as
    *   the uncut plan does.
    */
  def run(raw: DataFrame, jsonCol: String, keys: Seq[String],
          repeatableKeys: Seq[String] = Nil,
          diagnosesKey: String = "Diagnoses",
          diagnosesRepeatTable: String = "diagnoses",
          diagnosesRepeatField: String = "Diag",
          fuzzyRules: Seq[(String, String, Seq[FuzzyRecode.Rule])] = Nil,
          fieldInfo: Seq[Validation.FieldInfo] = Nil,
          knownMclKeys: Option[Seq[String]] = None,
          dateFormats: Seq[String] = DeriveColumns.DefaultDateFormats,
          matchScoreFields: Seq[(String, Double, Double)] = DefaultMatchScoreFields,
          outcomeFlags: Seq[(String, org.apache.spark.sql.Column)] = Nil,
          vitalsDays: Seq[Int] = Seq(1, 2, 3),
          vitalsTables: Seq[String] = Nil,
          neolabScript: Option[String] = None,
          neolabAsOf: org.apache.spark.sql.Column = current_date(),
          neolabKeys: Seq[String] = Seq("Episode", "DateBCR", "Org1",
            "OtherOrg1", "BCResult", "BCType", "DateBCT"),
          cardNumericCols: Seq[String] = Nil,
          cardCategoricalCols: Seq[String] = Nil,
          cardReference: Option[DataFrame] = None,
          persistShared: Boolean = false): Outputs = {
    // The plan's fan-out points: under persistShared each is materialized
    // once and its readers plan from the cut's leaf, so no table re-reads
    // the raw JSON or re-runs the stages above it.
    def shared(df: DataFrame): DataFrame =
      if (persistShared) graft.plans.Iterative.cut(df) else df

    // 1. import: parse + uid recovery; corrupt rows routed out, not
    //    dropped. Fan-out point: key repair, exceptions and the neolab
    //    route all read the parsed rows.
    val parsed = shared(JsonImport.parseSessions(raw, jsonCol))

    // 1b. key repair (reference: regenerate_unique_key.py): a session
    //     without a recoverable uid takes its first present date entry as
    //     the key; within one script, a uid shared by different payloads
    //     becomes uid#date so two DIFFERENT records survive dedup while a
    //     resubmission (same date) still collapses to keep-latest. The
    //     script id scopes collision detection — a patient's admission
    //     and discharge share a uid by design. Only sessions with NEITHER
    //     uid NOR any date entry remain exceptions.
    val dateFallbacks = KeyRepair.referenceFallbackKeys
      .map(k => JsonImport.entryValue(col("entries_json"), k))
    val keyed = KeyRepair.regenerateUniqueKeys(
        parsed.filter(!col("is_corrupt")), "uid",
        Seq("entries_json"), dateFallbacks, scopeCols = Seq("scriptid"))
      .withColumn("uid", col("unique_key")).drop("unique_key")
    val wellFormed = keyed.filter(col("uid").isNotNull)
    val exceptions = parsed.filter(col("is_corrupt"))
      .unionByName(keyed.filter(col("uid").isNull))

    // 2. dedup: one row per (uid, script), keep latest by started_at.
    //    Fan-out point: every table but exceptions and summary_neolab
    //    derives from here.
    val deduped = shared(Dedup.keepLatest(wellFormed, Seq("uid", "scriptid"),
      col("started_at"), col("completed_at")))

    // 3. tidy: wide key-value extraction per script route
    def route(script: String): DataFrame = {
      val kv = JsonImport.extractKeyValues(
        JsonImport.routeByScript(deduped, script), keys)
      val base = deduped.filter(col("scriptid") === script)
        .select("uid", "facility", "started_at", "completed_at")
      base.join(kv.drop("scriptid"), Seq("uid"))
    }
    val admissions0 = route(AdmissionScript)
    val discharges = route(DischargeScript)

    // 3b. repeated entry groups → per-measurement rows (reference:
    //     format_repeatables_to_rows), from the DEDUPED sessions — a
    //     resubmitted session must not contribute its measurements twice
    val repeatables = JsonImport.explodeRepeatables(deduped, repeatableKeys)

    // 3c. MCL tables: keys DISCOVERED from the batch's entries shape
    //     (reference: json_restructure.py marks multi-valued / *Oth /
    //     AdmReason keys; explode_mcl_columns.py materializes one exploded
    //     table per MCL column). The key list is a plan-time collect of
    //     key NAMES — same class of driver decision as extractAllKeys —
    //     and the ONE place this module runs a job at construction time;
    //     callers who maintain an inventory (or re-run daily at 100 TB)
    //     pass knownMclKeys to skip the discovery scan entirely.
    val mclKeys = knownMclKeys.getOrElse(JsonImport.discoverMclKeyList(deduped))
    val mclTables = mclKeys.map(k => k -> JsonImport.explodeMclKey(deduped, k)).toMap

    // 3d. combined cross-source diagnoses: exploded MCL labels UNION ALL
    //     repeatable-group diagnosis rows (reference:
    //     create_combined_diagnoses_sql.py — exploded_Diagnoses.label
    //     UNION ALL derived.diagnoses). Each side is already keyed by uid,
    //     so the union is shuffle-free.
    //     The entries side explodes diagnosesKey UNCONDITIONALLY —
    //     explodeMclKey handles single-valued keys too, so a batch where
    //     every session happens to carry exactly one diagnosis (key not
    //     discovered as MCL) still publishes its diagnoses instead of
    //     silently vanishing from the view.
    val explodedDiag = mclTables.getOrElse(diagnosesKey,
        JsonImport.explodeMclKey(deduped, diagnosesKey))
      .select(col("uid"), coalesce(col("label"), col("value")).as("diagnosis"))
    //     The repeat-group side reads the DIAGNOSIS field only — a
    //     coalesce over every repeatable key would let an earlier-listed
    //     unrelated field (a weight, a date) masquerade as the diagnosis.
    val repeatDiag =
      if (!repeatableKeys.contains(diagnosesRepeatField))
        repeatables.limit(0).select(col("uid"), lit(null).cast("string").as("diagnosis"))
      else repeatables
        .filter(col("table_name") === diagnosesRepeatTable)
        .select(col("uid"), col(s"${diagnosesRepeatField}_value").as("diagnosis"))
        .filter(col("diagnosis").isNotNull)
    val combinedDiagnoses = explodedDiag.unionByName(repeatDiag)

    // 3e. neolab route → summary_neolab (reference: assorted_queries.py
    //     deduplicate_neolab_query + create_summary_neolab_sql.py). Lab
    //     sessions pass through NEITHER the (uid, scriptid) dedup of step
    //     2 NOR KeyRepair's collision splitting — one patient uid
    //     legitimately uploads MANY cultures, so splitting "same uid,
    //     different payload" into uid#date keys would atomize every
    //     episode. The route branches from the PARSED rows (uid present,
    //     not corrupt — the reference's `unique_key is not null` gate on
    //     clean_sessions) with the reference's own keep-latest key: (uid,
    //     upload month, culture-date key). The reference's date_key is
    //     LEFT(COALESCE(DateBCT, DateBCR), 10) gated on both being
    //     present (its second COALESCE arm is a positional JSON access of
    //     the first entry — an artifact of entry ordering, expressed here
    //     as the DateBCR field it resolves to on neolab forms).
    val summaryNeolab = neolabScript.map { script =>
      val sessions = JsonImport.routeByScript(
        parsed.filter(!col("is_corrupt") && col("uid").isNotNull), script)
      val bct = JsonImport.entryValue(col("entries_json"), "DateBCT")
      val bcr = JsonImport.entryValue(col("entries_json"), "DateBCR")
      val withKey = sessions
        .withColumn("__ym", date_format(col("started_at"), "yyyy-MM"))
        .withColumn("__date_key",
          when(bct.isNull || bcr.isNull, lit(null).cast("string"))
            .otherwise(substring(coalesce(bct, bcr), 1, 10)))
      val dedup = Dedup.keepLatest(withKey, Seq("uid", "__ym", "__date_key"),
        col("started_at"), col("completed_at"))
      // APPEND the kv columns (rows here are NOT unique per uid — a
      // widen-then-join on uid would fan out culture rows quadratically)
      val nl = JsonImport.withKeyValues(dedup, neolabKeys)
      Neolab.episodeSummary(nl, neolabAsOf, episodeCol = "Episode_value")
    }.orNull

    // 4. manual fix + label recode + fuzzy free-text canonicalization on
    //    the admissions route (reference: admissions_manually_fix_records
    //    + neolab_data_cleanup.py — the 'Oth'-gated substring rule chain
    //    rewrites the coded value/label pair from the companion free text)
    val canonical = fuzzyRules.foldLeft(admissions0) {
      case (df, (codedKey, freeKey, rules)) =>
        FuzzyRecode.canonicalize(df, s"${codedKey}_value", s"${codedKey}_label",
          col(s"${freeKey}_value"), rules)
    }

    // 4b. metadata-compiled validation + typed coercion: rules run over
    //     the STRING form (the reference validates before casting nulls
    //     garbage), then the same metadata casts the published table
    //     Rules for metadata keys outside `keys` are dropped (the script
    //     config covers every form field; the wide table only the
    //     requested subset) — mirroring coerceByFieldInfo's
    //     present-columns filter, instead of failing column resolution.
    val wideCols = canonical.columns.toSet
    val presentRules = Validation.fromFieldInfo(fieldInfo).filter {
      case l: Validation.LabelMatchesOption =>
        wideCols.contains(l.column) && wideCols.contains(l.labelColumn)
      case r => wideCols.contains(r.column)
    }
    val ruleExceptions =
      if (presentRules.isEmpty) canonical.limit(0)
        .select(col("uid"), lit("").as("col_name"), lit("").as("code"),
          lit("").as("offending_value"))
      else Validation.exceptions(canonical, Seq("uid"), presentRules)
    val typed = if (fieldInfo.isEmpty) canonical
      else DeriveColumns.coerceByFieldInfo(canonical, fieldInfo,
        dateFormats = dateFormats)
    val admissions = Cleanup.snakeCaseColumns(typed)

    // 5. join + best-match duplicate resolution + derived outcome columns.
    //    The reference merges admissions ⟕ discharges on (uid, facility)
    //    where uid is NOT unique (twins, re-admissions, repaired
    //    collisions) and then keeps the best-scoring discharge per
    //    admission (reference: create_joined_table_and_derived_columns.py
    //    :268 calculate_match_score, :330-395 resolve_duplicate_matches).
    //    graft's repaired keys are `uid#fallback`, so the BASE uid (before
    //    '#') is the reference's join key: an admission can meet several
    //    discharge candidates, and bestMatch scores each on clinical-field
    //    agreement — exactly one output row per admission, so a
    //    multi-discharge uid can no longer inflate downstream counts.
    val admJ = admissions.withColumn("base_uid", substring_index(col("uid"), "#", 1))
    val disJ = discharges.withColumn("base_uid", substring_index(col("uid"), "#", 1))
    // admission columns are snake_cased by step 4b; discharge columns
    // keep raw key names. Collisions are CASE-INSENSITIVE (Spark's
    // resolver), so "Temp_value" on the discharge side collides with
    // admission "temp_value" and takes the suffix — same rule as
    // bestMatch's own rename.
    val admCols =
      admJ.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val joinKeys = Seq("base_uid", "facility")
    // mirrors bestMatch's rename rule EXACTLY: join keys are never
    // suffixed (they appear once in the using-join output)
    def disCol(c: String): String =
      if (!joinKeys.contains(c) &&
          admCols.contains(c.toLowerCase(java.util.Locale.ROOT)))
        c + DischargeSuffix
      else c
    val scorePairs = matchScoreFields.flatMap { case (k, maxPts, perUnit) =>
      val a = Cleanup.snakeCase(s"${k}_value")
      val d = s"${k}_value"
      // case-INSENSITIVE presence check on BOTH sides (Spark's resolver
      // is): a match-score key cased differently from the discharge
      // column must still score, not silently drop to keep-first
      val disCols = disJ.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      if (admCols.contains(a.toLowerCase(java.util.Locale.ROOT)) &&
          disCols.contains(d.toLowerCase(java.util.Locale.ROOT)))
        Some((col(a), col(disCol(d)), maxPts, perUnit))
      else None
    }
    // nullSafeOn: facility may be missing on BOTH sides of a real pair —
    // the reference's pandas merge matches NaN keys, so a null facility
    // must not silently orphan an admission from its discharge
    val resolved = Joins.bestMatch(admJ, disJ, joinKeys,
      leftId = Seq("uid"),
      score = _ =>
        if (scorePairs.isEmpty) lit(-1.0) else Joins.matchScore(scorePairs),
      keepFirstBy = _ => col(disCol("started_at")),
      rightSuffix = DischargeSuffix, nullSafeOn = true)
    // RENAME, not copy: a withColumn copy would publish both the raw and
    // the aliased timestamp on every joined/joined_all table
    val derived = resolved
      .withColumnRenamed("started_at", "admitted_at")
      .withColumnRenamed(disCol("completed_at"), "discharged_at")
      .drop("base_uid")
      .withColumn("month_year", DeriveColumns.monthYear(col("admitted_at")))
      .withColumn("month_year_sort", DeriveColumns.monthYearSort(col("admitted_at")))
      .withColumn("los_days",
        datediff(to_date(col("discharged_at")), to_date(col("admitted_at"))))
      .withColumn("no_discharge", DeriveColumns.flag(col("discharged_at").isNull))
    // 5b. outcome-flag family (reference: create_convenience_views_sql.py
    //     :85-113 — DeathCount / Death<24hrsCount / PrematureCount /
    //     HypothermiaCount …, 1-or-NULL so SUM and COUNT both count hits).
    //     Callers compose DeriveColumns.referenceOutcomeFlags over their
    //     joined-table column names; one withColumns projection, no scan.
    //     `joined` is the last fan-out point (summary counts,
    //     completeness, the baseline and the dataset card derive from it),
    //     so persistShared cuts it before any of them is built: the card's
    //     construction-time jobs read the cut, bestMatch runs once.
    val joined = shared(
      if (outcomeFlags.isEmpty) derived
      else derived.withColumns(outcomeFlags.toMap))

    // 6. summary counts: facility × month of flag sums
    val summaryCounts = Summaries.flagCounts(joined,
      Seq("facility", "month_year_sort"), Seq(
        "n_admissions" -> lit(true),
        "n_no_discharge" -> (col("no_discharge") === 1),
        "n_long_stay" -> (col("los_days") >= 3)))

    // 7. completeness over the joined table (blank = missing)
    val completeness = Summaries.completenessNonEmpty(
      joined.withColumn("los_days_s", col("los_days").cast("string")),
      Seq("uid", "facility", "los_days_s"))

    // 7b. day-1/2/3 vitals: per-admission date-offset slices of the
    //     repeated-measurement rows (reference: queries/
    //     create_summary_day_one_vitals_sql.py et al. — one table per day
    //     offset). dayOffsetSlice's baseline is an unordered window MIN
    //     (no sort buffer); each slice shares the one repeatables scan.
    //     `vitalsTables` names WHICH repeat groups are vitals — REQUIRED
    //     for day-N outputs: slicing every repeat group would let a
    //     diagnoses row logged before the first measurement set the day-1
    //     baseline, shift every slice, and publish non-vitals rows inside
    //     summary_day<N>_vitals (the reference slices its vitalsigns
    //     table only). An unscoped run emits NO day tables rather than
    //     wrong ones.
    val vitalsTs = col("created_at")
      .try_cast(org.apache.spark.sql.types.TimestampType)
    val dayVitals =
      if (repeatableKeys.isEmpty || vitalsTables.isEmpty) Map.empty[Int, DataFrame]
      else {
        val vitalsSrc = repeatables
          .filter(col("table_name").isin(vitalsTables.map(t => t: Any): _*))
        vitalsDays.map(n =>
          n -> Windows.dayOffsetSlice(vitalsSrc, Seq("uid"), vitalsTs, n)).toMap
      }

    // 8. summary_baseline — the reference's ACTUAL shape: a row-level
    //    column-selection/rename of the baseline (joined) table, one row
    //    per uid (reference: queries/create_summary_baselines_sql.py —
    //    identifier renames, the Mon-YYYY / YYYYmm admission keys, and
    //    the 1-or-NULL outcome-count flag family; its ORDER BY uid is
    //    elided — parquet publish order is not a semantic, and a full
    //    sort at publish is a needless total-order shuffle at scale).
    //    A pure projection of `joined`: no scan or shuffle of its own.
    val summaryBaseline = joined.select(
      Seq(col("uid"), col("facility"),
        col("admitted_at").as("admission_datetime"),
        col("discharged_at").as("discharge_datetime"),
        col("month_year").as("admission_month_year"),
        col("month_year_sort").as("admission_month_year_sort"),
        col("los_days"), col("no_discharge")) ++
        outcomeFlags.map { case (n, _) => col(n) }: _*)

    // 8b. composed dataset-card profile over the joined table — the
    //     profiling companion of the published summaries (numeric stats +
    //     quantile vector, categorical top-k, both histogram families,
    //     PSI drift vs an optional prior publish), published under its
    //     own name `dataset_card` so consumers expecting the reference's
    //     summary_baseline schema are never handed a long-format card.
    //     Plan-level union of tiny per-section results.
    val datasetCard =
      if (cardNumericCols.isEmpty && cardCategoricalCols.isEmpty) null
      else DatasetCard.build(joined, cardNumericCols, cardCategoricalCols,
        reference = cardReference)

    Outputs(admissions, discharges, repeatables, joined, summaryCounts,
      completeness, exceptions, mclKeys, mclTables, combinedDiagnoses,
      ruleExceptions, dayVitals, summaryNeolab, summaryBaseline,
      datasetCard, shared = if (persistShared) Seq(joined, deduped, parsed) else Nil)
  }

  /** The named output tables of one run, publish order. Null frames
    * (features not configured) are filtered out.
    */
  def tableList(out: Outputs): Seq[(String, DataFrame)] = (Seq(
    "admissions" -> out.admissions,
    "discharges" -> out.discharges,
    "repeatables" -> out.repeatables,
    "joined" -> out.joined,
    "summary_counts" -> out.summaryCounts,
    "completeness" -> out.completeness,
    "exceptions" -> out.exceptions,
    "combined_diagnoses" -> out.combinedDiagnoses,
    "rule_exceptions" -> out.ruleExceptions,
    // reference: derived.summary_neolab (create_summary_neolab_sql.py)
    "summary_neolab" -> out.summaryNeolab,
    // reference: derived.summary_baseline (create_summary_baselines_sql.py)
    // — the row-level rename/derive projection of the joined table
    "summary_baseline" -> out.summaryBaseline,
    // the long-format profiling card (no reference analogue by name —
    // deliberately NOT published as summary_baseline, whose consumers
    // expect the row-level schema above)
    "dataset_card" -> out.datasetCard) ++
    out.dayVitals.toSeq.sortBy(_._1).map { case (n, df) =>
      // reference: derived.summary_day1_vitals / _day2_ / _day3_
      s"summary_day${n}_vitals" -> df
    } ++
    // reference: derived.summary_joined_vitals — the day-N tables UNION
    // ALL'd into one, each row tagged with its day
    // (create_summary_joined_vitals_sql.py:8-95). A plan-level concat of
    // the per-day slices (no shuffle of its own); published only when the
    // day tables themselves are configured.
    (if (out.dayVitals.isEmpty) Nil
     else Seq("summary_joined_vitals" -> Unions.taggedUnion(
       out.dayVitals.toSeq.sortBy(_._1).map { case (n, df) => (n.toString, df) },
       tagCol = "day"))) ++
    out.mclTables.toSeq.sortBy(_._1).map { case (k, df) =>
      // reference: derived."exploded_<key>"; snake_case like the columns
      s"exploded_${Cleanup.snakeCase(k)}" -> df
    }).filter(_._2 != null)

  /** Publish-time hygiene (reference: data_fix.py:77-104, :106-241 — run
    * against every derived table before it is published): no confidential
    * COLUMN name and no single-letter/all-digit artifact column reaches
    * disk. Pure projections.
    *
    * Scope honesty: this is the reference's NAME-based guarantee. The
    * `exceptions` table intentionally keeps `raw_json`/`entries_json`
    * verbatim (its purpose is repairing corrupt exports, exactly like the
    * reference's raw schema), so confidential VALUES can appear inside
    * those payload strings — access-control the exceptions output like
    * the raw zone, or scrub values with `TextAnalysis.cleanForTraining`
    * before publishing it more widely.
    */
  def hygiene(df: DataFrame): DataFrame =
    Cleanup.dropSingleLetterColumns(Cleanup.dropConfidential(df))

  /** Materialize every output table under `baseDir/<name>` — the
    * reference's final publish into the `derived` schema
    * (create table → swap), as parquet directories. Each table writes to
    * a sibling `.tmp` dir first and swaps in only when fully written
    * (graft.sources.AtomicSwap), so no data version is ever lost and a
    * HALF-written table is never visible; the swap itself is
    * delete-then-rename on plain filesystems, so a reader racing the
    * swap instant (or a crash inside it) can see the table briefly
    * MISSING — its data intact under `.tmp`. ACID table formats replace
    * this class when that window matters. Tables publish independently;
    * a failure leaves earlier tables at their NEW version and later ones
    * at their OLD — the reference's sequential CREATE TABLE semantics.
    * Pair with `run(..., persistShared = true)` so the fan-out doesn't
    * rescan the raw JSON (or re-run bestMatch) once per table.
    *
    * The shared cuts (`Outputs.shared`) are released in a `finally`,
    * after the last table or the first failed write, so a LONG-LIVED
    * session re-running the cron loop does not pile up checkpoint
    * blocks. Re-running over the SAME source path cannot publish stale
    * rows: a cut is no entry in Spark's plan-keyed cache — each `run`
    * materializes its own — so a second `run` cannot be served the
    * previous increment's rows, as it was when the shared frames were
    * `persist`ed (IncrementalPipelineSpec).
    */
  def publish(out: Outputs, baseDir: String): Unit =
    try publishTables(tableList(out), baseDir)
    finally out.shared.foreach(graft.plans.Iterative.release)

  private def publishTables(tables: Seq[(String, DataFrame)], baseDir: String): Unit = {
    val dupNames = tables.groupBy(_._1).collect { case (n, g) if g.size > 1 => n }
    require(dupNames.isEmpty,
      s"publish would overwrite itself: duplicate table names ${dupNames.mkString(", ")} " +
        "(MCL keys colliding after snake_casing?)")
    tables.foreach { case (name, df) =>
      val target = s"$baseDir/$name"
      val tmp = s"$target.tmp"
      graft.sources.Sinks.parquet(hygiene(df), tmp)
      graft.sources.AtomicSwap.replace(target, tmp)
    }
  }

  /** Publish the joined table Z-order-clustered on (facility, admission
    * month) — the data-SKIPPING layout for the pipeline's biggest output:
    * the two dimensions every downstream query filters on (a facility
    * dashboard, a monthly report) both get tight per-file parquet stats,
    * so either predicate prunes most files from footer stats alone.
    * Facility is a low-cardinality STRING, so it is densely indexed via a
    * plan-constant sorted-distinct collect (the centroid-matrix class of
    * driver decision) before taking a grid dimension; rows with a NULL
    * facility or admission month cluster together under a NULL key
    * rather than being dropped. Same hygiene as [[publish]].
    *
    * This reads `out.joined`, so with `run(..., persistShared = true)`
    * call it BEFORE [[publish]]: publish releases the shared cuts, and
    * the joined table read after that fails with "Checkpoint block …
    * not found".
    */
  def publishJoinedClustered(out: Outputs, path: String, numFiles: Int,
                             bits: Int = 8): Unit = {
    val joined = hygiene(out.joined)
    val facilities = joined.select(col("facility").cast("string").as("f"))
      .filter(col("f").isNotNull).distinct()
      .orderBy("f").collect().map(_.getString(0)).toSeq
    require(facilities.nonEmpty,
      "publishJoinedClustered: joined table has no non-NULL facility")
    val fIdx = array_position(typedLit(facilities), col("facility").cast("string"))
    // array_position is 1-based with 0 = absent (impossible for values
    // drawn from the distinct itself) and NULL for a NULL facility —
    // the when-guard keeps the NULL-propagation contract either way
    Layout.writeZorderClustered(joined, path,
      when(fIdx > 0, fIdx - 1), col("month_year_sort"), numFiles, bits)
  }

  /** Cross-facility union views: for each table name present in any run,
    * a `<name>_all` view unioning every facility's table with schema
    * alignment — missing columns NULL-padded (reference:
    * derive_data/create_union_views.py — the `*_all` country views over
    * per-facility tables).
    *
    * Scale notes: `unionByName` is a plan-level concat — each branch
    * keeps its own partitioning and the union adds NO shuffle of its own
    * (PlanSpec-pinned). The per-facility frames are already fully
    * projected, so the union sits ABOVE the heavy projections: each
    * branch compiles its own whole-stage-codegen once (the SURVEY §8
    * per-branch-recompile trap applies to projections placed below a
    * many-way union, not to this shape).
    */
  def unionViews(runs: Seq[Outputs]): Seq[(String, DataFrame)] = {
    val perRun = runs.map(tableList)
    val names = perRun.flatMap(_.map(_._1)).distinct
    names.map { n =>
      s"${n}_all" -> Unions.unionViews(perRun.flatMap(_.collect {
        case (`n`, df) => df
      }))
    }
  }

  /** Publish several facility runs plus their cross-facility `*_all`
    * union views: per-facility tables land under `baseDir/<facility>/`,
    * unions under `baseDir/all/` — the reference's per-facility derived
    * tables + create_union_views composition, with the same atomic-swap
    * discipline per table.
    */
  def publishWithUnions(runs: Seq[(String, Outputs)], baseDir: String): Unit = {
    require(runs.map(_._1).distinct.size == runs.size,
      "duplicate facility names in publishWithUnions")
    try runs.foreach { case (facility, out) =>
      publishTables(tableList(out), s"$baseDir/$facility") }
    finally runs.foreach(_._2.shared.foreach(graft.plans.Iterative.release))
    // union views read the tables JUST PUBLISHED instead of re-deriving
    // them from raw (the original plans would re-execute every stage per
    // facility — roughly doubling publish cost); reading the materialized
    // parquet back also means the *_all views reflect exactly what the
    // per-facility tables contain, hygiene included
    val spark = runs.head._2.admissions.sparkSession
    val names = runs.flatMap { case (_, out) => tableList(out).map(_._1) }.distinct
    val unions = names.map { n =>
      val parts = runs.collect {
        case (facility, out) if tableList(out).exists(_._1 == n) =>
          spark.read.parquet(s"$baseDir/$facility/$n")
      }
      s"${n}_all" -> Unions.unionViews(parts)
    }
    publishTables(unions, s"$baseDir/all")
  }
}
