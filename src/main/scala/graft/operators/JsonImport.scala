package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Session-JSON ingest: schema-on-read extraction of the reference's raw
  * export shape, as pure Column expressions (codegen'd, no UDFs, no
  * driver-side JSON loops).
  *
  * Reference semantics (reference: src/data_pipeline/pipelines/
  * data_engineering/data_tyding/import_raw_jsons.py:40-200,
  * extract_key_values.py:13-60): a session carries `entries` in one of two
  * shapes —
  *   - legacy LIST: `[{"key": "UID", "values": [{"value": v, "label": l}]}]`
  *   - new DICT:    `{"UID": {"values": {"value": [v]}}}`
  * `uid` is recovered from the top-level field when present, else from the
  * entries under the fallback keys (uid/UID, NeoTreeID, NeoTreeIDBC), and
  * uppercased. Sessions route downstream by script id.
  *
  * `ReferencePipeline` composes the stage: [[parseSessions]] over the raw
  * lines, [[routeByScript]] plus [[extractKeyValues]] /
  * [[withKeyValues]] over a fixed key list per table,
  * [[discoverMclKeyList]] and [[explodeMclKey]] for multi-select keys,
  * and [[explodeRepeatables]] for repeated entry groups.
  *
  * At 100 TB the whole extraction is a single projection over the raw
  * scan: every path below is a Catalyst expression, so Spark prunes
  * unused columns and pushes the routing filter into the source.
  */
object JsonImport {

  /** First non-whitespace character is '[' — the legacy LIST shape.
    * Regex \s, not `ltrim`: ltrim strips only ASCII spaces, so a document
    * led by a tab/newline would otherwise mis-route to the dict branch
    * and silently drop its keys.
    */
  private def isListShape(entries: Column): Column =
    regexp_extract(entries, "^\\s*(.)", 1) === "["

  /** Legacy list shape of `entries`. */
  val entryListSchema: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType),
    StructField("values", ArrayType(StructType(Seq(
      StructField("value", StringType),
      StructField("label", StringType))))))))

  /** First value for `key` in the legacy LIST shape: values[0].value of
    * the first entry whose key matches (case-sensitive, like the
    * reference).
    */
  def listEntryValue(entriesJson: Column, key: String): Column = {
    val parsed = from_json(entriesJson, entryListSchema)
    try_element_at(try_element_at(filter(parsed, e => e.getField("key") === key), lit(1))
      .getField("values"), lit(1)).getField("value")
  }

  /** First value for `key` in the new DICT shape:
    * `entries.<key>.values.value[0]`.
    */
  def dictEntryValue(entriesJson: Column, key: String): Column =
    get_json_object(entriesJson, s"$$.$key.values.value[0]")

  /** Value for `key` under either entries shape. The list parse yields
    * null on the dict shape (and vice versa), so coalesce resolves the
    * shape per row — mixed exports in one batch are fine.
    */
  def entryValue(entriesJson: Column, key: String): Column =
    coalesce(listEntryValue(entriesJson, key), dictEntryValue(entriesJson, key))

  /** Recovered, uppercased uid: top-level `uid` when present, else the
    * first non-null entries fallback (uid, UID, NeoTreeID, NeoTreeIDBC).
    */
  def recoverUid(sessionJson: Column): Column = {
    val entries = get_json_object(sessionJson, "$.entries")
    upper(coalesce(
      get_json_object(sessionJson, "$.uid"),
      entryValue(entries, "uid"),
      entryValue(entries, "UID"),
      entryValue(entries, "NeoTreeID"),
      entryValue(entries, "NeoTreeIDBC")))
  }

  /** Parse a DataFrame bearing one raw session JSON string per row into
    * the flat ingest columns (uid, script id, versions, facility, started/
    * completed timestamps) plus the original payload for downstream
    * key-value extraction.
    */
  def parseSessions(raw: DataFrame, jsonCol: String): DataFrame = {
    val j = col(jsonCol)
    raw.select(
      recoverUid(j).as("uid"),
      get_json_object(j, "$.scriptid").as("scriptid"),
      get_json_object(j, "$.scriptVersion").as("script_version"),
      get_json_object(j, "$.appVersion").as("app_version"),
      // numeric app version: digits only, like the reference's
      // ''.join(d for d in appVersion if d.isdigit()) (extract_key_values.py)
      nullif(regexp_replace(coalesce(get_json_object(j, "$.appVersion"), lit("")),
        "[^0-9]", ""), lit("")).cast("int").as("app_version_num"),
      get_json_object(j, "$.facility").as("facility"),
      to_timestamp(get_json_object(j, "$.started_at")).as("started_at"),
      to_timestamp(get_json_object(j, "$.completed_at")).as("completed_at"),
      get_json_object(j, "$.entries").as("entries_json"),
      j.as("raw_json"),
      // malformed JSON extracts nothing ($ root comes back null) — flag it
      // so ingest can route a corrupt-record side channel instead of
      // silently dropping the row
      get_json_object(j, "$").isNull.as("is_corrupt"))
  }

  /** Route parsed sessions to a script's stream (admissions vs discharges
    * in the reference): a plain filter, pushed into the scan when the
    * source is columnar.
    */
  def routeByScript(parsed: DataFrame, scriptId: String): DataFrame =
    parsed.filter(col("scriptid") === scriptId)

  /** Wide key-value extraction: one column pair (`<key>_value`,
    * `<key>_label`) per requested key, resolved from either entries shape
    * in a single projection — the Spark-native form of the reference's
    * per-row restructure loop (extract_key_values.py). Label only exists
    * in the list shape; dict-shape rows get NULL labels.
    */
  def extractKeyValues(parsed: DataFrame, keys: Seq[String]): DataFrame =
    withKeyValues(parsed, keys).select(
      col("uid") +: col("scriptid") +:
        keys.flatMap(k => Seq(col(s"${k}_value"), col(s"${k}_label"))): _*)

  /** [[extractKeyValues]] APPENDING the pairs to the existing columns
    * (one withColumns projection) instead of projecting down to them —
    * for routes whose rows are NOT uniquely keyed by uid (e.g. the
    * neolab lab stream, many cultures per uid), where a widen-then-join
    * would fan out.
    */
  def withKeyValues(parsed: DataFrame, keys: Seq[String]): DataFrame = {
    val entries = col("entries_json")
    val parsedList = from_json(entries, entryListSchema)
    val cols = keys.flatMap { k =>
      val entry = try_element_at(filter(parsedList, e => e.getField("key") === k), lit(1))
      val listVal = try_element_at(entry.getField("values"), lit(1))
      Seq(
        s"${k}_value" -> coalesce(listVal.getField("value"), dictEntryValue(entries, k)),
        s"${k}_label" -> listVal.getField("label"))
    }
    parsed.withColumns(cols.toMap)
  }

  /** ALL (value, label) pairs for `key` across both entries shapes — the
    * multi-select twin of [[entryValue]]: an MCL answer's full list, not
    * just the first element. NULL when the key is absent; the dict shape
    * zips its parallel value/label arrays (unequal lengths pad with NULL,
    * like the reference's per-index dict rebuild).
    */
  def entryValueLabels(entriesJson: Column, key: String): Column = {
    val listVals = try_element_at(
      filter(from_json(entriesJson, entryListSchema), e => e.getField("key") === key),
      lit(1)).getField("values")
    val dictVals = zip_with(
      coalesce(from_json(get_json_object(entriesJson, s"$$.$key.values.value"),
        ArrayType(StringType)), array().cast("array<string>")),
      coalesce(from_json(get_json_object(entriesJson, s"$$.$key.values.label"),
        ArrayType(StringType)), array().cast("array<string>")),
      (v, l) => struct(v.as("value"), l.as("label")))
    coalesce(listVals, when(size(dictVals) > 0, dictVals))
  }

  /** One row per selected choice of an MCL key: (uid, scriptid, value,
    * label) — the reference's per-key `exploded_<key>` tables
    * (reference: data_tyding/explode_mcl_columns.py; queries feed
    * derived."exploded_Diagnoses.label"). Rows without the key emit
    * nothing. Pure Generate — no shuffle; the explode_outer +
    * generated-column filter avoids the plan-duplication trap documented
    * at [[Mcl.explodeChoices]].
    */
  def explodeMclKey(parsed: DataFrame, key: String): DataFrame =
    parsed.select(col("uid"), col("scriptid"),
        explode_outer(entryValueLabels(col("entries_json"), key)).as("kv"))
      .filter(col("kv").isNotNull)
      .select(col("uid"), col("scriptid"),
        col("kv.value").as("value"), col("kv.label").as("label"))

  /** MCL (multi-choice-list) key auto-detection: which keys hold
    * multi-select answers. Reference
    * semantics (reference: data_tyding/json_restructure.py:9-60): a key is
    * MCL when its values list carries more than one element anywhere in
    * the batch, or — for keys that do carry a value — when its name ends
    * with "Oth" or equals "AdmReason" (the reference applies the name rule
    * in the single-value branch, so value-less keys never trigger it).
    * The legacy list shape counts `len(values)`; the new dict shape counts
    * the label/value arrays under `values` (restructure_new_format).
    *
    * One Generate + one hash aggregate over the (small) key domain, so a
    * 100 TB batch pays a single scan and shuffles only (key, count) pairs.
    */
  def discoverMclKeys(parsed: DataFrame,
                      suffixRules: Seq[String] = Seq("Oth"),
                      exactRules: Seq[String] = Seq("AdmReason")): DataFrame = {
    val entries = col("entries_json")
    // list shape: (key, len(values)) per entry; dict-shape rows parse to
    // partial structs with null keys and are filtered
    val listKv = filter(
      transform(from_json(entries, entryListSchema),
        e => struct(e.getField("key").as("key"),
          coalesce(size(e.getField("values")), lit(0)).as("nv"))),
      s => s.getField("key").isNotNull)
    // dict shape: ONE typed from_json parses every key's value/label
    // arrays in a single pass — the opaque-string map variant re-parsed
    // each entry's JSON four times (2× get_json_object + 2× from_json)
    // and measured 4× slower at sf0.1
    val dictSchema = MapType(StringType, StructType(Seq(
      StructField("values", StructType(Seq(
        StructField("value", ArrayType(StringType)),
        StructField("label", ArrayType(StringType))))))))
    val dictKv = transform(
      map_entries(from_json(entries, dictSchema)),
      kv => struct(kv.getField("key").as("key"),
        greatest(
          coalesce(size(kv.getField("value").getField("values").getField("label")), lit(0)),
          coalesce(size(kv.getField("value").getField("values").getField("value")), lit(0))).as("nv")))
    val empty = array().cast("array<struct<key:string,nv:int>>")
    val nameRule = (suffixRules.map(s => col("key").endsWith(s)) ++
      exactRules.map(n => col("key") === n)).foldLeft(lit(false))(_ || _)
    // a row is ONE shape — dispatch on the first character (CaseWhen
    // branches evaluate lazily per row) so each row pays exactly one
    // from_json instead of both parsers attempting it
    val shaped = when(isListShape(col("entries_json")), listKv)
      .otherwise(dictKv)
    parsed
      .select(explode_outer(coalesce(shaped, empty)).as("kv"))
      .filter(col("kv").isNotNull)
      .groupBy(col("kv.key").as("key"))
      .agg(max(col("kv.nv")).as("max_vals"))
      .withColumn("is_mcl", col("max_vals") > 1 || (col("max_vals") >= 1 && nameRule))
  }

  /** Plan-time MCL key list (sorted), for feeding table routing /
    * explosion — a driver-side collect of the KEY LIST (hundreds of
    * form-field names, not data).
    */
  def discoverMclKeyList(parsed: DataFrame): Seq[String] =
    discoverMclKeys(parsed).filter(col("is_mcl"))
      .select("key").collect().map(_.getString(0)).sorted.toSeq

  /** Key histogram over an arbitrary JSON-object column: (key, n rows
    * carrying it) — the key-inventory monitor for any schema-on-read
    * source.
    */
  def keyHistogram(df: DataFrame, jsonCol: Column): DataFrame =
    df.select(explode_outer(json_object_keys(jsonCol)).as("key"))
      .filter(col("key").isNotNull)
      .groupBy("key").agg(count(lit(1)).as("n"))

  /** Repeated entry groups → per-measurement rows (reference:
    * extract_key_values.py::format_repeatables_to_rows, imported at
    * tidy_dynamic_tables.py:6): a session's `repeatables` holds
    * {tableName: [entry, …]} where each entry carries id/createdAt plus
    * form fields in either the dict {value,label} or bare-scalar shape.
    * Entries missing id or createdAt are dropped, like the reference.
    *
    * Pure Generate chain over string-typed `from_json` (Spark stringifies
    * nested objects under a StringType schema field, so each entry stays
    * an opaque JSON string until its keyed extraction) — no shuffle, no
    * UDFs, blob-free rows sized by the sampler not the session.
    */
  def explodeRepeatables(parsed: DataFrame, keys: Seq[String]): DataFrame = {
    val rep = from_json(get_json_object(col("raw_json"), "$.repeatables"),
      MapType(StringType, StringType))
    val kvCols = keys.flatMap { k =>
      Seq(
        coalesce(get_json_object(col("e"), s"$$.$k.value"),
          get_json_object(col("e"), s"$$.$k")).as(s"${k}_value"),
        get_json_object(col("e"), s"$$.$k.label").as(s"${k}_label"))
    }
    parsed
      .select(col("uid"), col("scriptid"), col("facility"),
        explode_outer(rep).as(Seq("table_name", "entries_arr")))
      .select(col("uid"), col("scriptid"), col("facility"), col("table_name"),
        explode_outer(from_json(col("entries_arr"), ArrayType(StringType))).as("e"))
      .select(Seq(col("uid"), col("scriptid"), col("facility"), col("table_name"),
        get_json_object(col("e"), "$.id").as("form_id"),
        get_json_object(col("e"), "$.createdAt").as("created_at")) ++ kvCols: _*)
      .filter(col("form_id").isNotNull && col("created_at").isNotNull)
  }
}
