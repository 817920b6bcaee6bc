package graft.operators

import org.apache.spark.sql.DataFrame

/** Publish-time column hygiene: confidential and artifact columns are
  * dropped and names normalized to snake_case before a table is written.
  *
  * Reference semantics: the final pipeline step cleans columns before
  * publishing (reference: nodes_grouped/step_6_nodes/data_clean_up.py,
  * queries/data_fix.py); `ReferencePipeline` runs every operator here.
  *
  * Pure metadata operations — plan-level projections with zero runtime
  * cost at any scale.
  */
object Cleanup {

  val DefaultConfidentialMarkers: Seq[String] =
    Seq("dobtob", "firstname", "lastname")

  /** Drop columns whose NAMES mark confidential content, by
    * case-insensitive substring match (reference: queries/data_fix.py:
    * 77-104 `drop_confidential_columns` — `column_name ILIKE '%dobtob%'
    * OR ... '%firstname%' OR ... '%lastname%'` before publish). Pure
    * metadata projection; the publish path applies it to every table so
    * a confidential column can never reach disk.
    */
  def dropConfidential(df: DataFrame,
                       markers: Seq[String] = DefaultConfidentialMarkers): DataFrame = {
    val lowered = markers.map(_.toLowerCase(java.util.Locale.ROOT))
    df.drop(df.columns.filter { c =>
      // match with underscores stripped as well: graft snake_cases
      // "FirstName_value" to "first_name_value", which no longer CONTAINS
      // "firstname" byte-wise but is exactly the column the reference's
      // ILIKE '%firstname%' would have caught pre-snake_casing
      val lc = c.toLowerCase(java.util.Locale.ROOT)
      val flat = lc.replace("_", "")
      lowered.exists(m => lc.contains(m) || flat.contains(m))
    }.toIndexedSeq: _*)
  }

  /** Drop single-letter column names — artifact columns from bad
    * extractions that accumulate in long-lived deployments (reference:
    * queries/data_fix.py:106-241 `drop_single_letter_columns`, and the
    * joined-table regex scrub `^\d+$|^[a-zA-Z]$` in
    * create_joined_table_and_derived_columns.py:249). Also drops all-digit
    * names, matching that joined-table regex.
    */
  def dropSingleLetterColumns(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(c =>
      c.length == 1 || c.forall(_.isDigit)).toIndexedSeq: _*)

  /** snake_case one name: camelCase humps and runs of non-alphanumerics
    * become single underscores, lowercased (`Visit.Date` → `visit_date`,
    * `NeoTreeID` → `neo_tree_id`).
    */
  def snakeCase(name: String): String =
    name.replaceAll("([a-z0-9])([A-Z])", "$1_$2")
      .replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("_+", "_")
      .stripPrefix("_").stripSuffix("_")
      .toLowerCase

  /** Normalize every column name to snake_case via [[snakeCase]]. */
  def snakeCaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(snakeCase).toIndexedSeq: _*)
}
