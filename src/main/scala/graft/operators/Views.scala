package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Convenience views: the reference's BI-facing projections — wide
  * rename/selection with sentinel scrubbing and date normalization
  * (reference: queries/create_convenience_views_sql.py — CASE WHEN
  * value::TEXT = 'NaT' OR value LIKE 'Unk%' THEN NULL ELSE value::DATE).
  *
  * Views are metadata: `createOrReplaceTempView` puts the projection on
  * the SQL surface so BI users query by name while Catalyst still prunes
  * and pushes through the view into the source scan.
  */
object Views {

  /** Pandas/export sentinels that mean "missing" in the reference data. */
  val DefaultSentinels: Seq[String] = Seq("NaT", "NaN", "nan")

  /** NULL-scrub a string column: exact sentinel matches and `Unk%`-style
    * prefixes become NULL, everything else passes through.
    */
  def scrubbed(c: Column, sentinels: Seq[String] = DefaultSentinels): Column =
    when(c.isin(sentinels.map(s => s: Any): _*) || c.startsWith("Unk"), lit(null))
      .otherwise(c)

  /** Scrubbed date: sentinel → NULL, else cast; unparseable non-sentinel
    * strings ALSO null out (try_cast) instead of throwing under ANSI mode
    * — this operator exists to absorb messy exports.
    */
  def scrubbedDate(c: Column, sentinels: Seq[String] = DefaultSentinels): Column =
    scrubbed(c, sentinels).try_cast("date")

  /** STRICT date validity gate — the reference's legacy-era migration
    * scrub (reference: assorted_queries.py:649-688, the new-SMCH
    * discharge/death views): a value survives only when it is shaped
    * `^\d{4}-\d{2}-\d{2}$`, parses as a real calendar date, AND lies in
    * the representable range 0001-01-01..9999-12-31; everything else —
    * sentinels, empty strings, regex-failing formats, calendar-invalid
    * dates (2021-13-45), year-zero dates — NULLs out. The reference's
    * explicit sentinel/empty/NULL arms are all subsumed by the shape
    * regex (none of 'NaT'/'NaN'/'nan'/'' match it), so the gate is
    * regex + parse + range. Pure projection, codegen-friendly.
    */
  def scrubbedDateStrict(c: Column): Column = {
    val d = when(c.rlike("^\\d{4}-\\d{2}-\\d{2}$"), c).try_cast("date")
    when(d >= lit("0001-01-01").cast("date") &&
      d <= lit("9999-12-31").cast("date"), d)
  }

  /** Era/facility-windowed migration view (reference: assorted_queries.py
    * read_new_smch_discharges_query): keep rows passing `gate` (the
    * facility predicate) where ANY of `dateCols` is strictly valid and
    * falls on/after `eraStart`, and REPLACE each date column with its
    * [[scrubbedDateStrict]] form — the reference's SELECT *, CASE ... AS
    * "col" projection. A NULL scrub can never satisfy `>= eraStart`
    * (NULL comparison → filtered), exactly like the SQL's AND-chain.
    */
  def eraMigrationView(df: DataFrame, dateCols: Seq[String], gate: Column,
                       eraStart: Column): DataFrame = {
    require(dateCols.nonEmpty, "eraMigrationView needs at least one date column")
    val scrubs = dateCols.map(c => c -> scrubbedDateStrict(col(c)))
    df.filter(gate && scrubs.map(_._2 >= eraStart).reduce(_ || _))
      .withColumns(scrubs.toMap)
  }

  /** Project + rename in one pass: (sourceExpr, outputName) pairs. */
  def projection(df: DataFrame, cols: Seq[(Column, String)]): DataFrame =
    df.select(cols.map { case (c, n) => c.as(n) }: _*)
}
