package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Key-value → wide-column extraction.
  *
  * Reference semantics: session entries are a key→value store pivoted into
  * one wide row per session (`<Key>.value`, `<Key>.label` columns)
  * (reference: data_tyding/extract_key_values.py:1,
  * tidy_admissions_discharges_and_create_mcl_tables.py).
  *
  * Scale notes: the key list is EXPLICIT — a `pivot` without one runs an
  * extra job to collect distinct keys to the driver. With the list given,
  * the pivot is a single shuffle (hash aggregate with one slot per key).
  */
object Pivot {

  /** Pivot `kvKey` values into wide columns by conditional aggregation —
    * the plan a hand-written `SUM(CASE WHEN k='a' THEN v ELSE 0 END)`
    * gives, with the column naming controlled precisely. The `ELSE 0`
    * makes groups where a key never occurs read 0, where Spark's
    * `pivot` would read NULL.
    */
  def toWideConditional(df: DataFrame, groupKeys: Seq[String], kvKey: String,
                        keyValues: Seq[String], valueExpr: Column): DataFrame = {
    val aggs = keyValues.map { k =>
      sum(when(col(kvKey) === k, valueExpr).otherwise(lit(0))).as(k)
    }
    df.groupBy(groupKeys.map(col).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }
}
