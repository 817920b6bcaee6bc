package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Privacy-risk census operators for training-data release audits.
  *
  * Before a curated corpus (or a derived tabular extract) ships, the
  * standard re-identification audit asks: how many records share each
  * combination of quasi-identifiers (k-anonymity, Sweeney 2002), and do
  * the records inside a QI group actually differ on the sensitive
  * attribute (l-diversity, Machanavalli et al. 2007)? Reference
  * analogue: the reference's validation stage emits per-rule exception
  * reports (`data_validation/validate.py`) — this is the same census
  * shape pointed at disclosure risk instead of range checks.
  *
  * Scale notes: the census is ONE hash aggregation over the QI key (two
  * aggregates share it: a count and a distinct-count that rides the
  * standard Expand partial-agg shape) — no windows, no self-joins.
  */
object Privacy {

  /** Per-QI-group disclosure census: group size (k-anonymity) and
    * sensitive-attribute diversity (l-diversity) in one aggregation.
    *
    * @return one row per distinct QI combination:
    *         (qiCols..., group_size, sensitive_diversity, k_anonymous,
    *         l_diverse) — a release gate keeps only groups with both
    *         flags true, or generalizes/suppresses the rest.
    */
  def kAnonymityCensus(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                       k: Long = 5L, l: Long = 2L): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymityCensus needs at least one QI column")
    require(k >= 1 && l >= 1, s"k and l must be >= 1, got k=$k l=$l")
    df.groupBy(qiCols.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("sensitive_diversity"))
      .withColumn("k_anonymous", col("group_size") >= k)
      .withColumn("l_diverse", col("sensitive_diversity") >= l)
  }
}
