package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** `Dataset.localCheckpoint` minus the carried `originStats`.
  *
  * Since SPARK-39190-era releases, `Dataset.checkpoint` rebuilds the
  * plan as a [[LogicalRDD]] that CARRIES the child plan's Statistics
  * (`originStats`) so downstream joins keep estimating. For one
  * checkpoint that is strictly better. For an ITERATIVE FOLD — labels
  * re-entering a join loop, standing component labels re-entering the
  * next increment's contraction — it is a landmine: each fold's join
  * estimation MULTIPLIES the carried `sizeInBytes` BigInts (a join's
  * size estimate is the product of its children's), the checkpoint
  * preserves the product, and the next fold squares it again. The
  * number's DIGITS double per fold, and by fold ~7 the driver spends
  * minutes inside `BigInteger.multiplyToomCook3` doing million-digit
  * arithmetic in statistics estimation (probed: the r18 ingest-CC chain
  * went 10 s → 681 s per fold on IDENTICALLY-SIZED increments; a
  * 12-fold toy chain with six-row inputs showed the same curve, which
  * is what ruled out data and convicted planning).
  *
  * This helper is the iterative-fold checkpoint: same execution
  * contract as `localCheckpoint()` (materialize once, cut lineage,
  * preserve physical partitioning/ordering) but the new [[LogicalRDD]]
  * carries FRESH, EXACT statistics — the row count the eager
  * materialization just produced × the schema's estimated row width —
  * instead of the child plan's compounded estimates. Exact stats are
  * bounded (no digit growth, ever) AND keep the next fold's broadcast
  * decisions sharp (dropping stats entirely made the CC loop's label
  * frame stop auto-broadcasting: q51 measured 1.8× slower on a close
  * run). Lives under `org.apache.spark.sql` for `private[sql]` access
  * to `Dataset.ofRows`/`EstimationUtils`; uses only stable
  * developer-facing pieces otherwise (LogicalRDD, executedPlan).
  */
object StatsSafeCheckpoint {
  def apply(df: DataFrame): DataFrame = apply(df, None)._1

  /** [[apply]] that ALSO counts, in the SAME materialization job, the
    * rows whose boolean `flagCol` is true — the iterative-loop
    * convergence probe ("did anything change this round?") without its
    * own follow-up job. The count is result-based (summed per-partition
    * tuples, not an accumulator), so task retries cannot inflate it.
    * `flagCol` resolves with the session's resolver (so it honours
    * `spark.sql.caseSensitive`) and must match exactly one column: a
    * missing or ambiguous name fails rather than counting a wrong one.
    */
  def counting(df: DataFrame, flagCol: String): (DataFrame, Long) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val resolver = ds.sparkSession.sessionState.conf.resolver
    val matches = ds.queryExecution.analyzed.output.zipWithIndex
      .filter { case (a, _) => resolver(a.name, flagCol) }
    require(matches.nonEmpty, s"StatsSafeCheckpoint.counting: no column '$flagCol'")
    require(matches.size == 1, s"StatsSafeCheckpoint.counting: '$flagCol' is ambiguous, " +
      s"it matches ${matches.map(_._1.name).mkString(", ")}")
    apply(df, Some(matches.head._2))
  }

  private def apply(df: DataFrame, flagOrdinal: Option[Int]): (DataFrame, Long) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val physical = qe.executedPlan
    // mirror Dataset.checkpoint's withAction: the materialization runs
    // under a SQL execution id so the job shows up in the SQL UI with
    // tracked metrics instead of as an orphan RDD job
    val (internal, rows, flagged) = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("statsSafeCheckpoint")) {
        val rdd = physical.execute().map(_.copy())
        rdd.localCheckpoint()
        flagOrdinal match {
          case None => (rdd, rdd.count(), 0L)
          case Some(ord) =>
            val perPart = rdd.mapPartitions { it =>
              var n = 0L
              var f = 0L
              it.foreach { r =>
                n += 1
                if (!r.isNullAt(ord) && r.getBoolean(ord)) f += 1
              }
              Iterator.single((n, f))
            }.collect()
            (rdd, perPart.iterator.map(_._1).sum, perPart.iterator.map(_._2).sum)
        }
      }
    // mirror Dataset.checkpoint: a PartitioningCollection can't outlive
    // its plan — keep its first concrete member, else drop to unknown
    val partitioning: Partitioning = physical.outputPartitioning match {
      case pc: PartitioningCollection =>
        pc.partitionings.collectFirst {
          case p if !p.isInstanceOf[PartitioningCollection] => p
        }.getOrElse(UnknownPartitioning(internal.getNumPartitions))
      case p => p
    }
    // REAL statistics from the materialization we just paid for: exact
    // row count × schema width. Strictly better than both alternatives —
    // the carried-estimate originStats compound across folds (the
    // BigInteger blowup), and NO stats costs the next fold its broadcast
    // decisions (a stats-free label frame stopped auto-broadcasting in
    // the CC loop: q51 measured 1.8× on the close run). These are exact,
    // bounded, and fold-stable.
    val sizePerRow = org.apache.spark.sql.catalyst.plans.logical
      .statsEstimation.EstimationUtils.getSizePerRow(qe.analyzed.output)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(rows) * sizePerRow, rowCount = Some(BigInt(rows)))
    // constraints (isNotNull facts etc.) are plan-derived, not
    // estimate-derived — they don't compound across folds, so carry
    // them exactly as the stock localCheckpoint does
    (Dataset.ofRows(spark,
      LogicalRDD(qe.analyzed.output, internal, partitioning,
        physical.outputOrdering)(spark, originStats = Some(stats),
        originConstraints = Some(qe.analyzed.constraints))), flagged)
  }
}
