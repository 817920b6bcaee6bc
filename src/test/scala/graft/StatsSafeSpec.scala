package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Dedup
import graft.plans.Iterative

/** The iterative-fold checkpoint contract ([[Iterative.cut]]): lineage
  * is cut, results are identical, and — the regression this spec
  * exists for — the rebuilt leaf carries NO origin statistics, so a
  * chain of folds cannot compound sizeInBytes estimates into
  * million-digit BigInts (the r18 planning blowup: digits doubled per
  * fold until the driver sat in BigInteger.multiplyToomCook3).
  */
class StatsSafeSpec extends SparkSpec {

  private def sizeBits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.bigInteger.bitLength

  test("fold chain keeps plan-statistic magnitudes bounded") {
    import spark.implicits._
    var standing = Dedup.connectedComponents(
      Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"))
    for (r <- 1 to 6) {
      val edges = Seq((r * 10L, r * 10L + 1L), (r * 10L + 2L, 1L))
        .toDF("id_a", "id_b")
      standing = Iterative.cut(Dedup.updateComponents(standing, edges))
      // a stats-carrying checkpoint doubles this per fold (hundreds of
      // bits by fold 6, millions by fold ~20); the stats-free leaf
      // stays at defaultSizeInBytes magnitude
      assert(sizeBits(standing) <= 64, s"fold $r: ${sizeBits(standing)} bits")
    }
    // and the labels are still right after 6 folds
    val got = standing.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = (1 to 6).flatMap(r =>
      Seq((r * 10L, r * 10L + 1L), (r * 10L + 2L, 1L))) ++ Seq((1L, 2L), (3L, 4L))
    val batch = Dedup.connectedComponents(
      spark.createDataFrame(all).toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
  }

  test("cut preserves rows and schema exactly") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "v")
      .repartition(3)
    val cut = Iterative.cut(df)
    assert(cut.schema == df.schema)
    assert(cut.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, null), (3L, "c")))
  }

  test("cutCounting binds the flag column by the session resolver, exactly once") {
    def flags(s: org.apache.spark.sql.SparkSession, names: String*): DataFrame =
      s.createDataFrame(Seq((true, false), (true, false), (false, false)))
        .toDF(names: _*)
    for (cs <- Seq("true", "false")) Sessions.withConfIsolated(spark,
        "spark.sql.caseSensitive" -> cs) { s =>
      // the first flag column holds two trues, the second none: a wrong
      // binding shows up as a wrong count
      assert(Iterative.cutCounting(flags(s, "flag", "other"), "flag")._2 == 2)
      assert(Iterative.cutCounting(flags(s, "other", "flag"), "flag")._2 == 0)
      // a duplicated name is ambiguous under either setting
      val dup = intercept[IllegalArgumentException](
        Iterative.cutCounting(flags(s, "flag", "flag"), "flag"))
      assert(dup.getMessage.contains("ambiguous"), s"caseSensitive=$cs")
      if (cs == "true") {
        // exact case only: the variant is another column
        assert(Iterative.cutCounting(flags(s, "FLAG", "flag"), "flag")._2 == 0)
        intercept[IllegalArgumentException](
          Iterative.cutCounting(flags(s, "FLAG", "other"), "flag"))
      } else {
        // the variant resolves; two case variants are ambiguous
        assert(Iterative.cutCounting(flags(s, "FLAG", "other"), "flag")._2 == 2)
        val ci = intercept[IllegalArgumentException](
          Iterative.cutCounting(flags(s, "FLAG", "flag"), "flag"))
        assert(ci.getMessage.contains("ambiguous"))
      }
    }
  }
}
