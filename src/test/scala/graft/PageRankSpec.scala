package graft

import org.apache.spark.sql.functions._
import graft.operators.Graphs

/** Integer-unit PageRank ([[Graphs.pageRank]], q162): the contract is
  * exact equality with an independent driver-side reference model (plain
  * Scala Maps, same floor-division semantics), plus invariance under
  * partitioning — integer arithmetic means the distributed sum can never
  * drift from the sequential one.
  */
class PageRankSpec extends SparkSpec {

  /** Sequential reference: same semantics as the operator scaladoc,
    * implemented independently (no DataFrames). */
  private def refRanks(edges: Seq[(String, String, Long)], iters: Int,
                       unit: Long = 1000000000L, dn: Long = 85L,
                       dd: Long = 100L): Map[String, Long] = {
    val e = edges.filter(t => t._3 > 0)
      .groupBy(t => (t._1, t._2)).map { case (k, ts) => (k._1, k._2, ts.map(_._3).sum) }
      .toSeq
    val outw = e.groupBy(_._1).map { case (s, ts) => s -> ts.map(_._3).sum }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val tele = unit * (dd - dn) / (dd * n)
    var r = nodes.map(_ -> unit / n).toMap
    for (_ <- 1 to iters) {
      val dMass = nodes.filter(v => !outw.contains(v)).map(r).sum
      val dShare = dMass * dn / (dd * n)
      val contrib = e.groupBy(_._2).map { case (dst, ts) =>
        dst -> ts.map(t => r(t._1) * dn * t._3 / (dd * outw(t._1))).sum
      }
      r = nodes.map(v => v -> (tele + dShare + contrib.getOrElse(v, 0L))).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String, Long)], iters: Int,
                  parts: Int = 1): Map[String, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst", "w").repartition(parts)
    Graphs.pageRank(df, weightCol = Some("w"), iters = iters)
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
  }

  test("matches the sequential reference exactly on a graph with a dangling sink") {
    val edges = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("b", "sink", 1L), ("c", "sink", 2L)) // sink has no outlinks
    assert(run(edges, iters = 5) == refRanks(edges, iters = 5))
  }

  test("duplicate edges consolidate before the floor division (not after)") {
    // floor(r*dn*2w/(dd*outw)) != 2*floor(r*dn*w/(dd*outw)) in general —
    // the reference consolidates, so equality proves the operator does too
    val dup = Seq(("a", "b", 1L), ("a", "b", 1L), ("b", "a", 3L), ("a", "c", 1L))
    assert(run(dup, iters = 4) == refRanks(dup, iters = 4))
  }

  test("partitioning-invariant: same integer ranks at 1 and 7 partitions") {
    val edges = (0L until 120L).flatMap { i =>
      Seq((s"n${i % 17}", s"n${(i * 7 + 3) % 17}", 1L + i % 3),
          (s"n${i % 17}", s"n${(i * 13 + 5) % 17}", 1L))
    }.filter(t => t._1 != t._2)
    val one = run(edges, iters = 5, parts = 1)
    assert(one == run(edges, iters = 5, parts = 7))
    assert(one == refRanks(edges, iters = 5))
  }

  test("self-loops feed rank back and dangling-free graphs skip the scalar pass") {
    val edges = Seq(("a", "a", 2L), ("a", "b", 1L), ("b", "a", 1L))
    assert(run(edges, iters = 3) == refRanks(edges, iters = 3))
  }

  test("mass is conserved up to deterministic floor loss") {
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
    val total = run(edges, iters = 5).values.sum
    // a 3-cycle with no dangling and exact thirds: loss only from the
    // per-edge and teleport floors — stays within iters*n units of unit
    assert(total <= 1000000000L && total >= 1000000000L - 5 * 3 * 2)
  }

  test("out_weight and n_in report the consolidated graph") {
    import spark.implicits._
    val df = Seq(("a", "b", 1L), ("a", "b", 2L), ("c", "b", 1L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    val got = Graphs.pageRank(df, weightCol = Some("w"), iters = 1)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((3L, 1L))) // outw = 1+2, in from b only
    assert(got("b") == ((1L, 2L))) // in from a (consolidated) and c
    assert(got("c") == ((1L, 0L)))
  }
}
