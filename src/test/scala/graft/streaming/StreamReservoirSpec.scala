package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Sampling

/** The continuous weighted reservoir must be indistinguishable from
  * running batch weightedExactK over the stream's prefix — after EVERY
  * increment, and under row re-delivery (at-least-once sources).
  */
class StreamReservoirSpec extends graft.SparkSpec {
  import spark.implicits._

  private def batchExpect(data: Seq[(String, Long, Double)], k: Int) =
    Sampling.weightedExactK(data.toDF("lang", "doc_id", "wt"),
        col("lang"), col("doc_id"), col("wt"), k)
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getLong(1).toString, r.getLong(3))).toSet)
      .toMap

  test("reservoir ≡ batch weightedExactK after every increment; replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val df = in.toDS().toDF("lang", "doc_id", "wt")
    val res = StreamReservoir.weightedTopK(df, "lang", "doc_id", "wt", k = 3)
    val snap = scala.collection.mutable.Map[String, Set[(String, Long)]]()
    val q = res.writeStream.outputMode("update")
      .foreachBatch { (b: Dataset[StreamReservoir.ReservoirRow], _: Long) =>
        b.collect().groupBy(_.stratum).foreach { case (s, rows) =>
          snap(s) = rows.map(r => (r.id, r.rank)).toSet
        }
      }.start()
    val inc1 = (1 to 20).map(i => ("en", i.toLong, (i % 5 + 1).toDouble))
    in.addData(inc1: _*)
    q.processAllAvailable()
    assert(snap.toMap === batchExpect(inc1, 3),
      "after increment 1 the reservoir must equal the batch prefix sample")
    val inc2 = (21 to 40).map(i => ("en", i.toLong, ((i * 3) % 7 + 1).toDouble)) ++
      (1 to 10).map(i => ("de", (100 + i).toLong, 1.0))
    in.addData(inc2: _*)
    q.processAllAvailable()
    assert(snap.toMap === batchExpect(inc1 ++ inc2, 3),
      "after increment 2 the merged reservoir must equal the batch sample")
    // at-least-once replay: re-delivering increment 1 must change nothing
    // (keys are deterministic per id; the merge dedups by id)
    in.addData(inc1: _*)
    q.processAllAvailable()
    q.stop()
    assert(snap.toMap === batchExpect(inc1 ++ inc2, 3),
      "re-delivered rows must leave the reservoir unchanged")
  }

  test("undrawable rows (NULL/zero/negative weight) never enter state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val df = in.toDS().toDF("lang", "doc_id", "wt")
    val res = StreamReservoir.weightedTopK(df, "lang", "doc_id", "wt", k = 5)
    val got = scala.collection.mutable.Set[String]()
    val q = res.writeStream.outputMode("update")
      .foreachBatch { (b: Dataset[StreamReservoir.ReservoirRow], _: Long) =>
        b.collect().foreach(r => got += r.id)
      }.start()
    in.addData(("en", 1L, 2.0), ("en", 2L, 0.0), ("en", 3L, -1.0))
    q.processAllAvailable()
    q.stop()
    assert(got.toSet === Set("1"))
  }
}
