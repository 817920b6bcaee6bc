package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Sampling

/** Continuous weighted reservoir — the streaming twin of
  * [[graft.operators.Sampling.weightedExactK]] (q114): each stratum keeps
  * the k rows with the LARGEST A-ES keys u(id)^(1/w) seen so far (u is
  * [[graft.operators.Sampling.uniform01]], the md5 draw the batch
  * operator and its oracle use), so at any instant the reservoir is
  * exactly what the batch operator would select over the stream's
  * prefix (A-ES selection is a max-k over a pure per-row key —
  * associative and replay-safe, so increments merge losslessly;
  * spec-pinned parity per increment).
  *
  * State: k (key, id, weight) entries per stratum — independent of event
  * volume (the [[StreamDrift]] bounded-state discipline). Each
  * micro-batch emits the UPDATED strata's full current reservoirs
  * (update mode): consumers overwrite per stratum, so a re-emitted
  * snapshot is idempotent. Re-delivered rows are harmless by
  * construction — an id's key is deterministic, and the merge dedups by
  * id before cutting.
  *
  * Tie-break contract: key DESC, then id ASC compared AS STRINGS (the
  * state must be engine-portable and type-erased; batch compares ids in
  * their native type — feed string-safe ids, or accept that a 9-dp key
  * tie between differently-ordered ids may pick a different winner than
  * batch; at 9 dp, ties between distinct ids are hash collisions).
  */
object StreamReservoir {

  final case class ReservoirRow(stratum: String, id: String,
                                weight: Double, key: Double, rank: Long)

  def weightedTopK(stream: DataFrame, stratumCol: String, idCol: String,
                   weightCol: String, k: Int, seed: Long = 42L): Dataset[ReservoirRow] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = stream.sparkSession
    import spark.implicits._
    val w = col(weightCol).cast("double")
    val key = round(pow(Sampling.uniform01(col(idCol), seed),
      lit(1.0) / w), 9)
    val keyed = stream
      .filter(col(idCol).isNotNull && w.isNotNull && w > 0)
      .select(col(stratumCol).cast("string").as("stratum"),
        col(idCol).cast("string").as("id"), w.as("weight"), key.as("key"))
      .as[(String, String, Double, Double)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Double, String, Double)], ReservoirRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (stratum, rows, state: GroupState[List[(Double, String, Double)]]) =>
          val cur = state.getOption.getOrElse(Nil)
          val merged = (cur ++ rows.map(t => (t._4, t._2, t._3)))
            .groupBy(_._2).map(_._2.head).toList // replays dedup by id
            .sortBy { case (ky, id, _) => (-ky, id) }
            .take(k)
          state.update(merged)
          merged.zipWithIndex.map { case ((ky, id, wt), i) =>
            ReservoirRow(stratum, id, wt, ky, (i + 1).toLong)
          }.iterator
      }
  }
}
