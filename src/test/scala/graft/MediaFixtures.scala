package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Media-table fixtures for the codec and frame-sampling specs. */
object MediaFixtures {

  /** A media table (`Multimodal`'s media column group) from any source
    * table: deterministic fake sha-derived blobs that no codec decodes,
    * kind cycling image/audio/video by id, and declared metadata with
    * `n_frames = id % 8 + 1`.
    */
  def synthesize(src: DataFrame, idCol: String): DataFrame =
    src.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("kind"),
      unbase64(base64(sha2(col(idCol).cast("string"), 256).cast("binary"))).as("bytes"),
      struct(
        (pmod(col(idCol).cast("long"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col(idCol).cast("long"), lit(4)) * 90 + 180).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (pmod(col(idCol).cast("long"), lit(8)) + 1).cast("int").as("n_frames"),
        lit("application/octet-stream").as("mime")
      ).as("meta"))
}
