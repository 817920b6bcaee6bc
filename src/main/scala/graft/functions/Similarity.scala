package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity columns over `array<float>` embedding columns.
  *
  * Each is one native Catalyst expression: an O(1) tree node and one
  * tight JVM loop per row, inside whole-stage codegen with no UDF boxing.
  * Requires `GraftFunctions.ensureRegistered` on the session (operators
  * do this). Specs pin each to a `zip_with`/`aggregate` combinator form.
  */
object Similarity {

  /** Cosine similarity (double); 0.0 when either vector is all-zero. */
  def cosineFast(a: Column, b: Column): Column = call_function("graft_vec_cosine", a, b)

  /** Squared euclidean distance (double). */
  def l2sqFast(a: Column, b: Column): Column = call_function("graft_vec_l2sq", a, b)

  /** Random-hyperplane LSH bucket id: sign-bit signature of the vector
    * against `nPlanes` deterministic ±1 planes derived from `seed`,
    * packed into a long. Vectors in the same bucket are cosine-close
    * candidates — the scale path for ANN self-joins: candidates shuffle
    * per bucket instead of the full n² pair space.
    */
  def rhpBucketFast(vec: Column, nPlanes: Int, seed: Int = 42): Column =
    call_function("graft_rhp_bucket", vec, lit(nPlanes), lit(seed))
}
