package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, Similarity}

/** The native codegen expressions must agree bit-for-bit with the
  * Column-combinator reference implementations they replace.
  */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = {
    val rnd = new scala.util.Random(7)
    (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    }.toDF("id", "v")
  }

  test("cosineFast / l2sqFast match combinator versions") {
    GraftFunctions.ensureRegistered(spark)
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(
        ExactReference.cosine(col("a.v"), col("b.v")).as("cos_ref"),
        Similarity.cosineFast(col("a.v"), col("b.v")).as("cos_fast"),
        ExactReference.l2sq(col("a.v"), col("b.v")).as("l2_ref"),
        Similarity.l2sqFast(col("a.v"), col("b.v")).as("l2_fast"))
    // the combinator form multiplies in FLOAT (zip_with preserves element
    // type) while the kernel promotes to double first — the kernel is the
    // more accurate of the two, so equivalence holds to float-product
    // rounding (~dim · 2^-24), not exactly
    val bad = pairs.filter(
      abs(col("cos_ref") - col("cos_fast")) > 1e-4 ||
      abs(col("l2_ref") - col("l2_fast")) > 1e-4).count()
    assert(bad === 0)
  }

  test("rhpBucketFast matches combinator rhpBucket for several plane counts/seeds") {
    GraftFunctions.ensureRegistered(spark)
    for (nPlanes <- Seq(4, 10, 16); seed <- Seq(42, 7919)) {
      val bad = vecs.select(
        ExactReference.rhpBucket(col("v"), nPlanes, 64, seed).as("ref"),
        Similarity.rhpBucketFast(col("v"), nPlanes, seed).as("fast")
      ).filter(col("ref") =!= col("fast")).count()
      assert(bad === 0, s"nPlanes=$nPlanes seed=$seed")
    }
  }

  test("graft functions resolve via SQL after extension-style registration") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT graft_vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("cosine of zero vector is 0.0, not NaN") {
    GraftFunctions.ensureRegistered(spark)
    val z = Seq((1L, Array.fill(4)(0f), Array(1f, 2f, 3f, 4f))).toDF("id", "a", "b")
    val out = z.select(Similarity.cosineFast(col("a"), col("b"))).as[Double].head()
    assert(out === 0.0)
  }
}
