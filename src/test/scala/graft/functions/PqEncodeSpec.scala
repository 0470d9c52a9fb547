package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the fused PqEncode kernel bit-identical to the r15 DataFrame
  * formulation (posexplode × broadcast codebook join × argmin window ×
  * regroup, kept as HofReference.pqEncode) over the whole fixture embedding
  * corpus: same codes per subspace (L2 argmin, ties to the lower
  * code under Spark's total double order) and the same reconstructed
  * squared norm.
  */
class PqEncodeSpec extends SparkTestBase {

  test("fused pqEncode == the window formulation on the fixture corpus") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val m = 16
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val subDim = dims / m
    val cb = VectorFunctions.pqCodebooks(emb, "vec_id", "embedding", m,
      codes = 16)
    val fused = VectorFunctions.pqEncode(emb, "vec_id", "embedding", cb,
      m, subDim)
    val ref = HofReference.pqEncode(emb, "vec_id", "embedding", cb,
      m, subDim)
    val joined = fused.as("f")
      .join(ref.as("r"), col("f.__eid") === col("r.__eid"), "full_outer")
    val bad = joined.filter(
      not(col("f.__codes") <=> col("r.__codes")) ||
        not(col("f.__rnorm2") <=> col("r.__rnorm2")))
      .count()
    assert(bad == 0L, s"$bad vectors diverge between fused and window encode")
    spark.catalog.clearCache()
  }
}
