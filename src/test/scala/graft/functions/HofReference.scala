package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions.{dot, norm, planeSign}

/** Reference formulations of fused operators, in builtin DataFrame and
  * higher-order-function terms: the equivalence specs pin each fused
  * kernel bit-identical to its reference here, and each reference
  * documents the exact semantics the oracle mirrors.
  */
object HofReference {

  /** Cosine similarity ([[VectorFunctions.cosine]]). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Signed projection of a vector onto deterministic plane p. */
  private def signedSum(vec: Column, p: Int): Column =
    aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => x.cast("double") * planeSign(p, i)),
      lit(0.0), (acc, v) => acc + v)

  /** Multi-table LSH signatures ([[VectorFunctions.lshTableSignatures]]). */
  def lshTableSignatures(vec: Column, tables: Int, planesPerTable: Int): Column =
    array((0 until tables).map { t =>
      (0 until planesPerTable).map { j =>
        when(signedSum(vec, t * planesPerTable + j) > 0, lit(1))
          .otherwise(lit(0)) * lit(1 << j)
      }.reduce(_ + _)
    }: _*)

  /** Highest occurrence count of any token ([[TextFunctions.maxTokenFreq]]):
    * quadratic, and re-splits the text once per distinct token (no CSE
    * across lambdas).
    */
  def maxTokenFreq(c: Column): Column =
    array_max(transform(array_distinct(tokens(c)),
      d => size(filter(tokens(c), t => t === d))))

  /** The r15 DataFrame formulation of [[VectorFunctions.pqEncode]]:
    * posexplode into m subvector rows × broadcast codebook join × argmin
    * window × collect_list regroup.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    val subs = df.select(col(idCol).as("__eid"),
      posexplode(array((0 until m).map(i =>
        slice(col(vecCol), i * subDim + 1, subDim)): _*)).as(Seq("__m", "__sv")))
      .withColumn("__m", col("__m").cast("long"))
    val l2 = aggregate(zip_with(col("__sv"), col("__cvec"),
        (x, y) => (x.cast("double") - y.cast("double"))
          * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val w = Window.partitionBy(col("__eid"), col("__m"))
      .orderBy(col("__l2").asc, col("__code").asc)
    subs.join(broadcast(codebooks), Seq("__m"))
      .withColumn("__l2", l2)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("__eid"))
      .agg(
        transform(array_sort(collect_list(struct(col("__m"), col("__code")))),
          s => s.getField("__code")).as("__codes"),
        sum(dot(col("__cvec"), col("__cvec"))).as("__rnorm2"))
  }

  /** The vector-keyed ranking of probe ⋈ list candidates that
    * [[VectorFunctions.rankProbed]] replaced: distinct over both ids AND
    * both vectors, then the cosine and the rank. Equal to rankProbed
    * except where one id pair holds two different vectors whose cosines
    * are bit-equal (rankProbed then keeps one row, this keeps two).
    */
  def rankProbedByVector(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    candidates.filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("__qv"), col("__cv"))
      .distinct()
      .withColumn("cos", VectorFunctions.cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }
}
