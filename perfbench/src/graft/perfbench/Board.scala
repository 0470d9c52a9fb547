package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.Tables
import graft.functions.VectorIndex
import graft.queries._

/** Read-side analytics with no catalog commits: a fixed list of declared
  * board rows in a seed-shuffled order, then the lifecycle of a vector
  * index (build on a seeded half, append, delete, compact, serve).
  */
final class Board(spark: SparkSession, tracer: Tracer, result: RunResult,
    data: String, work: String, seed: Long) {
  import Board._

  /** After `Board.setup`: an untimed pass in the declared order writes
    * each row's output under `dump` for the DuckDB fingerprint check;
    * then the timed pass sends each row to the noop sink in a
    * seed-shuffled order; then the vector index lifecycle, checked
    * against a fresh build.
    */
  def run(dump: String): Unit = {
    rows.foreach { q =>
      val r0 = System.nanoTime()
      result.attempt {
        try q.fn(spark, data).write.mode("overwrite").parquet(s"$dump/${q.name}")
        finally spark.catalog.clearCache()
        true
      }
      System.err.println(f"[perfbench] check ${q.name} ${(System.nanoTime() - r0) / 1e9}%.3f s")
    }
    writeOracle(dump)
    new Random(seed).shuffle(rows).foreach { q =>
      result.measure(result.units)(result.attempt(
        tracer.span(s"queries.${module(q.name)}", q.name) {
          try q.fn(spark, data).write.format("noop").mode("overwrite").save()
          finally spark.catalog.clearCache()
          true
        }))
    }
    lifecycle(s"$work/idx")
  }

  private def writeOracle(dump: String): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), rows.flatMap(r =>
      r.oracle.map(sql => s"${q(r.name)}: ${q(sql)}")).mkString("{", ",\n", "}"))
  }

  // ---------------------------------------------------- index lifecycle

  private lazy val vecs = Tables.load(spark, data, "embeddings").select("vec_id", "embedding")

  /** The seeded half of the corpus the index is built on; the rest is appended. */
  private val inBase = pmod(xxhash64(col("vec_id"), lit(seed)), lit(2)) === 0

  private def call[T](phase: String)(body: => T): Option[T] = {
    var out: Option[T] = None
    result.measure(result.batch)(result.attempt(
      tracer.span(s"functions.VectorIndex.$phase", "VectorIndex") { out = Some(body); true }))
    out
  }

  private def build(df: DataFrame, dir: String): Unit =
    VectorIndex.build(df, "vec_id", "embedding", dir, numCentroids = Centroids)

  /** Served neighbour rows (as strings) and the ids they return. Probing
    * every list makes the search exact, so a rebuild on other centroids
    * must serve the same neighbours.
    */
  private def serve(dir: String): (Set[String], Set[Long]) =
    try {
      val rows = VectorIndex.topK(spark, dir,
        vecs.filter(pmod(col("vec_id"), lit(25)) === 0)
          .withColumn("vec_id", col("vec_id") + lit(ProbeOffset)),
        "vec_id", "embedding", k = 5, nprobe = Centroids)
        .select("query_id", "neighbor_id", "rank", "cos").collect()
      (rows.map(_.toSeq.mkString("|")).toSet, rows.map(_.getAs[Number](1).longValue).toSet)
    } finally spark.catalog.clearCache()

  /** Build on a seeded half, append the other half, delete a seeded
    * twelfth of the base, compact, serve. The serve must return no
    * deleted id and equal a serve over an untimed fresh build of the
    * surviving rows.
    */
  private def lifecycle(root: String): Unit = {
    val dir = s"$root/VectorIndex"
    call("build")(build(vecs.filter(inBase), dir))
    call("mutate")(VectorIndex.append(vecs.filter(!inBase), "vec_id", "embedding", dir))
    val del = vecs.filter(inBase && pmod(xxhash64(col("vec_id"), lit(seed + 1)), lit(12)) === 0)
      .select("vec_id")
    val deleted = del.collect().map(_.getAs[Number](0).longValue).toSet
    call("mutate")(VectorIndex.delete(del, "vec_id", dir))
    call("mutate")(VectorIndex.compact(spark, dir))
    call("serve")(serve(dir)).foreach { case (rows, ids) =>
      result.check("VectorIndex serve returns no deleted id",
        (ids & deleted).isEmpty, s"returned ${ids & deleted}")
      val fresh = s"$root/VectorIndex-fresh"
      build(vecs.filter(!col("vec_id").isin(deleted.toSeq: _*)), fresh)
      val want = serve(fresh)._1
      result.check("VectorIndex serve after mutate and compact equals a fresh build",
        rows == want, s"${rows.size} rows vs ${want.size}")
    }
  }
}

object Board {
  /** The shared set-up, `reps` times, each on a fresh session: register
    * the ten input tables as views (`Tables.registerAll`: file listing
    * and footers, which `Tables.load` then caches for the session).
    * Returns the last session, which the run uses. The untimed check
    * pass of `run` is the warm-up.
    */
  def setup(spark: SparkSession, data: String, reps: Int, result: RunResult): SparkSession =
    (1 to reps).map { _ =>
      val s = spark.newSession()
      result.measure(result.setups)(Tables.registerAll(s, data))
      s
    }.last

  // one row per queries module and per custom operator (SkewJoin, Ivm,
  // AsOfJoin, RangeJoin), plus the bus, the JDBC sink, streaming (e34)
  // and multimodal; s01 is the exact cosine scan
  val RelationalRows = Seq("q24_salted_join", "q49_ivm_merge",
    "e04_asof_join", "e08_range_join", "e11_bus_roundtrip", "e34_twap",
    "op09_jdbc_delete", "op11_cdc_apply")
  val LlmRows = Seq("s01_cosine_topk", "t20_image_features")
  val Centroids = 8
  val ProbeOffset = 1000000L

  private val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> graft.queries.Relational.all, "ParityOps" -> ParityOps.all,
    "JdbcParity" -> JdbcParity.all, "EventOps" -> EventOps.all, "LlmOps" -> LlmOps.all)

  def module(name: String): String = modules.find(_._2.exists(_.name == name)).get._1

  val rows: Seq[Q] = (RelationalRows ++ LlmRows).map(n =>
    modules.flatMap(_._2).find(_.name == n).getOrElse(
      throw new IllegalStateException(s"board row $n is not declared")))
}
