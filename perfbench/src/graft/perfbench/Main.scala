package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM at local[<cores>]:
  *
  *   Main --workload <etl|analytics> --seed <n> --seconds <s>
  *        --trace <0|1> --data <inputDir> --work <dir> --out <result.json>
  *
  * `etl` runs trickle files until `--seconds` have passed; `analytics`
  * makes one timed pass, which already takes about as long. Writes the run's metrics,
  * attempted/failed counts and check notes to `--out`, and with
  * `--trace 1` the spans next to it as JSON lines.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val traced = args("trace") == "1"
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val heap = new HeapPeak
    val result = new RunResult
    workload match {
      case "etl" =>
        val etl = new Etl(spark, tracer, result, args("data"), work, seed)
        etl.setup(SetupReps)
        heap.reset()
        etl.run(args("seconds").toDouble, SetupReps)
      case "analytics" =>
        val session = Board.setup(spark, args("data"), SetupReps, result)
        heap.reset()
        new Board(session, tracer, result, args("data"), work, seed).run(s"$work/board-dump")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result.layer("heap_peak_mb") = heap.peakMb
    if (traced) {
      Layers.fill(result, tracer.all, cores)
      tracer.writeJsonl(args("out").stripSuffix(".json") + "-spans.jsonl")
    }
    Files.writeString(Paths.get(args("out")), Json.result(result))
    spark.stop()
  }
}

/** Peak used heap summed over the heap memory pools. */
final class HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Per-layer metrics from the spans of a traced run. */
object Layers {
  val Kinds: Seq[String] = Seq(
    "pipeline.register", "pipeline.approve_insert", "pipeline.approve_update",
    "pipeline.approve_delete", "pipeline.approve_bulk_delete", "pipeline.approve_status_only",
    "pipeline.delete_job",
    "queries.Relational", "queries.EventOps", "queries.ParityOps",
    "queries.JdbcParity", "queries.LlmOps") ++
    Seq("build", "mutate", "serve").map(p => s"functions.VectorIndex.$p")

  def fill(r: RunResult, spans: Seq[Span], cores: Int): Unit = {
    Kinds.foreach { k =>
      val ss = spans.filter(_.kind == k)
      def mean(f: Span => Double) = if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
      r.layer(s"$k.calls") = ss.size
      r.layer(s"$k.jobs") = mean(_.jobs)
      r.layer(s"$k.shuffle_bytes") = mean(_.shuffleBytes.toDouble)
      r.layer(s"$k.fs_bytes_written") = mean(_.fsBytesWritten.toDouble)
    }
    val leaves = spans.filter(s => Kinds.contains(s.kind))
    val wall = leaves.map(_.wallS).sum
    r.layer("spans.wall_s") = wall
    r.layer("spans.driver_gap_share") = leaves.map(_.driverGapS).sum / wall
    r.layer("spans.exec_busy_share") = leaves.map(_.execRunS).sum / (wall * cores)
    r.layer("spans.jobs") = leaves.map(_.jobs).sum
    r.endToEnd.foreach { case (m, v) => r.layer(s"traced.$m") = v }
    r.wall.foreach { case (m, v) => r.layer(s"wall.$m") = v }
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def result(r: RunResult): String = {
    val e2e = r.endToEnd.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    val wall = r.wall.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    val layer = r.layer.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, "units": ${r.units.size},""" +
      s""" "end_to_end": {$e2e}, "wall": {$wall}, "per_layer": {$layer},""" +
      s""" "notes": [${r.notes.take(50).map(str).mkString(", ")}]}"""
  }
}
