package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call the benchmark made into a public function of the program. */
final case class Span(id: Long, kind: String, parent: Long, request: String,
    startNs: Long, endNs: Long, jobs: Int, driverGapS: Double,
    execRunS: Double, shuffleBytes: Long, fsBytesWritten: Long,
    outputRecords: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Per-job-group counters filled by the listener. */
private final class GroupStats {
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  var jobs = 0
  var execRunMs = 0L
  var shuffleBytes = 0L
  var outputRecords = 0L
}

/** Spans around the benchmark's calls into the program. Untraced, a span
  * only measures wall time. Traced, each span runs under its own Spark
  * job group; a listener attributes jobs and task metrics to the group,
  * and Hadoop FileSystem statistics are read before and after the call.
  * Spans stay in memory and are written out when the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var current = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (g != null && groups.containsKey(g)) {
        jobGroup.put(e.jobId, (g, e.time))
        e.stageIds.foreach(stageGroup.put(_, g))
        val s = groups.get(g)
        s.synchronized(s.jobs += 1)
      }
    }
    // a job still running when its span closed reports to no group
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      for {
        (g, start) <- Option(jobGroup.remove(e.jobId))
        s <- Option(groups.get(g))
      } s.synchronized(s.jobIntervals += ((start, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        g <- Option(stageGroup.get(e.stageId))
        s <- Option(groups.get(g))
        m <- Option(e.taskMetrics)
      } {
        s.synchronized {
          s.execRunMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.outputRecords += m.outputMetrics.recordsWritten
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  @annotation.nowarn("cat=deprecation")
  private def fsBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  /** Times `body` as one span of `kind`; nested spans name it as parent. */
  def span[T](kind: String, request: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = current
    current = id
    val group = s"perfbench-$id"
    val bytes0 = if (enabled) {
      groups.put(group, new GroupStats)
      sc.setJobGroup(group, kind)
      fsBytesWritten()
    } else 0L
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.nanoTime()
      val wall1 = System.currentTimeMillis()
      current = parent
      System.err.println(f"[perfbench] span $kind $request ${(t1 - t0) / 1e9}%.3f s")
      spans += (if (!enabled) Span(id, kind, parent, request, t0, t1,
        0, 0.0, 0.0, 0L, 0L, 0L)
      else {
        PerfbenchBus.drain(sc)
        val bytes1 = fsBytesWritten()
        sc.clearJobGroup()
        if (parent != 0) sc.setJobGroup(s"perfbench-$parent", "")
        val s = groups.remove(group)
        val covered = Tracer.covered(s.jobIntervals.toSeq, wall0, wall1)
        Span(id, kind, parent, request, t0, t1, s.jobs,
          math.max(0.0, (t1 - t0) / 1e9 - covered), s.execRunMs / 1e3,
          s.shuffleBytes, bytes1 - bytes0, s.outputRecords)
      })
    }
  }

  def all: Seq[Span] = spans.toSeq

  def writeJsonl(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"kind":"${s.kind}","parent":${s.parent},""" +
        s""""request":"${s.request}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""wall_s":${s.wallS},"jobs":${s.jobs},"driver_gap_s":${s.driverGapS},""" +
        s""""exec_run_s":${s.execRunS},"shuffle_bytes":${s.shuffleBytes},""" +
        s""""fs_bytes_written":${s.fsBytesWritten},""" +
        s""""output_records":${s.outputRecords}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Seconds of [from, to] (epoch ms) covered by the union of intervals. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var total = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total / 1e3
  }
}
