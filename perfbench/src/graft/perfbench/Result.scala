package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Wall seconds and CPU seconds of one timed call. The CPU is that of
  * the JVM's Java threads (the driver, the local executors and Spark's
  * own pools), which leaves out the JIT compiler and GC threads.
  */
final case class Sample(wallS: Double, cpuS: Double)

final class Samples extends mutable.ArrayBuffer[Sample]

/** What one run measured and checked. `units` are the workload's units
  * (etl: one trickle file whose approval applies; analytics: one board
  * row); `batch` is the fixed work that closes the run (etl: the bulk
  * file, its duplicate delivery and the last delete job; analytics: the
  * vector index lifecycle); `other` is the rest of the timed work (etl:
  * rejected or failed approvals, duplicate deliveries and delete jobs
  * inside the loop); `setups` the repetitions of the shared set-up.
  */
final class RunResult {
  val setups = new Samples
  val units = new Samples
  val batch = new Samples
  val other = new Samples
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Times `body` into `into`: `units`, `batch`, `other` or `setups`. */
  def measure[T](into: Samples)(body: => T): T = {
    val (out, s) = Stats.time(body)
    into += s
    System.err.println(f"[perfbench] timed ${s.wallS}%.3f s, cpu ${s.cpuS}%.3f s")
    out
  }

  def note(msg: String): Unit = { notes += msg; System.err.println(s"[perfbench] $msg") }

  /** One operation: counts as failed if it throws or returns false. */
  def attempt(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Exception => note(s"operation threw: $e"); false
    }
    if (!ok) failed += 1
  }

  def check(what: String, ok: Boolean, detail: => String): Unit =
    attempt { if (!ok) note(s"check failed: $what: $detail"); ok }

  /** The end-to-end metrics, in CPU time. On a shared host the wall
    * time of a call also counts the time other tenants held the cores:
    * the wall figures of whole runs moved together by up to 2x within
    * minutes. CPU time does not count that time and moved far less.
    */
  def endToEnd: Map[String, Double] = Map(
    "setup_s" -> Stats.median(setups.map(_.cpuS).toSeq),
    "cpu_p50_ms" -> Stats.median(units.map(_.cpuS).toSeq) * 1e3,
    "batch_cpu_ms" -> batch.map(_.cpuS).sum * 1e3)

  /** The same figures in wall time. */
  def wall: Map[String, Double] = Map(
    "setup_s" -> Stats.median(setups.map(_.wallS).toSeq),
    "unit_p50_ms" -> Stats.median(units.map(_.wallS).toSeq) * 1e3,
    "batch_ms" -> batch.map(_.wallS).sum * 1e3)
}

object Stats {
  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of each live Java thread. */
  private def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(ids.map(threads.getThreadCpuTime)).filter(_._2 >= 0).toMap
  }

  /** Runs `body`; its wall seconds and the CPU seconds all Java threads
    * spent meanwhile (a thread that ends before `body` returns is lost).
    */
  def time[T](body: => T): (T, Sample) = {
    val (t0, c0) = (System.nanoTime(), threadCpu())
    val out = body
    val c1 = threadCpu()
    val cpu = c1.map { case (id, ns) => ns - c0.getOrElse(id, 0L) }.sum
    (out, Sample((System.nanoTime() - t0) / 1e9, cpu / 1e9))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}


