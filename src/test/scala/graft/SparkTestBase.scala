package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test / fork := true). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Local property that tags the jobs a [[SparkTestBase.countJobs]]
    * body starts (threads it creates inherit it, and Spark propagates it
    * to its broadcast futures).
    */
  private val JobTag = "graft.test.jobTag"
  private val jobsByTag = new ConcurrentHashMap[String, AtomicInteger]()
  private lazy val jobListener: Unit = spark.sparkContext.addSparkListener(
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobTag)))
          .foreach(t => jobsByTag.computeIfAbsent(t, _ => new AtomicInteger)
            .incrementAndGet())
    })
}

abstract class SparkTestBase extends AnyFunSuite {
  import SparkTestBase._

  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Delivers every queued listener event before returning. */
  def drainListenerBus(): Unit = ListenerBusBridge.drain(spark.sparkContext)

  /** Runs `body` and counts the Spark jobs it started: its jobs carry a
    * fresh tag, so jobs of other threads are not counted.
    */
  def countJobs[T](body: => T): (T, Int) = {
    jobListener
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val outer = sc.getLocalProperty(JobTag)
    sc.setLocalProperty(JobTag, tag)
    val result = try body finally sc.setLocalProperty(JobTag, outer)
    drainListenerBus()
    val n = Option(jobsByTag.remove(tag)).map(_.get).getOrElse(0)
    (result, n)
  }
}
