package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.catalog.Catalog
import graft.model._
import graft.notify.InMemoryNotifier

/** Spark jobs per pipeline call, pinned. The approval path pays for
  * commit machinery rather than data, so every job on it is a cost per
  * event: a job added (or removed) anywhere on the path changes a count
  * here and is a reviewed change. Counts are for small tables in the
  * shared local[4] test session.
  */
class PipelineJobBudgetSpec extends SparkTestBase {

  private def land(landing: String, path: String, csv: String): Unit = {
    val f = Paths.get(landing, "b1", path)
    Files.createDirectories(f.getParent)
    Files.writeString(f, csv)
  }

  test("registration, approvals and the delete job stay within their job budgets") {
    val landing = tmpDir("landing")
    val p = new Pipeline(spark, new Catalog(spark, tmpDir("wh")),
      new InMemoryNotifier, landing)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val registers = scala.collection.mutable.Set.empty[Int]
    var n = 0
    // lands, registers and answers one file event; the jobs of the two
    // calls are recorded under `label` when one is given
    def event(op: String, table: String, csv: String, action: String = "approve",
        label: Option[String] = None): Unit = {
      n += 1
      land(landing, s"$op/$table.csv", csv)
      val (_, reg) = countJobs(
        p.registerArrival(FileEvent("b1", s"$op/$table.csv", s"e$n")))
      val (_, app) = countJobs(p.processApproval(ApprovalEvent(s"e$n", action,
        s"$op/$table.csv", table, op, "b1", Some(1L), None,
        Some("2026-01-02T03:04:05Z"), None)))
      label.foreach { l =>
        registers += reg
        jobs(l) = app
      }
    }
    // set-up, not counted: both tables loaded and keyed, and the
    // bucketed one migrated into its layout by a first mutation
    for (t <- Seq("plain", "bucketed")) {
      event("insert", t, "id,v\n" + (1 to 40).map(k => s"$k,v$k\n").mkString)
      p.catalog.registerPrimaryKey(t, Seq("id"))
    }
    p.catalog.registerBucketLayout("bucketed", 4)
    event("update", "bucketed", "id,v\n1,x\n")
    assert(p.catalog.hasBucketManifest("bucketed"))

    for (t <- Seq("plain", "bucketed")) {
      event("insert", t, "id,v\n41,a\n42,b\n", label = Some(s"insert $t"))
      event("update", t, "id,v\n3,c\n41,d\n", label = Some(s"update $t"))
      event("delete", t, "id\n5\n6\n", label = Some(s"delete $t"))
      jobs(s"delete job $t") = countJobs(p.executePendingDeletes())._2
      assert(p.catalog.read(t).count() == 40)
    }
    event("insert", "plain", "id,v\n50,z\n", action = "reject", label = Some("reject"))

    assert(registers == Set(1), s"jobs per registration: $registers")
    // control lookups answer from the catalog's log index (no job); a
    // staged delete collects its keys and appends them, and the delete
    // job commits its tombstones and stamps its rows
    assert(jobs.toMap == Map(
      "insert plain" -> 2, "update plain" -> 2, "delete plain" -> 3,
      "delete job plain" -> 2,
      "insert bucketed" -> 2, "update bucketed" -> 2, "delete bucketed" -> 3,
      "delete job bucketed" -> 2,
      "reject" -> 1), s"jobs per call: $jobs")
  }

  test("an update approval and the delete job scan no file of their target table") {
    import spark.implicits._
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    val p = new Pipeline(spark, new Catalog(spark, root), new InMemoryNotifier, landing)
    land(landing, "insert/t.csv", "id,v\n" + (1 to 40).map(k => s"$k,v$k\n").mkString)
    p.registerArrival(FileEvent("b1", "insert/t.csv", "e1"))
    p.processApproval(ApprovalEvent("e1", "approve", "insert/t.csv", "t", "insert", "b1",
      Some(1L), None, Some("2026-01-02T03:04:05Z"), None))
    p.catalog.registerPrimaryKey("t", Seq("id"))
    p.catalog.registerBucketLayout("t", 4)
    p.catalog.overwriteAllBuckets("t", p.catalog.read("t"))
    // the root paths of every file scan the session plans meanwhile
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        collect(qe.executedPlan) { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString) }.flatten.foreach(scanned.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      land(landing, "update/t.csv", "id,v\n3,c\n41,d\n3,e\n")
      p.registerArrival(FileEvent("b1", "update/t.csv", "e2"))
      p.processApproval(ApprovalEvent("e2", "approve", "update/t.csv", "t", "update", "b1",
        Some(2L), None, Some("2026-01-02T03:04:05Z"), None))
      land(landing, "delete/t.csv", "id\n5\n6\n")
      p.registerArrival(FileEvent("b1", "delete/t.csv", "e3"))
      p.processApproval(ApprovalEvent("e3", "approve", "delete/t.csv", "t", "delete", "b1",
        Some(3L), None, Some("2026-01-02T03:04:05Z"), None))
      assert(p.executePendingDeletes().size == 2)
      drainListenerBus()
    } finally spark.listenerManager.unregister(listener)
    val paths = scanned.toArray.toSeq.map(_.toString)
    // the listener sees the landed files' scans, and none of t's
    assert(paths.exists(_.contains(s"$landing/b1/update/t.csv")), s"scans: $paths")
    assert(paths.exists(_.contains(s"$landing/b1/delete/t.csv")), s"scans: $paths")
    assert(!paths.exists(_.contains(s"$root/t/")), s"the target table was scanned: $paths")
    assert(p.catalog.read("t").as[(String, String)].collect().toMap ==
      ((1 to 40).map(k => s"$k" -> s"v$k").toMap - "5" - "6" + ("3" -> "e") + ("41" -> "d")))
  }
}
