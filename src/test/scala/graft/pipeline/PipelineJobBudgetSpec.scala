package graft.pipeline

import java.nio.file.{Files, Paths}

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

    assert(registers == Set(2), s"jobs per registration: $registers")
    assert(jobs.toMap == Map(
      "insert plain" -> 5, "update plain" -> 6, "delete plain" -> 7,
      "delete job plain" -> 5,
      "insert bucketed" -> 6, "update bucketed" -> 7, "delete bucketed" -> 7,
      "delete job bucketed" -> 5,
      "reject" -> 2), s"jobs per call: $jobs")
  }
}
