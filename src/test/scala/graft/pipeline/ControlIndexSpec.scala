package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.SparkTestBase
import graft.catalog.Catalog
import graft.model._
import graft.notify.InMemoryNotifier

/** The control logs' driver index (Catalog.logViews) equals a read of the
  * logs after every step, while a second Catalog on the same root
  * commits registrations, approvals, a fold and a delete job between
  * the first one's lookups.
  */
class ControlIndexSpec extends SparkTestBase {

  // the index's rows of each ref
  private val Rows = new Catalog.LogView[Seq[Row]](identity)

  private def multiset(rows: Seq[Row]): Map[Row, Int] =
    rows.groupBy(identity).map { case (k, v) => k -> v.size }

  test("the control index equals catalog.read after every step of two writers") {
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    def pipeline() = new Pipeline(spark, new Catalog(spark, root), new InMemoryNotifier, landing)
    val (a, b) = (pipeline(), pipeline())
    var n = 0
    def event(p: Pipeline, op: String, csv: String): String = {
      n += 1
      val id = s"e$n"
      val f = Paths.get(landing, "b1", op, "customers.csv")
      Files.createDirectories(f.getParent)
      Files.writeString(f, csv)
      p.registerArrival(FileEvent("b1", s"$op/customers.csv", id))
      id
    }
    def answer(p: Pipeline, id: String, op: String, action: String = "approve"): Unit =
      p.processApproval(ApprovalEvent(id, action, s"$op/customers.csv", "customers", op, "b1",
        None, None, Some("2026-01-02T03:04:05Z"), None))
    // both catalogs' lookups of both logs equal a fresh read
    def same(step: String): Unit =
      for (p <- Seq(a, b); t <- Seq(p.ControlTable, p.DeleteControlTable)) {
        val read = new Catalog(spark, root).read(t).collect().toSeq
        assert(multiset(p.catalog.logViews(t, Rows).flatten) == multiset(read),
          s"after $step: $t")
      }

    val e1 = event(a, "insert", "customer_id,name\n1,a\n2,b\n3,c\n")
    same("a registers")
    answer(a, e1, "insert")
    a.catalog.registerPrimaryKey("customers", Seq("customer_id"))
    same("a approves an insert")
    val e2 = event(b, "update", "customer_id,name\n2,B\n4,d\n")
    val e3 = event(b, "delete", "customer_id\n1\n")
    // a's lookup reads b's two refs in one job, then none
    assert(countJobs(a.alreadyProcessed(e2))._2 == 1)
    assert(countJobs(a.alreadyProcessed(e3))._2 == 0)
    same("b registers")
    answer(b, e2, "update")
    answer(a, e3, "delete")
    same("b approves an update, a stages a delete")
    b.catalog.compactLog(b.ControlTable)
    assert(a.catalog.bucketRefs(a.ControlTable).size == 1)
    same("b folds processed_files")
    assert(b.executePendingDeletes().size == 1)
    same("b runs the delete job")
    val e4 = event(a, "delete", "customer_id\n2\n3\n")
    answer(a, e4, "delete", action = "reject")
    val e5 = event(b, "delete", "customer_id\n3\n4\n")
    answer(b, e5, "delete")
    answer(a, e5, "delete") // a redelivery: already processed
    same("a rejects, b stages, a skips b's event")
    assert(a.executePendingDeletes().size == 2)
    same("a runs the delete job")
    assert(new Catalog(spark, root).read("customers").collect().map(_.getString(0)).toSet ==
      Set("2"))
    val statuses = new Catalog(spark, root).read(a.ControlTable).collect()
      .map(r => r.getAs[String]("event_id") -> r.getAs[String]("status")).toMap
    assert(statuses == Map(e1 -> Status.Approved, e2 -> Status.Approved,
      e3 -> Status.Approved, e4 -> Status.Rejected, e5 -> Status.Approved))
  }
}
