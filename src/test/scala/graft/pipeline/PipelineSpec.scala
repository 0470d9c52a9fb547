package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkTestBase
import graft.catalog.Catalog
import graft.model._
import graft.notify.InMemoryNotifier

/** End-to-end scenarios mirroring SURVEY §3's E1→E3→E4 lifecycle against
  * golden expectations (SURVEY §5.2).
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def freshPipeline(): (Pipeline, InMemoryNotifier, String) = {
    val landing = tmpDir("landing")
    val notifier = new InMemoryNotifier
    val p = new Pipeline(spark, new Catalog(spark, tmpDir("wh")), notifier, landing)
    (p, notifier, landing)
  }

  private def land(landing: String, bucket: String, path: String, csv: String): Unit = {
    val f = Paths.get(landing, bucket, path)
    Files.createDirectories(f.getParent)
    Files.writeString(f, csv)
  }

  private def approval(eventId: String, action: String, op: String,
      file: String = "customers.csv", table: String = "customers") =
    ApprovalEvent(eventId, action, s"$op/$file", table, op, "b1",
      Some(1L), None, Some("2026-01-02T03:04:05Z"), Some("1.2.3.4"))

  test("E1+E3: insert flow creates all-string table, loads rows, approves") {
    val (p, notifier, landing) = freshPipeline()
    land(landing, "b1", "insert/customers.csv",
      "customer_id,name,balance\n1,alice,10.5\n2,bob,20\n")

    val v = p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev1"))
    assert(v.contains(1L))
    val pending = p.catalog.read(p.ControlTable).as[ProcessedFile].collect()
    assert(pending.length == 1 && pending.head.status == Status.Pending
      && !pending.head.is_processed)
    assert(notifier.sent.length == 1 &&
      notifier.sent.head.subject.contains("Approval Required: INSERT"))

    p.processApproval(approval("ev1", "approve", "insert"))
    val t = p.catalog.read("customers")
    assert(t.schema.fields.forall(_.dataType.typeName == "string")) // all-TEXT parity
    assert(t.as[(String, String, String)].collect().toSet ==
      Set(("1", "alice", "10.5"), ("2", "bob", "20")))
    val done = p.catalog.read(p.ControlTable).as[ProcessedFile].head()
    assert(done.status == Status.Approved && done.is_processed)
    assert(notifier.sent.last.subject.contains("Operation SUCCESS"))
  }

  test("duplicate event_id is skipped (idempotency O8/O19)") {
    val (p, notifier, landing) = freshPipeline()
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,a\n")
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev1"))
    p.processApproval(approval("ev1", "approve", "insert"))
    val sentBefore = notifier.sent.length
    p.processApproval(approval("ev1", "approve", "insert"))
    assert(notifier.sent.length == sentBefore) // no second apply/notify
    assert(p.catalog.read("customers").count() == 1)
  }

  test("reject records status without reading the file") {
    val (p, _, _) = freshPipeline() // no file landed at all
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev2"))
    p.processApproval(approval("ev2", "reject", "insert"))
    val row = p.catalog.read(p.ControlTable).as[ProcessedFile].head()
    assert(row.status == Status.Rejected && row.is_processed)
    assert(!p.catalog.exists("customers"))
  }

  test("unknown action is dropped silently (process-pipeline.py:469-471)") {
    val (p, _, landing) = freshPipeline()
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,a\n")
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev3"))
    p.processApproval(approval("ev3", "maybe", "insert"))
    val row = p.catalog.read(p.ControlTable).as[ProcessedFile].head()
    assert(row.status == Status.Pending && !row.is_processed)
  }

  test("operation failure marks failed + failure notification") {
    val (p, notifier, _) = freshPipeline() // approve without landing the file
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev4"))
    p.processApproval(approval("ev4", "approve", "insert"))
    val row = p.catalog.read(p.ControlTable).as[ProcessedFile].head()
    assert(row.status == Status.Failed && row.is_processed)
    assert(notifier.sent.last.subject.contains("Operation FAILURE"))
  }

  test("update path upserts by registered PK; re-upload versions bump") {
    val (p, _, landing) = freshPipeline()
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,alice\n2,bob\n")
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev5"))
    p.processApproval(approval("ev5", "approve", "insert"))
    p.catalog.registerPrimaryKey("customers", Seq("customer_id"))

    // versions continue per file_name across operations (the reference's
    // MAX query has no operation filter, data-query.py:74-79): the
    // insert was v1, so this update registration is v2
    land(landing, "b1", "update/customers.csv", "customer_id,name\n2,BOB\n3,carol\n")
    assert(p.registerArrival(FileEvent("b1", "update/customers.csv", "ev6")).contains(2L))
    p.processApproval(approval("ev6", "approve", "update"))
    assert(p.catalog.read("customers").as[(String, String)].collect().toSet ==
      Set("1" -> "alice", "2" -> "BOB", "3" -> "carol"))

    // same file again: version 3 of the shared history
    assert(p.registerArrival(FileEvent("b1", "update/customers.csv", "ev7")).contains(3L))
  }

  test("delete stages rows (never touches data), E4 executes them") {
    val (p, _, landing) = freshPipeline()
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,a\n2,b\n3,c\n")
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev8"))
    p.processApproval(approval("ev8", "approve", "insert"))
    p.catalog.registerPrimaryKey("customers", Seq("customer_id"))

    land(landing, "b1", "delete/customers.csv", "customer_id\n2\n3\n")
    p.registerArrival(FileEvent("b1", "delete/customers.csv", "ev9"))
    p.processApproval(approval("ev9", "approve", "delete"))
    // staged only — data untouched (reference quirk preserved)
    assert(p.catalog.read("customers").count() == 3)
    val staged = p.catalog.read(p.DeleteControlTable).as[DeleteControl].collect()
    assert(staged.length == 2 && staged.forall(r => !r.ExecutedFlag && r.DeleteFlag))
    assert(staged.map(_.DeleteQuery).toSet ==
      Set("""DELETE FROM customers WHERE "customer_id" = '2'""",
        """DELETE FROM customers WHERE "customer_id" = '3'"""))

    val executed = p.executePendingDeletes()
    assert(executed.toSet == staged.map(_.QueryId).toSet)
    assert(p.catalog.read("customers").as[(String, String)].collect().toSet ==
      Set("1" -> "a"))
    val after = p.catalog.read(p.DeleteControlTable).as[DeleteControl].collect()
    assert(after.forall(r => r.ExecutedFlag && r.ExecutedDeleteTimestamp.nonEmpty))
    // second run is a no-op
    assert(p.executePendingDeletes().isEmpty)
  }

  test("batch registration versions a whole arrival batch in one commit") {
    val (p, notifier, _) = freshPipeline()
    // seed history: customers.csv already at version 1
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev0"))
    val got = p.registerArrivals(Seq(
      FileEvent("b1", "insert/customers.csv", "ev1"),  // continues -> v2
      FileEvent("b1", "update/customers.csv", "ev2"),  // same file  -> v3
      FileEvent("b1", "insert/parts.csv", "ev3"),      // fresh      -> v1
      FileEvent("b1", "archive/skip.csv", "ev4"),      // filtered
      FileEvent("b1", "insert/", "ev5")))              // folder marker
    assert(got == Map("ev1" -> 2L, "ev2" -> 3L, "ev3" -> 1L))
    val ctrl = p.catalog.read(p.ControlTable).as[ProcessedFile].collect()
    assert(ctrl.length == 4 && ctrl.forall(_.status == Status.Pending))
    assert(notifier.sent.length == 4) // 1 from seed + 3 from the batch
  }

  test("path guards: folders, shallow paths, unknown prefixes filtered (O4)") {
    val (p, _, _) = freshPipeline()
    assert(p.registerArrival(FileEvent("b", "insert/", "e1")).isEmpty)
    assert(p.registerArrival(FileEvent("b", "orphan.csv", "e2")).isEmpty)
    assert(p.registerArrival(FileEvent("b", "archive/f.csv", "e3")).isEmpty)
  }

  test("empty and headerless CSVs raise (process-pipeline.py:334-337)") {
    val (p, notifier, landing) = freshPipeline()
    land(landing, "b1", "insert/empty.csv", "")
    p.registerArrival(FileEvent("b1", "insert/empty.csv", "ev10"))
    p.processApproval(approval("ev10", "approve", "insert",
      file = "empty.csv", table = "empty"))
    assert(p.catalog.read(p.ControlTable).as[ProcessedFile].head().status == Status.Failed)
    assert(notifier.sent.last.subject.contains("FAILURE"))
  }

  test("CSV probe: header-only and blank-tailed files have no rows, an empty file is invalid") {
    val (p, notifier, landing) = freshPipeline()
    def failure(file: String, csv: String): String = {
      land(landing, "b1", s"insert/$file", csv)
      intercept[IllegalArgumentException](p.readLandedCsv("b1", s"insert/$file")).getMessage
    }
    assert(failure("header.csv", "id,name\n") == "CSV file contains no data rows")
    assert(failure("blank.csv", "id,name\n\n   \n\n") == "CSV file contains no data rows")
    assert(failure("empty.csv", "") == "CSV file is empty or invalid")
    assert(failure("blanks.csv", "\n  \n") == "CSV file is empty or invalid")
    // the approval path reports the probe's message
    p.registerArrival(FileEvent("b1", "insert/header.csv", "ev1"))
    p.processApproval(approval("ev1", "approve", "insert", file = "header.csv", table = "header"))
    assert(notifier.sent.last.bodyHtml.contains("CSV file contains no data rows"))
    assert(!p.catalog.exists("header"))
  }

  test("CSV probe: empty and case-only-distinct header names match Spark's CSV reader") {
    val (p, _, landing) = freshPipeline()
    for ((file, csv) <- Seq(
        "gap.csv" -> "id,,name\n1,x,alice\n",
        "cased.csv" -> "id,ID,Name,name,NAME\n1,2,a,b,c\n",
        "blanks.csv" -> "id, ,\"\"\n1,2,3\n")) {
      land(landing, "b1", s"insert/$file", csv)
      val got = p.readLandedCsv("b1", s"insert/$file")
      val want = spark.read.option("header", "true")
        .csv(Paths.get(landing, "b1", "insert", file).toString)
      assert(got.schema == want.schema, s"$file: ${got.schema} vs ${want.schema}")
      assert(got.collect().toSeq == want.collect().toSeq)
    }
  }

  test("CSV probe: quoted and duplicated header names match Spark's CSV reader") {
    val (p, _, landing) = freshPipeline()
    for ((file, csv) <- Seq(
        "quoted.csv" -> "\"id,key\",name\n\"1,2\",alice\n\n3,bob\n",
        "dupes.csv" -> "id,name,name,\n1,a,b,c\n2,d,e,f\n")) {
      land(landing, "b1", s"insert/$file", csv)
      val got = p.readLandedCsv("b1", s"insert/$file")
      val want = spark.read.option("header", "true")
        .csv(Paths.get(landing, "b1", "insert", file).toString)
      assert(got.schema == want.schema, s"$file: ${got.schema} vs ${want.schema}")
      assert(got.collect().toSeq == want.collect().toSeq)
    }
  }

  test("batch approvals: N events, ONE control-table commit, per-event semantics") {
    val landing = tmpDir("landing")
    val notifier = new InMemoryNotifier
    val counting = new Catalog(spark, tmpDir("wh")) {
      val rewrites = scala.collection.mutable.Map[String, Int]()
      override def rewriteLog(name: String, matching: Row => Boolean)(
          f: Seq[Row] => Seq[Row]): Unit = {
        rewrites(name) = rewrites.getOrElse(name, 0) + 1
        super.rewriteLog(name, matching)(f)
      }
    }
    val p = new Pipeline(spark, counting, notifier, landing)
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,a\n2,b\n")
    land(landing, "b1", "insert/parts.csv", "part_id,name\n7,bolt\n")
    p.registerArrivals(Seq(
      FileEvent("b1", "insert/customers.csv", "ev1"),
      FileEvent("b1", "insert/parts.csv", "ev2"),
      FileEvent("b1", "insert/customers.csv", "ev3"),
      FileEvent("b1", "insert/customers.csv", "ev4"),
      FileEvent("b1", "insert/customers.csv", "ev5")))
    counting.rewrites.clear()

    p.processApprovals(Seq(
      approval("ev1", "approve", "insert"),               // applies
      approval("ev2", "approve", "insert", file = "parts.csv", table = "parts"),
      approval("ev3", "reject", "insert"),                // rejected
      approval("ev4", "maybe", "insert"),                 // unknown: dropped
      approval("ev1", "approve", "insert"),               // in-batch dup: skipped
      ApprovalEvent("ev5", "approve", null, null, null, null,
        None, None, Some("2026-01-02T03:04:05Z"), None))) // missing fields → Failed

    // the whole batch of 5 distinct outcomes = ONE control-table rewrite
    assert(counting.rewrites(p.ControlTable) == 1,
      s"control-table commits: ${counting.rewrites}")
    val st = p.catalog.read(p.ControlTable).as[ProcessedFile].collect()
      .map(r => r.event_id -> (r.status, r.is_processed)).toMap
    assert(st("ev1") == (Status.Approved, true))
    assert(st("ev2") == (Status.Approved, true))
    assert(st("ev3") == (Status.Rejected, true))
    assert(st("ev4") == (Status.Pending, false)) // unknown action untouched
    assert(st("ev5") == (Status.Failed, true))
    assert(p.catalog.read("customers").count() == 2)
    assert(p.catalog.read("parts").count() == 1)
    // ev1 applied once despite the in-batch duplicate
    assert(notifier.sent.count(_.subject.contains("Operation SUCCESS")) == 2)
  }

  test("unknown action does not consume the event_id (later valid approval lands)") {
    val (p, _, landing) = freshPipeline()
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,a\n")
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev1"))
    // the reference drops an unknown action WITHOUT marking the message
    // processed — a valid approve for the same id later in the batch
    // must still apply
    p.processApprovals(Seq(
      approval("ev1", "maybe", "insert"),
      approval("ev1", "approve", "insert")))
    val row = p.catalog.read(p.ControlTable).as[ProcessedFile].head()
    assert(row.status == Status.Approved && row.is_processed)
    assert(p.catalog.read("customers").count() == 1)
  }

  test("bucketed data table: approval mutations rewrite only touched buckets") {
    val (p, _, landing) = freshPipeline()
    val n = 8
    land(landing, "b1", "insert/customers.csv",
      "customer_id,name\n" + (1 to 40).map(i => s"$i,name$i\n").mkString)
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "bv1"))
    p.processApproval(approval("bv1", "approve", "insert"))
    p.catalog.registerPrimaryKey("customers", Seq("customer_id"))
    p.catalog.registerBucketLayout("customers", n)

    // first post-layout mutation migrates into the bucket layout
    land(landing, "b1", "update/customers.csv", "customer_id,name\n5,FIVE\n")
    p.registerArrival(FileEvent("b1", "update/customers.csv", "bv2"))
    p.processApproval(approval("bv2", "approve", "update"))
    assert(p.catalog.hasBucketManifest("customers"))
    val refs0 = p.catalog.bucketRefs("customers")

    // second mutation rewrites NO bucket: it lands as one fragment
    land(landing, "b1", "update/customers.csv", "customer_id,name\n9,NINE\n")
    p.registerArrival(FileEvent("b1", "update/customers.csv", "bv3"))
    p.processApproval(approval("bv3", "approve", "update"))
    val refs1 = p.catalog.bucketRefs("customers")
    assert(refs1 == refs0, "a bucket was rewritten by a key mutation")
    assert(p.catalog.fragments("customers").size == 2)
    assert(p.catalog.read("customers").count() == 40)
    assert(p.catalog.read("customers").filter($"customer_id" === "9")
      .select("name").head().getString(0) == "NINE")
    assert(p.catalog.read("customers").filter($"customer_id" === "5")
      .select("name").head().getString(0) == "FIVE")

    // staged deletes land as a fragment of tombstones, rewriting no bucket
    land(landing, "b1", "delete/customers.csv", "customer_id\n9\n")
    p.registerArrival(FileEvent("b1", "delete/customers.csv", "bv4"))
    p.processApproval(approval("bv4", "approve", "delete"))
    val refsBeforeDel = p.catalog.bucketRefs("customers")
    assert(p.executePendingDeletes().nonEmpty)
    assert(p.catalog.bucketRefs("customers") == refsBeforeDel)
    assert(p.catalog.fragments("customers").size == 3)
    assert(p.catalog.read("customers").count() == 39)
    // a fold rewrites only the buckets the fragments touched
    val b = Seq("5", "9").toDF("customer_id")
      .select(p.catalog.bucketOf(Seq("customer_id"), n)).as[Int].collect().toSet
    assert(p.catalog.fold("customers").toSet == b)
    val folded = p.catalog.bucketRefs("customers")
    assert(p.catalog.fragments("customers").isEmpty)
    refs0.keys.foreach(k => assert(folded.get(k) == refs0.get(k) ^ b(k), s"bucket $k"))
    assert(p.catalog.read("customers").count() == 39)
    assert(p.catalog.lookupByPk("customers", Seq("5")).select("name").as[String]
      .collect().toSeq == Seq("FIVE"))
  }

  test("control-plane guard trips loudly past maxControlRows") {
    // control collects assume rows scale with file events; the cap
    // turns a data-scale misuse into a diagnosis instead of a driver OOM
    val landing = tmpDir("landing")
    val p = new Pipeline(spark, new Catalog(spark, tmpDir("wh")),
      new InMemoryNotifier, landing, maxControlRows = 3)
    val events = (1 to 5).map(i =>
      FileEvent("b1", s"insert/f$i.csv", s"ev$i"))
    val ex = intercept[IllegalStateException] {
      p.registerArrivals(events)
    }
    assert(ex.getMessage.contains("maxControlRows"))
    // under the cap, the same batch registers normally
    val p2 = new Pipeline(spark, new Catalog(spark, tmpDir("wh")),
      new InMemoryNotifier, landing, maxControlRows = 10)
    assert(p2.registerArrivals(events).size == 5)
  }

  test("maxControlRows bounds a call's control rows, not the control logs' history") {
    val landing = tmpDir("landing")
    val p = new Pipeline(spark, new Catalog(spark, tmpDir("wh")),
      new InMemoryNotifier, landing, maxControlRows = 3)
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,a\n2,b\n3,c\n")
    land(landing, "b1", "delete/customers.csv", "customer_id\n1\n2\n")
    def approve(id: String, op: String): Unit = p.processApproval(ApprovalEvent(id, "approve",
      s"$op/customers.csv", "customers", op, "b1", None, None, None, None))
    val rounds = (1 to 3).map { i =>
      val versions = p.registerArrivals(Seq(FileEvent("b1", "insert/customers.csv", s"i$i"),
        FileEvent("b1", "delete/customers.csv", s"d$i")))
      approve(s"i$i", "insert")
      approve(s"d$i", "delete")
      (versions, p.executePendingDeletes().sorted)
    }
    // each round's lookups see the whole history of logs past the guard
    assert(rounds.last == (Map("d3" -> 5L, "i3" -> 6L), Seq(5L, 6L)))
    assert(p.catalog.read(p.ControlTable).count() == 6)
    assert(p.catalog.read(p.DeleteControlTable).count() == 6)
    assert(p.catalog.read(p.ControlTable).filter("NOT is_processed").isEmpty)
    assert(p.catalog.read("customers").as[(String, String)].collect().toSeq ==
      Seq.fill(3)(("3", "c")))
  }

  test("catalog survives a lost pointer file (crash-recovery fallback)") {
    val root = tmpDir("wh")
    val cat = new Catalog(spark, root)
    cat.createIfAbsent("t", cat.allStringSchema(Seq("a")))
    cat.append("t", Seq(("x")).toDF("a"))
    // simulate the legacy delete-then-rename crash window: pointer gone
    assert(new java.io.File(s"$root/t/_current").delete())
    assert(cat.exists("t"))
    assert(cat.read("t").as[String].collect().toSeq == Seq("x"))
  }

  /** A Catalog that calls `onRead` each time a read or a log lookup of
    * `table` has resolved its version: another writer committing while
    * the caller still works from that read. Catalogs of these specs keep
    * 8 old versions, so that the caller's stale read still finds its
    * files and a lost update shows as a missing row, not as a vanished
    * file.
    */
  private class ReadHook(root: String, table: String)
      extends Catalog(spark, root, graceVersions = 8) {
    var onRead: () => Unit = () => ()
    override def read(name: String): DataFrame = {
      val df = super.read(name)
      if (name == table) onRead()
      df
    }
    override def logViews[V](name: String, view: Catalog.LogView[V]): Seq[V] = {
      val views = super.logViews(name, view)
      if (name == table) onRead()
      views
    }
  }

  /** A Catalog that calls `onKeyCommit` when a key mutation of `table`
    * reads its bucket count, which it does inside the table's commit
    * lock: another writer committing while the caller's commit is open.
    */
  private class CommitHook(root: String, table: String)
      extends Catalog(spark, root, graceVersions = 8) {
    var onKeyCommit: () => Unit = () => ()
    override def bucketCount(name: String): Option[Int] = {
      if (name == table) onKeyCommit()
      super.bucketCount(name)
    }
  }

  private def statuses(p: Pipeline): Map[String, (String, Boolean)] =
    p.catalog.read(p.ControlTable).as[ProcessedFile].collect()
      .map(r => r.event_id -> (r.status, r.is_processed)).toMap

  test("lost update: a registration committed during an approval survives it") {
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    val cat = new ReadHook(root, "processed_files")
    val p = new Pipeline(spark, cat, new InMemoryNotifier, landing)
    // a second writer on the same root, as the ingest stream beside the
    // approvals stream
    val ingest = new Pipeline(spark, new Catalog(spark, root, graceVersions = 8),
      new InMemoryNotifier, landing)
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,a\n")
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev1"))
    val concurrent = ArrayBuffer.empty[String]
    cat.onRead = () => {
      val id = s"late${concurrent.size + 1}"
      concurrent += id
      ingest.registerArrival(FileEvent("b1", s"insert/$id.csv", id))
    }
    p.processApproval(approval("ev1", "approve", "insert"))
    cat.onRead = () => ()
    val st = statuses(p)
    assert(concurrent.nonEmpty)
    assert(st("ev1") == (Status.Approved, true))
    concurrent.foreach(id =>
      assert(st.get(id).contains((Status.Pending, false)), s"registration $id lost: $st"))
  }

  test("lost update: a delete staged while the delete job runs survives its stamp") {
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    val cat = new ReadHook(root, "delete_control")
    val p = new Pipeline(spark, cat, new InMemoryNotifier, landing)
    val other = new Pipeline(spark, new Catalog(spark, root, graceVersions = 8),
      new InMemoryNotifier, landing)
    def answer(q: Pipeline, id: String, op: String, csv: String): Unit = {
      land(landing, "b1", s"$op/customers.csv", csv)
      q.registerArrival(FileEvent("b1", s"$op/customers.csv", id))
      q.processApproval(approval(id, "approve", op))
    }
    answer(p, "ins", "insert", "customer_id,name\n" + (1 to 9).map(k => s"$k,n$k\n").mkString)
    p.catalog.registerPrimaryKey("customers", Seq("customer_id"))
    answer(p, "del1", "delete", "customer_id\n1\n")
    val concurrent = ArrayBuffer.empty[String]
    cat.onRead = () => {
      val id = s"del${concurrent.size + 2}"
      concurrent += id
      answer(other, id, "delete", s"customer_id\n${concurrent.size + 1}\n")
    }
    val executed = p.executePendingDeletes()
    cat.onRead = () => ()
    assert(executed.size == 1 && concurrent.nonEmpty)
    val rows = p.catalog.read(p.DeleteControlTable).as[DeleteControl].collect()
      .map(r => r.EventId -> r.ExecutedFlag).toMap
    assert(rows("del1"), s"the job's own delete is not stamped: $rows")
    concurrent.foreach(id =>
      assert(rows.get(id).contains(false), s"staged delete $id lost: $rows"))
    assert(p.catalog.read("customers").count() == 8)
  }

  test("lost update: a data-table commit landed during an approval survives it") {
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    val cat = new ReadHook(root, "customers")
    val p = new Pipeline(spark, cat, new InMemoryNotifier, landing)
    val other = new Pipeline(spark, new Catalog(spark, root, graceVersions = 8),
      new InMemoryNotifier, landing)
    def insert(q: Pipeline, id: String, file: String, csv: String): Unit = {
      land(landing, "b1", s"insert/$file", csv)
      q.registerArrival(FileEvent("b1", s"insert/$file", id))
      q.processApproval(approval(id, "approve", "insert", file))
    }
    insert(p, "ins1", "customers.csv", "customer_id,name\n1,a\n")
    // the second writer runs on its own thread: a read taken inside the
    // commit lock makes it wait for the approval's commit, while a read
    // taken before the lock lets it commit in between
    var failure: Option[Throwable] = None
    val writer = new Thread(() =>
      try insert(other, "ins2", "more/customers.csv", "customer_id,name\n2,b\n")
      catch { case e: Throwable => failure = Some(e) })
    cat.onRead = () => {
      cat.onRead = () => ()
      writer.start()
      writer.join(10000)
    }
    insert(p, "ins3", "customers.csv", "customer_id,name\n3,c\n")
    writer.join()
    failure.foreach(throw _)
    val ids = p.catalog.read("customers").as[(String, String)].collect().map(_._1).toSet
    assert(ids == Set("1", "2", "3"), s"rows after both commits: $ids")
  }

  test("lost update: a commit to a keyed table landed during an approval's key commit survives it") {
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    val cat = new CommitHook(root, "customers")
    val p = new Pipeline(spark, cat, new InMemoryNotifier, landing)
    val other = new Pipeline(spark, new Catalog(spark, root, graceVersions = 8),
      new InMemoryNotifier, landing)
    def write(q: Pipeline, id: String, op: String, file: String, csv: String): Unit = {
      land(landing, "b1", s"$op/$file", csv)
      q.registerArrival(FileEvent("b1", s"$op/$file", id))
      q.processApproval(approval(id, "approve", op, file))
    }
    write(p, "ins1", "insert", "customers.csv", "customer_id,name\n1,a\n")
    p.catalog.registerPrimaryKey("customers", Seq("customer_id"))
    // the second writer's insert arrives while the first's insert holds
    // the lock: it waits, then commits on top (so key 2 keeps the first
    // writer's row), and neither commit is lost
    var failure: Option[Throwable] = None
    val writer = new Thread(() =>
      try write(other, "ins2", "insert", "more/customers.csv", "customer_id,name\n2,b\n4,d\n")
      catch { case e: Throwable => failure = Some(e) })
    cat.onKeyCommit = () => {
      cat.onKeyCommit = () => ()
      assert(Files.exists(Paths.get(root, "customers", "_commit.lock")))
      writer.start()
      writer.join(10000)
    }
    write(p, "ins3", "insert", "customers.csv", "customer_id,name\n3,c\n2,z\n")
    writer.join()
    failure.foreach(throw _)
    assert(p.catalog.read("customers").as[(String, String)].collect().toSet ==
      Set("1" -> "a", "2" -> "z", "3" -> "c", "4" -> "d"))
    assert(statuses(p).values.forall(_ == (Status.Approved, true)))
  }

  /** A Catalog whose control-log lookups answer late: each log lookup
    * waits `delayMs` after resolving its version, as a busy driver
    * would, so a lookup taken outside the commit lock goes stale while
    * another writer commits.
    */
  private class SlowLookup(root: String, delayMs: Long)
      extends Catalog(spark, root, graceVersions = 8) {
    override def logViews[V](name: String, view: Catalog.LogView[V]): Seq[V] = {
      val views = super.logViews(name, view)
      Thread.sleep(delayMs)
      views
    }
  }

  /** Runs `a` and `b` on two threads started together; rethrows a failure. */
  private def together(a: => Unit, b: => Unit): Unit = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(() => a, () => b).map { body =>
      val t = new Thread(() =>
        try { start.await(); body() } catch { case e: Throwable => failures.add(e) })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    failures.asScala.headOption.foreach(throw _)
  }

  /** Two writers on one root whose control lookups answer late, and a
    * customers table of keys 1-9 registered under its primary key.
    */
  private def slowWriters(): (Pipeline, Pipeline, String) = {
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    def writer() = new Pipeline(spark, new SlowLookup(root, 300), new InMemoryNotifier, landing)
    val (a, b) = (writer(), writer())
    land(landing, "b1", "insert/customers.csv",
      "customer_id,name\n" + (1 to 9).map(k => s"$k,n$k\n").mkString)
    a.registerArrival(FileEvent("b1", "insert/customers.csv", "ins"))
    a.processApproval(approval("ins", "approve", "insert"))
    a.catalog.registerPrimaryKey("customers", Seq("customer_id"))
    (a, b, landing)
  }

  test("lost update: two writers registering one file assign distinct versions") {
    val (a, b, _) = slowWriters()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def register(p: Pipeline, tag: String): Unit = (1 to 2).foreach { i =>
      p.registerArrival(FileEvent("b1", "update/customers.csv", s"$tag$i")).foreach(versions.add)
    }
    together(register(a, "a"), register(b, "b"))
    // the insert of the same file name holds version 1
    assert(versions.asScala.toSeq.sorted == (2L to 5L), s"versions: $versions")
    val logged = a.catalog.read(a.ControlTable).as[ProcessedFile].collect()
      .filter(_.file_name == "customers.csv").map(_.file_version).toSeq
    assert(logged.sorted == (1L to 5L), s"logged: $logged")
  }

  test("lost update: two writers staging deletes assign distinct QueryIds") {
    val (a, b, landing) = slowWriters()
    land(landing, "b1", "delete/a.csv", "customer_id\n1\n2\n")
    land(landing, "b1", "delete/b.csv", "customer_id\n3\n")
    a.registerArrival(FileEvent("b1", "delete/a.csv", "da"))
    b.registerArrival(FileEvent("b1", "delete/b.csv", "db"))
    together(a.processApproval(approval("da", "approve", "delete", "a.csv")),
      b.processApproval(approval("db", "approve", "delete", "b.csv")))
    val ids = a.catalog.read(a.DeleteControlTable).as[DeleteControl].collect().map(_.QueryId)
    assert(ids.sorted.toSeq == Seq(1L, 2L, 3L), s"QueryIds: ${ids.toSeq}")
  }

  test("a control lookup on a log of MaxControlRefs refs runs one job") {
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    val p = new Pipeline(spark, new Catalog(spark, root), new InMemoryNotifier, landing)
    // the empty table createIfAbsent made starts the log with no refs,
    // so registration k leaves k refs
    (1 to p.MaxControlRefs).foreach(i =>
      p.registerArrival(FileEvent("b1", s"insert/f$i.csv", s"ev$i")))
    assert(p.catalog.bucketRefs(p.ControlTable).size == p.MaxControlRefs)
    // warm: every ref was seeded by the catalog that committed it
    val (done, jobs) = countJobs(p.alreadyProcessed("ev1"))
    assert(!done && jobs == 0, s"$jobs jobs")
    // cold: a fresh Catalog on the same root reads all refs in one job
    val cold = new Pipeline(spark, new Catalog(spark, root), new InMemoryNotifier, landing)
    val (coldDone, coldJobs) = countJobs(cold.alreadyProcessed("ev1"))
    assert(!coldDone && coldJobs == 1, s"$coldJobs jobs")
    assert(countJobs(cold.alreadyProcessed("ev2"))._2 == 0)
  }

  test("registration versions continue MAX+1 per file, null -> 0 (data-query.py:70-85)") {
    val (p, _, landing) = freshPipeline()
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    p.catalog.createIfAbsent(p.ControlTable, ProcessedFile.schema)
    p.catalog.overwrite(p.ControlTable, spark.createDataFrame(Seq(
      Row("a.csv", "h1", 1L, true, "b1", "insert", Status.Approved, ts),
      Row("a.csv", "h2", 2L, true, "b1", "update", Status.Approved, ts),
      Row("b.csv", "h3", 7L, true, "b1", "insert", Status.Rejected, null),
      Row("c.csv", "h4", null, true, "b1", "insert", Status.Failed, null)).asJava,
      ProcessedFile.schema))
    assert(p.registerArrival(FileEvent("b1", "insert/a.csv", "e1")).contains(3L))
    assert(p.registerArrival(FileEvent("b1", "delete/b.csv", "e2")).contains(8L))
    assert(p.registerArrival(FileEvent("b1", "insert/c.csv", "e3")).contains(1L))
    assert(p.registerArrival(FileEvent("b1", "insert/new.csv", "e4")).contains(1L))
    // a batch continues each file's history in event-id order
    assert(p.registerArrivals(Seq(FileEvent("b1", "update/a.csv", "e6"),
      FileEvent("b1", "insert/a.csv", "e5"), FileEvent("b1", "insert/new.csv", "e7"))) ==
      Map("e5" -> 4L, "e6" -> 5L, "e7" -> 2L))
    // staged QueryIds continue COALESCE(MAX(QueryId), 0) + 1 the same way
    p.catalog.registerPrimaryKey("a", Seq("id"))
    land(landing, "b1", "delete/a.csv", "id\n7\n8\n")
    p.processApproval(approval("e6", "approve", "delete", file = "a.csv", table = "a"))
    land(landing, "b1", "delete/a.csv", "id\n8\n9\n")
    p.processApproval(approval("e5", "approve", "delete", file = "a.csv", table = "a"))
    assert(p.catalog.read(p.DeleteControlTable).as[DeleteControl].collect()
      .map(r => r.QueryId -> r.pk_values("id")).toSet == Set(1L -> "7", 2L -> "8", 3L -> "9"))
  }

  test("registration + approval leave the history ref's dir as it is") {
    val (root, landing) = (tmpDir("wh"), tmpDir("landing"))
    val p = new Pipeline(spark, new Catalog(spark, root), new InMemoryNotifier, landing)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    p.catalog.createIfAbsent(p.ControlTable, ProcessedFile.schema)
    p.catalog.overwrite(p.ControlTable, spark.createDataFrame((1 to 500).map(i =>
      Row(s"hist_$i.csv", s"h$i", 1L, true, "b1", "insert", Status.Approved, ts)).asJava,
      ProcessedFile.schema))
    val history = p.catalog.currentVersion(p.ControlTable)
    def files = {
      val s = Files.list(Paths.get(root, p.ControlTable, history))
      try s.iterator.asScala.map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
      finally s.close()
    }
    val before = files
    land(landing, "b1", "insert/customers.csv", "customer_id,name\n1,a\n")
    p.registerArrival(FileEvent("b1", "insert/customers.csv", "ev1"))
    p.processApproval(approval("ev1", "approve", "insert"))
    val refs = p.catalog.bucketRefs(p.ControlTable)
    assert(refs.size == 2 && refs(0) == history, s"refs $refs")
    assert(files == before, "the history ref was rewritten")
    val st = statuses(p)
    assert(st.size == 501 && st("ev1") == (Status.Approved, true) &&
      st("h7") == (Status.Approved, true))
  }

  test("the control log folds once a commit leaves more than MaxControlRefs refs") {
    val (p, _, _) = freshPipeline()
    // the empty table createIfAbsent made starts the log with no refs,
    // so registration k leaves k refs
    val n = p.MaxControlRefs
    (1 to n).foreach(i => p.registerArrival(FileEvent("b1", s"insert/f${i % 7}.csv", s"ev$i")))
    assert(p.catalog.bucketRefs(p.ControlTable).size == n)
    p.registerArrival(FileEvent("b1", s"insert/f${(n + 1) % 7}.csv", s"ev${n + 1}"))
    assert(p.catalog.bucketRefs(p.ControlTable).size == 1)
    val got = p.catalog.read(p.ControlTable).as[ProcessedFile].collect()
      .map(r => (r.event_id, r.file_name, r.file_version, r.status)).toSeq
    val want = (1 to n + 1).map { i =>
      val f = i % 7
      (s"ev$i", s"f$f.csv", (1 to i).count(_ % 7 == f).toLong, Status.Pending)
    }
    assert(got.sorted == want.sorted)
  }
}
