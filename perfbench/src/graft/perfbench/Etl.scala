package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.model._
import graft.notify.InMemoryNotifier
import graft.pipeline.Pipeline

/** A target table of the ETL workloads: name, primary key and the
  * registered bucket layout (None = whole-table rewrite path).
  */
final case class TableSpec(name: String, pks: Seq[String], buckets: Option[Int])

/** One landed file and its approval, as the generator drew it. */
final case class EtlEvent(id: String, op: String, table: String,
    header: Seq[String], rows: Seq[Array[String]], action: String,
    missingField: Boolean) {
  def path: String = s"$op/$table.csv"
  def csvBytes: Long = (header +: rows.map(_.toSeq)).map(_.mkString(",").length + 1L).sum
}

/** The approval→commit pipeline driven event by event in a closed loop
  * with one client: land a CSV (untimed), `registerArrival`, then
  * `processApproval`. Seeded trickle files (1–200 rows over three tables,
  * the reference op mix) run for the measured time; a bulk file of
  * thousands of `lineitem` keys, a duplicate delivery and
  * `executePendingDeletes` close the run.
  */
final class Etl(spark: SparkSession, tracer: Tracer, val result: RunResult,
    data: String, work: String, seed: Long) {
  import Etl._

  private val rng = new Random(seed)
  private val bucket = "landing-bucket"
  private val landing = s"$work/landing"

  /** Fresh catalog at `root` holding the three target tables (all-string
    * columns, as the pipeline creates them from CSV headers) and a
    * `processed_files` pre-filled with a seeded history.
    */
  def load(root: String): Catalog = {
    val cat = new Catalog(spark, root)
    specs.foreach { t =>
      val src = spark.read.parquet(s"$data/${t.name}.parquet")
      val df = src.select(src.columns.map(c => col(c).cast("string").as(c)).toSeq: _*)
      cat.createIfAbsent(t.name, df.schema, t.pks)
      t.buckets match {
        case Some(n) =>
          cat.registerBucketLayout(t.name, n)
          cat.overwriteAllBuckets(t.name, df)
        case None => cat.overwrite(t.name, df)
      }
    }
    cat.createIfAbsent("processed_files", ProcessedFile.schema)
    cat.overwrite("processed_files", spark.createDataFrame(
      spark.sparkContext.parallelize(history.map(Row.fromTuple), 4),
      ProcessedFile.schema))
    cat.createIfAbsent("delete_control", DeleteControl.schema)
    cat
  }

  /** Seeded `processed_files` history: older versions of the target
    * files plus unrelated files, all processed.
    */
  private lazy val history: Seq[Product] = {
    val r = new Random(seed ^ 0x5eedL)
    val statuses = Seq(Status.Approved, Status.Approved, Status.Rejected, Status.Failed)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val own = specs.flatMap { t =>
      (1 to 1 + r.nextInt(5)).map(v => (s"${t.name}.csv", s"h-${t.name}-$v", v.toLong,
        true, bucket, Operation.Insert, Status.Approved, ts))
    }
    val other = (0 until HistoryRows - own.size).map { i =>
      (s"hist_${i % 5000}.csv", s"h$i", (i / 5000 + 1).toLong, true, bucket,
        Seq(Operation.Insert, Operation.Update, Operation.Delete)(r.nextInt(3)),
        statuses(r.nextInt(statuses.size)), ts)
    }
    own ++ other
  }

  // ------------------------------------------------------------ model

  /** Reference semantics replayed in memory: tables keyed by PK, the
    * control tables and the notification count.
    */
  private val model = mutable.Map.empty[String, mutable.LinkedHashMap[Seq[String], Seq[String]]]
  private val columns = mutable.Map.empty[String, Seq[String]]
  private val keyPool = mutable.Map.empty[String, mutable.ArrayBuffer[Seq[String]]]
  private val nextNew = mutable.Map.empty[String, Long]
  private val versions = mutable.Map.empty[String, Long]
  private val processed = mutable.LinkedHashMap.empty[String, (String, Long, String, String, Boolean)]
  private val staged = mutable.ArrayBuffer.empty[(Long, String, String, Seq[(String, String)], Boolean)]
  private var expectedSent = 0L

  private def initModel(cat: Catalog): Unit = {
    specs.foreach { t =>
      val df = cat.read(t.name)
      columns(t.name) = df.columns.toSeq
      val pkIdx = t.pks.map(df.columns.indexOf(_))
      val m = mutable.LinkedHashMap.empty[Seq[String], Seq[String]]
      df.collect().foreach { r =>
        val row = (0 until r.length).map(r.getString)
        m(pkIdx.map(row)) = row
      }
      model(t.name) = m
      keyPool(t.name) = mutable.ArrayBuffer.from(m.keys)
      nextNew(t.name) = 10000000L
    }
    history.foreach { case (f: String, id: String, v: Long, _, _, op: String, st: String, _) =>
      versions(f) = math.max(versions.getOrElse(f, 0L), v)
      processed(id) = (f, v, op, st, true)
    case other => throw new IllegalStateException(s"bad history row $other")
    }
  }

  private def applyModel(ev: EtlEvent): Unit = {
    val t = specs.find(_.name == ev.table).get
    val m = model(ev.table)
    val pkIdx = t.pks.map(ev.header.indexOf(_))
    ev.op match {
      case Operation.Insert =>
        ev.rows.foreach { r =>
          val k = pkIdx.map(r(_)).toSeq
          if (!m.contains(k)) { m(k) = r.toSeq; keyPool(ev.table) += k }
        }
      case Operation.Update =>
        ev.rows.foreach { r =>
          val k = pkIdx.map(r(_)).toSeq
          if (!m.contains(k)) keyPool(ev.table) += k
          m(k) = r.toSeq
        }
      case Operation.Delete =>
        val base = if (staged.isEmpty) 0L else staged.map(_._1).max
        val pending = staged.filter(!_._5).map(s => (s._3, s._4)).toSet
        val fresh = ev.rows.map(r => t.pks.zip(pkIdx.map(r(_))))
          .distinct.filterNot(kv => pending((ev.table, kv)))
        fresh.zipWithIndex.foreach { case (kv, i) =>
          staged += ((base + i + 1, ev.id, ev.table, kv, false))
        }
    }
  }

  private def runDeletesModel(): Unit =
    for (i <- staged.indices if !staged(i)._5) {
      val (q, id, table, kv, _) = staged(i)
      model(table).remove(kv.map(_._2))
      staged(i) = (q, id, table, kv, true)
    }

  // -------------------------------------------------------- generator

  private def draw(table: String): Seq[String] = {
    val pool = keyPool(table)
    pool(rng.nextInt(pool.size))
  }

  private def newKey(table: String): Seq[String] = {
    val n = nextNew(table)
    nextNew(table) = n + 1
    if (table == "lineitem") Seq((n / 7).toString, (n % 7 + 1).toString)
    else Seq(n.toString)
  }

  private def rowFor(table: String, key: Seq[String], marker: String): Array[String] = {
    val t = specs.find(_.name == table).get
    val cols = columns(table)
    val template = model(table).getOrElse(draw(table), model(table).head._2)
    val row = template.toArray
    t.pks.zip(key).foreach { case (c, v) => row(cols.indexOf(c)) = v }
    val free = cols.indices.filterNot(i => t.pks.contains(cols(i)))
    row(free(rng.nextInt(free.size))) = marker
    row
  }

  /** Keys of one file: existing and new keys, with a few repeats inside
    * the file so first-wins / last-wins ordering is exercised.
    */
  private def keysFor(table: String, op: String, n: Int): Seq[Seq[String]] = {
    val newShare = op match {
      case Operation.Insert => 0.7
      case Operation.Update => 0.2
      case _ => 0.05
    }
    val ks = (0 until n).map(_ => if (rng.nextDouble() < newShare) newKey(table) else draw(table))
    if (n >= 4) ks.updated(n - 1, ks(rng.nextInt(n - 1))) else ks
  }

  private var seq = 0

  private def event(op: String, table: String, n: Int, action: String,
      missing: Boolean): EtlEvent = {
    seq += 1
    val id = f"ev-$seed%d-$seq%06d"
    val header = if (op == Operation.Delete)
      specs.find(_.name == table).get.pks else columns(table)
    val rows = keysFor(table, op, n).zipWithIndex.map { case (k, i) =>
      if (op == Operation.Delete) k.toArray else rowFor(table, k, s"m$seq-$i")
    }
    EtlEvent(id, op, table, header, rows, action, missing)
  }

  private val dealt = mutable.Map(OpShares.map(_._1 -> 0): _*)
  private val tableStart = rng.nextInt(specs.size)

  /** The next trickle file of the reference traffic: about 35% insert,
    * 45% update and 20% delete; 1–200 rows, log-uniform so that small
    * files dominate (median ~14 rows); the three target tables in turn;
    * about 5% rejected and a few approved with a missing field, which
    * only update their status. Ops are dealt, not drawn: each file takes
    * the op furthest below its share so far (the seed breaks ties), so
    * that the few files a run holds carry the mix, and the tables in
    * turn from a seeded start; a run of 5 files drawn independently
    * could hold no update or 3 lineitem files, which cost more.
    */
  private def trickle(): EtlEvent = {
    val n = dealt.values.sum
    val op = OpShares.maxBy { case (o, share) => (share * (n + 1) - dealt(o), rng.nextDouble()) }._1
    dealt(op) += 1
    val table = specs((tableStart + n) % specs.size).name
    val rows = math.min(MaxTrickleRows,
      math.exp(rng.nextDouble() * math.log(MaxTrickleRows + 1.0)).toInt)
    val s = rng.nextDouble()
    event(op, table, rows, if (s < RejectShare) "reject" else "approve",
      missing = s >= RejectShare && s < RejectShare + MissingShare)
  }

  // -------------------------------------------------------------- run

  private def land(ev: EtlEvent): Unit = {
    val p = Paths.get(s"$landing/$bucket/${ev.path}")
    Files.createDirectories(p.getParent)
    val sb = new StringBuilder(ev.header.mkString(",")).append('\n')
    ev.rows.foreach(r => sb.append(r.mkString(",")).append('\n'))
    Files.writeString(p, sb.toString)
  }

  private def approval(ev: EtlEvent, version: Long): ApprovalEvent =
    ApprovalEvent(ev.id, ev.action, if (ev.missingField) "" else ev.path,
      ev.table, ev.op, bucket, Some(version), None, None, None)

  /** The shared set-up, timed `reps` times into fresh roots. */
  def setup(reps: Int): Unit =
    (1 to reps).foreach(i => result.measure(result.setups)(load(s"$work/catalog-$i")))

  /** After `setup(reps)`: one untimed event on the first set-up catalog,
    * so that whichever timed event comes first does not pay JIT and
    * codegen; then, on the last one, trickle files until `seconds` have
    * passed (at least one), with `executePendingDeletes` after every
    * `DeleteEvery` applied approvals and once at the end; then the bulk
    * file, one duplicate delivery and a last delete job; then the output
    * check.
    */
  def run(seconds: Double, reps: Int): Unit = {
    warmUp(s"$work/catalog-1")
    val root = s"$work/catalog-$reps"
    val catalog = new Catalog(spark, root)
    initModel(catalog)
    val notifier = new InMemoryNotifier
    val pipeline = new Pipeline(spark, catalog, notifier, landing)
    var appliedRows = 0L
    var appliedBytes = 0L
    var approveS = 0.0
    var sinceDeletes = 0
    var lastApplied: Option[ApprovalEvent] = None

    // lands the file, registers its arrival and processes its approval;
    // a trickle file whose approval applies is one unit, the bulk file
    // part of the batch, a file that only updates its status other work
    def deliver(ev: EtlEvent, bulk: Boolean): Unit = {
      land(ev)
      val version = versions.getOrElse(ev.path.split("/").last, 0L) + 1
      val applies = ev.action == "approve" && !ev.missingField
      val kind =
        if (!applies) "pipeline.approve_status_only"
        else if (bulk) s"pipeline.approve_bulk_${ev.op}"
        else s"pipeline.approve_${ev.op}"
      val approve = approval(ev, version)
      // spans of the bulk file and the delete jobs are named by their
      // place in the run, not by event id, so that two runs that fit a
      // different number of trickle files still match them
      val request = if (bulk) "bulk" else ev.id
      System.err.println(s"[perfbench] event ${ev.id} ${ev.op} ${ev.table} ${ev.rows.size} rows ${ev.action}")
      val into = if (bulk) result.batch else if (applies) result.units else result.other
      result.measure(into)(result.attempt(tracer.span("etl.event", request) {
        val got = tracer.span("pipeline.register", request)(pipeline.registerArrival(
          FileEvent(bucket, ev.path, ev.id)))
        val a0 = System.nanoTime()
        tracer.span(kind, request)(pipeline.processApproval(approve))
        if (applies) approveS += (System.nanoTime() - a0) / 1e9
        if (got.contains(version)) true
        else { result.note(s"${ev.id}: version $got, expected $version"); false }
      }))
      // model
      versions(ev.path.split("/").last) = version
      expectedSent += 1
      val status =
        if (ev.action == "reject") Status.Rejected
        else if (ev.missingField) Status.Failed
        else { applyModel(ev); expectedSent += 1; Status.Approved }
      processed(ev.id) = (ev.path.split("/").last, version, ev.op, status, true)
      if (applies) {
        appliedRows += ev.rows.size
        appliedBytes += ev.csvBytes
        sinceDeletes += 1
        lastApplied = Some(approve)
      }
    }
    // a duplicate delivery of an already processed approval is a no-op
    def redeliver(a: ApprovalEvent, into: Samples): Unit = result.attempt(result.measure(into) {
      tracer.span("pipeline.approve_status_only", a.event_id)(pipeline.processApproval(a))
      true
    })
    var deleteJobs = 0
    def deleteJob(into: Samples): Unit = {
      deleteJobs += 1
      result.attempt(result.measure(into)(tracer.span("pipeline.delete_job", s"delete-$deleteJobs") {
        pipeline.executePendingDeletes(); true
      }))
      runDeletesModel()
      sinceDeletes = 0
    }

    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      deliver(trickle(), bulk = false)
      if (rng.nextDouble() < RedeliverShare) lastApplied.foreach(redeliver(_, result.other))
      if (sinceDeletes >= DeleteEvery) deleteJob(result.other)
    }
    // applies what the loop staged, so that the batch's delete job
    // applies exactly the bulk file's keys
    deleteJob(result.other)
    deliver(event(Operation.Delete, "lineitem", BulkKeys, "approve", missing = false),
      bulk = true)
    lastApplied.foreach(redeliver(_, result.batch))
    deleteJob(result.batch)
    result.layer("notify.sent") = notifier.sent.size.toDouble
    result.layer("catalog.live_files") = Etl.liveFiles(root).toDouble
    result.layer("etl.applied_rows_per_s") = appliedRows / approveS
    val approvals = tracer.all.filter(_.kind.startsWith("pipeline.approve_"))
    result.layer("catalog.bytes_written_per_applied_byte") =
      approvals.map(_.fsBytesWritten).sum.toDouble / appliedBytes
    result.layer("catalog.rows_written_per_applied_row") =
      approvals.map(_.outputRecords).sum.toDouble / appliedRows
    check(root, notifier.sent.size.toLong)
  }

  private def warmUp(root: String): Unit = {
    val cat = new Catalog(spark, root)
    initModel(cat)
    val p = new Pipeline(spark, cat, new InMemoryNotifier, landing)
    val ev = event(Operation.Update, "lineitem", 20, "approve", missing = false)
    land(ev)
    p.registerArrival(FileEvent(bucket, ev.path, ev.id))
    p.processApproval(approval(ev, 0L))
    Seq(model, columns, keyPool, nextNew, versions, processed).foreach(_.clear())
  }

  /** Compares every target table, `processed_files` and `delete_control`
    * with the model as multisets of rows, so a duplicated row fails too,
    * and the notification count; reads through a fresh Catalog on the
    * same root (acknowledged commits survive a restart).
    */
  private def check(root: String, sent: Long): Unit = {
    def same[T](what: String, got: Seq[T], want: Seq[T]): Unit = {
      val (g, w) = (counts(got), counts(want))
      val wrong = (g.keySet ++ w.keySet).filter(k => g.getOrElse(k, 0) != w.getOrElse(k, 0))
      result.check(what, wrong.isEmpty,
        s"${got.size} rows vs ${want.size} expected; ${wrong.size} rows with another count, " +
          wrong.take(3).map(k => s"$k: ${g.getOrElse(k, 0)} vs ${w.getOrElse(k, 0)}").mkString("; "))
    }
    val fresh = new Catalog(spark, root)
    specs.foreach { t =>
      val got = fresh.read(t.name).select(columns(t.name).map(col): _*).collect()
        .map(r => (0 until r.length).map(r.getString): Seq[String]).toSeq
      same(s"table ${t.name}", got, model(t.name).values.toSeq)
    }
    same("processed_files", fresh.read("processed_files").select("event_id", "file_name",
        "file_version", "operation", "status", "is_processed").collect().map { r =>
      r.getString(0) -> ((r.getString(1), r.getLong(2), r.getString(3), r.getString(4), r.getBoolean(5)))
    }.toSeq, processed.toSeq)
    same("delete_control", fresh.read("delete_control").select("QueryId", "EventId",
        "target_table", "pk_values", "ExecutedFlag").collect().map { r =>
      (r.getLong(0), r.getString(1), r.getString(2),
        r.getMap[String, String](3).toSeq.sortBy(_._1), r.getBoolean(4))
    }.toSeq, staged.map { case (q, id, t, kv, ex) => (q, id, t, kv.sortBy(_._1), ex) }.toSeq)
    result.check("notify.sent", sent == expectedSent, s"$sent sent vs $expectedSent expected")
  }

  private def counts[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }
}

object Etl {
  val specs = Seq(
    TableSpec("orders", Seq("o_orderkey"), Some(16)),
    TableSpec("lineitem", Seq("l_orderkey", "l_linenumber"), Some(16)),
    TableSpec("customer", Seq("c_custkey"), None))
  val HistoryRows = 20000
  // The trickle traffic (see `trickle`): op shares, the largest file,
  // and the shares of rejected approvals, approvals with a missing field
  // and duplicate deliveries of an applied approval.
  val OpShares = Seq(Operation.Insert -> 0.35, Operation.Update -> 0.45, Operation.Delete -> 0.20)
  val MaxTrickleRows = 200
  val RejectShare = 0.05
  val MissingShare = 0.025
  val RedeliverShare = 0.025
  // executePendingDeletes runs after every this many applied approvals
  val DeleteEvery = 20
  // The bulk file that closes every run stages this many lineitem keys,
  // which the delete job applies through its driver-side key frame.
  val BulkKeys = 1500

  def liveFiles(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.filter(p => Files.isRegularFile(p)).count() finally s.close()
  }
}
