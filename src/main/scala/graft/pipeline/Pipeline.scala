package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.catalog.Catalog
import graft.catalog.Catalog.RefHint
import graft.model._
import graft.notify.Notifier
import graft.ops.{MutationOps, PathOps}

/** The three execution paths of the reference collapsed into Spark jobs
  * (SURVEY §3): E1 file arrival → register + approval request; E3
  * approval → apply insert/upsert/stage-delete + result notification;
  * E4 scheduled execution of staged deletes.
  *
  * All orchestration (guards, dispatch, control-row updates) runs on the
  * driver, mirroring the reference's single-threaded Cloud Functions;
  * all data movement is distributed DataFrame work.
  *
  * @param landingRoot directory standing in for the GCS bucket: CSVs
  *   land under `landingRoot/<bucket>/<operation>/<file>.csv`.
  * @param maxControlRows guard on the control-plane `.collect()`s: the
  *   driver-side orchestration assumes control rows scale with FILE
  *   EVENTS, not data rows (SURVEY §7). That assumption is sound for
  *   this pipeline's design but nothing enforced it — a misuse that
  *   routed data-scale rows through a control path would OOM the
  *   driver with no hint why. Past this many rows, the collect fails
  *   loudly with guidance instead.
  */
final class Pipeline(
    spark: SparkSession,
    val catalog: Catalog,
    notifier: Notifier,
    landingRoot: String,
    approver: String = "owner@example.com",
    val maxControlRows: Int = 1000000) {

  val ControlTable = "processed_files"
  val DeleteControlTable = "delete_control"

  // A control table is a log of immutable refs: an insert appends one, a
  // status update rewrites only the refs holding its rows. Past this many
  // refs a commit folds the log back into one, so reads stay one scan of
  // a bounded number of dirs. Spark lists more than 32 paths of one read
  // with a distributed job (spark.sql.sources.parallelPartitionDiscovery
  // .threshold), so the bound keeps every control read at 32 paths.
  private[pipeline] val MaxControlRefs = 32

  private def nowIso(): String = Instant.now().toString

  /** Driver-side materialization of a CONTROL frame, capped: collects
    * at most `maxControlRows + 1` rows (the limit bounds driver memory
    * even when the input is huge) and fails with guidance when the cap
    * is exceeded — control tables hold file/approval/delete-control
    * rows, so blowing the cap means data rows were routed through a
    * control path, and the fix is the data path, not a bigger driver.
    * The frame is read as one partition, so the capped collect is one
    * job: a multi-partition limit would take partitions incrementally,
    * one job per round.
    */
  private def collectControl(df: DataFrame, what: String): Array[Row] = {
    val rows = df.coalesce(1).limit(maxControlRows + 1).collect()
    if (rows.length > maxControlRows)
      throw new IllegalStateException(
        s"control-plane guard: $what exceeded maxControlRows=" +
          s"$maxControlRows. Control rows scale with file events, not " +
          "data volume — route data-scale rows through the distributed " +
          "data path (or raise maxControlRows if this volume of control " +
          "events is intended).")
    rows
  }

  private def ensureControlTables(): Unit = {
    catalog.createIfAbsent(ControlTable, ProcessedFile.schema)
    catalog.createIfAbsent(DeleteControlTable, DeleteControl.schema)
  }

  /** The INSERT of a control table, in O(batch): the rows land as one new
    * ref (Catalog.appendLog), and the log is folded once it holds more
    * than `MaxControlRefs` refs.
    */
  private def appendControl(table: String, rows: DataFrame): Unit = {
    catalog.appendLog(table, rows)
    if (catalog.bucketRefs(table).size > MaxControlRefs) catalog.compactLog(table)
  }

  // ---------------------------------------------------------------- E1

  /** data-query.py:199-239 — register one object-arrival event, version
    * it, and request approval. Returns the assigned version, or None
    * when the path is filtered out (folder markers, unknown operation).
    */
  def registerArrival(ev: FileEvent): Option[Long] = {
    ensureControlTables()
    if (ev.name.endsWith("/")) return None // folder creation event
    val segments = ev.name.split("/").filter(_.nonEmpty)
    if (segments.length < 2) return None
    val operation = segments.head.toLowerCase
    if (!Operation.all.contains(operation)) return None
    val fileName = segments.last
    val tableName = PathOps.deriveTableName(fileName)
    // version keyed by file_name ALONE — the reference's MAX query
    // (data-query.py:74-79) does not filter by operation, so an update
    // re-upload of a previously inserted file continues its history
    val version = PathOps.nextVersion(catalog.read(ControlTable), fileName)
    import spark.implicits._
    val row = Seq(ProcessedFile(fileName, ev.id, version,
      is_processed = false, ev.bucket, operation, Status.Pending, None)).toDF()
    appendControl(ControlTable, row)
    val ts = nowIso()
    notifier.requestApproval(approver, operation, tableName,
      fileName, ev.id, ev.bucket, version, ts,
      approveUrl = s"https://approvals.local/?event_id=${ev.id}&action=approve",
      rejectUrl = s"https://approvals.local/?event_id=${ev.id}&action=reject")
    Some(version)
  }

  /** Set-based E1: register a whole batch of arrival events in ONE
    * control-table append — guards and routing as column expressions,
    * versions continued per file with a single window
    * (PathOps.assignVersions) instead of one MAX query per event.
    * Returns (event_id, assigned version); filtered events are absent.
    */
  def registerArrivals(events: Seq[FileEvent]): Map[String, Long] = {
    ensureControlTables()
    if (events.isEmpty) return Map.empty
    import spark.implicits._
    val arrivals = events.toDF("bucket", "name", "id")
      .filter(!col("name").endsWith("/"))
      .withColumn("__segs",
        filter(split(col("name"), "/"), s => length(s) > 0))
      .filter(size(col("__segs")) >= 2)
      .withColumn("operation", lower(element_at(col("__segs"), 1)))
      .filter(graft.ops.PathOps.isValidOperation(col("operation")))
      .withColumn("file_name", element_at(col("__segs"), -1))
    val versioned = collectControl(graft.ops.PathOps.assignVersions(
        catalog.read(ControlTable), arrivals, ord = col("id"))
      .select(col("file_name"), col("id").as("event_id"),
        col("file_version"), lit(false).as("is_processed"),
        col("bucket"), col("operation"), lit(Status.Pending).as("status"),
        lit(null).cast("timestamp").as("approval_timestamp")),
      "registerArrivals' versioned file events")
    if (versioned.isEmpty) return Map.empty
    // a local relation, so the planner knows the batch's size
    appendControl(ControlTable,
      spark.createDataFrame(versioned.toSeq.asJava, ProcessedFile.schema))
    val ts = nowIso()
    versioned.foreach { r =>
      val (file, id, op, bucket, version) = (r.getString(0), r.getString(1),
        r.getString(5), r.getString(4), r.getLong(2))
      notifier.requestApproval(approver, op, graft.ops.PathOps.deriveTableName(file),
        file, id, bucket, version, ts,
        approveUrl = s"https://approvals.local/?event_id=$id&action=approve",
        rejectUrl = s"https://approvals.local/?event_id=$id&action=reject")
    }
    versioned.map(r => r.getString(1) -> r.getLong(2)).toMap
  }

  // ---------------------------------------------------------------- E3

  /** process-pipeline.py:436-532 — the approval state machine, one
    * event (single control-table commit, via the batch path).
    */
  def processApproval(ev: ApprovalEvent): Unit = processApprovals(Seq(ev))

  /** Batch-grouped E3: the full per-event state machine (approve →
    * apply + notify, reject, failed-field / failed-op, unknown-action
    * drop, O8 idempotency), but ALL status updates of a micro-batch
    * land in ONE control-table commit, which rewrites only the refs
    * holding the batch's events — a burst of N approvals costs one
    * commit instead of N, and each costs the batch, not the table.
    *
    * Events are applied in sequence (the reference handles one Pub/Sub
    * message per invocation — process-pipeline.py:436 — so in-batch
    * order IS arrival order); a duplicate event_id later in the batch
    * is skipped exactly as a replayed message would be.
    */
  def processApprovals(events: Seq[ApprovalEvent]): Unit = {
    ensureControlTables()
    val valid = events.filter(ev =>
      ev.event_id != null && ev.event_id.nonEmpty &&
        ev.action != null && ev.action.nonEmpty)
    if (valid.isEmpty) return
    // O8 idempotency, one control-table read for the whole batch
    val (done, hint) = lookupEvents(valid.map(_.event_id))
    val updates = Seq.newBuilder[(String, String, String)]
    val seen = scala.collection.mutable.Set[String]()
    valid.foreach { ev =>
      if (!done(ev.event_id) && !seen(ev.event_id)) {
        val approvalTs =
          ev.approval_timestamp.filter(_.nonEmpty).getOrElse(nowIso())
        // an update CONSUMES the event_id: later in-batch duplicates are
        // skipped exactly as a replayed message would be. An unknown
        // action persists nothing, so it must NOT consume the id — the
        // reference drops the message without marking it processed
        // (process-pipeline.py:469-471), leaving a later valid
        // approve/reject for the same id free to land.
        def consume(status: String): Unit = {
          updates += ((ev.event_id, status, approvalTs))
          seen += ev.event_id
        }
        ev.action.toLowerCase match {
          case "approve" =>
            if (Seq(ev.file_name, ev.bucket, ev.table_name, ev.operation)
                .exists(v => v == null || v.isEmpty)) {
              consume(Status.Failed)
            } else try {
              applyOperation(ev.operation.toLowerCase, ev.bucket, ev.file_name,
                ev.table_name, ev.event_id, approvalTs)
              consume(Status.Approved)
              notifier.reportResult(approver, ev.operation, ev.table_name,
                ev.file_name, ev.event_id, ev.bucket, success = true,
                "Operation completed successfully", approvalTs)
            } catch {
              case e: Exception =>
                consume(Status.Failed)
                notifier.reportResult(approver, ev.operation, ev.table_name,
                  ev.file_name, ev.event_id, ev.bucket, success = false,
                  s"Operation failed: ${e.getMessage}", approvalTs)
            }
          case "reject" =>
            consume(Status.Rejected)
          case _ => () // unknown action: logged & dropped (process-pipeline.py:469-471)
        }
      }
    }
    val batch = updates.result()
    markControl(batch, hint(batch.map(_._1)))
  }

  /** O8 — any error reading the control table is treated as "not yet
    * processed" (process-pipeline.py:97-99; a preserved reference quirk).
    */
  def alreadyProcessed(eventId: String): Boolean =
    lookupEvents(Seq(eventId))._1.contains(eventId)

  /** O8 for a batch, in one control-table read (one job): which of
    * `eventIds` are already processed, and the ref hint of a status
    * update to some of them — the files their rows were read from and
    * every file the read scanned — so the update finds its refs without
    * a job of its own. Read errors → "none processed" and no hint,
    * preserving the reference quirk (process-pipeline.py:97-99).
    */
  private def lookupEvents(
      eventIds: Seq[String]): (Set[String], Seq[String] => Option[RefHint]) =
    try {
      val ctrl = catalog.read(ControlTable)
      val rows = collectControl(ctrl
        .filter(col("event_id").isin(eventIds.distinct: _*))
        .select(col("event_id"), coalesce(col("is_processed"), lit(false)),
          input_file_name()), "alreadyProcessed's idempotency lookup")
      val files = rows.toSeq.groupMap(_.getString(0))(_.getString(2))
      (rows.filter(_.getBoolean(1)).map(_.getString(0)).toSet,
        ids => Some(RefHint(ctrl.inputFiles.toSeq,
          ids.flatMap(files.getOrElse(_, Nil)))))
    } catch {
      // read errors → "none processed" is the preserved reference
      // quirk, but the guard tripping is NOT a read error — a batch
      // that large must fail loudly, never silently reprocess
      case e: IllegalStateException => throw e
      case _: Exception => (Set.empty, _ => None)
    }

  /** Apply a batch of (event_id, status, approval_ts) control updates in
    * ONE commit that rewrites only the refs holding those events' rows
    * (Catalog.rewriteLog; `hint` says where the lookup found them). The
    * update set is already on the driver, so it rides in the plan as
    * literal maps keyed by event_id (no join, no broadcast job); a hashed
    * IN test gates the maps' linear lookup to the touched rows.
    */
  private def markControl(updates: Seq[(String, String, String)],
      hint: Option[RefHint]): Unit = {
    if (updates.isEmpty) return
    val hit = col("event_id").isin(updates.map(_._1): _*)
    def lookup(value: ((String, String, String)) => String): Column = {
      val byId = typedLit(updates.map(u => u._1 -> value(u)).toMap)
      when(hit, byId(col("event_id")))
    }
    val status = lookup(_._2)
    catalog.rewriteLog(ControlTable, hit, hint)(_
      .withColumn("status", coalesce(status, col("status")))
      .withColumn("is_processed",
        when(status.isNotNull, lit(true)).otherwise(col("is_processed")))
      .withColumn("approval_timestamp",
        coalesce(lookup(_._3).cast("timestamp"), col("approval_timestamp"))))
  }

  /** O1 — CSV scan with validation: header-only schema, all strings;
    * empty or headerless files and files without data rows raise
    * (process-pipeline.py:334-337, Spark would otherwise return an
    * empty frame silently). The driver reads the file's first non-blank
    * line, the header, and checks that a non-blank line follows; Spark's
    * own CSV reader parses the header from a local Dataset (no job), and
    * the file is then read with that all-string schema, so neither the
    * header nor the emptiness check costs a job.
    */
  def readLandedCsv(bucket: String, objectPath: String): DataFrame = {
    val path = new Path(s"$landingRoot/$bucket/$objectPath")
    val in = new BufferedReader(new InputStreamReader(
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path), UTF_8))
    val (header, hasRows) = try {
      // blank as Spark's CSV reader counts it when it skips lines
      val lines = Iterator.continually(in.readLine())
        .takeWhile(_ != null).filter(_.trim.nonEmpty)
      val h = lines.nextOption()
      (h, lines.hasNext)
    } finally in.close()
    import spark.implicits._
    val schema = header.fold(new StructType())(h =>
      spark.read.option("header", "true").csv(Seq(h).toDS()).schema)
    if (schema.isEmpty || schema.fieldNames.forall(_.startsWith("_c")))
      throw new IllegalArgumentException("CSV file is empty or invalid")
    if (!hasRows)
      throw new IllegalArgumentException("CSV file contains no data rows")
    spark.read.option("header", "true").schema(schema).csv(path.toString)
  }

  /** O17 dispatch (+O9 DDL for non-delete) — process-pipeline.py:317-364.
    * On a table with a registered primary key an insert or update
    * commits the file's rows as one key-resolved fragment
    * (Catalog.insertByKey / upsertByKey) and reads no table data; a
    * table without one takes an insert as a union (Catalog.rewrite) and
    * no update. A delete only stages its keys in `delete_control`.
    */
  private def applyOperation(operation: String, bucket: String,
      objectPath: String, tableName: String, eventId: String,
      approvalTs: String): Unit = {
    val data = readLandedCsv(bucket, objectPath)
    val ordered = data.columns.toSeq // header order = batch order (O2)
    // in-batch order: the reference applies rows in file order; tag it
    // before any shuffle so keep-first/keep-last dedup stays file-ordered
    val withOrd = data.withColumn("__ord", monotonically_increasing_id())
    if (operation != Operation.Delete)
      catalog.createIfAbsent(tableName, catalog.allStringSchema(ordered))
    val pks = catalog.primaryKey(tableName)
    operation match {
      case Operation.Insert if pks.nonEmpty => catalog.insertByKey(tableName, withOrd, "__ord")
      case Operation.Update if pks.nonEmpty => catalog.upsertByKey(tableName, withOrd, "__ord")
      case Operation.Insert =>
        catalog.rewrite(tableName, _ => Nil) { current =>
          MutationOps.insertIgnoreDups(current, withOrd, Nil, col("__ord"))
            .select(ordered.map(col): _*)
        }
      case Operation.Update =>
        throw new IllegalArgumentException("upsert requires a primary key")
      case Operation.Delete =>
        val base = PathOps.maxQueryId(catalog.read(DeleteControlTable))
        val staged = MutationOps.stageDeletes(
          catalog.read(DeleteControlTable), withOrd, tableName,
          if (pks.nonEmpty) pks else ordered.filterNot(_ == "__ord"),
          eventId, base, lit(approvalTs), col("__ord"))
        appendControl(DeleteControlTable, staged)
      case other =>
        throw new IllegalArgumentException(s"Unknown operation: $other")
    }
  }

  // ---------------------------------------------------------------- E4

  /** delete-control.py:38-101 — execute staged deletes grouped by table,
    * continue on per-table error, stamp ExecutedDeleteTimestamp.
    * Returns the set of executed QueryIds. A table with a registered
    * primary key takes its keys as one fragment of tombstones
    * (Catalog.deleteByKey) and none of its files is read; a table
    * without one is rewritten whole, keyed by the staged columns.
    */
  def executePendingDeletes(): Seq[Long] = {
    ensureControlTables()
    val ctrl = catalog.read(DeleteControlTable)
    val pending = collectControl(
      ctrl.filter(col("DeleteFlag") && !col("ExecutedFlag"))
        .select(col("QueryId"), col("target_table"), col("pk_values"), input_file_name()),
      "executePendingDeletes' staged delete rows")
    if (pending.isEmpty) return Nil
    val executed = Seq.newBuilder[Long]
    pending.groupBy(_.getString(1)).foreach { case (table, rows) =>
      try {
        val registered = catalog.primaryKey(table)
        val pks =
          if (registered.nonEmpty) registered
          else rows.head.getMap[String, String](2).keys.toSeq.sorted
        val keySchema = StructType(pks.map(StructField(_, StringType)))
        val keyRows = rows.toSeq.map { r =>
          val m = r.getMap[String, String](2)
          pks.map(p => m.getOrElse(p, null))
        }
        // a local relation: the planner knows its size, and an unkeyed
        // table's anti-join broadcasts the keys instead of shuffling it
        val keys = spark.createDataFrame(keyRows.map(Row.fromSeq).asJava, keySchema)
        if (catalog.exists(table)) {
          if (registered.nonEmpty) catalog.deleteByKey(table, keys)
          else catalog.rewrite(table, _ => Nil)(MutationOps.deleteByPk(_, keys, pks))
          executed ++= rows.map(_.getLong(0))
        } else {
          // missing target = per-table error path: leave ExecutedFlag
          // false so the staged delete still runs once the table exists
          // (the reference's failed per-table DELETE is not marked
          // executed — delete-control.py:38-101)
          System.err.println(s"[delete-job] table $table does not exist; leaving staged")
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[delete-job] table $table failed: ${e.getMessage}")
      }
    }
    val done = executed.result()
    if (done.nonEmpty) {
      // the stamp rewrites only the refs the executed rows were read from
      val doneIds = done.toSet
      val hint = RefHint(ctrl.inputFiles.toSeq,
        pending.filter(r => doneIds(r.getLong(0))).map(_.getString(3)).toSeq)
      val hit = col("QueryId").isin(done: _*)
      catalog.rewriteLog(DeleteControlTable, hit, Some(hint))(_
        .withColumn("ExecutedFlag", when(hit, lit(true)).otherwise(col("ExecutedFlag")))
        .withColumn("ExecutedDeleteTimestamp",
          when(hit, current_timestamp()).otherwise(col("ExecutedDeleteTimestamp"))))
    }
    done
  }
}
