package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, GenericRowWithSchema, Literal}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

import graft.catalog.Catalog
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
  * The control plane is driver-side too. The reference's control reads
  * are Postgres point queries (MAX(file_version) by file name, a row by
  * event_id, pending rows by DeleteQuery); here they are answered from
  * the Catalog's driver index of the two control logs
  * ([[graft.catalog.Catalog.logViews]]), so a lookup runs no Spark job.
  * A log ref is immutable once committed, so each ref's rows are read
  * into the driver at most once per Catalog: refs this Catalog commits
  * are seeded from the rows it writes, and refs another writer
  * committed are read in one job by the next lookup. Each ref's lookup
  * maps (file name → max version, processed event ids, its maximum
  * QueryId, pending DeleteQuery set and staged rows) are built once, so
  * a lookup costs the log's refs (at most `MaxControlRefs` + 1) and its
  * batch, not the log's rows. Control updates rewrite their refs from
  * the same rows (Catalog.rewriteLog). The index holds every row of
  * both control logs, so its driver memory grows with the logs' history
  * (one row per arrival, one per staged key), as the reference's
  * Postgres tables do; nothing prunes them.
  *
  * @param landingRoot directory standing in for the GCS bucket: CSVs
  *   land under `landingRoot/<bucket>/<operation>/<file>.csv`.
  * @param maxControlRows guard on the driver-side control plane: the
  *   orchestration assumes control rows scale with FILE EVENTS, not data
  *   rows (SURVEY §7). That assumption is sound for this pipeline's
  *   design but nothing enforced it — a misuse that routed data-scale
  *   rows through a control path would OOM the driver with no hint why.
  *   A batch of more control rows than this (a registration batch, a
  *   delete file's keys, the staged deletes a delete job runs) fails
  *   loudly with guidance instead. It bounds what one call handles, not
  *   the logs' history: a log may grow past it.
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
  // refs a commit folds the log back into one, so a lookup that reads
  // the refs another writer committed reads a bounded number of dirs.
  // Spark lists more than 32 paths of one read with a distributed job
  // (spark.sql.sources.parallelPartitionDiscovery.threshold), so the
  // bound keeps every control read at 32 paths.
  private[pipeline] val MaxControlRefs = 32

  private def nowIso(): String = Instant.now().toString

  /** Fails with guidance when a control batch holds more than
    * `maxControlRows` rows: control rows scale with file events, so
    * blowing the cap means data rows were routed through a control path,
    * and the fix is the data path, not a bigger driver.
    */
  private def guardControl(n: Int, what: String): Unit =
    if (n > maxControlRows)
      throw new IllegalStateException(
        s"control-plane guard: $what exceeded maxControlRows=" +
          s"$maxControlRows. Control rows scale with file events, not " +
          "data volume — route data-scale rows through the distributed " +
          "data path (or raise maxControlRows if this volume of control " +
          "events is intended).")

  /** Driver-side materialization of a CONTROL frame, capped: collects
    * at most `maxControlRows + 1` rows (the limit bounds driver memory
    * even when the input is huge) and fails past the cap. The frame is
    * read as one partition, so the capped collect is one job: a
    * multi-partition limit would take partitions incrementally, one job
    * per round.
    */
  private def collectControl(df: DataFrame, what: String): Array[Row] = {
    val rows = df.coalesce(1).limit(maxControlRows + 1).collect()
    guardControl(rows.length, what)
    rows
  }

  private def ensureControlTables(): Unit = {
    catalog.createIfAbsent(ControlTable, ProcessedFile.schema)
    catalog.createIfAbsent(DeleteControlTable, DeleteControl.schema)
  }

  /** The INSERT of a control table, in O(batch): `rows` builds the batch
    * from `view` of the log inside its commit lock, so the ids it assigns
    * are unique across writers; the rows land as one new ref
    * (Catalog.appendLogRows), and once the log holds more than
    * `MaxControlRefs` refs a rewrite of every row folds it into one, from
    * the index, so the fold reads nothing back.
    */
  private def appendControl[V, T](table: String, view: Catalog.LogView[V])(
      rows: Seq[V] => (Seq[Row], T)): T = {
    val out = catalog.appendLogRows(table, view)(rows)
    if (catalog.bucketRefs(table).size > MaxControlRefs)
      catalog.rewriteLog(table, _ => true)(identity)
    out
  }

  /** `row` with the named columns set to new values, under its schema. */
  private def updated(row: Row, values: (String, Any)*): Row =
    new GenericRowWithSchema(values.foldLeft(row.toSeq) { case (r, (c, v)) =>
      r.updated(row.fieldIndex(c), v) }.toArray, row.schema)

  /** CAST(s AS TIMESTAMP) as this session evaluates it, time zone and
    * ANSI mode included: Spark's own Cast, evaluated on the driver.
    */
  private def timestamp(s: String): Any = {
    val conf = spark.sessionState.conf
    CatalystTypeConverters.convertToScala(Cast(Literal(s), TimestampType,
      Some(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf)).eval(), TimestampType)
  }

  // ---------------------------------------------------------------- E1

  /** O4 — data-query.py:212-229: the operation (first path segment) and
    * file name (last segment) of an arrival, or None when the path is
    * filtered out (folder markers, shallow paths, unknown operations).
    */
  private def route(ev: FileEvent): Option[(String, String)] = {
    if (ev.name == null || ev.name.endsWith("/")) return None // folder creation event
    val segments = ev.name.split("/").filter(_.nonEmpty)
    if (segments.length < 2) return None
    val operation = segments.head.toLowerCase
    if (Operation.all.contains(operation)) Some(operation -> segments.last) else None
  }

  /** data-query.py:199-239 — register one object-arrival event, version
    * it, and request approval. Returns the assigned version, or None
    * when the path is filtered out (folder markers, unknown operation).
    */
  def registerArrival(ev: FileEvent): Option[Long] =
    registerArrivals(Seq(ev)).get(ev.id)

  /** Set-based E1: register a whole batch of arrival events in ONE
    * control-table append. O5 (data-query.py:70-85): a file's next
    * version is COALESCE(MAX(file_version), 0) + 1 over its history,
    * keyed by file_name ALONE — the reference's MAX query
    * (data-query.py:74-79) does not filter by operation, so an update
    * re-upload of a previously inserted file continues its history. The
    * maxima come from the control log's driver index, read inside the
    * log's commit lock with the append, and the batch's
    * arrivals of one file continue them in event-id order
    * (PathOps.assignVersions). Returns (event_id, assigned version);
    * filtered events are absent.
    */
  def registerArrivals(events: Seq[FileEvent]): Map[String, Long] = {
    ensureControlTables()
    val routed = events.flatMap(ev => route(ev).map { case (op, file) => (ev, op, file) })
    if (routed.isEmpty) return Map.empty
    guardControl(routed.size, "registerArrivals' versioned file events")
    val versioned = appendControl(ControlTable, Pipeline.FileVersions) { maxima =>
      val v = PathOps.assignVersions(routed,
          file => maxima.flatMap(_.get(file)).maxOption)(_._3)(
        Ordering.by[(FileEvent, String, String), String](_._1.id)(PathOps.sparkStringOrder))
      (v.map { case ((ev, op, file), version) =>
        Row(file, ev.id, version, false, ev.bucket, op, Status.Pending, null)
      }, v)
    }
    val ts = nowIso()
    versioned.foreach { case ((ev, op, file), version) =>
      notifier.requestApproval(approver, op, PathOps.deriveTableName(file),
        file, ev.id, ev.bucket, version, ts,
        approveUrl = s"https://approvals.local/?event_id=${ev.id}&action=approve",
        rejectUrl = s"https://approvals.local/?event_id=${ev.id}&action=reject")
    }
    versioned.map { case ((ev, _, _), version) => ev.id -> version }.toMap
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
    // O8 idempotency, one control-log lookup for the whole batch
    val done = lookupEvents(valid.map(_.event_id))
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
    markControl(updates.result())
  }

  /** O8 — any error reading the control table is treated as "not yet
    * processed" (process-pipeline.py:97-99; a preserved reference quirk).
    */
  def alreadyProcessed(eventId: String): Boolean =
    lookupEvents(Seq(eventId)).contains(eventId)

  /** O8 for a batch: which of `eventIds` are already processed, from the
    * control log's driver index. Read errors → "none processed",
    * preserving the reference quirk (process-pipeline.py:97-99).
    */
  private def lookupEvents(eventIds: Seq[String]): Set[String] =
    try {
      val processed = catalog.logViews(ControlTable, Pipeline.ProcessedIds)
      eventIds.filter(id => processed.exists(_(id))).toSet
    } catch {
      case _: Exception => Set.empty
    }

  /** Apply a batch of (event_id, status, approval_ts) control updates in
    * ONE commit that rewrites only the refs holding those events' rows
    * (Catalog.rewriteLog, on the driver rows of the log index).
    */
  private def markControl(updates: Seq[(String, String, String)]): Unit = {
    if (updates.isEmpty) return
    val byId = updates.map { case (id, status, ts) => id -> (status, timestamp(ts)) }.toMap
    catalog.rewriteLog(ControlTable, r => byId.contains(r.getAs[String]("event_id")))(_.map { r =>
      byId.get(r.getAs[String]("event_id")).fold(r) { case (status, ts) =>
        updated(r, "status" -> status, "is_processed" -> true,
          "approval_timestamp" -> Option(ts).getOrElse(r.getAs[Any]("approval_timestamp")))
      }
    })
  }

  /** O1 — CSV scan with validation: header-only schema, all strings;
    * empty or headerless files and files without data rows raise
    * (process-pipeline.py:334-337, Spark would otherwise return an
    * empty frame silently). The driver reads the file's first non-blank
    * line, the header, and checks that a non-blank line follows. The
    * header is parsed as Spark's CSV reader parses it (its univocity
    * parser settings and its safe-header naming of empty and duplicated
    * names), on the driver, and the file is then read with that
    * all-string schema, so neither the header nor the emptiness check
    * costs a job or a query plan.
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
    val conf = spark.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone)
    val schema = header.flatMap(h => Option(new CsvParser(options.asParserSettings).parseLine(h)))
      .fold(new StructType())(names => StructType(
        CSVUtils.makeSafeHeader(names, conf.caseSensitiveAnalysis, options)
          .map(StructField(_, StringType))))
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
        stageDeletes(tableName, if (pks.nonEmpty) pks else ordered.filterNot(_ == "__ord"),
          withOrd, eventId, approvalTs)
      case other =>
        throw new IllegalArgumentException(s"Unknown operation: $other")
    }
  }

  /** O6 + O15 — process-pipeline.py:238-305: stage the keys of a delete
    * file in `delete_control`. The keys' rendered DeleteQuery and pk map
    * are collected in file order (one job) and staged on the driver by
    * MutationOps.stageDeletes, against the pending queries and the
    * maximum QueryId of the control log's index, read inside the log's
    * commit lock. The staged rows land as one ref.
    */
  private def stageDeletes(table: String, keyCols: Seq[String], keys: DataFrame,
      eventId: String, approvalTs: String): Unit = {
    val rendered = collectControl(keys.select(MutationOps.renderDeleteQuery(table, keyCols),
      MutationOps.pkValues(keyCols), col("__ord")), "a delete file's staged keys")
    val deletedAt = timestamp(approvalTs)
    appendControl(DeleteControlTable, Pipeline.Deletes) { refs =>
      val staged = MutationOps.stageDeletes(
        rendered.toSeq.sortBy(_.getLong(2)).map(r => (r.getString(0), r.getMap[String, String](1).toMap)),
        query => refs.exists(_.pending(query)), refs.flatMap(_.maxQueryId).maxOption.getOrElse(0L))
      (staged.map { case (id, query, pk) =>
        Row(id, eventId, query, true, false, deletedAt, null, table, pk)
      }, ())
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
    val pending = catalog.logViews(DeleteControlTable, Pipeline.Deletes).flatMap(_.staged)
    if (pending.isEmpty) return Nil
    guardControl(pending.size, "the staged deletes pending execution")
    def pkValues(r: Row) = r.getAs[scala.collection.Map[String, String]]("pk_values")
    val executed = Seq.newBuilder[Long]
    pending.groupBy(_.getAs[String]("target_table")).foreach { case (table, rows) =>
      try {
        val registered = catalog.primaryKey(table)
        val pks =
          if (registered.nonEmpty) registered
          else pkValues(rows.head).keys.toSeq.sorted
        val keySchema = StructType(pks.map(StructField(_, StringType)))
        val keyRows = rows.map { r =>
          val m = pkValues(r)
          pks.map(p => m.getOrElse(p, null))
        }
        // a local relation: the planner knows its size, and an unkeyed
        // table's anti-join broadcasts the keys instead of shuffling it
        val keys = spark.createDataFrame(keyRows.map(Row.fromSeq).asJava, keySchema)
        if (catalog.exists(table)) {
          if (registered.nonEmpty) catalog.deleteByKey(table, keys)
          else catalog.rewrite(table, _ => Nil)(MutationOps.deleteByPk(_, keys, pks))
          executed ++= rows.map(_.getAs[Long]("QueryId"))
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
      // the stamp rewrites only the refs holding the executed rows
      val doneIds = done.toSet
      val now = Timestamp.from(Instant.now())
      def hit(r: Row) = !r.isNullAt(r.fieldIndex("QueryId")) && doneIds(r.getAs[Long]("QueryId"))
      catalog.rewriteLog(DeleteControlTable, hit)(_.map(r =>
        if (hit(r)) updated(r, "ExecutedFlag" -> true, "ExecutedDeleteTimestamp" -> now) else r))
    }
    done
  }
}

object Pipeline {
  // Lookup maps of one control-log ref (Catalog.logViews), built once per
  // immutable ref. processed_files: file name → its maximum version, and
  // the ids of its processed events.
  private val FileVersions = new Catalog.LogView(_.iterator
    .filterNot(r => r.isNullAt(r.fieldIndex("file_version")))
    .map(r => r.getAs[String]("file_name") -> r.getAs[Long]("file_version"))
    .toSeq.groupMapReduce(_._1)(_._2)(math.max))
  private val ProcessedIds = new Catalog.LogView(_.iterator
    .filter(_.getAs[Any]("is_processed") == true).map(_.getAs[String]("event_id")).toSet)

  /** A delete_control ref's maximum QueryId, its pending (not executed)
    * DeleteQuery strings, and its rows staged for the delete job.
    */
  private final case class DeleteRef(maxQueryId: Option[Long], pending: Set[String],
      staged: Seq[Row])
  private val Deletes = new Catalog.LogView(rows => DeleteRef(
    rows.filterNot(r => r.isNullAt(r.fieldIndex("QueryId"))).map(_.getAs[Long]("QueryId")).maxOption,
    rows.filter(_.getAs[Any]("ExecutedFlag") == false).map(_.getAs[String]("DeleteQuery")).toSet,
    rows.filter(r => r.getAs[Any]("DeleteFlag") == true && r.getAs[Any]("ExecutedFlag") == false)))
}
