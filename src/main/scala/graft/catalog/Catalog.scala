package graft.catalog

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, expr, hash, input_file_name, lit, max, min, pmod, row_number, shiftright, struct, sum, when}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StringType, StructField, StructType}

import graft.functions.StagedSwap

/** Transactional Parquet table layer — the one genuinely custom piece of
  * storage machinery (SURVEY §4): no lakehouse-format jar ships with the
  * image, so tables are plain Parquet directories plus a JSON metadata
  * sidecar carrying the schema and primary-key registry. This replaces
  * the reference's Postgres catalog lookups (process-pipeline.py:67-86
  * pg_index PK introspection, :133-150 information_schema columns) with
  * externally supplied PK metadata, mirroring its design.
  *
  * Atomicity: every mutation writes a fresh versioned data directory and
  * then atomically flips a one-line `_current` pointer file (write temp +
  * rename). Readers resolve the pointer first, so a crash mid-write
  * leaves the previous version live. Directory renames are atomic on
  * local FS and HDFS; on S3-like stores the pointer-file flip is still
  * the single commit point, which is why we flip a file instead of
  * renaming the data directory itself.
  *
  * Version GC: every commit calls `vacuum` with this catalog's
  * `graceVersions` retention, deleting version directories that neither
  * the `_current` pointer nor any live manifest ref reaches
  * (ref-counted, never blind). `graceVersions > 0` keeps that many of
  * the newest unreferenced versions as a grace window so a reader that
  * resolved the pointer just before a commit still finds its files —
  * the lakehouse-standard reader/GC contract (snapshot retention);
  * explicit `vacuum(name, keepLast = 0)` reclaims them on demand.
  *
  * Cross-process writer safety: `synchronized` serializes mutations
  * within one JVM, but every public mutation is a read-modify-write
  * (append resolves the current version, merges, then flips the
  * pointer), so two DRIVER PROCESSES sharing a root could interleave
  * and silently drop a commit — the reference never faced this because
  * Postgres gave it transactions. Each mutation therefore also holds a
  * per-table `_commit.lock` file for its whole read→write→flip span,
  * through [[graft.functions.StagedSwap.withFileLock]] (the protocol —
  * acquire, stale-break, owned release — is described there).
  * Acquisition waits up to `lockTimeoutMs`; a lock older than
  * `lockStaleMs` is taken as a crashed holder's, so size it above your
  * slowest expected commit.
  *
  * Versions: every commit writes a fresh version dir and ends in one
  * tail, [[commitManifest]]: the version's `_manifest.json` lands, then
  * the pointer flips. The manifest maps refs to the data dirs the
  * version reads and records the schema a read of it returns, so reads
  * and time travel hand the reader that schema and never infer one. A
  * flat overwrite is ref 0 → its own dir (a partitioned overwrite too,
  * its partition columns last in the schema), a log is one ref per
  * append batch, a bucket table one ref per bucket, and an empty table
  * has no refs. The refs are the version's BASE; the manifest also
  * lists its FRAGMENTS in commit order.
  *
  * Fragments: a table with a primary key takes row mutations as
  * key-resolved fragments, the log-structured merge of O'Neil et al.
  * (The LSM-Tree, 1996). [[insertByKey]], [[upsertByKey]] and
  * [[deleteByKey]] each commit ONE fragment, one file in its own
  * version dir holding the batch deduplicated by key (or tombstones
  * for the deleted keys), tagged with its op, its commit order and each
  * row's bucket; they never read the table. A read resolves every key
  * over its records in commit order, the base row being the oldest
  * upsert: only records after the newest tombstone count, the newest
  * upsert among them wins, else the FIRST insert, else the key is
  * absent. That is the sequential semantics of the reference's SQL:
  * an insert keeps the first row and ignores a live key, an update
  * keeps the last row, a delete removes the key. A row with a null key
  * column matches no other, as in SQL. A version with no fragments
  * reads its base alone, as a plain scan. Once a table holds more than
  * [[Catalog.MaxFragments]] fragments the commit that crossed the bound
  * [[fold]]s them into new bases (only the buckets they touch). Any
  * other commit leaves no fragment behind: a commit of the whole
  * contents (overwrite, append, compactLog) replaces them with the
  * base, and `rewrite`, `compact` and the log commits fold first.
  *
  * Log index: a log's refs are immutable once a manifest names them, so
  * a Catalog keeps the rows of the log refs it has read or written on
  * the driver, by ref dir, and answers point lookups of a small log
  * ([[logViews]]) and driver-side log updates ([[rewriteLog]]) from them
  * with no Spark job for a ref it already holds.
  */
class Catalog(spark: SparkSession, root: String, val graceVersions: Int = 0,
    val lockTimeoutMs: Long = 60000, val lockStaleMs: Long = 1800000) {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(name: String) = new Path(root, name)
  private def pointerFile(name: String) = new Path(tableDir(name), "_current")
  private def metaFile(name: String) = new Path(tableDir(name), "_meta.json")
  private def lockFile(name: String) = new Path(tableDir(name), "_commit.lock")

  // tables whose _commit.lock THIS instance's current mutation already
  // holds — mutators call each other (compact → commitBuckets,
  // migrateToCoLocated → saveCoLocated, every commit → vacuum) and the
  // file lock, unlike `synchronized`, is not reentrant. Only touched
  // under the instance monitor (every locked() body runs synchronized),
  // so a plain Set.
  private val heldLocks = scala.collection.mutable.Set.empty[String]

  /** The table's cross-process commit lock around a mutation's whole
    * read→write→pointer-flip span, reentrant within this instance.
    */
  private def withTableLock[T](name: String)(body: => T): T =
    if (heldLocks(name)) body
    else StagedSwap.withFileLock(spark, lockFile(name).toString,
        staleMs = lockStaleMs, timeoutMs = lockTimeoutMs) {
      heldLocks += name
      try body finally heldLocks -= name
    }

  /** Every public mutation runs under BOTH the instance monitor
    * (in-JVM serialization, reentrancy guard) and the table's
    * cross-process commit lock.
    */
  private def locked[T](name: String)(body: => T): T =
    synchronized { withTableLock(name)(body) }

  def exists(name: String): Boolean =
    fs.exists(pointerFile(name)) || latestVersionDir(name).isDefined

  /** Newest COMMITTED versioned data directory, by name — version names
    * are `v<epochMillis>_<uuid8>`, so lexicographic order is commit
    * order (13-digit millis until year 2286). Crash-recovery fallback
    * only: the pointer file is the normal resolution path.
    */
  private def latestVersionDir(name: String): Option[Path] =
    versions(name).lastOption.map(new Path(tableDir(name), _))

  /** A version directory counts as a completed commit once its
    * `_manifest.json` landed: every commit writes it after its data job
    * returned. Without this gate, a crash during a table's FIRST commit
    * (no pointer yet) would leave a data directory that the
    * pointer-less fallback resurrects as live data.
    */
  private def isCommitted(dir: Path): Boolean = fs.exists(manifestFile(dir))

  private def currentVersionDir(name: String): Path =
    StagedSwap.readSmallFile(spark, pointerFile(name).toString) match {
      case Some(v) => new Path(tableDir(name), v.trim)
      // a crash exactly between pointer delete and rename (the delete+
      // rename fallback of writeAtomic) or a half-written pointer must
      // not brick the table: fall back to the newest fully-written
      // version directory (data dirs are always materialized before the
      // pointer flips).
      case None => latestVersionDir(name).getOrElse(
        throw new IllegalStateException(s"table $name has no versions"))
    }

  def read(name: String): DataFrame = {
    require(exists(name), s"table $name does not exist")
    val dir = currentVersionDir(name)
    readAt(name, dir, manifestAt(name, dir))
  }

  /** Committed versions of a table, oldest → newest (version names are
    * `v<epochMillis>_<uuid8>`, so name order is commit order). With a
    * `graceVersions` retention this is the time-travel window; with
    * immediate pruning it is just the live version plus whatever the
    * current manifest still references.
    */
  def versions(name: String): Seq[String] = {
    if (!fs.exists(tableDir(name))) return Nil
    fs.listStatus(tableDir(name)).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("v"))
      .filter(isCommitted)
      .map(_.getName).sorted
  }

  def currentVersion(name: String): String = currentVersionDir(name).getName

  /** Time travel: read the table AS OF a specific committed version
    * (any entry of `versions(name)` that vacuum hasn't reclaimed). The
    * version resolves ITS OWN manifest — the refs as of that commit,
    * under that commit's schema — not the current pointer's.
    */
  def readVersion(name: String, version: String): DataFrame = {
    val dir = new Path(tableDir(name), version)
    require(isCommitted(dir),
      s"table $name has no committed version $version (vacuumed or never existed)")
    val m = manifestAt(name, dir)
    // an old manifest may reference dirs the CURRENT state no longer
    // does — vacuum only protects the live refs, so time travel past a
    // vacuum fails loudly, never reads partial data
    val missing = m.dirs.filterNot(v => fs.exists(new Path(tableDir(name), v)))
    require(missing.isEmpty,
      s"version $version of $name references vacuumed dirs: $missing")
    readAt(name, dir, m)
  }

  /** Change feed between any two committed versions (within the vacuum
    * retention window): `__op`-tagged rows via [[graft.operators.TableDiff]]
    * over the registered primary key — CDC after the fact, computed
    * from time travel instead of a writer-maintained log.
    */
  def diffVersions(name: String, fromVersion: String,
      toVersion: String): DataFrame = {
    val pks = primaryKey(name)
    require(pks.nonEmpty,
      s"diffVersions requires a registered primary key on $name")
    graft.operators.TableDiff.diff(
      readVersion(name, fromVersion), readVersion(name, toVersion), pks)
  }

  /** O9 create-if-absent: template schema (with PKs) when registered,
    * else all-string from the CSV headers (process-pipeline.py:104-130).
    */
  def createIfAbsent(name: String, schema: StructType,
      primaryKey: Seq[String] = Nil): Unit =
    // a table once created is never dropped, so an existing one needs no lock
    if (!exists(name)) locked(name) {
      if (!exists(name))
        commit(name, spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema),
          primaryKey, empty = true)
    }

  def allStringSchema(headers: Seq[String]): StructType =
    StructType(headers.map(h => StructField(h, StringType)))

  /** Append = read current + union + commit new version: O(table) per
    * append, for small tables that are also rewritten whole. A table that
    * grows with every append — the pipeline's control tables grow with
    * file events — appends through [[appendLog]], which costs the batch.
    * The union is coalesced to the replaced version's file count: small
    * files are one read partition each, so the union's extra batch
    * partition would otherwise add a file per append.
    */
  def append(name: String, df: DataFrame): Unit = locked(name) {
    val merged = if (exists(name)) {
      val current = read(name)
      current.unionByName(df).coalesce(math.max(1, current.inputFiles.length))
    } else df
    commit(name, merged, primaryKey(name))
  }

  def overwrite(name: String, df: DataFrame): Unit = locked(name) {
    commit(name, df, primaryKey(name))
  }

  /** O(batch) append for GROWING tables: the new rows land in a fresh
    * version directory and the manifest gains one ref — existing
    * directories are never read or rewritten, so appending to a 100 TB
    * log costs the batch, not the table (`append` above is
    * read+union+rewrite: right for small control tables that also take
    * updates, quadratic for append-only state). Readers still get ONE
    * multi-path scan via the manifest. Fragmentation from many small
    * appends is maintenance: `compactLog` folds the refs back into one
    * directory. An overwritten table's ref 0 stays the log's first ref,
    * as it stands (see [[logManifest]]).
    */
  def appendLog(name: String, df: DataFrame,
      evolveSchema: Boolean = false): Unit = locked(name) {
    validateConstraints(name, df) // the BATCH only — appends stay O(batch)
    val prevManifest = logManifest(name)
    // the manifest's schemaDDL reads EVERY historical ref, so a batch
    // with a renamed/retyped column would silently null out history —
    // fail fast on drift instead (nullability may differ; names+types
    // may not). With evolveSchema, column ADDS (and a batch missing a
    // stored column) are legal: parquet refs resolve by NAME under the
    // manifest's explicit read schema, so refs lacking a column yield
    // nulls — only same-name type changes stay fatal. The manifest
    // then carries the union schema (stored order first, new columns
    // appended), so history and new batches read as one frame.
    val unionSchema: StructType = prevManifest match {
      case None => df.schema
      case Some(m) =>
        val stored = StructType.fromDDL(m.schemaDDL)
        if (!evolveSchema) {
          require(sameColumns(stored, df.schema),
            s"appendLog schema drift for $name: table is [${stored.toDDL}], " +
              s"batch is [${df.schema.toDDL}] (pass evolveSchema=true to " +
              "accept column adds)")
          stored
        } else {
          val byName = df.schema.fields.map(f => f.name -> f).toMap
          stored.fields.foreach { a =>
            byName.get(a.name).foreach { b =>
              require(a.dataType.sql == b.dataType.sql,
                s"appendLog type drift for $name.${a.name}: " +
                  s"${a.dataType.sql} -> ${b.dataType.sql} — evolution " +
                  "covers column adds, never retypes")
            }
          }
          val storedNames = stored.fieldNames.toSet
          StructType(stored.fields ++
            df.schema.fields.filterNot(f => storedNames(f.name))
              .map(_.copy(nullable = true)))
        }
    }
    val prev: Map[Int, String] = prevManifest.map(_.refs).getOrElse(Map.empty)
    val version = newVersionName()
    val dataDir = new Path(tableDir(name), version)
    // NOTE: refs must stay flat parquet — hive-style partition dirs
    // inside refs are unreadable as one multi-path scan (Spark refuses
    // partition inference over multiple roots). Callers that want
    // filtered reads to skip history cluster each batch on the filter
    // column before appending (range-repartition + sort), so row-group
    // min/max stats prune instead — see appendLogClustered.
    df.write.mode("overwrite").parquet(dataDir.toString)
    commitManifest(name, version, unionSchema.toDDL, prev + (nextRef(prev) -> version))
  }

  private def nextRef(refs: Map[Int, String]): Int = (refs.keySet + (-1)).max + 1

  /** Same column names and types in the same order. Nullability may
    * differ: `.sql` ignores it, nested containsNull included, so exactly
    * the drift classes that matter are name + type.
    */
  private def sameColumns(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.fields.zip(b.fields).forall { case (x, y) =>
      x.name == y.name && x.dataType.sql == y.dataType.sql }

  /** The current manifest of a table that takes log refs (None when it
    * does not exist): an overwrite's ref 0 or an empty table's no refs
    * start the log as they stand, so no data is read or rewritten. A
    * table holding fragments is folded first, since a log ref is base.
    */
  private def logManifest(name: String): Option[Manifest] = {
    require(bucketCount(name).isEmpty,
      s"$name has a PK-bucket layout; its manifest keys are bucket ids, not log refs")
    if (!exists(name)) return None
    val dir = currentVersionDir(name)
    val m = manifestAt(name, dir)
    if (m.layout == Catalog.Partitioned) throw new IllegalStateException(
      s"$name version ${dir.getName} is partitioned; log refs must be flat parquet")
    if (m.fragments.nonEmpty) { fold(name); logManifest(name) }
    else Some(m)
  }

  /** [[appendLog]] of rows computed on the driver from the log itself,
    * as one file. Inside the commit lock, `rows` gets `view` of each live
    * ref as [[logViews]] returns it, and returns the batch to append
    * beside a result for the caller. The lookup and the append are one
    * locked step, so an id the batch derives from the log (a file's next
    * version, the next QueryId) cannot collide with one another writer
    * assigns at the same time. The new ref is seeded into the log index,
    * so no lookup of this Catalog reads it back. An empty batch commits
    * nothing.
    */
  def appendLogRows[V, T](name: String, view: Catalog.LogView[V])(
      rows: Seq[V] => (Seq[Row], T)): T = locked(name) {
    val m = logManifest(name).getOrElse(
      throw new IllegalArgumentException(s"table $name does not exist"))
    val (out, result) = rows(viewsOf(name, m, view))
    val schema = StructType.fromDDL(m.schemaDDL)
    val batch = asRead(name, out, schema)
    if (batch.nonEmpty) {
      appendLog(name, spark.createDataFrame(batch.asJava, schema).coalesce(1))
      seed(name, currentVersion(name), m.schemaDDL, batch)
    }
    result
  }

  /** UPDATE for a log table, in O(touched refs), on the driver: under the
    * commit lock, the refs holding rows that match `matching` are
    * replaced by ONE new ref holding `f(their rows)`; every other ref is
    * carried over as it is, so a status update to one event of a long log
    * rewrites that event's ref, not the log. `f` sees every row of the
    * replaced refs and must pass the rows it leaves alone through
    * unchanged, as rows of the table's columns (a row that carries a
    * schema, as the index's rows do, must carry the table's); a result
    * with no rows drops the refs. An overwritten table's ref 0 is a ref like any other,
    * and `matching` true for every row folds the log into one ref.
    *
    * The refs and their rows come from the log index (see [[logViews]]),
    * resolved inside the lock: a ref another writer committed after the
    * caller's lookup is read then, in one job, and carried over, never
    * lost. The write is the rewrite's one other job, and the new ref is
    * seeded into the index.
    */
  def rewriteLog(name: String, matching: Row => Boolean)(
      f: Seq[Row] => Seq[Row]): Unit = locked(name) {
    val m = logManifest(name).getOrElse(
      throw new IllegalArgumentException(s"table $name does not exist"))
    val touched = indexedRefs(name, m).filter(_._2.rows.exists(matching))
    if (touched.nonEmpty) {
      val schema = StructType.fromDDL(m.schemaDDL)
      val out = f(touched.flatMap(_._2.rows))
      out.find(r => r.length != schema.length ||
          (r.schema != null && !sameColumns(schema, r.schema))).foreach { r =>
        throw new IllegalArgumentException(s"rewriteLog schema drift for $name: table " +
          s"is [${m.schemaDDL}], a rewritten row is " +
          Option(r.schema).fold(s"${r.length} fields")(t => s"[${t.toDDL}]"))
      }
      val rows = asRead(name, out, schema)
      val version = newVersionName()
      if (rows.nonEmpty) spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new Path(tableDir(name), version).toString)
      val gone = touched.map(_._1).toSet
      val kept = m.refs.filterNot { case (_, r) => gone(r) }
      commitManifest(name, version, m.schemaDDL,
        if (rows.isEmpty) kept else kept + (nextRef(m.refs) -> version))
      if (rows.nonEmpty) seed(name, version, m.schemaDDL, rows)
    }
  }

  // ------------------------------------------------- log index
  // A log ref is immutable once a manifest names it, so its rows, read
  // into the driver once, never go stale: the index maps (table, ref
  // dir) to the ref's rows under the schema they were read with, and to
  // the views built from them. Guarded by its own monitor: lookups take
  // it outside the commit lock, and a commit (which holds the instance
  // monitor) takes it after that one.
  private final class IndexedRef(val schemaDDL: String, val rows: IndexedSeq[Row]) {
    val views = scala.collection.mutable.Map.empty[Catalog.LogView[_], Any]
  }
  private val logIndex = scala.collection.mutable.Map.empty[(String, String), IndexedRef]

  /** `view` of each ref of log table `name` as of its current version,
    * on the driver, in ref order: the point lookups of a control log (a
    * version by file, a row by event id) without a Spark job. Each call
    * resolves the current version as [[read]] does (the pointer, then
    * the manifest), drops from the index the refs that version no longer
    * names, and reads the refs the index lacks in ONE job: refs another
    * Catalog or process committed. Refs this Catalog committed from
    * driver rows ([[appendLogRows]], [[rewriteLog]]) are seeded when they
    * commit, so a lookup of a log only this Catalog writes runs no job. A
    * ref's view is built from its rows the first time it is asked for and
    * kept beside them, so a lookup costs the log's refs, not its rows.
    * The index holds every row of the logs looked up, so it is for
    * control-scale logs, not data.
    */
  def logViews[V](name: String, view: Catalog.LogView[V]): Seq[V] = {
    require(exists(name), s"table $name does not exist")
    viewsOf(name, manifestAt(name, currentVersionDir(name)), view)
  }

  /** `view` of each ref of log version `m`, from the log index. */
  private def viewsOf[V](name: String, m: Manifest, view: Catalog.LogView[V]): Seq[V] = {
    val refs = indexedRefs(name, m)
    logIndex.synchronized {
      refs.map { case (_, r) =>
        r.views.getOrElseUpdate(view, view.build(r.rows)).asInstanceOf[V] }
    }
  }

  /** The refs of log version `m` with their rows, in ref order, from
    * the log index (see [[logViews]]).
    */
  private def indexedRefs(name: String, m: Manifest): Seq[(String, IndexedRef)] =
    logIndex.synchronized {
      require(m.layout == Catalog.Flat && m.fragments.isEmpty,
        s"$name is not a log: its version is ${m.layout} with ${m.fragments.size} fragments")
      val refs = m.refs.toSeq.sortBy(_._1).map(_._2)
      val live = refs.toSet
      logIndex.filterInPlace { case ((t, r), e) =>
        t != name || (live(r) && e.schemaDDL == m.schemaDDL) }
      val missing = refs.filterNot(r => logIndex.contains(name -> r))
      if (missing.nonEmpty) {
        val schema = StructType.fromDDL(m.schemaDDL)
        // one partition, so the collect is one job
        val byRef = readRefs(name, missing, m.schemaDDL)
          .select(col("*"), input_file_name()).coalesce(1).collect()
          .groupBy(r => Catalog.refOf(r.getString(schema.length)))
        missing.foreach(r => seed(name, r, m.schemaDDL,
          byRef.getOrElse(r, Array.empty[Row]).toIndexedSeq.map(x =>
            new GenericRowWithSchema(x.toSeq.init.toArray, schema): Row)))
      }
      refs.map(r => r -> logIndex(name -> r))
    }

  private def seed(name: String, ref: String, schemaDDL: String,
      rows: IndexedSeq[Row]): Unit =
    logIndex.synchronized { logIndex(name -> ref) = new IndexedRef(schemaDDL, rows) }

  /** `rows` as a read of their parquet file returns them: through Spark's
    * converters to the internal form and back, so a timestamp keeps
    * microseconds and every value has the type a read gives it. A value
    * of the wrong type for its column fails, naming table `name`.
    */
  private def asRead(name: String, rows: Seq[Row], schema: StructType): IndexedSeq[Row] = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    rows.iterator.map { r =>
      val internal = try toInternal(r) catch {
        case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
          s"a row written to $name does not fit its columns [${schema.toDDL}]: $r", e)
      }
      toRow(internal).asInstanceOf[Row]
    }.toIndexedSeq
  }

  /** appendLog with the batch range-clustered on `clusterCols`: each
    * ref's files then carry tight min/max row-group statistics on
    * those columns, so filtered reads skip row groups across the
    * entire history — the append-log analogue of overwriteSorted's
    * data skipping (directory partitioning inside refs is impossible,
    * see appendLog), and what keeps a serving read bounded as the log
    * grows.
    */
  def appendLogClustered(name: String, df: DataFrame,
      clusterCols: Seq[String]): Unit = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    val cols = clusterCols.map(col)
    appendLog(name,
      df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*))
  }

  /** Fold an append-log table's refs into one directory (one commit,
    * O(table) — run when fragmentation warrants it, like compact());
    * `clusterCols` re-clusters the fold for row-group skipping.
    */
  def compactLog(name: String, clusterCols: Seq[String] = Nil): Unit =
    compactLogWith(name, identity, clusterCols)

  /** compactLog folding the accumulated frame THROUGH a caller
    * transform before the rewrite — the LSM merge-compaction
    * primitive: a log of partial-aggregate deltas collapses to its
    * merged state (IncrementalView), tombstoned rows get physically
    * reclaimed, etc. The transform's output replaces the log's
    * contents in one atomic commit and must keep a schema that future
    * appends remain compatible with (appendLog re-checks on the next
    * append either way).
    */
  def compactLogWith(name: String, transform: DataFrame => DataFrame,
      clusterCols: Seq[String] = Nil): Unit = locked(name) {
    val df0 = transform(read(name))
    val df = if (clusterCols.isEmpty) df0
      else df0.repartitionByRange(clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*)
    val version = newVersionName()
    val dataDir = new Path(tableDir(name), version)
    df.write.mode("overwrite").parquet(dataDir.toString)
    commitManifest(name, version, df.schema.toDDL, Map(0 -> version))
  }

  /** Overwrite with hive-style partition directories (`col=value/…`).
    * Readers resolve the same `_current` pointer; partition-pruned
    * scans then touch only matching subdirectories — the layout that
    * keeps a 100 TB table's time/tenant slices independently readable.
    */
  def overwritePartitioned(name: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = locked(name) {
    commit(name, df, primaryKey(name), partitionCols)
  }

  /** Overwrite globally clustered on `sortCols`: range-repartition then
    * sort within partitions, so each parquet file covers a disjoint
    * key range and every row group's min/max statistics are tight.
    * Selective filters on the sort key then skip whole row groups at
    * scan time (data skipping) — the cheap cousin of directory
    * partitioning for high-cardinality keys, where `col=value` dirs
    * would explode. Asserted by a scan-metrics spec: the same filter
    * reads orders of magnitude fewer rows from a clustered table.
    */
  def overwriteSorted(name: String, df: DataFrame,
      sortCols: Seq[String]): Unit = locked(name) {
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    val cols = sortCols.map(col)
    commit(name,
      df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*),
      primaryKey(name))
  }

  /** Overwrite with a Z-ORDER (Morton) clustering over numeric `zCols`:
    * a lexicographic sort skips row groups only for filters on the
    * LEADING column — every file spans the full range of the others.
    * Here each column is rank-normalized into 2^bits cells by its
    * approximate quantile boundaries (rank, not width: skew cannot
    * collapse the grid into one cell), the cell indices are
    * bit-interleaved into one Morton key, and the table is
    * range-partitioned + sorted by that key — so every file covers a
    * small hyper-rectangle and parquet min/max stats skip for a
    * selective filter on ANY z-column. The quantile pass is one
    * bounded driver-side sketch per column (2^bits−1 doubles);
    * everything else is a codegen'd projection. `numPartitions` sizes
    * the write fan-out (defaults to the session shuffle parallelism);
    * at warehouse scale pick it so files land near the row-group
    * target, since skipping granularity IS the file/row-group grid.
    */
  def overwriteZOrdered(name: String, df: DataFrame, zCols: Seq[String],
      bits: Int = 4, numPartitions: Option[Int] = None): Unit = locked(name) {
    require(zCols.size >= 2, "z-order needs at least two columns")
    require(bits >= 1 && bits * zCols.size <= 62, "morton key must fit a long")
    val cells = 1 << bits
    val probs = (1 until cells).map(_.toDouble / cells).toArray
    // ONE pass for all columns' sketches — the per-column overload
    // would rescan the whole input zCols.size times
    val splits = df.stat.approxQuantile(zCols.toArray, probs, 0.001).toSeq
    // cell index = #boundaries ≤ value (nulls land in cell 0)
    val cellCols = zCols.zip(splits).map { case (c, bs) =>
      bs.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(c).cast("double") >= lit(b), 1).otherwise(0)
      }
    }
    val z = (0 until bits).flatMap { i =>
      cellCols.zipWithIndex.map { case (cc, j) =>
        shiftright(cc, i).bitwiseAND(lit(1)).cast("long") *
          lit(1L << (i * zCols.size + j))
      }
    }.reduce(_ + _)
    val parts = numPartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commit(name, clustered, primaryKey(name))
  }

  /** Overwrite with write-time parquet BLOOM FILTERS on point-lookup
    * columns: min/max row-group stats only skip when the table is
    * clustered by the filtered column — a bloom filter skips row
    * groups for equality probes on a column in ANY physical order, the
    * layout that keeps `lookupByPk`-style point reads cheap on a table
    * sorted/z-ordered by something else entirely. `expectedNdv` sizes
    * each filter (parquet allocates ~1.2 bytes/value at its default 1%
    * FPP); `rowGroupBytes` optionally shrinks the parquet block size,
    * since skipping granularity IS the row-group grid (at warehouse
    * scale leave the 128 MB default — a 100 TB table already has ~10⁶
    * row groups to skip).
    */
  def overwriteWithBloom(name: String, df: DataFrame,
      bloomCols: Seq[String], expectedNdv: Long,
      rowGroupBytes: Option[Long] = None): Unit = locked(name) {
    require(bloomCols.nonEmpty, "bloomCols must be non-empty")
    val opts = bloomCols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> expectedNdv.toString)).toMap ++
      rowGroupBytes.map(b => "parquet.block.size" -> b.toString)
    commit(name, df, primaryKey(name), Nil, opts)
  }

  // ------------------------------------------------- bucket layout
  // A table may opt into a PK-hash bucket layout: rows live in
  // `bucketCount` hash buckets, each materialized as its own directory,
  // and the version's manifest maps bucket → the `__b=` directory of the
  // version that last rewrote it. Key mutations never rewrite a bucket:
  // each lands as one fragment whose rows carry their bucket id, so a
  // bucket read or a point read resolves one bucket's base against the
  // fragments' rows of that bucket, and the fold rewrites ONLY the
  // buckets the fragments touched — at 100 TB, an approved CSV costs its
  // rows and a fold a handful of partitions, never the whole table —
  // while the `_current` pointer flip stays the single atomic commit
  // point (a manifest references immutable directories; old versions
  // are pruned only once nothing in the current manifest points at
  // them). A keyed table with no bucket layout is one bucket: its base
  // is the whole table.

  /** Bucket id of a row: pmod(hash(pk…), n) — deterministic Murmur3,
    * computable engine-side with no lookup.
    */
  def bucketOf(pkCols: Seq[String], n: Int): Column =
    pmod(hash(pkCols.map(col): _*), lit(n))

  /** Opt a table into the bucket layout (the layout itself materializes
    * on its next mutation). Requires a registered primary key.
    */
  def registerBucketLayout(name: String, numBuckets: Int): Unit = locked(name) {
    require(numBuckets > 0, "numBuckets must be positive")
    require(primaryKey(name).nonEmpty,
      s"bucket layout for $name requires a registered primary key")
    writeMeta(name, primaryKey(name), Some(numBuckets))
  }

  def bucketCount(name: String): Option[Int] = bucketCountOf(readMetaNode(name))

  private def bucketCountOf(meta: Option[JsonNode]): Option[Int] =
    meta.flatMap(n => Option(n.get("bucketCount"))).map(_.asInt())

  def hasBucketManifest(name: String): Boolean =
    exists(name) && bucketManifest(name).isDefined

  /** The current manifest when a bucket commit wrote it. A registered
    * layout is not a bucket table until its first bucket commit
    * migrates the table, so every bucket-scoped path asks this, never
    * whether a manifest exists.
    */
  private def bucketManifest(name: String): Option[Manifest] =
    Some(currentManifest(name)).filter(_.layout == Catalog.Buckets)

  /** The current manifest's refs: bucket → data directory for a bucket
    * table, ref number → data directory for any other (one ref for an
    * overwritten table, one per batch for a log, none for an empty
    * table). Introspection for tools, tests and fold policies.
    */
  def bucketRefs(name: String): Map[Int, String] = currentManifest(name).refs

  /** The current version's fragment dirs, oldest first (see
    * [[insertByKey]]); empty once a fold merged them.
    */
  def fragments(name: String): Seq[String] = currentManifest(name).fragments

  /** Read only the given buckets of a bucket table; any other table is
    * one undivided bucket, so the whole table comes back.
    */
  def readBuckets(name: String, buckets: Seq[Int]): DataFrame =
    bucketManifest(name) match {
      case Some(m) =>
        readResolved(name, m, buckets.distinct.flatMap(m.refs.get),
          fragRows = Some(col(Catalog.BucketCol).isin(buckets: _*)))
      case None => read(name)
    }

  /** Point read by primary key: on a bucket table the key's bucket
    * is computed DRIVER-SIDE (the same Murmur3 hash `bucketOf` plans,
    * evaluated on the literal key — no job, no lookup) and only that
    * one bucket directory is scanned, with the key's fragment rows;
    * 1/numBuckets of the table instead of all of it. Falls back to a
    * filtered full read when no bucket layout exists. `key` values
    * align positionally with primaryKey().
    */
  def lookupByPk(name: String, key: Seq[Any]): DataFrame = {
    val pks = primaryKey(name)
    require(pks.nonEmpty, s"table $name has no registered primary key")
    require(key.length == pks.length,
      s"expected ${pks.length} key values for (${pks.mkString(", ")})")
    val pred = pks.zip(key).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
    (bucketCount(name), bucketManifest(name)) match {
      case (Some(n), Some(m)) =>
        val bucket = keyBucket(StructType.fromDDL(m.schemaDDL), pks, key, n)
        readResolved(name, m, m.refs.get(bucket).toSeq,
          fragRows = Some(col(Catalog.BucketCol) === bucket), keys = Some(pred))
      case _ =>
        require(exists(name), s"table $name does not exist")
        val dir = currentVersionDir(name)
        readAt(name, dir, manifestAt(name, dir), Some(pred))
    }
  }

  /** [[bucketOf]] evaluated on one literal key: the same Murmur3 hash
    * over the key cast to the table's column types.
    */
  private def keyBucket(schema: StructType, pks: Seq[String], key: Seq[Any],
      n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash}
    val h = new Murmur3Hash(pks.zip(key).map { case (c, v) =>
      Cast(Literal(v), schema(c).dataType, Some("UTC"))
    }).eval(null).asInstanceOf[Int]
    ((h % n) + n) % n
  }

  /** Migrate/overwrite the WHOLE table into bucket layout. */
  def overwriteAllBuckets(name: String, df: DataFrame): Unit = locked(name) {
    commitBuckets(name, df, prev = Map.empty, touched = Nil)
  }

  /** Compact fragmented buckets: the table's fragments are folded
    * first, then every bucket whose directory holds
    * more than `maxFilesPerBucket` part-files is rewritten — through
    * the normal bucket-scoped commit path — after a repartition that
    * lands each bucket in one task, i.e. ONE file per bucket.
    * Untouched buckets keep their existing immutable directories, so
    * compaction cost is proportional to the fragmentation, not the
    * table (the small-file problem is maintenance, not a rewrite of
    * 100 TB). Old version directories become unreferenced as their
    * last buckets compact away and are pruned by the commit. Returns
    * the folded and compacted bucket ids.
    */
  def compact(name: String, maxFilesPerBucket: Int = 1): Seq[Int] = locked(name) {
    if (bucketManifest(name).isEmpty) throw new IllegalStateException(
      s"$name has no bucket manifest; only bucketed tables compact")
    val folded = fold(name)
    val m = currentManifest(name)
    val frag = m.refs.filter { case (_, ref) =>
      fs.listStatus(new Path(tableDir(name), ref))
        .count(s => s.isFile && s.getPath.getName.startsWith("part-")) >
        maxFilesPerBucket
    }.keys.toSeq.sorted
    if (frag.nonEmpty) {
      val n = bucketCount(name).get
      val df = readBuckets(name, frag)
        .repartition(frag.length, bucketOf(primaryKey(name), n))
      commitBuckets(name, df, m.refs, frag)
    }
    (folded ++ frag).distinct.sorted
  }

  /** Read-modify-write of a data table through the narrowest commit its
    * layout allows, reading inside the table's commit lock so that a
    * commit another writer lands meanwhile is never overwritten: `f`
    * maps the rows read to the rows to write. With a registered bucket
    * layout and primary key, only the buckets `touchedBuckets(bucket
    * count)` names are read and rewritten, and the first such rewrite
    * migrates the whole table into the layout; otherwise the whole
    * table is rewritten. A table holding fragments is folded first.
    * Row mutations of a keyed table go through [[insertByKey]],
    * [[upsertByKey]] and [[deleteByKey]] instead, which read nothing.
    */
  def rewrite(name: String, touchedBuckets: Int => Seq[Int])(
      f: DataFrame => DataFrame): Unit = locked(name) {
    if (exists(name) && currentManifest(name).fragments.nonEmpty) fold(name)
    (bucketCount(name), bucketManifest(name)) match {
      case (Some(n), Some(m)) if primaryKey(name).nonEmpty =>
        val touched = touchedBuckets(n)
        commitBuckets(name, f(readBuckets(name, touched)), m.refs, touched)
      case (Some(_), None) if primaryKey(name).nonEmpty =>
        commitBuckets(name, f(read(name)), prev = Map.empty, touched = Nil)
      case _ => commit(name, f(read(name)), primaryKey(name))
    }
  }

  // ------------------------------------------------- key fragments

  /** INSERT … ON CONFLICT DO NOTHING into a keyed table, in O(batch):
    * `rows` (the table's columns, in any order, plus `ordCol`, the
    * batch order) land as one fragment holding the first row of each
    * key by `ordCol`. A read keeps a key's live row over the fragment's,
    * so nothing is read here.
    */
  def insertByKey(name: String, rows: DataFrame, ordCol: String): Unit =
    commitFragment(name, Catalog.Insert, rows, Some(ordCol))

  /** Upsert by primary key, in O(batch): one fragment holding the last
    * row of each key of `rows` by `ordCol`, which replaces the key's
    * row on read.
    */
  def upsertByKey(name: String, rows: DataFrame, ordCol: String): Unit =
    commitFragment(name, Catalog.Upsert, rows, Some(ordCol))

  /** DELETE by primary key, in O(keys): one fragment of tombstones for
    * the distinct keys of `keys`, which holds the key columns. A key
    * with a null column matches no row and is left out.
    */
  def deleteByKey(name: String, keys: DataFrame): Unit =
    commitFragment(name, Catalog.Delete, keys, None)

  /** The one fragment commit, under the table's lock. The batch is cast
    * to the table's column types and deduplicated by key in ONE
    * partition (keep-first for an insert, keep-last for an upsert), so
    * the dedup needs no shuffle and the fragment is one file; its rows
    * carry the op, the commit order (the fragment's position in the
    * manifest, base being 0) and their bucket. The first key mutation
    * of a registered but unmigrated bucket layout migrates the table
    * into it, as [[rewrite]] does; the commit that leaves more than
    * [[Catalog.MaxFragments]] fragments folds them.
    */
  private def commitFragment(name: String, op: String, rows: DataFrame,
      ordCol: Option[String]): Unit = locked(name) {
    require(exists(name), s"table $name does not exist")
    val pks = primaryKey(name)
    require(pks.nonEmpty, s"key mutations of $name require a registered primary key")
    val missing = pks.filterNot(rows.columns.contains)
    require(missing.isEmpty,
      s"CSV data must contain all primary key columns; missing: ${missing.mkString(", ")}")
    val n = bucketCount(name)
    if (n.isDefined && bucketManifest(name).isEmpty)
      commitBuckets(name, read(name), prev = Map.empty, touched = Nil)
    val m = currentManifest(name)
    val schema = StructType.fromDDL(m.schemaDDL)
    val cols = schema.map(f =>
      (if (op != Catalog.Delete || pks.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name))
    if (op != Catalog.Delete) {
      val got = rows.columns.toSet -- ordCol
      require(got == schema.fieldNames.toSet,
        s"batch columns [${got.toSeq.sorted.mkString(", ")}] do not match table " +
          s"$name [${schema.fieldNames.mkString(", ")}]")
    }
    val ord = col("__ord")
    val batch = rows.coalesce(1)
      .select(cols :+ ordCol.map(col).getOrElse(lit(0L)).as("__ord"): _*)
      .filter(if (op == Catalog.Delete) !Catalog.anyNull(pks) else lit(true))
      .withColumn("__rn", row_number().over(Window.partitionBy(pks.map(col): _*)
        .orderBy(if (op == Catalog.Upsert) ord.desc else ord.asc)))
      .filter(col("__rn") === 1).drop("__rn", "__ord")
    if (op != Catalog.Delete) validateConstraints(name, batch)
    val bucket = if (m.layout == Catalog.Buckets) bucketOf(pks, n.get) else lit(0)
    val version = newVersionName()
    batch.select(col("*"), lit(op).as(Catalog.OpCol),
        lit(m.fragments.size + 1).as(Catalog.SeqCol), bucket.as(Catalog.BucketCol))
      .write.mode("overwrite").parquet(new Path(tableDir(name), version).toString)
    val fragments = m.fragments :+ version
    commitManifest(name, version, m.schemaDDL, m.refs, m.layout, fragments)
    if (fragments.size > Catalog.MaxFragments) fold(name)
  }

  /** Merge the current fragments into new bases, in one commit: a bucket
    * table rewrites only the buckets its fragments touch (found by one
    * job over the fragments), any other table is rewritten whole.
    * Returns the rewritten bucket ids (0 for a table with no bucket
    * layout); a table without fragments is left as it is.
    */
  def fold(name: String): Seq[Int] = locked(name) {
    val m = currentManifest(name)
    if (m.fragments.isEmpty) Nil
    else if (m.layout == Catalog.Buckets) {
      val touched = fragmentScan(name, m).select(col(Catalog.BucketCol))
        .as[Int](Encoders.scalaInt).mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
        .collect().distinct.sorted.toSeq
      commitBuckets(name, readBuckets(name, touched), m.refs, touched)
      touched
    } else {
      commit(name, read(name), primaryKey(name))
      Seq(0)
    }
  }

  // --------------------------------------------- co-located layout
  // Large analytical tables that are repeatedly joined/aggregated on
  // one key want Spark's bucketed layout: bucketBy+sortBy persists a
  // hash-partitioned, sorted file set and registers the spec with the
  // session catalog — the ONLY metadata path the planner consults to
  // elide the shuffle on both sides of a key-equality join. (The
  // versioned bucket-MANIFEST layout above serves mutation workloads;
  // plain parquet reads cannot declare an outputPartitioning, so the
  // two layouts are complementary, not redundant.)

  private def coLocatedIdent(name: String) = s"graft_$name"

  /** Persist `df` as a co-located table: repeated equality joins and
    * aggregations on `bucketCols` between tables sharing (cols, n)
    * plan with no Exchange on either side. Files live under this
    * catalog's root; the spec is introspectable via coLocatedSpec.
    */
  private def coLocatedSpecFile(name: String) =
    new Path(tableDir(name), "_colocated_spec.json")

  def saveCoLocated(name: String, df: DataFrame, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = locked(name) {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val sort = if (sortCols.nonEmpty) sortCols else bucketCols
    df.write
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sort.head, sort.tail: _*)
      .option("path", new Path(tableDir(name), "colocated").toString)
      .mode("overwrite")
      .saveAsTable(coLocatedIdent(name))
    // saveAsTable registers the ident only in the catalog of the
    // session that ran the build. Persist the bucket spec beside the
    // files so readCoLocated can re-attach the metadata from ANY
    // SparkSession (another session in this JVM, or a later process
    // pointed at the same root) instead of failing table-not-found.
    StagedSwap.writeAtomic(spark, coLocatedSpecFile(name).toString,
      mapper.writeValueAsString(Map(
        "schemaDDL" -> df.schema.toDDL,
        "bucketCols" -> bucketCols,
        "sortCols" -> sort,
        "numBuckets" -> numBuckets)))
  }

  /** Read a co-located table WITH its bucket metadata attached (a plain
    * parquet read of the same files would forget the partitioning and
    * reintroduce the shuffle). If this session's catalog lacks the
    * ident — the warehouse was built by a different SparkSession — the
    * table is re-registered from the persisted spec first, as an
    * external table over the existing files (no data is rewritten).
    */
  def readCoLocated(name: String): DataFrame = synchronized {
    val ident = coLocatedIdent(name)
    if (!spark.catalog.tableExists(ident)) {
      val node = mapper.readTree(
        StagedSwap.readSmallFile(spark, coLocatedSpecFile(name).toString)
          .getOrElse(throw new IllegalStateException(
            s"no co-located table '$name' under $root")))
      def cols(field: String) = node.get(field).elements.asScala
        .map(n => s"`${n.asText()}`").mkString(", ")
      spark.sql(
        s"""CREATE TABLE $ident (${node.get("schemaDDL").asText()})
           |USING PARQUET
           |CLUSTERED BY (${cols("bucketCols")})
           |SORTED BY (${cols("sortCols")})
           |INTO ${node.get("numBuckets").asInt()} BUCKETS
           |LOCATION '${new Path(tableDir(name), "colocated")}'""".stripMargin)
    }
    spark.table(ident)
  }

  def coLocatedSpec(name: String): Option[(Seq[String], Int)] =
    org.apache.spark.sql.graftbridge.PlanBridge
      .bucketSpecOf(spark, coLocatedIdent(name))

  /** Convergence of the two bucket layouts: materialize a manifested
    * (mutation-facing) table as a co-located `bucketBy` table keyed on
    * its primary key. The manifest layout stays the WRITE face — cheap
    * bucket-scoped mutations, versioned commits — and this produces the
    * READ face from it: a session-catalog bucket spec the planner can
    * use to elide the shuffle on PK-equality joins/aggregations. They
    * cannot be one layout: plain parquet reads (the manifest path)
    * cannot declare an outputPartitioning to the planner, and bucketBy
    * tables cannot be rewritten one bucket at a time through a
    * versioned pointer — so the engine keeps both and converts
    * mutation-face → join-face here, typically after a mutation burst
    * settles. Reuses the manifest's bucket count unless overridden.
    */
  def migrateToCoLocated(name: String,
      numBuckets: Option[Int] = None): (Seq[String], Int) = locked(name) {
    val pks = primaryKey(name)
    require(pks.nonEmpty,
      s"co-located migration for $name requires a registered primary key")
    val n = numBuckets.orElse(bucketCount(name)).getOrElse(throw
      new IllegalStateException(
        s"$name has no bucket layout; pass numBuckets explicitly"))
    saveCoLocated(name, read(name), pks, n, pks)
    (pks, n)
  }

  /** All refs of a manifest share its schemaDDL, so they read as ONE
    * multi-path scan — a single FileScan node regardless of bucket
    * count. The earlier per-ref `unionByName` fold built an O(buckets)
    * plan: a 1,024-bucket table became a 1,024-node union tree on every
    * read, with driver-side analysis cost to match.
    */
  private def readRefs(name: String, refs: Seq[String],
      schemaDDL: String): DataFrame =
    if (refs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL(schemaDDL))
    else
      spark.read.schema(StructType.fromDDL(schemaDDL))
        .parquet(refs.sorted.map(r => new Path(tableDir(name), r).toString): _*)

  /** Every row of a version (those `keys` admits): its refs, read under
    * its schema and resolved against its fragments. A version with
    * neither holds no rows, and its own dir is read in their place (an
    * empty file or none), so a table read is always a file scan.
    */
  private def readAt(name: String, dir: Path, m: Manifest,
      keys: Option[Column] = None): DataFrame =
    readResolved(name, m,
      if (m.refs.isEmpty && m.fragments.isEmpty) Seq(dir.getName) else m.refs.values.toSeq,
      keys = keys)

  /** The rows of a version: the base `refs`, resolved against the
    * version's fragment rows that `fragRows` admits. `keys` filters
    * both sides first, which is exact since resolution is per key. A
    * version with no fragments is a plain scan of its base.
    */
  private def readResolved(name: String, m: Manifest, refs: Seq[String],
      fragRows: Option[Column] = None, keys: Option[Column] = None): DataFrame = {
    def keep(df: DataFrame, c: Option[Column]) = c.fold(df)(df.filter)
    val base = keep(readRefs(name, refs, m.schemaDDL), keys)
    if (m.fragments.isEmpty) base
    else resolve(base, keep(keep(fragmentScan(name, m), fragRows), keys),
      StructType.fromDDL(m.schemaDDL), primaryKey(name))
  }

  /** Every row of a version's fragments, under the table's columns plus
    * the op, commit order and bucket columns.
    */
  private def fragmentScan(name: String, m: Manifest): DataFrame =
    spark.read.schema(StructType(StructType.fromDDL(m.schemaDDL).fields ++ Seq(
        StructField(Catalog.OpCol, StringType), StructField(Catalog.SeqCol, IntegerType),
        StructField(Catalog.BucketCol, IntegerType))))
      .parquet(m.fragments.map(f => new Path(tableDir(name), f).toString): _*)

  /** Key resolution (see the class doc), one shuffle by key: per key, the
    * newest upsert or tombstone (base rows are upserts at order 0) cuts
    * the history; an upsert there wins, else the first insert after it.
    * A key with a null column is resolved within its own record.
    */
  private def resolve(base: DataFrame, frags: DataFrame, schema: StructType,
      pks: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "a table holding fragments needs its primary key")
    val cols = schema.fieldNames.toSeq.map(col)
    val (op, seq) = (col(Catalog.OpCol), col(Catalog.SeqCol))
    val w = Window.partitionBy(pks.map(col) :+ when(Catalog.anyNull(pks), seq): _*)
    val cut = max(when(op =!= Catalog.Insert,
      struct(seq.as("seq"), (op === Catalog.Upsert).as("up")))).over(w)
    val cutSeq = coalesce(col("__cut.seq"), lit(-1))
    base.select(cols :+ lit(Catalog.Upsert).as(Catalog.OpCol) :+ lit(0).as(Catalog.SeqCol): _*)
      .unionByName(frags.select(cols :+ op :+ seq: _*))
      .withColumn("__cut", cut)
      .withColumn("__first", min(when(op === Catalog.Insert && seq > cutSeq, seq)).over(w))
      .filter(when(coalesce(col("__cut.up"), lit(false)), op === Catalog.Upsert && seq === cutSeq)
        .otherwise(op === Catalog.Insert && seq === col("__first")))
      .select(cols: _*)
  }

  /** A version's manifest: `refs` maps a ref number (a bucket id in a
    * bucket table) to a data directory under the table dir, `schemaDDL`
    * is the schema every read of the version returns, `layout` says
    * what the refs are (`flat`, `partitioned` or `buckets`), and
    * `fragments` lists the version's fragment dirs in commit order.
    */
  private case class Manifest(refs: Map[Int, String], schemaDDL: String, layout: String,
      fragments: Seq[String]) {
    /** Every data dir the version reads. */
    def dirs: Set[String] = refs.values.map(_.split("/").head).toSet ++ fragments
  }

  private def manifestFile(versionDir: Path) = new Path(versionDir, "_manifest.json")

  private def currentManifest(name: String): Manifest =
    manifestAt(name, currentVersionDir(name))

  private def manifestAt(name: String, versionDir: Path): Manifest = {
    val txt = StagedSwap.readSmallFile(spark, manifestFile(versionDir).toString)
      .getOrElse(throw new IllegalStateException(
        s"table $name: version ${versionDir.getName} has no _manifest.json — " +
          "a directory without one is not a committed version"))
    val node = mapper.readTree(txt)
    def field(f: String) = Option(node.get(f)).getOrElse(throw new IllegalStateException(
      s"table $name: the _manifest.json of version ${versionDir.getName} has no $f"))
    val b = field("buckets")
    Manifest(
      b.fieldNames.asScala.map(k => k.toInt -> b.get(k).asText()).toMap,
      field("schemaDDL").asText(),
      field("layout").asText(),
      field("fragments").elements.asScala.map(_.asText()).toSeq)
  }

  private def commitBuckets(name: String, df: DataFrame,
      prev: Map[Int, String], touched: Seq[Int]): Unit = {
    val pks = primaryKey(name)
    val n = bucketCount(name).getOrElse(
      throw new IllegalStateException(s"$name has no registered bucket layout"))
    val version = newVersionName()
    val dataDir = new Path(tableDir(name), version)
    df.withColumn("__b", bucketOf(pks, n))
      .write.partitionBy("__b").mode("overwrite").parquet(dataDir.toString)
    // which buckets actually materialized (a delete can empty one —
    // its manifest entry must drop, not dangle)
    val written = fs.listStatus(dataDir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("__b="))
      .map(d => d.stripPrefix("__b=").toInt -> s"$version/$d").toMap
    commitManifest(name, version, df.schema.toDDL, (prev -- touched) ++ written,
      Catalog.Buckets)
  }

  /** The one commit tail: once a version's data dir is written, its
    * manifest lands in it, then the pointer flips to it.
    */
  private def commitManifest(name: String, version: String, schemaDDL: String,
      refs: Map[Int, String], layout: String = Catalog.Flat,
      fragments: Seq[String] = Nil): Unit = {
    StagedSwap.writeAtomic(spark,
      manifestFile(new Path(tableDir(name), version)).toString,
      mapper.writeValueAsString(Map(
        "schemaDDL" -> schemaDDL,
        "layout" -> layout,
        "buckets" -> refs.map { case (k, v) => k.toString -> v },
        "fragments" -> fragments)))
    StagedSwap.writeAtomic(spark, pointerFile(name).toString, version)
    if (!fs.exists(metaFile(name))) writeMeta(name, primaryKey(name))
    pruneUnreferenced(name)
  }

  /** Version GC. Deletes version directories that are neither the
    * `_current` pointer target nor reachable from any live manifest ref
    * or fragment (untouched buckets keep referencing the version that
    * last rewrote them — those must survive any vacuum, so liveness is
    * ref-counted from the manifest, never inferred from age).
    *
    * `keepLast` additionally retains that many of the NEWEST
    * unreferenced versions — a grace window for in-flight readers whose
    * lazy DataFrames resolved the previous pointer. `minAgeMs` guards
    * cross-process races: a version directory younger than this (by the
    * epoch millis in its name) may be another writer's in-flight commit
    * whose pointer flip hasn't landed yet, so it is left alone.
    * Returns the deleted version names.
    */
  def vacuum(name: String, keepLast: Int = 0,
      minAgeMs: Long = 0L): Seq[String] = locked(name) {
    require(keepLast >= 0, "keepLast must be >= 0")
    if (!exists(name)) return Nil
    val cur = currentVersionDir(name)
    val referenced = manifestAt(name, cur).dirs + cur.getName
    val now = System.currentTimeMillis()
    val expendable = fs.listStatus(tableDir(name)).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("v") && !referenced(p.getName))
      .sortBy(_.getName)
      .dropRight(keepLast)
      .filter(p => versionMillis(p.getName).forall(now - _ >= minAgeMs))
    // report only versions ACTUALLY deleted: a false return must not
    // claim a prune that didn't happen (the dir would linger and the
    // caller's accounting drift)
    expendable.filter(p => fs.delete(p, true)).map(_.getName)
  }

  private def versionMillis(v: String): Option[Long] = {
    val digits = v.stripPrefix("v").takeWhile(_.isDigit)
    if (digits.isEmpty) None else Some(digits.toLong)
  }

  /** Post-commit GC: every surviving directory is reachable from the
    * live table state (or inside the configured grace window).
    */
  private def pruneUnreferenced(name: String): Unit = {
    vacuum(name, keepLast = graceVersions)
    ()
  }

  private def newVersionName(): String =
    s"v${System.currentTimeMillis()}_${java.util.UUID.randomUUID().toString.take(8)}"

  def schema(name: String): StructType = read(name).schema

  def primaryKey(name: String): Seq[String] =
    readMetaNode(name).flatMap(n => Option(n.get("primaryKey"))) match {
      case None => Nil
      case Some(pks) => (0 until pks.size()).map(i => pks.get(i).asText())
    }

  private def readMetaNode(name: String): Option[JsonNode] =
    StagedSwap.readSmallFile(spark, metaFile(name).toString).map(mapper.readTree)

  def registerPrimaryKey(name: String, pks: Seq[String]): Unit =
    locked(name) { writeMeta(name, pks) }

  def listTables(): Seq[String] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(exists)

  /** Persist table metadata, preserving a previously registered bucket
    * layout unless a new one is given. The file is read once and
    * written only when its content changes.
    */
  private def writeMeta(name: String, pks: Seq[String],
      buckets: Option[Int] = None,
      constraintsOverride: Option[Map[String, String]] = None): Unit = {
    val meta = readMetaNode(name)
    val bc = buckets.orElse(bucketCountOf(meta))
    val cs = constraintsOverride.getOrElse(constraintsOf(meta))
    val m: Map[String, Any] = Map("primaryKey" -> pks) ++
      bc.map(n => "bucketCount" -> n) ++
      (if (cs.nonEmpty) Map("constraints" -> cs) else Map.empty)
    val json = mapper.writeValueAsString(m)
    if (!meta.contains(mapper.readTree(json)))
      StagedSwap.writeAtomic(spark, metaFile(name).toString, json)
  }

  /** Registered CHECK constraints: label → boolean SQL expression. */
  def constraints(name: String): Map[String, String] = constraintsOf(readMetaNode(name))

  private def constraintsOf(meta: Option[JsonNode]): Map[String, String] =
    meta.flatMap(n => Option(n.get("constraints"))) match {
      case None => Map.empty
      case Some(c) =>
        val it = c.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
    }

  /** Register CHECK constraints validated on every subsequent commit
    * (overwrite/append families and appendLog batches): each is a
    * boolean SQL expression over the table's columns; NULL passes, as
    * in ANSI CHECK — spell NOT NULL explicitly (`c IS NOT NULL`).
    * Validation is ONE aggregate pass over the batch counting
    * violations per constraint, and a violating commit fails loudly
    * with per-constraint counts BEFORE any data lands — the write-side
    * quality gate, so a bad upstream batch can't poison a 100 TB
    * table and force a version rollback.
    */
  def registerConstraints(name: String, cs: Map[String, String]): Unit =
    locked(name) {
      writeMeta(name, primaryKey(name), constraintsOverride = Some(cs))
    }

  private def validateConstraints(name: String, df: DataFrame): Unit = {
    val cs = constraints(name).toSeq.sortBy(_._1)
    if (cs.isEmpty) return
    val counts = df.select(cs.map { case (label, sql) =>
      coalesce(sum(when(!coalesce(expr(sql), lit(true)), 1L).otherwise(0L)),
        lit(0L)).as(label)
    }: _*).head()
    val violated = cs.indices.filter(counts.getLong(_) > 0)
      .map(i => s"${cs(i)._1} [${cs(i)._2}]: ${counts.getLong(i)} rows")
    require(violated.isEmpty,
      s"commit to $name rejected by CHECK constraints — ${violated.mkString("; ")}")
  }

  /** Commit `df` as the table's whole contents: one version whose ref 0
    * is its own data dir, under the schema a read of its files returns
    * (every column nullable, partition columns last). A version `empty`
    * by construction records no ref.
    */
  private def commit(name: String, df: DataFrame, pks: Seq[String],
      partitionCols: Seq[String] = Nil,
      writeOptions: Map[String, String] = Map.empty,
      empty: Boolean = false): Unit = {
    validateConstraints(name, df)
    val version = newVersionName()
    // Materialize BEFORE flipping the pointer: df may itself read the
    // current version (read-merge-overwrite), and parquet writes are
    // lazy per partition.
    val writer0 = df.write.options(writeOptions)
    val writer = if (partitionCols.nonEmpty)
      writer0.partitionBy(partitionCols: _*) else writer0
    writer.mode("overwrite").parquet(new Path(tableDir(name), version).toString)
    val schema = asNullable(df.schema).asInstanceOf[StructType]
    val readSchema = StructType(
      schema.filterNot(f => partitionCols.contains(f.name)) ++ partitionCols.map(schema(_)))
    if (pks.nonEmpty) writeMeta(name, pks)
    commitManifest(name, version, readSchema.toDDL,
      if (empty) Map.empty else Map(0 -> version),
      if (partitionCols.isEmpty) Catalog.Flat else Catalog.Partitioned)
  }

  /** The schema a file source reads back: every field, array element
    * and map value nullable (Spark's own `asNullable` is internal).
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}

object Catalog {

  // What a manifest's refs are: flat parquet dirs (an overwrite's one
  // ref, a log's one per batch), one hive-partitioned dir (ref 0 of a
  // partitioned overwrite), or bucket id → `__b=` dir.
  private val Flat = "flat"
  private val Partitioned = "partitioned"
  private val Buckets = "buckets"

  /** Fragments a table holds before the commit that adds one more folds
    * them. Spark lists more than 32 paths of one read with a distributed
    * job (`spark.sql.sources.parallelPartitionDiscovery.threshold`), so
    * 16 keeps a whole read of a 16-bucket table at 32 paths.
    */
  val MaxFragments = 16

  // The ops of fragment rows, and the helper columns a fragment stores
  // beside the table's: the op, the commit order and the bucket id.
  private val Insert = "I"
  private val Upsert = "U"
  private val Delete = "D"
  private val OpCol = "__op"
  private val SeqCol = "__seq"
  private val BucketCol = "__b"

  /** True when a key column is null: such a key matches no other. */
  private def anyNull(pks: Seq[String]): Column = pks.map(col(_).isNull).reduce(_ || _)

  /** A value derived from the rows of one log ref, such as a lookup map
    * of a control log (see [[Catalog.logViews]]). A ref never changes, so
    * its view is built once and kept with its rows; views are told apart
    * by instance, so each is a stable value, built by `build`.
    */
  final class LogView[V](private[catalog] val build: IndexedSeq[Row] => V)

  /** The ref (flat version dir) a data file of a log table lives in. */
  private def refOf(file: String): String = new Path(file).getParent.getName
}
