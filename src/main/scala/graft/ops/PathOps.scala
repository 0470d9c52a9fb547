package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Operation

/** Path routing, table-name derivation, and version allocation — the
  * reference's driver-side scalar logic (SURVEY O3/O4/O5) as column
  * expressions, usable both on single values and across whole
  * DataFrames of file events.
  */
object PathOps {

  /** O3 — data-query.py:62-68: strip the last extension, replace
    * non-[a-zA-Z0-9_] with '_', lowercase.
    */
  def deriveTableName(fileName: Column): Column =
    lower(regexp_replace(
      regexp_replace(fileName, "\\.[^.]*$", ""),
      "[^a-zA-Z0-9_]", "_"))

  /** Driver-side convenience for single values (the reference applies
    * it to one file name at a time).
    */
  def deriveTableName(fileName: String): String =
    fileName.replaceAll("\\.[^.]*$", "")
      .replaceAll("[^a-zA-Z0-9_]", "_")
      .toLowerCase

  /** O4 — data-query.py:212-229: first path segment selects the
    * operation; last segment is the file name. Returns (operation,
    * file_name) columns; callers filter on `isValidOperation`.
    */
  def operationFromPath(path: Column): Column =
    element_at(split(path, "/"), 1)

  def fileNameFromPath(path: Column): Column =
    element_at(split(path, "/"), -1)

  def isValidOperation(op: Column): Column =
    op.isin(Operation.all.toSeq: _*)

  /** O5 — data-query.py:70-85: next version for one file =
    * COALESCE(MAX(file_version), 0) + 1 over its history. The control
    * frame is read as one partition, so the global aggregate needs no
    * shuffle and the lookup is one job.
    */
  def nextVersion(control: DataFrame, fileName: String): Long = {
    val row = control.filter(col("file_name") === fileName).coalesce(1)
      .agg(coalesce(max(col("file_version")), lit(0L))).head()
    row.getLong(0) + 1L
  }

  /** Set-based version assignment: the same MAX+1 semantics applied to a
    * whole batch of arrivals at once — one window instead of one query
    * per file (what O5 becomes when ingest is a stream of many files).
    */
  def assignVersions(control: DataFrame, arrivals: DataFrame,
      ord: Column): DataFrame = {
    val base = control.groupBy(col("file_name"))
      .agg(max(col("file_version")).as("__base"))
    val w = Window.partitionBy(col("file_name")).orderBy(ord.asc)
    arrivals.join(base, Seq("file_name"), "left")
      .withColumn("file_version",
        coalesce(col("__base"), lit(0L)) + row_number().over(w))
      .drop("__base")
  }

  /** O6 — process-pipeline.py:238-252: COALESCE(MAX(QueryId), 0), in
    * one job like [[nextVersion]].
    */
  def maxQueryId(deleteControl: DataFrame): Long =
    deleteControl.coalesce(1)
      .agg(coalesce(max(col("QueryId")), lit(0L))).head().getLong(0)
}
