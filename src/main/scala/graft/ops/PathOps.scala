package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.Operation

/** Path routing, table-name derivation, and version allocation — the
  * reference's driver-side scalar logic (SURVEY O3/O4/O5): routing and
  * naming as column expressions, usable both on single values and
  * across whole DataFrames of file events; versions on the driver, from
  * a control lookup's maxima.
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

  /** O5 — data-query.py:70-85: the version of each arrival, in arrival
    * order: COALESCE(MAX(file_version), 0) over its file's history
    * (`maxVersion` of its file name) plus its rank among the arrivals of
    * that file — one MAX per file for a whole batch, keyed by file name
    * alone, as the reference's MAX query (data-query.py:74-79) is.
    */
  def assignVersions[A](arrivals: Seq[A], maxVersion: String => Option[Long])(
      fileName: A => String)(implicit arrivalOrder: Ordering[A]): Seq[(A, Long)] = {
    val last = scala.collection.mutable.Map.empty[String, Long]
    arrivals.sorted.map { a =>
      val file = fileName(a)
      val version = last.getOrElse(file, maxVersion(file).getOrElse(0L)) + 1
      last(file) = version
      a -> version
    }
  }

  /** Spark's order of strings, as a window or sort over a string column
    * orders them: unsigned UTF-8 bytes, nulls first.
    */
  val sparkStringOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
      else java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  }
}
