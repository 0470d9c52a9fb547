package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-based reformulations of the reference's row-at-a-time Postgres
  * mutations (SURVEY §2.a O12–O16). Each is a pure DataFrame function —
  * storage commits happen in the pipeline layer through the Catalog.
  *
  * Scale notes: every op is a single shuffle on the PK columns (or none,
  * when the incoming batch is small enough for AQE to broadcast it).
  * Nothing here collects to the driver; the reference's per-row DELETE
  * loop (process-pipeline.py:220-223) and per-row staged-dedup probe
  * (:286-292) become one anti-join each.
  */
object MutationOps {

  /** O12 — INSERT … ON CONFLICT DO NOTHING (process-pipeline.py:152-174).
    * Within the batch, Postgres keeps the FIRST conflicting row (later
    * ones conflict with the freshly inserted one), so in-batch dedup is
    * keep-first in `ord` order. Tables without a PK append directly:
    * without a unique constraint ON CONFLICT never fires.
    */
  def insertIgnoreDups(existing: DataFrame, incoming: DataFrame,
      pkCols: Seq[String], ord: Column): DataFrame = {
    if (pkCols.isEmpty)
      return existing.unionByName(incoming.select(existing.columns.map(col): _*))
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(ord.asc)
    val firstPerPk = incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val novel = firstPerPk.join(
      existing.select(pkCols.map(col): _*), pkCols, "left_anti")
    existing.unionByName(novel.select(existing.columns.map(col): _*))
  }

  /** O13 — upsert by PK (process-pipeline.py:177-207). The reference
    * executes the ON CONFLICT DO UPDATE statement once per row
    * (executemany), so duplicate PKs within a batch resolve keep-LAST in
    * `ord` order. Requires the batch to carry every PK column
    * (validated at :179-181 — we throw the same way).
    */
  def upsertByPk(existing: DataFrame, incoming: DataFrame,
      pkCols: Seq[String], ord: Column): DataFrame = {
    require(pkCols.nonEmpty, "upsert requires a primary key")
    val missing = pkCols.filterNot(incoming.columns.contains)
    require(missing.isEmpty,
      s"CSV data must contain all primary key columns; missing: ${missing.mkString(", ")}")
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(ord.desc)
    val lastPerPk = incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    existing.join(lastPerPk.select(pkCols.map(col): _*), pkCols, "left_anti")
      .unionByName(lastPerPk.select(existing.columns.map(col): _*))
  }

  /** O14 — DELETE by PK (process-pipeline.py:209-234; defined there but
    * unreachable — the dispatcher routes delete to staging). One
    * anti-join replaces the reference's per-row DELETE loop.
    */
  def deleteByPk(existing: DataFrame, keys: DataFrame,
      pkCols: Seq[String]): DataFrame = {
    require(pkCols.nonEmpty, "delete requires a primary key")
    existing.join(keys.select(pkCols.map(col): _*).distinct(), pkCols, "left_anti")
  }

  /** Multi-action CDC apply — the MERGE INTO shape (WHEN MATCHED
    * UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT) the
    * reference's three single-action mutations compose into when a
    * change feed carries mixed operations. Semantics are the standard
    * CDC-apply contract: within the batch the LAST change per PK (by
    * `ord`, ties broken by `opCol` descending so equal-ord replays
    * resolve identically on every run — feeds SHOULD carry a unique
    * ord per PK, but a tie must never make replay nondeterministic)
    * wins; a surviving insert/update replaces the target row
    * (update-on-missing inserts — idempotent replay safety); a
    * surviving delete removes it; a delete on a missing key is a
    * no-op.
    *
    * Scale: ONE window shuffle on the PK to resolve keep-last + ONE
    * anti-join of the (100 TB) target against the (batch-sized) change
    * keys — AQE broadcasts the small side, so the target is never
    * re-shuffled. Composing the single-action ops instead would get a
    * key hit by both an update and a delete wrong: routing must happen
    * AFTER keep-last resolution, not per action.
    */
  def applyCdc(existing: DataFrame, changes: DataFrame, pkCols: Seq[String],
      opCol: String, ord: Column): DataFrame = {
    require(pkCols.nonEmpty, "CDC apply requires a primary key")
    val missing = pkCols.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"change feed must contain all primary key columns; missing: ${missing.mkString(", ")}")
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(ord.desc, col(opCol).desc)
    val lastPerPk = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val survivors = lastPerPk.filter(col(opCol) =!= "delete")
    existing.join(lastPerPk.select(pkCols.map(col): _*), pkCols, "left_anti")
      .unionByName(survivors.select(existing.columns.map(col): _*))
  }

  /** O15 — render the audit-parity DELETE string for one row
    * (process-pipeline.py:279-283: double-quoted identifiers,
    * single-quoted values, AND-joined). We never execute this string —
    * execution uses the structured pk map — but it must match the
    * reference's rendering byte for byte.
    */
  def renderDeleteQuery(table: String, pkCols: Seq[String]): Column = {
    val preds = pkCols.map { c =>
      concat(lit("\"" + c + "\" = '"), col(c).cast("string"), lit("'"))
    }
    concat(lit(s"DELETE FROM $table WHERE "),
      concat_ws(" AND ", preds: _*))
  }

  /** The structured form of a staged delete: key column → its value as
    * a string.
    */
  def pkValues(pkCols: Seq[String]): Column =
    map(pkCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*)

  /** O15 — process-pipeline.py:238-305: the rows a delete file stages,
    * on the driver. `keys` are the file's (DeleteQuery, pk map) pairs in
    * file order; identical queries within the file collapse to the first
    * (the reference probes before each insert), queries `pending` already
    * holds are dropped (its per-row COUNT(*) probe at :286-295), and the
    * rest take sequential QueryIds above `baseQueryId`
    * (COALESCE(MAX(QueryId), 0) + i, :238-252), gap-free like the
    * reference's. Returns (QueryId, DeleteQuery, pk map).
    */
  def stageDeletes(keys: Seq[(String, Map[String, String])], pending: String => Boolean,
      baseQueryId: Long): Seq[(Long, String, Map[String, String])] =
    keys.distinctBy(_._1).filterNot(k => pending(k._1)).zipWithIndex.map {
      case ((query, pk), i) => (baseQueryId + i + 1, query, pk)
    }
}
