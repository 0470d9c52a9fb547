package graft.catalog

import org.apache.spark.sql.functions._

/** DEV → UAT → PROD promotion with per-stage validation — the last box
  * in the reference's architecture diagram ("Performs validations/
  * checks (DEV/UAT/PROD)", reference image.png): a snapshot moves to
  * the next environment only after its stage gates pass, and a
  * rejected candidate leaves the target environment serving its last
  * good version untouched.
  *
  * Each environment is its own [[Catalog]] root (physical isolation is
  * the point of staged environments). A promotion:
  *
  *  1. pins the SOURCE's current committed version (time-travel read,
  *     so a concurrent source commit cannot shear the candidate);
  *  2. evaluates the stage `gates` (label → boolean SQL over candidate
  *     rows, ANSI CHECK semantics: NULL passes) in ONE aggregate pass
  *     over the candidate — violation counts, not row dumps, so the
  *     gate cost is a single partial-aggregated scan at any scale;
  *  3. computes the change feed vs the target's current version
  *     (TableDiff over the registered PK — op10's machinery) so the
  *     report says WHAT the promotion changes, not just that it may;
  *  4. commits through the target catalog's normal path: the TARGET's
  *     own registered CHECK constraints still fire (an environment
  *     keeps its own invariants), data materializes fully BEFORE the
  *     pointer flips (StagedSwap.writeAtomic), and the previous version
  *     stays time-travelable under the target's retention.
  *
  * Any gate violation (or target-constraint violation inside commit)
  * throws BEFORE the target pointer moves — rejection is free of
  * cleanup by construction.
  */
object Promotion {

  final case class GateReport(gate: String, sql: String, violations: Long)

  final case class PromotionReport(
      table: String,
      candidateVersion: String,
      promotedVersion: String,
      gates: Seq[GateReport],
      // change feed vs the target's pre-promotion current version;
      // None when the target table didn't exist yet or has no PK
      inserts: Option[Long], updates: Option[Long], deletes: Option[Long])

  final class PromotionRejected(val reports: Seq[GateReport], msg: String)
    extends RuntimeException(msg)

  /** Promote `name`'s current snapshot from one environment catalog to
    * the next. Returns the full gate + change-feed report on success;
    * throws [[PromotionRejected]] (gates) or the commit's own
    * IllegalArgumentException (target CHECK constraints) on rejection —
    * in both cases the target keeps serving its last good version.
    */
  def promote(from: Catalog, to: Catalog, name: String,
      gates: Map[String, String]): PromotionReport = {
    val candidateVersion = from.currentVersion(name)
    val candidate = from.readVersion(name, candidateVersion)

    // one aggregate pass for ALL gates (the validateConstraints shape)
    val ordered = gates.toSeq.sortBy(_._1)
    val reports =
      if (ordered.isEmpty) Nil
      else {
        val counts = candidate.select(ordered.map { case (label, sql) =>
          coalesce(sum(when(!coalesce(expr(sql), lit(true)), 1L)
            .otherwise(0L)), lit(0L)).as(label)
        }: _*).head()
        ordered.zipWithIndex.map { case ((label, sql), i) =>
          GateReport(label, sql, counts.getLong(i))
        }
      }
    val failed = reports.filter(_.violations > 0)
    if (failed.nonEmpty)
      throw new PromotionRejected(reports,
        s"promotion of $name@$candidateVersion rejected — " +
          failed.map(r => s"${r.gate} [${r.sql}]: ${r.violations} rows")
            .mkString("; "))

    // reviewable change feed vs what the target serves today (op10's
    // TableDiff; output ∝ churn, one PK full-outer shuffle)
    val pks = from.primaryKey(name)
    val diffCounts =
      if (!to.exists(name) || pks.isEmpty) None
      else {
        val d = graft.operators.TableDiff
          .diff(to.read(name), candidate, pks)
          .groupBy(col("__op")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        Some(d)
      }

    // commit via the target's normal path: target CHECK constraints
    // validate first, data materializes, THEN the pointer flips
    to.overwrite(name, candidate)
    if (pks.nonEmpty && to.primaryKey(name).isEmpty)
      to.registerPrimaryKey(name, pks)

    PromotionReport(name, candidateVersion, to.currentVersion(name),
      reports,
      diffCounts.map(_.getOrElse("insert", 0L)),
      diffCounts.map(_.getOrElse("update", 0L)),
      diffCounts.map(_.getOrElse("delete", 0L)))
  }
}
