package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.classic

/** Bridge to `private[sql]` plan/config internals of Spark 4's classic
  * API: optimizer size estimates and the session's broadcast threshold,
  * used to size-gate broadcast hints instead of hard-coding them.
  * Lives under org.apache.spark.sql only to satisfy the access
  * qualifier; contains no Spark-internal logic.
  */
object PlanBridge {

  /** The optimizer's size estimate (bytes) for a frame's plan — the
    * same statistic JoinSelection consults for broadcast decisions.
    */
  def optimizedSizeInBytes(df: Dataset[_]): BigInt =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan
      .stats.sizeInBytes

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes (-1 = disabled). */
  def autoBroadcastThresholdBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold

  /** Bucket spec (columns, numBuckets) the session catalog holds for a
    * table — the metadata the planner consults for shuffle-free
    * co-located joins. None when the table was never saved (or was
    * dropped), matching the Option contract rather than leaking
    * NoSuchTableException to callers.
    */
  def bucketSpecOf(spark: SparkSession, table: String): Option[(Seq[String], Int)] =
    try
      spark.asInstanceOf[classic.SparkSession].sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec.map(bs => (bs.bucketColumnNames, bs.numBuckets))
    catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException |
           _: org.apache.spark.sql.catalyst.analysis.NoSuchDatabaseException => None
    }

  /** `t` as a file-source read returns it: every field nullable, nested
    * ones included (the `private[spark]` StructType.asNullable).
    */
  def asNullable(t: org.apache.spark.sql.types.StructType
      ): org.apache.spark.sql.types.StructType = t.asNullable
}
