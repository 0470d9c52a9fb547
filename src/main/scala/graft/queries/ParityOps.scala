package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{MutationOps, PathOps}

/** The reference's mutation operators (SURVEY §2.a O5/O6/O12–O15)
  * exposed through the correctness gate: each query applies the actual
  * library function (graft.ops.MutationOps / PathOps) to the driver
  * test tables with a synthesized batch, so the DuckDB oracle checks
  * the operator's relational semantics end to end.
  */
object ParityOps {

  /** O12 insert-ignore-duplicates: batch = customers re-keyed to
    * c_custkey*2 (evens collide with existing keys, the upper half is
    * novel). Result = existing ∪ non-colliding batch rows.
    */
  val op01InsertIgnore = Q(
    "op01_insert_ignore",
    (s, dir) => {
      import s.implicits._
      val existing = Tables.load(s, dir, "customer")
      val incoming = existing.select(
        ($"c_custkey" * 2).as("c_custkey"), upper($"c_name").as("c_name"),
        $"c_nationkey", $"c_acctbal", $"c_mktsegment")
      MutationOps.insertIgnoreDups(existing, incoming, Seq("c_custkey"), $"c_custkey")
        .orderBy($"c_custkey")
    },
    Some("""
      SELECT * FROM customer
      UNION ALL
      SELECT c_custkey * 2 AS c_custkey, upper(c_name) AS c_name,
             c_nationkey, c_acctbal, c_mktsegment
      FROM customer
      WHERE c_custkey * 2 NOT IN (SELECT c_custkey FROM customer)
      ORDER BY c_custkey
    """.trim))

  /** O13 upsert-by-PK with in-batch keep-last: two overlapping derived
    * batches (v1 for key%3=0, v2 for key%6=0, later ordinal) — %6 keys
    * must land on v2, %3-only on v1, the rest untouched.
    */
  val op02Upsert = Q(
    "op02_upsert",
    (s, dir) => {
      import s.implicits._
      val existing = Tables.load(s, dir, "customer")
      val b1 = existing.filter($"c_custkey" % 3 === 0)
        .select($"c_custkey", concat(lit("v1_"), $"c_name").as("c_name"),
          $"c_nationkey", $"c_acctbal", $"c_mktsegment", lit(1L).as("__ord"))
      val b2 = existing.filter($"c_custkey" % 6 === 0)
        .select($"c_custkey", concat(lit("v2_"), $"c_name").as("c_name"),
          $"c_nationkey", $"c_acctbal", $"c_mktsegment", lit(2L).as("__ord"))
      MutationOps.upsertByPk(existing, b1.unionByName(b2), Seq("c_custkey"), $"__ord")
        .orderBy($"c_custkey")
    },
    Some("""
      WITH b AS (
        SELECT c_custkey, 'v1_' || c_name AS c_name, c_nationkey, c_acctbal,
               c_mktsegment, 1 AS ord FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, 'v2_' || c_name, c_nationkey, c_acctbal,
               c_mktsegment, 2 FROM customer WHERE c_custkey % 6 = 0),
      last AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ord DESC) AS rn FROM b)
        WHERE rn = 1)
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM b)
      UNION ALL
      SELECT * FROM last
      ORDER BY c_custkey
    """.trim))

  /** O14 delete-by-PK: remove finished orders of every 10th customer. */
  val op03Delete = Q(
    "op03_delete",
    (s, dir) => {
      import s.implicits._
      val orders = Tables.load(s, dir, "orders")
      val keys = orders.filter($"o_orderstatus" === "F" && $"o_custkey" % 10 === 0)
      MutationOps.deleteByPk(orders, keys, Seq("o_orderkey"))
        .orderBy($"o_orderkey")
    },
    Some("""
      SELECT * FROM orders
      WHERE o_orderkey NOT IN
        (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F' AND o_custkey % 10 = 0)
      ORDER BY o_orderkey
    """.trim))

  /** O15 staged deletes: render + sequential QueryId allocation against
    * an empty pending set (dedup-vs-pending is covered in unit specs).
    * The keys are rendered by Spark and staged on the driver, by the
    * function the pipeline stages a delete file with.
    */
  val op04StageDeletes = Q(
    "op04_stage_deletes",
    (s, dir) => {
      import s.implicits._
      val keys = Tables.load(s, dir, "customer")
        .filter($"c_custkey" % 100 === 0).orderBy($"c_custkey")
        .select(MutationOps.renderDeleteQuery("customers", Seq("c_custkey")),
          MutationOps.pkValues(Seq("c_custkey")))
        .as[(String, Map[String, String])].collect().toSeq
      MutationOps.stageDeletes(keys, _ => false, baseQueryId = 0L)
        .map { case (id, query, _) => (id, query) }.toDF("QueryId", "DeleteQuery")
        .select($"QueryId", lit("ev_demo").as("EventId"), $"DeleteQuery",
          lit(true).as("DeleteFlag"), lit(false).as("ExecutedFlag"),
          lit("2026-01-01 00:00:00").cast("timestamp").as("DeletedApprovalTimestamp"),
          lit(null).cast("timestamp").as("ExecutedDeleteTimestamp"),
          lit("customers").as("target_table"))
        .orderBy($"QueryId")
    },
    Some("""
      SELECT row_number() OVER (ORDER BY c_custkey) AS QueryId,
             'ev_demo' AS EventId,
             'DELETE FROM customers WHERE "c_custkey" = ''' || c_custkey || '''' AS DeleteQuery,
             true AS DeleteFlag, false AS ExecutedFlag,
             TIMESTAMP '2026-01-01 00:00:00' AS DeletedApprovalTimestamp,
             CAST(NULL AS TIMESTAMP) AS ExecutedDeleteTimestamp,
             'customers' AS target_table
      FROM customer
      WHERE c_custkey % 100 = 0
      ORDER BY QueryId
    """.trim))

  /** O5 batch version assignment: MAX+1 per file continued across a
    * whole arrival batch (events stand in as arrivals keyed by
    * event_type, in event_id order), on the driver, by the function the
    * pipeline versions its arrivals with.
    */
  val op05AssignVersions = Q(
    "op05_assign_versions",
    (s, dir) => {
      import s.implicits._
      val maxVersion = Map("click" -> 2L, "error" -> 5L)
      val arrivals = Tables.load(s, dir, "events")
        .select($"event_id", $"event_type").as[(Long, String)].collect().toSeq
      PathOps.assignVersions(arrivals, maxVersion.get)(_._2)(Ordering.by(_._1))
        .map { case ((id, file), version) => (id, file, version) }
        .toDF("event_id", "file_name", "file_version")
        .orderBy($"event_id")
    },
    Some("""
      WITH ctrl(file_name, file_version) AS (VALUES ('click', 2), ('error', 5)),
      base AS (SELECT file_name, max(file_version) AS b FROM ctrl GROUP BY 1)
      SELECT e.event_id, e.event_type AS file_name,
             coalesce(b.b, 0) + row_number()
               OVER (PARTITION BY e.event_type ORDER BY e.event_id) AS file_version
      FROM events e LEFT JOIN base b ON e.event_type = b.file_name
      ORDER BY event_id
    """.trim))

  /** Snapshot CDC (operators.TableDiff / Catalog.diffVersions): the
    * change feed between the base customer snapshot and a successor
    * built by composing the mutation ops — updates for key%7 (new
    * values), deletes for key%11 (old values, and a key hit by both
    * resolves to delete), inserts at an offset keyspace. One PK
    * full-outer shuffle; null-safe column comparison, no row hashes;
    * output ∝ churn. The oracle re-derives each op class directly from
    * the arithmetic.
    */
  val op10VersionDiff = Q(
    "op10_version_diff",
    (s, dir) => {
      import s.implicits._
      val old = Tables.load(s, dir, "customer")
      val pk = Seq("c_custkey")
      val upserts = old.filter($"c_custkey" % 7 === 0)
        .select($"c_custkey", concat(lit("u_"), $"c_name").as("c_name"),
          $"c_nationkey", $"c_acctbal", $"c_mktsegment")
      val inserts = old.filter($"c_custkey" % 13 === 0)
        .select(($"c_custkey" + 1000000L).as("c_custkey"), $"c_name",
          $"c_nationkey", $"c_acctbal", $"c_mktsegment")
      val next = MutationOps.deleteByPk(
          MutationOps.upsertByPk(old, upserts, pk, lit(1L)),
          old.filter($"c_custkey" % 11 === 0), pk)
        .unionByName(inserts)
      graft.operators.TableDiff.diff(old, next, pk)
        .orderBy($"c_custkey", $"__op")
    },
    Some("""
      SELECT 'update' AS __op, c_custkey, 'u_' || c_name AS c_name,
             c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
      UNION ALL
      SELECT 'delete', c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 11 = 0
      UNION ALL
      SELECT 'insert', c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 13 = 0
      ORDER BY c_custkey, __op
    """.trim))

  /** Multi-action CDC apply (MutationOps.applyCdc — the MERGE INTO
    * shape): one mixed change feed carrying updates (ord 1, key%7),
    * deletes (ord 2, key%11), later updates (ord 3, key%9) and inserts
    * (key%13 at a 10¹² offset keyspace — far above any probe SF's max
    * o_orderkey, so a synthetic insert can never collide with a real
    * row and silently flip replace-vs-keep semantics) in ONE pass. The oracle
    * pins the keep-last resolution direction both ways: a key hit by
    * update-then-delete dies (%77 keys are gone), a key hit by
    * delete-then-update survives with the later value (%99 keys carry
    * the W_ prefix) — the case composing single-action ops gets wrong.
    */
  val op11CdcApply = Q(
    "op11_cdc_apply",
    (s, dir) => {
      import s.implicits._
      val orders = Tables.load(s, dir, "orders")
      def batch(pred: org.apache.spark.sql.Column, op: String, ordv: Long,
          key: org.apache.spark.sql.Column, prio: org.apache.spark.sql.Column) =
        orders.filter(pred).select(key.as("o_orderkey"), $"o_custkey",
          $"o_orderstatus", $"o_totalprice", $"o_orderdate",
          prio.as("o_orderpriority"), lit(op).as("__op"), lit(ordv).as("__ord"))
      val changes = batch($"o_orderkey" % 7 === 0, "update", 1L,
          $"o_orderkey", concat(lit("U_"), $"o_orderpriority"))
        .unionByName(batch($"o_orderkey" % 11 === 0, "delete", 2L,
          $"o_orderkey", $"o_orderpriority"))
        .unionByName(batch($"o_orderkey" % 9 === 0, "update", 3L,
          $"o_orderkey", concat(lit("W_"), $"o_orderpriority")))
        .unionByName(batch($"o_orderkey" % 13 === 0, "insert", 1L,
          $"o_orderkey" + 1000000000000L, lit("NEW")))
      MutationOps.applyCdc(orders, changes, Seq("o_orderkey"), "__op", $"__ord")
        .orderBy($"o_orderkey")
    },
    Some("""
      SELECT * FROM orders
      WHERE o_orderkey % 7 <> 0 AND o_orderkey % 9 <> 0 AND o_orderkey % 11 <> 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             'U_' || o_orderpriority
      FROM orders
      WHERE o_orderkey % 7 = 0 AND o_orderkey % 9 <> 0 AND o_orderkey % 11 <> 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             'W_' || o_orderpriority
      FROM orders WHERE o_orderkey % 9 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000000, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, 'NEW'
      FROM orders WHERE o_orderkey % 13 = 0
      ORDER BY o_orderkey
    """.trim))

  val all: Seq[Q] = Seq(op01InsertIgnore, op02Upsert, op03Delete,
    op04StageDeletes, op05AssignVersions, op10VersionDiff, op11CdcApply)
}
