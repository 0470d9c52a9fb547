package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class MutationOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def table(rows: (String, String)*) =
    rows.toDF("id", "v")

  test("insertIgnoreDups skips existing PKs, keeps first in-batch (O12)") {
    val existing = table("1" -> "old1", "2" -> "old2")
    val incoming = Seq(("2", "newB", 0L), ("3", "c1", 1L), ("3", "c2", 2L))
      .toDF("id", "v", "ord")
    val got = MutationOps.insertIgnoreDups(existing, incoming, Seq("id"), col("ord"))
      .drop("ord").as[(String, String)].collect().toSet
    assert(got == Set("1" -> "old1", "2" -> "old2", "3" -> "c1"))
  }

  test("insertIgnoreDups without PK appends everything (Postgres semantics)") {
    val got = MutationOps.insertIgnoreDups(
      table("1" -> "a"), table("1" -> "a"), Nil, lit(0))
    assert(got.count() == 2)
  }

  test("upsertByPk replaces matched rows, keeps last in-batch (O13)") {
    val existing = table("1" -> "old1", "2" -> "old2")
    val incoming = Seq(("2", "upd2", 0L), ("4", "new4a", 1L), ("4", "new4b", 2L))
      .toDF("id", "v", "ord")
    val got = MutationOps.upsertByPk(existing, incoming, Seq("id"), col("ord"))
      .as[(String, String)].collect().toSet
    assert(got == Set("1" -> "old1", "2" -> "upd2", "4" -> "new4b"))
  }

  test("upsertByPk validates PK presence (process-pipeline.py:179-181)") {
    val ex = intercept[IllegalArgumentException] {
      MutationOps.upsertByPk(table("1" -> "a"),
        Seq("x").toDF("other"), Seq("id"), lit(0))
    }
    assert(ex.getMessage.contains("missing"))
  }

  test("deleteByPk removes only matching keys (O14)") {
    val existing = table("1" -> "a", "2" -> "b", "3" -> "c")
    val keys = Seq("2", "9").toDF("id")
    val got = MutationOps.deleteByPk(existing, keys, Seq("id"))
      .as[(String, String)].collect().toSet
    assert(got == Set("1" -> "a", "3" -> "c"))
  }

  test("applyCdc resolves keep-last across mixed actions (MERGE shape)") {
    val existing = table("1" -> "a", "2" -> "b", "3" -> "c", "4" -> "d")
    // key 2: update then delete -> dies; key 3: delete then update ->
    // survives updated; key 5: update on missing -> inserts; key 9:
    // delete on missing -> no-op
    val changes = Seq(
      ("2", "u2", "update", 1L), ("2", "u2", "delete", 2L),
      ("3", "u3a", "delete", 1L), ("3", "u3b", "update", 2L),
      ("5", "n5", "update", 1L), ("9", "x", "delete", 1L))
      .toDF("id", "v", "__op", "ord")
    val got = MutationOps.applyCdc(existing, changes, Seq("id"), "__op", col("ord"))
      .as[(String, String)].collect().toSet
    assert(got == Set("1" -> "a", "3" -> "u3b", "4" -> "d", "5" -> "n5"))
  }

  test("applyCdc validates PK presence in the change feed") {
    val ex = intercept[IllegalArgumentException] {
      MutationOps.applyCdc(table("1" -> "a"),
        Seq(("x", "update")).toDF("other", "__op"), Seq("id"), "__op", lit(0))
    }
    assert(ex.getMessage.contains("missing"))
  }

  test("renderDeleteQuery matches reference format (process-pipeline.py:279-283)") {
    val got = Seq(("5", "x")).toDF("id", "name")
      .select(MutationOps.renderDeleteQuery("myschema.t", Seq("id", "name")))
      .as[String].head()
    assert(got == """DELETE FROM myschema.t WHERE "id" = '5' AND "name" = 'x'""")
  }

  test("stageDeletes allocates sequential ids and dedups vs pending (O15)") {
    val pending = Set("""DELETE FROM t WHERE "id" = '1'""")
    val keys = Seq(("1", 0L), ("2", 1L), ("2", 2L), ("4", 3L)).toDF("id", "ord")
      .orderBy("ord").select(MutationOps.renderDeleteQuery("t", Seq("id")),
        MutationOps.pkValues(Seq("id")))
      .as[(String, Map[String, String])].collect().toSeq
    val got = MutationOps.stageDeletes(keys, pending, baseQueryId = 3L)
    // id=1 already pending -> dropped; id=2 duplicated in batch -> one row
    assert(got == Seq(
      (4L, """DELETE FROM t WHERE "id" = '2'""", Map("id" -> "2")),
      (5L, """DELETE FROM t WHERE "id" = '4'""", Map("id" -> "4"))))
  }
}
