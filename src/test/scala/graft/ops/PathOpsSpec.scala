package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class PathOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("deriveTableName matches reference cases (data-query.py:62-68)") {
    assert(PathOps.deriveTableName("report 2024.csv") == "report_2024")
    assert(PathOps.deriveTableName("Report 2024-Q1.final.csv") == "report_2024_q1_final")
    assert(PathOps.deriveTableName("Customers.CSV") == "customers")
    assert(PathOps.deriveTableName("noext") == "noext")
    assert(PathOps.deriveTableName("weird name!@#.csv") == "weird_name___")
  }

  test("deriveTableName column expression agrees with driver-side fn") {
    val names = Seq("report 2024.csv", "A-B.c.d.CSV", "x_1.txt")
    val got = names.toDF("f")
      .select(PathOps.deriveTableName(col("f"))).as[String].collect().toSeq
    assert(got == names.map(PathOps.deriveTableName))
  }

  test("operation routing from path (data-query.py:212-229)") {
    val df = Seq("insert/a.csv", "update/sub/b.csv", "delete/c.csv",
      "other/d.csv", "e.csv").toDF("path")
      .select(PathOps.operationFromPath(col("path")).as("op"),
        PathOps.fileNameFromPath(col("path")).as("f"))
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("insert", "update", "delete", "other", "e.csv"))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("a.csv", "b.csv", "c.csv", "d.csv", "e.csv"))
    val valid = df.filter(PathOps.isValidOperation(col("op"))).count()
    assert(valid == 3)
  }

  test("nextVersion = MAX+1, null -> 0 (data-query.py:70-85)") {
    val maxVersion = Map("a.csv" -> 2L, "b.csv" -> 7L)
    val got = PathOps.assignVersions(Seq(("a.csv", 1L), ("b.csv", 2L), ("new.csv", 3L)),
      maxVersion.get)(_._1)(Ordering.by(_._2))
    assert(got.map { case ((file, _), v) => file -> v }.toMap ==
      Map("a.csv" -> 3L, "b.csv" -> 8L, "new.csv" -> 1L))
  }

  test("assignVersions continues per-file history across a batch") {
    // arrivals take versions in arrival order, whatever order they come in
    val got = PathOps.assignVersions(Seq(("a.csv", 20L), ("b.csv", 30L), ("a.csv", 10L)),
      Map("a.csv" -> 2L).get)(_._1)(Ordering.by(_._2))
    assert(got == Seq((("a.csv", 10L), 3L), (("a.csv", 20L), 4L), (("b.csv", 30L), 1L)))
  }

  test("sparkStringOrder orders strings as a Spark sort does") {
    val ids = Seq("b", "a", null, "\uFFFD", "\uD83D\uDE00", "A", "ab", "")
    val want = ids.toDF("id").orderBy(col("id").asc).as[String].collect().toSeq
    assert(ids.sorted(PathOps.sparkStringOrder) == want)
  }
}
