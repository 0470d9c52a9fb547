package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase
import graft.model.{DeleteControl, ProcessedFile}

class CatalogSpec extends SparkTestBase {
  import spark.implicits._

  test("createIfAbsent with all-string schema, append, overwrite, PKs") {
    val cat = new Catalog(spark, tmpDir("cat"))
    assert(!cat.exists("t"))
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    assert(cat.exists("t"))
    assert(cat.read("t").count() == 0)
    assert(cat.schema("t").fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq(("id", "string"), ("v", "string")))
    assert(cat.primaryKey("t") == Seq("id"))

    // createIfAbsent is a no-op when the table exists (O9)
    cat.createIfAbsent("t", cat.allStringSchema(Seq("other")), Nil)
    assert(cat.schema("t").fieldNames.toSeq == Seq("id", "v"))

    cat.append("t", Seq(("1", "a"), ("2", "b")).toDF("id", "v"))
    assert(cat.read("t").count() == 2)
    cat.append("t", Seq(("3", "c")).toDF("id", "v"))
    assert(cat.read("t").count() == 3)
    assert(cat.primaryKey("t") == Seq("id")) // survives commits

    // read-modify-overwrite against the live version must not clobber
    val filtered = cat.read("t").filter($"id" =!= "2")
    cat.overwrite("t", filtered)
    assert(cat.read("t").as[(String, String)].collect().toSet ==
      Set("1" -> "a", "3" -> "c"))
    assert(cat.listTables() == Seq("t"))
  }

  test("interrupted commit leaves the previous version live") {
    val root = tmpDir("catcrash")
    val cat = new Catalog(spark, root)
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id")))
    cat.append("t", Seq("1", "2").toDF("id"))
    // simulate a writer that died after materializing data but before
    // flipping the _current pointer: readers must not see it
    val orphan = new java.io.File(s"$root/t/v9999999999999_deadbeef")
    orphan.mkdirs()
    Seq("9").toDF("id").write.mode("overwrite").parquet(orphan.getPath)
    assert(cat.read("t").as[String].collect().sorted.toSeq == Seq("1", "2"))
    // and a subsequent commit still works
    cat.append("t", Seq("3").toDF("id"))
    assert(cat.read("t").count() == 3)
  }

  test("partial FIRST commit is not resurrected by the pointer-less fallback") {
    val root = tmpDir("catgate")
    val cat = new Catalog(spark, root)
    // a writer died mid-parquet-write of a table's first commit: data
    // files exist, no _SUCCESS, no pointer. The table must not exist.
    val partial = new java.io.File(s"$root/t/v1700000000000_partial")
    Seq("x").toDF("a").write.mode("overwrite").parquet(partial.getPath)
    assert(new java.io.File(partial, "_SUCCESS").delete())
    assert(!cat.exists("t"))
    intercept[Exception](cat.read("t"))
    // ...and a first commit retried on top of the debris works
    cat.createIfAbsent("t", cat.allStringSchema(Seq("a")))
    cat.append("t", Seq("y").toDF("a"))
    assert(cat.read("t").as[String].collect().toSeq == Seq("y"))

    // a partial first BUCKET commit (parquet finished, manifest never
    // written) must not be read back as plain parquet with a phantom
    // __b partition column
    val pb = new java.io.File(s"$root/tb/v1700000000000_pb")
    Seq(("1", "a")).toDF("id", "v")
      .withColumn("__b", lit(0)).write.partitionBy("__b").parquet(pb.getPath)
    assert(new java.io.File(pb, "_SUCCESS").exists()) // parquet job DID finish
    assert(!cat.exists("tb"))
    intercept[Exception](cat.read("tb"))
  }

  test("bucketed-table read is ONE multi-path scan, not a per-bucket union") {
    val cat = new Catalog(spark, tmpDir("catscan"))
    val n = 16
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.registerBucketLayout("t", n)
    cat.overwriteAllBuckets("t", (1 to 200).map(i => (i.toString, s"v$i")).toDF("id", "v"))
    assert(cat.bucketRefs("t").size == n)
    val df = cat.read("t")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.length == 1,
      s"expected one scan over $n bucket dirs, got ${scans.length}:\n${df.queryExecution.optimizedPlan}")
    assert(df.count() == 200)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v")) // no phantom __b
  }

  test("lookupByPk scans exactly one bucket directory") {
    val cat = new Catalog(spark, tmpDir("catpk"))
    val n = 8
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.registerBucketLayout("t", n)
    cat.overwriteAllBuckets("t", (1 to 80).map(i => (i.toString, s"v$i")).toDF("id", "v"))

    val hit = cat.lookupByPk("t", Seq("37"))
    assert(hit.as[(String, String)].collect().toSeq == Seq("37" -> "v37"))
    // the driver-side bucket computation must agree with the planned one
    val b = Seq("37").toDF("id")
      .select(cat.bucketOf(Seq("id"), n).as("b")).head().getInt(0)
    val files = cat.lookupByPk("t", Seq("37")).inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"__b=$b")),
      s"point read leaked beyond bucket $b: ${files.toSeq}")
    assert(cat.lookupByPk("t", Seq("no-such-key")).isEmpty)

    // unbucketed fallback: filtered full read
    cat.createIfAbsent("plain", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.append("plain", Seq(("1", "a"), ("2", "b")).toDF("id", "v"))
    assert(cat.lookupByPk("plain", Seq("2")).as[(String, String)]
      .collect().toSeq == Seq("2" -> "b"))
  }

  test("partitioned overwrite prunes partitions on filtered reads") {
    val cat = new Catalog(spark, tmpDir("catpart"))
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("event_id", "event_type", "value")
    cat.createIfAbsent("ev", df.schema)
    cat.overwritePartitioned("ev", df, Seq("event_type"))
    assert(cat.read("ev").count() == df.count())
    val plan = cat.read("ev").filter($"event_type" === "click")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), s"no partition pruning in:\n$plan")
    assert(cat.read("ev").filter($"event_type" === "click").count() ==
      df.filter($"event_type" === "click").count())
  }

  test("old versions are pruned after commit") {
    val root = tmpDir("catv")
    val cat = new Catalog(spark, root)
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id")))
    cat.append("t", Seq("1").toDF("id"))
    cat.append("t", Seq("2").toDF("id"))
    val dirs = new java.io.File(s"$root/t").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("v")) == 1, s"expected 1 live version, got ${dirs.toSeq}")
    assert(cat.read("t").count() == 2)
  }

  test("vacuum: retention grace window, explicit reclaim, reads intact") {
    val root = tmpDir("catvac")
    // keep plenty of history so vacuum (not prune-on-commit) does the GC
    val cat = new Catalog(spark, root, graceVersions = 16)
    def versionDirs() = new java.io.File(s"$root/t").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("v")).toSet

    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    (1 to 4).foreach(i => cat.append("t", Seq((i.toString, s"v$i")).toDF("id", "v")))
    assert(versionDirs().size == 5, "grace window must retain history")

    // a reader that resolved the pointer BEFORE further commits...
    val early = cat.read("t")
    cat.append("t", Seq(("9", "v9")).toDF("id", "v"))
    // ...still collects inside the grace window
    assert(early.count() == 4)

    // keepLast=1 keeps the newest unreferenced version, drops the rest
    val deleted = cat.vacuum("t", keepLast = 1)
    assert(deleted.nonEmpty && versionDirs().size == 2)
    assert(cat.read("t").count() == 5, "current read must survive vacuum")

    // minAge guard: versions younger than the floor are never touched
    assert(cat.vacuum("t", keepLast = 0, minAgeMs = 3600L * 1000).isEmpty)
    // full reclaim: only the live version remains; reads + fallback fine
    cat.vacuum("t")
    assert(versionDirs().size == 1)
    assert(cat.read("t").count() == 5)
    // crash fallback (pointer removed) still resolves the live version
    new java.io.File(s"$root/t/_current").delete()
    assert(cat.read("t").count() == 5)
  }

  test("time travel: readVersion within the retention window") {
    val cat = new Catalog(spark, tmpDir("cattt"), graceVersions = 8)
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.append("t", Seq(("1", "a")).toDF("id", "v"))
    val v1 = cat.currentVersion("t")
    cat.append("t", Seq(("2", "b")).toDF("id", "v"))
    val v2 = cat.currentVersion("t")
    cat.overwrite("t", Seq(("9", "z")).toDF("id", "v"))
    assert(cat.versions("t").takeRight(1).head == cat.currentVersion("t"))
    assert(cat.versions("t").size == 4) // empty-create + 3 commits
    // each historical version reads its own contents
    assert(cat.readVersion("t", v1).as[(String, String)].collect().toSeq ==
      Seq("1" -> "a"))
    assert(cat.readVersion("t", v2).as[(String, String)].collect().toSet ==
      Set("1" -> "a", "2" -> "b"))
    assert(cat.read("t").as[(String, String)].collect().toSeq == Seq("9" -> "z"))
    // past the vacuum horizon, time travel fails loudly
    cat.vacuum("t")
    val e = intercept[IllegalArgumentException] { cat.readVersion("t", v1) }
    assert(e.getMessage.contains("vacuumed"))

    // manifest tables resolve THEIR OWN refs: an append-log's old
    // version sees only the refs as of that commit
    cat.appendLog("log", Seq((1L, "a")).toDF("id", "v"))
    val lv1 = cat.currentVersion("log")
    cat.appendLog("log", Seq((2L, "b")).toDF("id", "v"))
    assert(cat.readVersion("log", lv1).select($"id").as[Long].collect().toSeq ==
      Seq(1L))
    assert(cat.read("log").select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("vacuum never deletes manifest-referenced old versions") {
    val root = tmpDir("catvacb")
    val cat = new Catalog(spark, root, graceVersions = 16)
    val n = 4
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.registerBucketLayout("t", n)
    val rows = (1 to 40).map(i => (i.toString, s"v$i"))
    cat.overwriteAllBuckets("t", rows.toDF("id", "v"))
    val v0 = cat.bucketRefs("t").values.map(_.split("/").head).toSet
    assert(v0.size == 1)

    // touch one bucket twice: v0 stays referenced by the untouched
    // buckets; the middle rewrite becomes unreferenced garbage
    val b7 = rows.toDF("id", "v").filter($"id" === "7")
      .select(cat.bucketOf(Seq("id"), n).as("b")).head().getInt(0)
    cat.rewrite("t", _ => Seq(b7))(_.withColumn("v", concat($"v", lit("!"))))
    cat.rewrite("t", _ => Seq(b7))(_.withColumn("v", concat($"v", lit("?"))))

    val deleted = cat.vacuum("t")
    val live = cat.bucketRefs("t").values.map(_.split("/").head).toSet
    assert(v0.subsetOf(live), "old version referenced by untouched buckets must survive")
    assert(deleted.forall(!live.contains(_)))
    val dirs = new java.io.File(s"$root/t").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("v")).toSet
    assert(dirs == live, s"exactly the referenced versions survive: $dirs vs $live")

    // data + point reads intact after GC
    assert(cat.read("t").count() == 40)
    assert(cat.read("t").filter($"id" === "7").select("v").head().getString(0) == "v7!?")
    assert(cat.lookupByPk("t", Seq("37")).as[(String, String)]
      .collect().toSeq == Seq("37" -> "v37"))
  }

  test("bucket layout: partial rewrite touches only the mutated buckets") {
    val cat = new Catalog(spark, tmpDir("catbuck"))
    val n = 4
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.registerBucketLayout("t", n)
    assert(cat.bucketCount("t").contains(n))

    val rows = (1 to 40).map(i => (i.toString, s"v$i"))
    cat.overwriteAllBuckets("t", rows.toDF("id", "v"))
    assert(cat.hasBucketManifest("t"))
    val refs0 = cat.bucketRefs("t")
    assert(refs0.keySet == (0 until n).toSet) // 40 ids cover all 4 buckets
    assert(cat.read("t").count() == 40)

    // rewrite ONE bucket: pick the bucket of id "7" and update its rows
    val b7 = rows.toDF("id", "v").filter($"id" === "7")
      .select(cat.bucketOf(Seq("id"), n).as("b")).head().getInt(0)
    val newBucketRows = cat.readBuckets("t", Seq(b7))
      .withColumn("v", concat($"v", lit("!")))
    cat.rewrite("t", _ => Seq(b7))(_.withColumn("v", concat($"v", lit("!"))))

    val refs1 = cat.bucketRefs("t")
    assert(refs1(b7) != refs0(b7), "touched bucket must get a new directory")
    // buckets now spread over two live versions, both surviving pruning
    assert(refs1.values.map(_.split("/").head).toSet.size == 2)
    refs0.keys.filter(_ != b7).foreach { k =>
      assert(refs1(k) == refs0(k),
        s"untouched bucket $k was rewritten: ${refs0(k)} -> ${refs1(k)}")
    }
    assert(cat.read("t").filter($"id" === "7").select("v").head().getString(0) == "v7!")
    assert(cat.read("t").count() == 40)

    // bucket-pruned read scans ONLY the requested bucket's files
    val files = cat.readBuckets("t", Seq(b7)).inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"__b=$b7")),
      s"readBuckets leaked beyond bucket $b7: ${files.toSeq}")

    // deleting every row of a bucket drops its manifest entry
    cat.rewrite("t", _ => Seq(b7))(_.limit(0))
    assert(!cat.bucketRefs("t").contains(b7))
    assert(cat.read("t").count() == 40 - newBucketRows.count())
  }

  test("appendLog is O(batch): history refs never rewritten") {
    val cat = new Catalog(spark, tmpDir("catlog"))
    cat.appendLog("log", Seq((1L, "a")).toDF("id", "v"))
    val refs1 = cat.bucketRefs("log")
    cat.appendLog("log", Seq((2L, "b")).toDF("id", "v"))
    val refs2 = cat.bucketRefs("log")
    cat.appendLog("log", Seq((3L, "c")).toDF("id", "v"))
    val refs3 = cat.bucketRefs("log")
    // one new ref per append; all prior refs byte-identical
    assert(refs2.size == refs1.size + 1 && refs3.size == refs2.size + 1)
    refs1.foreach { case (k, v) => assert(refs2(k) == v && refs3(k) == v) }
    assert(cat.read("log").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // still ONE multi-path scan despite three refs
    val plan = cat.read("log").queryExecution.executedPlan.toString
    assert(plan.split("Scan parquet").length == 2, s"multiple scans:\n$plan")

    // compaction folds the log into a single ref, contents intact
    cat.compactLog("log")
    assert(cat.bucketRefs("log").size == 1)
    assert(cat.read("log").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))

    // schema drift fails fast instead of silently nulling history
    val renamed = intercept[IllegalArgumentException] {
      cat.appendLog("log", Seq((4L, "d")).toDF("id", "label"))
    }
    assert(renamed.getMessage.contains("schema drift"))
    intercept[IllegalArgumentException] {
      cat.appendLog("log", Seq((4, "d")).toDF("id", "v")) // id retyped int
    }
    // compatible appends (nullability aside) still land
    cat.appendLog("log", Seq((4L, "d")).toDF("id", "v"))
    assert(cat.read("log").count() == 4)
  }

  test("appendLog schema evolution: column adds read as one frame, retypes still fatal") {
    val cat = new Catalog(spark, tmpDir("catevolve"))
    cat.appendLog("log", Seq((1L, "a")).toDF("id", "v"))
    // evolved batch adds a nullable column; history refs resolve by
    // name under the union schema and yield nulls for the missing one
    cat.appendLog("log",
      Seq((2L, "b", 0.5)).toDF("id", "v", "score"), evolveSchema = true)
    val got = cat.read("log").orderBy("id")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(0.5))))
    // an evolved append may also OMIT a stored column (old writer,
    // new table): its rows read back null for it
    cat.appendLog("log", Seq((3L, "c")).toDF("id", "v"), evolveSchema = true)
    assert(cat.read("log").filter($"id" === 3L)
      .select($"score").as[Option[Double]].head().isEmpty)
    // a NON-evolved append still requires the full current schema
    intercept[IllegalArgumentException] {
      cat.appendLog("log", Seq((4L, "d")).toDF("id", "v"))
    }
    // same-name type changes are never evolution
    val retyped = intercept[IllegalArgumentException] {
      cat.appendLog("log",
        Seq((4L, "d", "high")).toDF("id", "v", "score"), evolveSchema = true)
    }
    assert(retyped.getMessage.contains("type drift"))
    // compaction folds under the union schema, contents intact
    cat.compactLog("log")
    assert(cat.bucketRefs("log").size == 1)
    assert(cat.read("log").orderBy("id")
      .as[(Long, String, Option[Double])].collect().toSeq ==
      Seq((1L, "a", None), (2L, "b", Some(0.5)), (3L, "c", None)))
  }

  test("sorted write enables row-group skipping on the sort key") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
    }
    val cat = new Catalog(spark, tmpDir("catsort"))
    val rows = (1 to 100000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    cat.overwrite("shuffled", rows.repartition(8)) // every file spans the full range
    cat.overwriteSorted("clustered", rows, Seq("id"))
    assert(cat.read("clustered").count() == 100000)

    val fromShuffled = scanRows(cat.read("shuffled").filter($"id" === 42L))
    val fromClustered = scanRows(cat.read("clustered").filter($"id" === 42L))
    // both answers identical; the clustered scan reads a fraction of
    // the rows because non-matching row groups never decode
    assert(fromClustered < fromShuffled / 2,
      s"no data skipping: clustered read $fromClustered rows vs $fromShuffled")
    assert(cat.read("clustered").filter($"id" === 42L).count() == 1)
  }

  test("bloom-filtered write skips row groups for point probes on unsorted keys") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
    }
    val cat = new Catalog(spark, tmpDir("catbloom"))
    // hash-scrambled key order: every row group's min/max spans nearly
    // the full key range, so stats-based skipping is useless — exactly
    // the case bloom filters exist for
    val rows = spark.range(400000)
      .select(hash(col("id")).cast("long").as("k"), col("id").as("v"))
    val blocks = Some(256L * 1024)
    cat.overwriteWithBloom("bloomed", rows, Seq("k"), expectedNdv = 400000,
      rowGroupBytes = blocks)
    // identical layout and block size, bloom only on a column the
    // probe never filters: min/max stats are all the k-probe gets
    cat.overwriteWithBloom("plain", rows, Seq("v"), expectedNdv = 400000,
      rowGroupBytes = blocks)

    val probe = cat.read("bloomed").select(col("k")).head().getLong(0)
    assert(cat.read("bloomed").filter(col("k") === probe).count() ==
      cat.read("plain").filter(col("k") === probe).count())
    val bloomed = scanRows(cat.read("bloomed").filter(col("k") === probe))
    val plain = scanRows(cat.read("plain").filter(col("k") === probe))
    assert(bloomed < plain / 2,
      s"bloom filter not skipping: $bloomed rows vs $plain without")
  }

  test("z-ordered write skips on BOTH dimensions; lexicographic only on the first") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
    }
    val cat = new Catalog(spark, tmpDir("catz"))
    // 256×392 grid: every (x, y) combination — under lexicographic
    // (x, y) sort each file spans the FULL y range
    val rows = (0 until 100352).map(i => (i.toLong, (i % 256).toLong, (i / 256).toLong))
      .toDF("id", "x", "y")
    cat.overwriteSorted("lex", rows, Seq("x", "y"))
    cat.overwriteZOrdered("zed", rows, Seq("x", "y"), bits = 4,
      numPartitions = Some(16))
    assert(cat.read("zed").count() == 100352)

    // identical answers on every probe
    def q(t: String, c: String, v: Long) = cat.read(t).filter(col(c) === v)
    assert(q("zed", "y", 7).count() == q("lex", "y", 7).count())
    assert(q("zed", "x", 7).count() == q("lex", "x", 7).count())

    // trailing-column filter: lex reads everything, z-order skips
    val lexY = scanRows(q("lex", "y", 7))
    val zedY = scanRows(q("zed", "y", 7))
    assert(zedY < lexY / 2, s"no y-skipping under z-order: $zedY vs lex $lexY")
    // leading-column filter must still skip under z-order
    val fullScan = scanRows(cat.read("zed"))
    val zedX = scanRows(q("zed", "x", 7))
    assert(zedX < fullScan / 2, s"no x-skipping under z-order: $zedX of $fullScan")
  }

  test("appendLogClustered: filtered reads skip history row groups") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
    }
    val cat = new Catalog(spark, tmpDir("catlogclust"))
    def batch(seed: Int) = (1 to 50000)
      .map(i => ((i * 31 + seed) % 64, s"k$seed-$i")).toDF("kb", "key")
    // same history appended twice: one log clustered on kb, one not
    (0 until 3).foreach { s =>
      cat.appendLogClustered("clustered", batch(s), Seq("kb", "key"))
      cat.appendLog("plain", batch(s).repartition(8))
    }
    assert(cat.read("clustered").count() == 150000)
    val q = (t: String) => cat.read(t).filter($"kb" === 7)
    assert(q("clustered").count() == q("plain").count())
    val clustered = scanRows(q("clustered"))
    val plain = scanRows(q("plain"))
    assert(clustered < plain / 2,
      s"no history skipping: clustered read $clustered rows vs $plain")
  }

  test("commit lock: two catalog instances racing appends lose no update") {
    // Two Catalog INSTANCES over one root model two driver processes:
    // `synchronized` is per-instance, so only the _commit.lock file
    // serializes them. Each append is read-current + union + pointer
    // flip; without the lock, interleaved appends resolve the same
    // parent version and the second flip silently drops the first's
    // rows (lost update).
    val root = tmpDir("catrace")
    val catA = new Catalog(spark, root)
    val catB = new Catalog(spark, root)
    catA.createIfAbsent("t", catA.allStringSchema(Seq("id")), Seq("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val n = 12
    try {
      val futures = (1 to n).map { i =>
        val c = if (i % 2 == 0) catA else catB
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = c.append("t", Seq(i.toString).toDF("id"))
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(catA.read("t").as[String].collect().toSet ==
      (1 to n).map(_.toString).toSet, "a racing append was lost")
    // both held and released: no lock file survives
    assert(!new java.io.File(s"$root/t/_commit.lock").exists())
  }

  test("commit lock: held lock times out loudly, stale lock is broken") {
    val root = tmpDir("catstale")
    val lock = new java.io.File(s"$root/t/_commit.lock")
    // a FRESH foreign lock (live holder) must time out, not deadlock
    val catSlow = new Catalog(spark, root, lockTimeoutMs = 300)
    catSlow.createIfAbsent("t", catSlow.allStringSchema(Seq("id")), Nil)
    lock.getParentFile.mkdirs()
    assert(lock.createNewFile())
    val ex = intercept[IllegalStateException] {
      catSlow.append("t", Seq("x").toDF("id"))
    }
    assert(ex.getMessage.contains("commit lock"))
    // a STALE lock (crashed holder) is broken and the commit proceeds
    val catFast = new Catalog(spark, root, lockTimeoutMs = 2000,
      lockStaleMs = 100)
    assert(lock.setLastModified(System.currentTimeMillis() - 10000))
    catFast.append("t", Seq("y").toDF("id"))
    assert(catFast.read("t").as[String].collect().toSeq == Seq("y"))
    assert(!lock.exists(), "broken stale lock must not linger")
  }

  test("commit lock: release leaves a lock another writer took over in place") {
    // A holder whose lock was stale-broken and re-acquired by another
    // writer must not delete the new holder's lock on release: that
    // would let a third writer in mid-commit.
    val root = tmpDir("cattoken")
    val lock = java.nio.file.Paths.get(root, "t", "_commit.lock")
    var takeOver = false
    val cat = new Catalog(spark, root) {
      // append reads the primary key inside its locked span
      override def primaryKey(name: String): Seq[String] = {
        if (takeOver) {
          takeOver = false
          java.nio.file.Files.writeString(lock, """{"token":"other"}""")
        }
        super.primaryKey(name)
      }
    }
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id")), Nil)
    takeOver = true
    cat.append("t", Seq("x").toDF("id"))
    assert(!takeOver, "the lock was never replaced inside the commit")
    assert(java.nio.file.Files.exists(lock) &&
      java.nio.file.Files.readString(lock).contains("\"token\":\"other\""),
      "release must leave a lock owned by another writer in place")
    assert(cat.read("t").as[String].collect().toSeq == Seq("x"))
  }

  test("compact rewrites fragmented buckets to one file each, data intact") {
    val cat = new Catalog(spark, tmpDir("catcompact"))
    val n = 4
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.registerBucketLayout("t", n)
    // 8 upstream partitions → each bucket directory collects several
    // part-files (the fragmentation a mutation burst leaves behind)
    val rows = (1 to 200).map(i => (i.toString, s"v$i"))
    cat.overwriteAllBuckets("t", rows.toDF("id", "v").repartition(8))
    val before = cat.read("t").inputFiles.length
    assert(before > n, s"expected fragmented buckets, got $before files")

    val compacted = cat.compact("t")
    assert(compacted.nonEmpty)
    // one part-file per bucket, identical contents
    val after = cat.read("t").inputFiles
    assert(after.length == cat.bucketRefs("t").size,
      s"expected one file per bucket, got ${after.toSeq}")
    assert(cat.read("t").count() == 200)
    assert(cat.read("t").select("id", "v").as[(String, String)].collect().toSet ==
      rows.toSet)

    // second compact is a no-op: nothing fragmented
    assert(cat.compact("t").isEmpty)

    // point reads still prune to one bucket after compaction
    val one = cat.lookupByPk("t", Seq("7"))
    assert(one.count() == 1)
    assert(one.inputFiles.length == 1)
  }

  test("plain reads are pinned to the schema of the version they resolve") {
    val root = tmpDir("catpin")
    val cat = new Catalog(spark, root)
    // a pinned read runs no schema-inference job and has the schema
    // inference would give
    def assertPinned(c: Catalog, t: String): Unit = {
      val (df, jobs) = countJobs(c.read(t))
      val inferred = spark.read.parquet(s"$root/$t/${c.currentVersion(t)}").schema
      assert(jobs == 0 && df.schema == inferred, s"$t: $jobs jobs, ${df.schema} vs $inferred")
    }
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05")
    // control schemas: bigint, string, boolean, timestamp, map<string,string>
    cat.createIfAbsent("deletes", DeleteControl.schema)
    assertPinned(cat, "deletes")
    cat.append("deletes", spark.createDataFrame(java.util.List.of(
      Row(1L, "e1", "q", true, false, ts, null, "t", Map("id" -> "1"))),
      DeleteControl.schema))
    assertPinned(cat, "deletes")
    cat.createIfAbsent("files", ProcessedFile.schema)
    cat.append("files", spark.createDataFrame(java.util.List.of(
      Row("f.csv", "e1", 1L, false, "b", "insert", "pending", null)),
      ProcessedFile.schema))
    assertPinned(cat, "files")
    // a derived frame with non-nullable columns reads back nullable
    cat.overwrite("files", cat.read("files").withColumn("is_processed", lit(true)))
    assertPinned(cat, "files")
    assert(cat.read("files").select("is_processed").as[Boolean].collect().toSeq == Seq(true))

    // all-string tables through every plain commit path
    val rows = (1 to 50).map(i => (i.toString, s"v$i")).toDF("id", "v")
    cat.createIfAbsent("s", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    assertPinned(cat, "s")
    cat.append("s", rows)
    assertPinned(cat, "s")
    cat.overwrite("s", rows)
    assertPinned(cat, "s")
    cat.overwriteSorted("s", rows, Seq("id"))
    assertPinned(cat, "s")
    cat.overwriteWithBloom("s", rows, Seq("id"), expectedNdv = 50)
    assertPinned(cat, "s")
    cat.overwriteZOrdered("z", (1 to 50).map(i => (i.toLong, (i % 7).toLong, s"v$i"))
      .toDF("x", "y", "v"), Seq("x", "y"), bits = 2, numPartitions = Some(2))
    assertPinned(cat, "z")

    // an overwrite that adds a column is read with the new schema
    cat.overwrite("s", rows.withColumn("w", lit("new")))
    assertPinned(cat, "s")
    assert(cat.read("s").columns.toSeq == Seq("id", "v", "w"))
    assert(cat.read("s").filter($"id" === "7").select("w").as[String].head() == "new")

    // a version another Catalog on the same root committed is pinned
    // from its footer, never read with the old schema; so is every
    // table a fresh Catalog reads first
    new Catalog(spark, root).overwrite("s", rows.withColumn("n", lit(1L)))
    assertPinned(cat, "s")
    assert(cat.read("s").columns.toSeq == Seq("id", "v", "n"))
    val fresh = new Catalog(spark, root)
    Seq("deletes", "files", "s", "z").foreach(assertPinned(fresh, _))

    // partitioned versions are pinned too, partition columns last
    cat.overwritePartitioned("p", rows.withColumn("part", $"id" % 3), Seq("part"))
    assert(countJobs(cat.read("p"))._2 == 0 && countJobs(cat.read("p"))._2 == 0)
    assert(cat.read("p").count() == 50)
  }

  test("append keeps the replaced version's file count (default openCostInBytes)") {
    // every small file is its own read partition, so a union of the
    // current version and the batch would write one file more per append
    val cat = new Catalog(spark, tmpDir("catfiles"))
    def files(t: String) = cat.read(t).inputFiles.length
    cat.createIfAbsent("one", cat.allStringSchema(Seq("id")))
    cat.overwrite("three", (1 to 30).map(_.toString).toDF("id").repartition(3))
    val start = Map("one" -> files("one"), "three" -> files("three"))
    assert(start == Map("one" -> 1, "three" -> 3))
    (1 to 3).foreach { i =>
      Seq("one", "three").foreach { t =>
        cat.append(t, Seq(s"a$i").toDF("id"))
        assert(files(t) == start(t), s"$t after append $i")
      }
    }
    assert(cat.read("one").count() == 3 && cat.read("three").count() == 33)
  }

  /** Every file of a version dir with its bytes, to show a dir untouched. */
  private def dirBytes(root: String, table: String, version: String): Map[String, Seq[Byte]] = {
    val s = Files.list(Paths.get(root, table, version))
    try s.iterator.asScala.map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
    finally s.close()
  }

  private def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  test("appendLog adopts a plain table: its dir becomes ref 0, never rewritten") {
    val root = tmpDir("catadopt")
    val cat = new Catalog(spark, root)
    cat.overwrite("t", (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(3))
    val plain = cat.currentVersion("t")
    val before = dirBytes(root, "t", plain)
    // a Catalog that never read the table adopts it from a footer (no job):
    // the batch write is the only job
    val adopter = new Catalog(spark, root)
    val (_, jobs) = countJobs(adopter.appendLog("t", Seq((31L, "v31")).toDF("id", "v")))
    assert(jobs == 1, s"adoption ran $jobs jobs")
    val refs = cat.bucketRefs("t")
    assert(refs.size == 2 && refs(0) == plain, s"refs $refs")
    assert(dirBytes(root, "t", plain) == before, "the adopted dir was rewritten")

    // reads: pinned to the plain version's schema (no job), every row
    val inferred = spark.read.parquet(s"$root/t/$plain").schema
    for (c <- Seq(cat, adopter, new Catalog(spark, root))) {
      val (df, readJobs) = countJobs(c.read("t"))
      assert(readJobs == 0 && df.schema == inferred, s"$readJobs jobs, ${df.schema}")
      assert(df.select("id").as[Long].collect().sorted.toSeq == (1L to 31L))
    }
    // vacuum keeps the adopted dir (the manifest references it); the
    // old plain version still time-travels
    cat.vacuum("t")
    assert(cat.readVersion("t", plain).count() == 30)
    assert(cat.read("t").count() == 31 && dirBytes(root, "t", plain) == before)

    // a partitioned version has no flat ref to adopt
    cat.overwritePartitioned("p", Seq((1L, "a")).toDF("id", "part"), Seq("part"))
    intercept[IllegalStateException](cat.appendLog("p", Seq((2L, "b")).toDF("id", "part")))
  }

  test("appendLog adopts an empty plain table as a log with no refs") {
    val root = tmpDir("catempty")
    val cat = new Catalog(spark, root)
    cat.createIfAbsent("t", Seq.empty[(Long, String)].toDF("id", "v").schema)
    val empty = cat.currentVersion("t")
    // the rows are counted from the footers: the batch write is the only job
    val adopter = new Catalog(spark, root)
    val (_, jobs) = countJobs(adopter.appendLog("t", Seq((1L, "a")).toDF("id", "v")))
    assert(jobs == 1, s"adoption ran $jobs jobs")
    val refs = cat.bucketRefs("t")
    assert(refs.size == 1 && !refs.values.toSet(empty), s"refs $refs")
    // nothing references the empty version any more, so the commit's
    // vacuum reclaimed it and no read opens it
    assert(!cat.versions("t").contains(empty))
    val df = cat.read("t")
    assert(df.inputFiles.nonEmpty && !df.inputFiles.exists(_.contains(empty)))
    assert(df.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("rewriteLog replaces only the refs holding matching rows") {
    val root = tmpDir("catrewrite")
    val cat = new Catalog(spark, root)
    (1 to 3).foreach(i =>
      cat.appendLog("log", Seq((i.toLong, "a"), (i * 10L, "a")).toDF("id", "v")))
    def rows = cat.read("log").as[(Long, String)].collect().toSeq
    def id(r: Row) = r.getAs[Long]("id")
    def set(k: Long, v: String)(rs: Seq[Row]) = rs.map(r => if (id(r) == k) Row(k, v) else r)
    val refs = cat.bucketRefs("log")
    val bytes = refs.values.map(r => r -> dirBytes(root, "log", r)).toMap

    // refs appended as frames are not in the log index yet: the rewrite
    // reads them into it with one job, then writes with one more
    val (_, jobs) = countJobs(cat.rewriteLog("log", id(_) == 2L)(set(2L, "b")))
    assert(jobs == 2, s"$jobs jobs")
    val after = cat.bucketRefs("log")
    assert(after.size == 3 && after - 3 == refs - 1, s"$refs -> $after")
    (refs - 1).values.foreach(r => assert(dirBytes(root, "log", r) == bytes(r), r))
    assert(multiset(rows) == multiset(Seq((1L, "a"), (10L, "a"), (2L, "b"), (20L, "a"),
      (3L, "a"), (30L, "a"))))

    // a ref another Catalog committed meanwhile is read in one job and
    // rewritten too, since it holds matching rows
    new Catalog(spark, root).appendLog("log", Seq((30L, "late")).toDF("id", "v"))
    val late = cat.bucketRefs("log")(4)
    val (_, lateJobs) = countJobs(cat.rewriteLog("log", id(_) == 30L)(set(30L, "c")))
    assert(lateJobs == 2, s"$lateJobs jobs")
    assert(!cat.bucketRefs("log").values.exists(Set(after(2), late)))
    assert(cat.bucketRefs("log")(0) == refs(0) && cat.bucketRefs("log")(3) == after(3))
    assert(rows.filter(_._1 == 30L).map(_._2).sorted == Seq("c", "c"))
    // every live ref is indexed now (a rewrite seeds its own): only the write runs
    val (_, warmJobs) = countJobs(cat.rewriteLog("log", id(_) == 3L)(set(3L, "d")))
    assert(warmJobs == 1, s"$warmJobs jobs")

    // a rewrite to zero rows drops its ref and writes nothing
    val n = cat.bucketRefs("log").size
    val gone = Set(1L, 10L)
    val (_, dropJobs) = countJobs(
      cat.rewriteLog("log", r => gone(id(r)))(_.filterNot(r => gone(id(r)))))
    assert(dropJobs == 0, s"$dropJobs jobs")
    assert(cat.bucketRefs("log").size == n - 1 && !cat.bucketRefs("log").contains(0))
    assert(rows.map(_._1).sorted == Seq(2L, 3L, 20L, 30L, 30L))
    // columns stay the table's: by count, by type, and by name and type
    // for a row that carries a schema, as the index's rows do
    intercept[IllegalArgumentException](
      cat.rewriteLog("log", id(_) == 2L)(_.map(r => Row(id(r)))))
    intercept[IllegalArgumentException](
      cat.rewriteLog("log", id(_) == 2L)(_.map(r => Row(id(r), 1))))
    val swapped = StructType(Seq(StructField("v", LongType), StructField("id", StringType)))
    intercept[IllegalArgumentException](cat.rewriteLog("log", id(_) == 2L)(_.map(r =>
      new GenericRowWithSchema(Array(id(r), r.getString(1)), swapped))))
    val indexed = cat.logViews("log", new Catalog.LogView[Seq[Row]](identity)).flatten
    assert(multiset(indexed.map(r => (id(r), r.getString(1)))) == multiset(rows))
  }

  test("compactLog folds adopted, appended and rewritten refs to the same multiset of rows") {
    val cat = new Catalog(spark, tmpDir("catfold"))
    cat.overwrite("log", Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v"))
    (1 to 20).foreach(i => cat.appendLog("log", Seq((i % 5L, s"r$i"), (1L, "a")).toDF("id", "v")))
    cat.rewriteLog("log", _.getAs[Long]("id") == 2L)(_.map(r =>
      if (r.getAs[Long]("id") == 2L) Row(2L, r.getString(1) + "!") else r))
    def rows = cat.read("log").as[(Long, String)].collect().toSeq
    val before = rows
    // 21 refs, less the 5 holding id 2 that the rewrite folded into one
    assert(cat.bucketRefs("log").size == 17 && before.size == 43)
    cat.compactLog("log")
    assert(cat.bucketRefs("log").size == 1)
    assert(multiset(rows) == multiset(before))
  }

  test("a registered but unmigrated bucket layout reads whole until rewrite migrates it") {
    val cat = new Catalog(spark, tmpDir("catunmigrated"))
    val n = 4
    val rows = (1 to 40).map(i => (i.toString, s"v$i"))
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.overwrite("t", rows.toDF("id", "v"))
    cat.registerBucketLayout("t", n)
    assert(!cat.hasBucketManifest("t"))
    val b7 = Seq("7").toDF("id").select(cat.bucketOf(Seq("id"), n)).as[Int].head()
    // no bucket exists yet: a point read filters the whole table and a
    // bucket read returns all of it
    assert(cat.lookupByPk("t", Seq("7")).as[(String, String)].collect().toSeq ==
      Seq("7" -> "v7"))
    assert(cat.readBuckets("t", Seq(b7)).as[(String, String)].collect().toSet == rows.toSet)
    intercept[IllegalStateException](cat.compact("t"))

    // the first rewrite migrates the whole table into the layout
    cat.rewrite("t", _ => Seq(b7))(
      _.withColumn("v", when($"id" === "7", lit("v7!")).otherwise($"v")))
    assert(cat.hasBucketManifest("t") && cat.bucketRefs("t").keySet == (0 until n).toSet)
    assert(cat.lookupByPk("t", Seq("7")).as[(String, String)].collect().toSeq ==
      Seq("7" -> "v7!"))
    assert(cat.read("t").count() == 40)

    // a bucket table whose every bucket was deleted reads empty and has
    // nothing to compact
    cat.rewrite("t", k => 0 until k)(_.limit(0))
    assert(cat.hasBucketManifest("t") && cat.bucketRefs("t").isEmpty)
    assert(cat.read("t").isEmpty && cat.read("t").columns.toSeq == Seq("id", "v"))
    assert(cat.lookupByPk("t", Seq("7")).isEmpty)
    assert(cat.compact("t") == Nil)
  }

  test("the key commit that leaves more than MaxFragments fragments folds them") {
    val cat = new Catalog(spark, tmpDir("catfold"))
    val n = 16
    cat.createIfAbsent("t", cat.allStringSchema(Seq("id", "v")), Seq("id"))
    cat.registerBucketLayout("t", n)
    val base = (1 to 64).map(i => i.toString -> "v").toMap
    cat.overwriteAllBuckets("t", base.toSeq.toDF("id", "v"))
    val bases = cat.bucketRefs("t")
    def upsert(i: Int): Unit =
      cat.upsertByKey("t", Seq((i.toString, s"u$i", 0L)).toDF("id", "v", "ord"), "ord")
    (1 to Catalog.MaxFragments).foreach(upsert)
    assert(cat.fragments("t").size == Catalog.MaxFragments && cat.bucketRefs("t") == bases)
    // at the bound a whole read names at most 32 paths, so no relation
    // lists its paths with a distributed job
    val (df, jobs) = countJobs(cat.read("t"))
    val paths = df.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          r: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        r.location.rootPaths.size
    }
    assert(jobs == 0 && paths.sum <= 32, s"$jobs jobs, paths $paths")
    val want = base ++ (1 to Catalog.MaxFragments + 1).map(i => i.toString -> s"u$i")
    upsert(Catalog.MaxFragments + 1)
    assert(cat.fragments("t").isEmpty && cat.bucketRefs("t") != bases)
    assert(cat.read("t").as[(String, String)].collect().toMap == want)
    assert(cat.read("t").count() == want.size)
  }

  test("time travel to flat and partitioned versions is pinned: no job, same rows") {
    val cat = new Catalog(spark, tmpDir("catttpin"), graceVersions = 8)
    val rows = (1 to 30).map(i => (i.toLong, s"v$i", i % 3))
    val df = rows.toDF("id", "v", "part")
    cat.overwrite("t", df)
    val flat = cat.currentVersion("t")
    cat.overwritePartitioned("t", df, Seq("part"))
    val partitioned = cat.currentVersion("t")
    cat.overwrite("t", df.limit(1))
    for (v <- Seq(flat, partitioned)) {
      val (got, jobs) = countJobs(cat.readVersion("t", v))
      assert(jobs == 0, s"readVersion of $v ran $jobs jobs")
      assert(got.columns.toSeq == Seq("id", "v", "part"))
      assert(got.as[(Long, String, Int)].collect().toSet == rows.toSet, v)
    }
  }
}
