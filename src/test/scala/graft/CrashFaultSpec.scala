package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.sources.bus.BusLog

/** Crash-fault injection for the two two-phase commit protocols
  * (round-8 verdict item 3): kill each one BETWEEN its stage and its
  * visibility flip and prove (a) readers keep serving the last good
  * state, (b) restart/replay publishes nothing twice, (c) the next
  * successful commit is unaffected by the wreckage.
  *
  * Catalog: data dir + manifest materialize first, then the one-line
  * `_current` pointer flips (Catalog.scala commitManifest, the tail of
  * every commit, a key mutation's fragment commit included). BusWrite:
  * task writers stage under `.staging/`, the driver renames staged
  * files into live segments, streaming commits then append the epoch
  * ledger (BusWrite.scala commit protocol).
  */
class CrashFaultSpec extends SparkTestBase {
  import spark.implicits._

  test("appendLog crash after manifest, before pointer flip: last version stays live") {
    val root = tmpDir("crash_alog")
    val cat = new Catalog(spark, root)
    cat.appendLog("log", Seq(1L, 2L).toDF("id"))
    // simulate the dead writer: a COMPLETE staged commit (parquet with
    // _SUCCESS, manifest referencing itself + the live refs) whose
    // pointer flip never happened. Version name sorts NEWEST.
    val orphan = s"v9999999999999_deadcafe"
    val dir = Paths.get(root, "log", orphan)
    Seq(99L).toDF("id").write.mode("overwrite").parquet(dir.toString)
    val manifest =
      s"""{"schemaDDL":"id BIGINT","layout":"flat","buckets":{"0":"$orphan"},"fragments":[]}"""
    Files.writeString(dir.resolve("_manifest.json"), manifest)
    // pointer still names the good version: readers never see row 99
    assert(cat.read("log").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the next append commits exactly its batch — the crashed batch is
    // not resurrected into the manifest chain
    cat.appendLog("log", Seq(3L).toDF("id"))
    assert(cat.read("log").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("overwrite crash before its manifest: data with _SUCCESS is not a version") {
    val root = tmpDir("crash_nomanifest")
    val cat = new Catalog(spark, root)
    // the data job of a flat overwrite finished (`_SUCCESS` landed) but
    // the writer died before the manifest: not a committed version
    def crashedOverwrite(table: String, version: String): Unit = {
      val dir = Paths.get(root, table, version)
      Seq(("x", 9L)).toDF("k", "v").write.mode("overwrite").parquet(dir.toString)
      assert(Files.exists(dir.resolve("_SUCCESS")))
    }
    // a table's first commit: no pointer, so the table does not exist
    crashedOverwrite("first", "v1700000000000_deadbeef")
    assert(cat.versions("first").isEmpty && !cat.exists("first"))
    intercept[Exception](cat.read("first"))
    // beside a live version: versions omits it, reads keep the live one
    cat.overwrite("t", Seq(("a", 1L)).toDF("k", "v"))
    val live = cat.currentVersion("t")
    crashedOverwrite("t", "v9999999999999_deadbeef")
    assert(cat.versions("t") == Seq(live))
    // a pointer naming it fails loudly, naming the table and the version
    Files.writeString(Paths.get(root, "t", "_current"), "v9999999999999_deadbeef")
    Files.deleteIfExists(Paths.get(root, "t", "._current.crc")) // the local FS's sidecar
    val e = intercept[IllegalStateException](cat.read("t"))
    assert(e.getMessage.contains("table t") && e.getMessage.contains("v9999999999999_deadbeef"))
    // with no pointer the fallback finds the live version, never the crashed one
    Files.delete(Paths.get(root, "t", "_current"))
    assert(cat.read("t").as[(String, Long)].collect().toSeq == Seq(("a", 1L)))
    // and the next commits succeed on top of the debris
    cat.overwrite("first", Seq(("b", 2L)).toDF("k", "v"))
    cat.overwrite("t", Seq(("a", 3L)).toDF("k", "v"))
    assert(cat.read("first").as[(String, Long)].collect().toSeq == Seq(("b", 2L)))
    assert(cat.read("t").as[(String, Long)].collect().toSeq == Seq(("a", 3L)))
  }

  test("overwrite crash after manifest, before pointer flip: last version stays live") {
    val root = tmpDir("crash_flat")
    val cat = new Catalog(spark, root)
    cat.overwrite("t", Seq(("a", 1L)).toDF("k", "v"))
    val live = cat.currentVersion("t")
    // a complete staged flat commit whose pointer flip never ran, newer
    // than the live version
    val orphan = s"v${System.currentTimeMillis()}_deadcafe"
    val dir = Paths.get(root, "t", orphan)
    Seq(("x", 9L)).toDF("k", "v").write.mode("overwrite").parquet(dir.toString)
    Files.writeString(dir.resolve("_manifest.json"),
      s"""{"schemaDDL":"k STRING,v BIGINT","layout":"flat","buckets":{"0":"$orphan"},"fragments":[]}""")
    assert(cat.currentVersion("t") == live)
    assert(cat.read("t").as[(String, Long)].collect().toSeq == Seq(("a", 1L)))
    // the next commit lands and its vacuum reclaims the orphan
    cat.overwrite("t", Seq(("a", 2L)).toDF("k", "v"))
    assert(cat.read("t").as[(String, Long)].collect().toSeq == Seq(("a", 2L)))
    assert(!Files.exists(dir) && cat.versions("t") == Seq(cat.currentVersion("t")))
  }

  /** A keyed 2-bucket table holding one fragment and the rows it reads,
    * plus a crashed key commit's fragment dir (an upsert of k1 and k9,
    * with `_SUCCESS`) staged beside it.
    */
  private def crashedFragment(root: String): (Catalog, Set[(String, String)], String) = {
    val cat = new Catalog(spark, root)
    cat.createIfAbsent("t", cat.allStringSchema(Seq("k", "v")), Seq("k"))
    cat.registerBucketLayout("t", 2)
    cat.overwriteAllBuckets("t", Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"))
    cat.upsertByKey("t", Seq(("k2", "B", 0L)).toDF("k", "v", "ord"), "ord")
    val live = Set(("k1", "a"), ("k2", "B"))
    // newer than every live version, yet old enough for vacuum by the
    // next commit
    val orphan = s"v${System.currentTimeMillis() + 1}_deadf00d"
    Seq(("k1", "x", "U", 2, 0), ("k9", "y", "U", 2, 1))
      .toDF("k", "v", "__op", "__seq", "__b")
      .write.mode("overwrite").parquet(Paths.get(root, "t", orphan).toString)
    assert(Files.exists(Paths.get(root, "t", orphan, "_SUCCESS")))
    (cat, live, orphan)
  }

  private def rows(cat: Catalog): Set[(String, String)] =
    cat.read("t").as[(String, String)].collect().toSet

  test("key commit crash after its fragment dir, before its manifest: not a version") {
    val root = tmpDir("crash_frag")
    val (cat, live, orphan) = crashedFragment(root)
    val current = cat.currentVersion("t")
    assert(!cat.versions("t").contains(orphan) && cat.fragments("t").size == 1)
    assert(rows(cat) == live)
    Files.delete(Paths.get(root, "t", "_current"))
    assert(cat.currentVersion("t") == current && rows(cat) == live)
    // the next key commit lands on the live state and its vacuum
    // reclaims the orphan
    cat.upsertByKey("t", Seq(("k3", "c", 0L)).toDF("k", "v", "ord"), "ord")
    assert(rows(cat) == live + (("k3", "c")) && cat.fragments("t").size == 2)
    assert(!Files.exists(Paths.get(root, "t", orphan)))
  }

  test("key commit crash after its manifest, before the pointer flip: last version stays live") {
    val root = tmpDir("crash_fragptr")
    val (cat, live, orphan) = crashedFragment(root)
    val current = cat.currentVersion("t")
    val refs = cat.bucketRefs("t").map { case (b, d) => s""""$b":"$d"""" }.mkString(",")
    val frags = (cat.fragments("t") :+ orphan).map(f => s""""$f"""").mkString(",")
    Files.writeString(Paths.get(root, "t", orphan, "_manifest.json"),
      s"""{"schemaDDL":"k STRING,v STRING","layout":"buckets","buckets":{$refs},"fragments":[$frags]}""")
    assert(cat.versions("t").last == orphan && cat.currentVersion("t") == current)
    assert(rows(cat) == live && cat.fragments("t").size == 1)
    assert(cat.lookupByPk("t", Seq("k9")).isEmpty)
    // the next key commit builds on the pointer's manifest, not the
    // orphan's, and its vacuum reclaims the orphan
    cat.deleteByKey("t", Seq("k1").toDF("k"))
    assert(rows(cat) == Set(("k2", "B")) && cat.fragments("t").size == 2)
    assert(!Files.exists(Paths.get(root, "t", orphan)))
  }

  test("half-staged pointer tmp files are inert; a missing pointer falls back") {
    val root = tmpDir("crash_ptr")
    val cat = new Catalog(spark, root)
    cat.overwrite("t", Seq(("a", 1L)).toDF("k", "v"))
    cat.overwrite("t", Seq(("a", 2L)).toDF("k", "v"))
    // crash between tmp-pointer create and rename leaves `._current.tmp*`
    Files.writeString(Paths.get(root, "t", "._current.tmpdead1234"),
      "vGARBAGE_NOT_A_VERSION")
    assert(cat.read("t").as[(String, Long)].head() == ("a", 2L))
    // legacy two-step crash window: pointer deleted, rename never ran —
    // the newest COMMITTED version must serve (Catalog.scala fallback)
    Files.delete(Paths.get(root, "t", "_current"))
    assert(cat.read("t").as[(String, Long)].head() == ("a", 2L))
    // and the table still takes commits afterwards
    cat.overwrite("t", Seq(("a", 3L)).toDF("k", "v"))
    assert(cat.read("t").as[(String, Long)].head() == ("a", 3L))
  }

  test("bus: staged-but-uncommitted files publish nothing, ever") {
    val root = tmpDir("crash_bus")
    BusLog.create(root, 1)
    BusLog.publish(root, 0, Seq((1000L, "live1")))
    // simulate tasks that staged and a driver that died before the
    // rename pass: segment-format files sitting in .staging
    val staging = Paths.get(root, ".staging")
    Files.createDirectories(staging)
    Files.writeString(staging.resolve("stage-dead-1"),
      "0\t" + java.util.Base64.getEncoder.encodeToString(
        "ghost".getBytes(StandardCharsets.UTF_8)) + "\n")
    def values() = spark.read.format("graftbus").option("path", root).load()
      .select($"value").as[String].collect().sorted.toSeq
    assert(values() == Seq("live1"))
    // later successful publishes are unaffected and never sweep the
    // ghost into a live segment
    Seq((0, 0L, 0, new java.sql.Timestamp(0L), "live2"))
      .toDF("partition", "seq", "idx", "ts", "value")
      .write.format("graftbus").option("path", root).mode("append").save()
    assert(values() == Seq("live1", "live2"))
  }

  test("bus: epoch replayed after a lost commit marker publishes nothing twice") {
    val root = tmpDir("crash_epoch")
    val src = tmpDir("crash_epoch_src")
    val ckpt = tmpDir("crash_epoch_ckpt")
    BusLog.create(root, 1)
    Files.writeString(Paths.get(src, "a.json"),
      """{"v":"r1"}""" + "\n" + """{"v":"r2"}""" + "\n")
    def drain(): Unit = {
      val q = spark.readStream.schema("v string").json(src)
        .select(lit(0).as("partition"), lit(0L).as("seq"), lit(0).as("idx"),
          lit(new java.sql.Timestamp(0L)).as("ts"), $"v".as("value"))
        .writeStream.format("graftbus")
        .option("path", root).option("writerId", "crash_writer")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    // crash window: the sink committed (segments live, epoch in the
    // ledger) but the QUERY died before writing its commit marker —
    // Spark's restart contract re-executes the whole epoch. Simulate by
    // deleting the checkpoint's commit record for batch 0.
    val marker = Paths.get(ckpt, "commits", "0")
    assert(Files.exists(marker), s"expected commit marker at $marker")
    Files.delete(marker)
    // the local ChecksumFileSystem keeps a .crc sidecar; a real crash
    // loses both (the marker write is one atomic rename)
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    drain() // re-runs epoch 0: the ledger must swallow the replay
    val got = spark.read.format("graftbus").option("path", root).load()
      .select($"value").as[String].collect().sorted.toSeq
    assert(got == Seq("r1", "r2"), s"replay duplicated records: $got")
  }
}
