package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class VectorIndexSpec extends SparkTestBase {
  import spark.implicits._

  // the fixture corpus (500 × 64-d embeddings with a label column)
  private def corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("persisted IVF index serves the same top-k as the in-memory path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfidx")
    // default build = the auto policy: ivfParamsFor(500) = 4 centroids
    VectorIndex.build(emb, "vec_id", "embedding", dir)
    val cents = VectorIndex.centroids(spark, dir)
    assert(cents.count() == VectorFunctions.ivfParamsFor(500))
    val queries = emb.filter($"vec_id" < 8)
    val served = VectorIndex.topK(spark, dir, queries, "vec_id", "embedding", 3)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    // the in-memory path over the SAME centroids must be identical,
    // not merely similar
    val inMem = VectorFunctions.ivfTopK(emb, queries, "vec_id", "embedding", 3,
        centroids = Some(cents))
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(served == inMem && served.nonEmpty)
  }

  test("incremental append serves identically to a full rebuild") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val first = emb.filter($"vec_id" < 400)
    val delta = emb.filter($"vec_id" >= 400)
    val incDir = tmpDir("ivfinc")
    VectorIndex.build(first, "vec_id", "embedding", incDir)
    VectorIndex.append(delta, "vec_id", "embedding", incDir)
    val fullDir = tmpDir("ivffull")
    VectorIndex.build(emb, "vec_id", "embedding", fullDir)
    // NOTE: build trains on the id-ordered sample (vec_id < 256 here),
    // identical for both indexes, so assignments — and results — match
    val queries = emb.filter($"vec_id" < 8)
    def serve(dir: String) =
      VectorIndex.topK(spark, dir, queries, "vec_id", "embedding", 3)
        .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Long)]
        .collect().toSet
    assert(serve(incDir) == serve(fullDir) && serve(incDir).nonEmpty)
  }

  test("compact rewrites each list to one file; serving is bit-identical") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfcompact")
    VectorIndex.build(emb.filter($"vec_id" < 200), "vec_id", "embedding", dir)
    VectorIndex.append(emb.filter($"vec_id" >= 200 && $"vec_id" < 350),
      "vec_id", "embedding", dir)
    VectorIndex.append(emb.filter($"vec_id" >= 350), "vec_id", "embedding", dir)
    val queries = emb.filter($"vec_id" < 8)
    def serve() =
      VectorIndex.topK(spark, dir, queries, "vec_id", "embedding", 3)
        .select($"query_id", $"neighbor_id", $"rank", $"cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    // files per list, resolved through the CURRENT manifest's
    // fragment refs (appends accumulate one fragment generation each)
    def listFiles() = VectorIndex.currentRefs(spark, dir).map {
      case (c, gs) => c -> gs.map(g => new java.io.File(
          new java.net.URI(s"file://$dir/$g/__cid=$c").getPath)
        .listFiles().count(_.getName.endsWith(".parquet"))).sum
    }
    val before = serve()
    val centsBefore = VectorIndex.centroids(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    // the two appends left multi-fragment refs — the O(batch) append
    // contract (a fragment generation per append, no rewrite)
    assert(VectorIndex.currentRefs(spark, dir).values.exists(_.size > 1),
      "fixture too small: appends left no fragmented list")
    assert(listFiles().values.exists(_ > 1))
    VectorIndex.compact(spark, dir)
    assert(listFiles().values.forall(_ == 1), s"${listFiles()}")
    // post-compact every list maps to ONE generation ref
    assert(VectorIndex.currentRefs(spark, dir).values.forall(_.size == 1))
    assert(serve() == before)
    // centroids (the frozen assignment function) untouched
    assert(VectorIndex.centroids(spark, dir)
      .collect().map(_.toString).sorted.toSeq == centsBefore)
  }

  test("two-level build with full coarse probe serves identically to flat build") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val flatDir = tmpDir("ivfflat")
    val twoDir = tmpDir("ivftwo")
    VectorIndex.build(emb, "vec_id", "embedding", flatDir)
    // auto k=4 -> 2 supers; probing 4 >= 2 makes the kernel EXACTLY
    // flat, so the on-disk lists and every serve must match
    VectorIndex.build(emb, "vec_id", "embedding", twoDir, coarseProbe = Some(4))
    val queries = emb.filter($"vec_id" < 8)
    def serve(d: String) =
      VectorIndex.topK(spark, d, queries, "vec_id", "embedding", 3)
        .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Long)]
        .collect().toSet
    assert(serve(twoDir) == serve(flatDir) && serve(twoDir).nonEmpty)
  }

  test("auto default routes large-k builds through the two-level kernel") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val autoDir = tmpDir("ivfauto64")
    val pinDir = tmpDir("ivfpin64")
    // k=64 = TwoLevelMinCentroids: the None default must take the
    // two-level probe-2 path — identical lists to an explicit Some(2)
    VectorIndex.build(emb, "vec_id", "embedding", autoDir, numCentroids = 64)
    VectorIndex.build(emb, "vec_id", "embedding", pinDir, numCentroids = 64,
      coarseProbe = Some(2))
    def lists(d: String) = VectorIndex.currentLists(spark, d)
      .select($"__cid".cast("long"), $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(lists(autoDir) == lists(pinDir) && lists(autoDir).nonEmpty)
  }

  test("filtered serve == filter-then-search; predicate pushed to the list scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivffilt")
    VectorIndex.build(emb, "vec_id", "embedding", dir, metaCols = Seq("label"))
    val queries = emb.filter($"vec_id" < 8)
    val got = VectorIndex.topKFiltered(spark, dir, queries,
        "vec_id", "embedding", 3, $"label" === 1)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    // deterministic assignment commutes with the filter, so serving
    // inside the index must EQUAL filtering the corpus then searching
    val cents = VectorIndex.centroids(spark, dir)
    val want = VectorFunctions.ivfTopK(emb.filter($"label" === 1), queries,
        "vec_id", "embedding", 3, centroids = Some(cents))
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == want && got.nonEmpty)
    // the metadata predicate lands in the parquet scan's PushedFilters
    val lists = VectorIndex.currentLists(spark, dir).filter($"label" === 1)
    val plan = lists.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label,1)"), s"predicate not pushed:\n$plan")
  }

  test("serving scans only the probed list partitions (structural pruning)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfprune")
    // explicit k=16 here: with auto's 4 lists the pruning assertion
    // would be vacuous (2 queries at nprobe=2 can probe all 4)
    VectorIndex.build(emb, "vec_id", "embedding", dir, numCentroids = 16)
    val cents = VectorIndex.centroids(spark, dir)
    // two queries at nprobe=2 probe at most 4 of the 16 lists
    val queries = emb.filter($"vec_id" < 2)
    val probed = VectorFunctions.ivfAssign(queries, "vec_id", "embedding",
        broadcast(cents), nprobe = 2)
      .select("__cid").distinct().as[Long].collect().toSet
    assert(probed.size <= 4)
    // the serve-path read resolves ONLY the probed lists' generation
    // dirs through the manifest — unprobed lists are never even listed,
    // so the relation's PLANNED input files all sit under probed dirs
    val pruned = VectorIndex.readLists(spark, dir, probed.toSeq)
    val planned = pruned.inputFiles
      .map(f => f.split("__cid=")(1).split("/")(0).toLong).toSet
    assert(planned.nonEmpty && planned.subsetOf(probed),
      s"planned $planned, probed $probed")
    val scannedCids = pruned.select(input_file_name()).distinct().as[String]
      .collect().map(f => f.split("__cid=")(1).split("/")(0).toLong).toSet
    assert(scannedCids == probed || scannedCids.subsetOf(probed),
      s"scanned $scannedCids, probed $probed")
    // and the pruned read returns exactly the probed lists' rows
    assert(pruned.count() == VectorIndex.currentLists(spark, dir)
      .filter($"__cid".isin(probed.toSeq.map(x => x: Any): _*)).count())
  }

  test("append to a metaCols index carries the metadata; filtered serve == rebuilt index") {
    // round-14 review finding: an append fragment that dropped the
    // build's metaCols made the cross-generation read of a filtered
    // index unresolvable (strict unionByName). The manifest now records
    // meta_cols and append attaches them, so a filtered serve after an
    // append equals a full rebuild.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val incDir = tmpDir("ivffiltinc")
    VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id", "embedding",
      incDir, metaCols = Seq("label"))
    VectorIndex.append(emb.filter($"vec_id" >= 300), "vec_id", "embedding",
      incDir)
    val fullDir = tmpDir("ivffiltfull")
    VectorIndex.build(emb, "vec_id", "embedding", fullDir,
      metaCols = Seq("label"))
    val queries = emb.filter($"vec_id" < 8)
    def serve(d: String) = VectorIndex.topKFiltered(spark, d, queries,
        "vec_id", "embedding", 3, $"label" === 1)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    // NOTE: both indexes train on the same id-ordered sample, so the
    // frozen assignment function matches and the serves must be equal
    assert(serve(incDir) == serve(fullDir) && serve(incDir).nonEmpty)
  }

  test("delete: serve == same-centroids filtered serve; compact purges; clash refuses") {
    // the takedown/PII-purge primitive. The exactness reference is
    // topKFiltered on the PRE-delete index (same frozen centroids,
    // candidates dropped in-scan) — NOT a rebuild-without, which
    // would retrain different centroids and legitimately differ.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfdel") + "/idx"
    VectorIndex.build(emb.filter($"vec_id" < 400), "vec_id", "embedding", dir)
    val queries = emb.filter($"vec_id" < 8)
    def serve() = VectorIndex
      .topK(spark, dir, queries, "vec_id", "embedding", 3)
      .collect().map(_.toString).sorted.toSeq
    val wantFull = serve()
    val wantWithout = VectorIndex.topKFiltered(spark, dir, queries,
        "vec_id", "embedding", 3, $"neighbor_id" % 5 =!= 1)
      .collect().map(_.toString).sorted.toSeq
    def nTombs() = GenIndex.readManifest(spark, dir, "t")
      .extras.get("n_tombstones").map(_.toLong)
    val dead = emb.filter($"vec_id" % 5 === 1 && $"vec_id" < 400)
      .select($"vec_id")
    VectorIndex.delete(dead, "vec_id", dir, commitId = Some("d1"))
    assert(serve() == wantWithout && wantWithout != wantFull,
      "delete must change the top-k or the test is weak")
    val nt = nTombs().get
    assert(nt == dead.count())
    // redelivered delete (same commitId): no-op
    VectorIndex.delete(dead, "vec_id", dir, commitId = Some("d1"))
    assert(nTombs().get == nt)
    // re-deleting already-dead ids under a NEW id: no-op by content
    VectorIndex.delete(dead, "vec_id", dir, commitId = Some("d2"))
    assert(nTombs().get == nt && serve() == wantWithout)
    // re-appending a TOMBSTONED id refuses with the compact hint
    // (id-level tombstones cannot express revival)
    val ex = intercept[IllegalStateException] {
      VectorIndex.append(emb.filter($"vec_id" % 5 === 1 && $"vec_id" < 10),
        "vec_id", "embedding", dir)
    }
    assert(ex.getMessage.contains("compact"))
    // compact PHYSICALLY purges: dead rows gone, tombstones dropped,
    // serve unchanged
    VectorIndex.compact(spark, dir)
    assert(serve() == wantWithout)
    assert(VectorIndex.currentLists(spark, dir)
      .filter($"neighbor_id" % 5 === 1).count() == 0)
    assert(GenIndex.readManifest(spark, dir, "t").refs("tombs").isEmpty)
    assert(nTombs().isEmpty)
    // post-purge the id is free again: re-append succeeds and serves
    VectorIndex.append(emb.filter($"vec_id" % 5 === 1 && $"vec_id" < 400),
      "vec_id", "embedding", dir)
    assert(serve() == wantFull)
    spark.catalog.clearCache()
  }

  test("delete survives an inline fold; retrain purges tombstones too") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfdelfold") + "/idx"
    VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id", "embedding", dir)
    val queries = emb.filter($"vec_id" < 8)
    def serve() = VectorIndex
      .topK(spark, dir, queries, "vec_id", "embedding", 3)
      .collect().map(_.toString).sorted.toSeq
    val dead = emb.filter($"vec_id" % 7 === 3 && $"vec_id" < 300)
      .select($"vec_id")
    VectorIndex.delete(dead, "vec_id", dir)
    assert(serve().nonEmpty)
    // appends of FRESH ids cross the fold threshold: the fold's
    // manifest must CARRY the tombstones or the delete un-deletes
    for (lo <- Seq(300, 350, 400, 450))
      VectorIndex.append(
        emb.filter($"vec_id" >= lo && $"vec_id" < lo + 50),
        "vec_id", "embedding", dir, autoCompactFragments = 2)
    assert(GenIndex.readManifest(spark, dir, "t").commitId
      .startsWith("fold_"), "precondition: a fold must have happened")
    assert(GenIndex.readManifest(spark, dir, "t").refs("tombs").nonEmpty,
      "tombstones must survive the fold")
    assert(VectorIndex.topK(spark, dir, queries, "vec_id", "embedding", 3)
      .join(dead.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_semi").count() == 0,
      "no deleted id may serve after the folds")
    // retrain = the other physical purge: trains on live rows only,
    // drops the tombstones
    VectorIndex.retrain(spark, dir)
    assert(GenIndex.readManifest(spark, dir, "t").refs("tombs").isEmpty)
    assert(VectorIndex.currentLists(spark, dir)
      .join(dead.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_semi").count() == 0)
    spark.catalog.clearCache()
  }

  test("append with a commitId no-ops on redelivery (at-least-once ingest)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfidem")
    VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id", "embedding", dir)
    val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    VectorIndex.append(batch, "vec_id", "embedding", dir,
      commitId = Some("b1"))
    val rows = VectorIndex.currentLists(spark, dir).count()
    val queries = emb.filter($"vec_id" < 8)
    def serve() = VectorIndex
      .topK(spark, dir, queries, "vec_id", "embedding", 3)
      .collect().map(_.toString).sorted.toSeq
    val want = serve()
    // the SAME batch redelivered under the SAME commit id: no-op — no
    // duplicate list rows, no inflated drift bookkeeping
    val driftBefore = VectorIndex.driftReport(spark, dir)
    VectorIndex.append(batch, "vec_id", "embedding", dir,
      commitId = Some("b1"))
    assert(VectorIndex.currentLists(spark, dir).count() == rows)
    assert(VectorIndex.driftReport(spark, dir) == driftBefore)
    assert(serve() == want)
    // a NEW commit id commits normally
    VectorIndex.append(emb.filter($"vec_id" >= 400), "vec_id", "embedding",
      dir, commitId = Some("b2"))
    val rows2 = VectorIndex.currentLists(spark, dir).count()
    assert(rows2 > rows)
    // multi-batch-back replay (r16): b1 redelivered AFTER b2 committed
    // must still no-op — the bounded append-id history remembers it
    // where a single last_append_id (now b2) would not, and the replay
    // would double-insert every vector and skew the drift accumulators
    val drift2 = VectorIndex.driftReport(spark, dir)
    VectorIndex.append(batch, "vec_id", "embedding", dir,
      commitId = Some("b1"))
    assert(VectorIndex.currentLists(spark, dir).count() == rows2)
    assert(VectorIndex.driftReport(spark, dir) == drift2)
  }

  test("appends past the fragment threshold auto-fold inline (bounded LSM fold)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfautocompact")
    VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id", "embedding", dir)
    // threshold 3: append2 crosses it (build ref + 2 fragments) and
    // folds the FRAGMENTS — the BOUNDED fold (r15 verdict item 5):
    // refs collapse to [first, folded], the build generation is never
    // rewritten, read amplification stays ≤ 2 files per probed list
    for (lo <- Seq(300, 350, 400, 450))
      VectorIndex.append(
        emb.filter($"vec_id" >= lo && $"vec_id" < lo + 50),
        "vec_id", "embedding", dir, autoCompactFragments = 3)
    val refs = VectorIndex.currentRefs(spark, dir)
    assert(refs.values.forall(_.size <= 2),
      s"${refs.values.map(_.size).toSeq.sorted}")
    assert(refs.values.filter(_.contains("lists_g0"))
      .forall(_.head == "lists_g0"),
      "the build generation must survive every fold as the first ref")
    assert(new java.io.File(s"$dir/lists_g0").exists())
    // content unharmed by the inline folds: serve == full rebuild
    // (trainer sample vec_id < 256 sits wholly inside the build half,
    // so the frozen assignment matches the rebuild's)
    val fullDir = tmpDir("ivfautofull")
    VectorIndex.build(emb, "vec_id", "embedding", fullDir)
    val queries = emb.filter($"vec_id" < 8)
    def serve(d: String) = VectorIndex
      .topK(spark, d, queries, "vec_id", "embedding", 3)
      .collect().map(_.toString).sorted.toSeq
    assert(serve(dir) == serve(fullDir) && serve(dir).nonEmpty)
  }

  test("drift stats: same-distribution appends ~1.0, a shifted append recommends retrain") {
    def mk(ids: Range, cx: Float, cy: Float) = ids.map { i =>
      val j1 = (((i * 31) % 10) - 5) / 50.0f
      val j2 = (((i * 17) % 10) - 5) / 50.0f
      (i.toLong, Array(cx + j1, cy + j2, 1.0f, 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("ivfdrift")
    VectorIndex.build(mk(0 until 200, 1f, 0f), "vec_id", "embedding", dir,
      numCentroids = 2)
    val r0 = VectorIndex.driftReport(spark, dir)
    assert(r0.nBuild == 200 && r0.nAppended == 0 && r0.driftRatio == 1.0 &&
      !r0.retrainRecommended)
    // a same-distribution append assigns as tightly as the build did:
    // ratio ≈ 1, well under the retrain threshold
    VectorIndex.append(mk(200 until 260, 1f, 0f), "vec_id", "embedding", dir)
    val r1 = VectorIndex.driftReport(spark, dir)
    assert(r1.nAppended == 60 && !r1.retrainRecommended &&
      r1.driftRatio < VectorIndex.DriftRetrainRatio,
      s"same-distribution drift ratio ${r1.driftRatio} should be ~1")
    // a genuinely shifted distribution sits far from every frozen
    // centroid — both the last-batch and cumulative ratios blow
    // through the threshold and the report recommends a retrain
    VectorIndex.append(mk(300 until 400, -1f, 4f), "vec_id", "embedding", dir)
    val r2 = VectorIndex.driftReport(spark, dir)
    assert(r2.nAppended == 160 &&
      r2.lastDriftRatio > VectorIndex.DriftRetrainRatio &&
      r2.driftRatio > VectorIndex.DriftRetrainRatio && r2.retrainRecommended,
      s"shifted append must trip the drift fence: $r2")
    // retrain re-derives centroids over the grown corpus as ONE new
    // generation and resets the baseline
    VectorIndex.retrain(spark, dir)
    val r3 = VectorIndex.driftReport(spark, dir)
    assert(r3.nBuild == 360 && r3.nAppended == 0 && !r3.retrainRecommended)
    // the retrained assignment describes the bimodal data better than
    // the frozen one did: its baseline mean-cos beats the pre-retrain
    // blended mean
    val blended = (r2.nBuild * r2.buildMeanCos +
      r2.nAppended * r2.appendedMeanCos) / (r2.nBuild + r2.nAppended)
    assert(r3.buildMeanCos > blended)
    assert(VectorIndex.topK(spark, dir, mk(0 until 3, 1f, 0f),
      "vec_id", "embedding", 3).count() > 0)
  }

  test("skew bookkeeping: a hot-list append recommends retrain while distances stay quiet") {
    // 8 tight clusters on 8 axes, cluster by id % 8 so the trainer's
    // id-ordered sample covers all of them: build max share ≈ 1/8
    def mkv(ids: Range, dimOf: Int => Int) = ids.map { i =>
      val d = dimOf(i)
      val v = Array.tabulate(8)(j =>
        0.01f * (((i * 13 + j) % 7) - 3))
      v(d) = v(d) + 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("ivfskew")
    VectorIndex.build(mkv(0 until 400, _ % 8), "vec_id", "embedding", dir,
      numCentroids = 8)
    val r0 = VectorIndex.driftReport(spark, dir)
    assert(r0.buildMaxShare < 0.3,
      s"balanced build expected, got max share ${r0.buildMaxShare}")
    // the hot batch: every vector TIGHT inside cluster 0's region —
    // its assigned distances match the build's (distance ratio quiet),
    // but all 100 rows pile into ONE frozen list (the failure the
    // distance metric structurally cannot see)
    VectorIndex.append(mkv(1000 until 1100, _ => 0), "vec_id", "embedding",
      dir)
    val r = VectorIndex.driftReport(spark, dir)
    assert(r.lastAppendMaxShare == 1.0, s"hot batch must land one list: $r")
    assert(r.driftRatio < VectorIndex.DriftRetrainRatio,
      s"distance trigger should stay quiet on a tight batch: $r")
    assert(r.lastSkewRatio > VectorIndex.SkewRetrainRatio &&
      r.retrainRecommended,
      s"skew trigger must catch the hot-list append: $r")
  }

  test("autoRetrainRatio: a drifted append re-trains inline under the same lock") {
    def mk(ids: Range, cx: Float, cy: Float) = ids.map { i =>
      val j1 = (((i * 31) % 10) - 5) / 50.0f
      val j2 = (((i * 17) % 10) - 5) / 50.0f
      (i.toLong, Array(cx + j1, cy + j2, 1.0f, 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("ivfautoretrain")
    VectorIndex.build(mk(0 until 200, 1f, 0f), "vec_id", "embedding", dir,
      numCentroids = 2)
    // the shifted batch would normally only RECORD drift; with the
    // opt-in threshold the append itself pays the retrain before
    // releasing the writer lock
    VectorIndex.append(mk(300 until 400, -1f, 4f), "vec_id", "embedding",
      dir, autoRetrainRatio = Some(VectorIndex.DriftRetrainRatio))
    val r = VectorIndex.driftReport(spark, dir)
    assert(r.nBuild == 300 && r.nAppended == 0 && !r.retrainRecommended,
      s"inline retrain must fold the append into a fresh baseline: $r")
    // the retrained centroids describe BOTH modes now: a query in the
    // appended region finds appended neighbors
    val got = VectorIndex.topK(spark, dir,
        mk(9000 until 9001, -1f, 4f), "vec_id", "embedding", 3)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(got.nonEmpty && got.forall(id => id >= 300 && id < 400), s"$got")
  }

  test("inline auto-retrain: pre-retrain readers keep their snapshot; redelivery no-ops") {
    // r15 verdict item 4 — the auto-retrain trigger on the PRODUCTION
    // ingest path: an at-least-once foreachBatch append that trips
    // autoRetrainRatio must (a) leave a concurrently-resolved serve
    // snapshot intact (the retrain commits centroids+lists as ONE new
    // generation and its trailing vacuum keeps the previous snapshot
    // inside the grace window), and (b) stay idempotent under
    // redelivery even though the manifest's own commitId is now
    // retrain_g{N} (the last_append_id extra survives the retrain's
    // extras rewrite).
    def mk(ids: Range, cx: Float, cy: Float) = ids.map { i =>
      val j1 = (((i * 31) % 10) - 5) / 50.0f
      val j2 = (((i * 17) % 10) - 5) / 50.0f
      (i.toLong, Array(cx + j1, cy + j2, 1.0f, 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("ivfautoretrainsnap")
    VectorIndex.build(mk(0 until 200, 1f, 0f), "vec_id", "embedding", dir,
      numCentroids = 2)
    // a reader resolves its (centroids, lists) snapshot NOW — one
    // manifest read pins a consistent pair
    val preQ = mk(9000 until 9001, 1f, 0f)
    val snap = VectorIndex.topK(spark, dir, preQ, "vec_id", "embedding", 3)
    val want = snap.collect().map(_.toString).sorted.toSeq
    // the shifted batch trips the skew trigger and retrains inline
    val batch = mk(300 until 400, -1f, 4f)
    VectorIndex.append(batch, "vec_id", "embedding", dir,
      commitId = Some("w1"),
      autoRetrainRatio = Some(VectorIndex.DriftRetrainRatio))
    val m = GenIndex.readManifest(spark, dir, "t")
    assert(m.commitId.startsWith("retrain_"),
      s"precondition: the append must have retrained, got ${m.commitId}")
    // (a) the pre-retrain frame still serves its snapshot bit-exactly
    assert(snap.collect().map(_.toString).sorted.toSeq == want)
    // (b) the redelivered batch is a no-op: same version, same rows
    val rows = VectorIndex.currentLists(spark, dir).count()
    VectorIndex.append(batch, "vec_id", "embedding", dir,
      commitId = Some("w1"),
      autoRetrainRatio = Some(VectorIndex.DriftRetrainRatio))
    assert(GenIndex.readManifest(spark, dir, "t").version == m.version)
    assert(VectorIndex.currentLists(spark, dir).count() == rows)
    // and a FRESH read serves the retrained state (both modes indexed)
    val got = VectorIndex.topK(spark, dir,
        mk(9100 until 9101, -1f, 4f), "vec_id", "embedding", 3)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(got.nonEmpty && got.forall(id => id >= 300 && id < 400), s"$got")
  }

  test("retrain equals a fresh build over the accumulated corpus") {
    // retrain re-trains from the index's OWN rows: same ids, same
    // vectors, same recorded policy as a from-scratch build over the
    // union corpus — so the deterministic trainer and the assignment
    // must reproduce that build bit-for-bit
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val incDir = tmpDir("ivfretraininc")
    VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id", "embedding",
      incDir, metaCols = Seq("label"))
    VectorIndex.append(emb.filter($"vec_id" >= 300), "vec_id", "embedding",
      incDir)
    VectorIndex.retrain(spark, incDir)
    val fullDir = tmpDir("ivfretrainfull")
    VectorIndex.build(emb, "vec_id", "embedding", fullDir,
      metaCols = Seq("label"))
    assert(VectorIndex.centroids(spark, incDir)
      .collect().map(_.toString).sorted.toSeq ==
      VectorIndex.centroids(spark, fullDir)
        .collect().map(_.toString).sorted.toSeq)
    val queries = emb.filter($"vec_id" < 8)
    def serve(d: String) = VectorIndex
      .topKFiltered(spark, d, queries, "vec_id", "embedding", 3,
        $"label" === 1)
      .collect().map(_.toString).sorted.toSeq
    assert(serve(incDir) == serve(fullDir) && serve(incDir).nonEmpty)
  }

  test("raw append into a PQ index refuses with the rebuild hint") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 200)
    val dir = tmpDir("ivfpqguard")
    VectorIndex.buildPq(emb, "vec_id", "embedding", dir, numCentroids = 4)
    // appending raw (neighbor_id, __cv) fragments into code-row lists
    // would silently corrupt serving — the flavor guard refuses
    val e = intercept[IllegalStateException](
      VectorIndex.append(emb.limit(5), "vec_id", "embedding", dir))
    assert(e.getMessage.contains("PQ") && e.getMessage.contains("buildPq"))
  }

  test("a reader opened mid-append serves the pre-append snapshot bit-exactly") {
    // THE r13 verdict item-1 property for the vector index: the old
    // layout appended files into LIVE list dirs, so a concurrent serve
    // could observe a torn batch (some lists updated, others not).
    // Generations: a frame that resolved its manifest paths keeps its
    // immutable snapshot while commits land; the manifest flip makes
    // each batch visible all-or-nothing.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfsnap")
    VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id", "embedding", dir)
    val queries = emb.filter($"vec_id" < 8)
    val snap = VectorIndex.topK(spark, dir, queries, "vec_id", "embedding", 5)
    val want = snap.collect().map(_.toString).sorted.toSeq
    VectorIndex.append(emb.filter($"vec_id" >= 300 && $"vec_id" < 400),
      "vec_id", "embedding", dir)
    VectorIndex.append(emb.filter($"vec_id" >= 400), "vec_id", "embedding", dir)
    assert(snap.collect().map(_.toString).sorted.toSeq == want,
      "mid-append reader must keep its pre-append snapshot")
    // a FRESH serve sees the appended vectors (all-or-nothing)
    val fresh = VectorIndex
      .topK(spark, dir, queries, "vec_id", "embedding", 5)
      .collect().map(_.toString).sorted.toSeq
    assert(fresh != want)
  }

  test("crash windows: orphan generations are vacuumed, a lost pointer is restored") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfcrash")
    VectorIndex.build(emb.filter($"vec_id" < 200), "vec_id", "embedding", dir)
    val queries = emb.filter($"vec_id" < 5)
    def serve() = VectorIndex
      .topK(spark, dir, queries, "vec_id", "embedding", 3)
      .collect().map(_.toString).sorted.toSeq
    val want = serve()
    // a crash before the flip leaves an orphan generation; the
    // committed snapshot is untouched and recover reclaims the orphan
    spark.range(3).toDF("junk").write.parquet(s"$dir/lists_g99/__cid=0")
    assert(serve() == want)
    VectorIndex.recover(spark, dir)
    assert(!new java.io.File(s"$dir/lists_g99").exists())
    assert(serve() == want)
    // torn pointer flip: reads fall back to the newest manifest;
    // recover re-materializes the pointer
    val cur = java.nio.file.Paths.get(dir, "_current")
    val v = java.nio.file.Files.readString(cur).trim
    java.nio.file.Files.delete(cur)
    assert(serve() == want)
    VectorIndex.recover(spark, dir)
    assert(java.nio.file.Files.readString(cur).trim == v)
    assert(serve() == want)
  }

  test("redelivery no-ops across an inline fold and across a retrain") {
    // r15 ADVICE item 2: an append that crosses autoCompactFragments
    // (or trips autoRetrainRatio) immediately commits compact_g{N}/
    // retrain_g{N} in the same call, so a commitId check against the
    // manifest's own commitId alone would re-insert the redelivered
    // batch (~1-in-AutoCompactFragments appends under at-least-once
    // delivery). The persisted last_append_id extra — carried through
    // compact AND retrain — closes the window.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfidemfold")
    VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id", "embedding", dir)
    val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    // threshold 2: this append folds inline, replacing its own commitId
    VectorIndex.append(batch, "vec_id", "embedding", dir,
      commitId = Some("b1"), autoCompactFragments = 2)
    assert(GenIndex.readManifest(spark, dir, "t").commitId
      .startsWith("fold_"),
      "precondition: the append must actually have folded")
    val rows = VectorIndex.currentLists(spark, dir).count()
    val drift = VectorIndex.driftReport(spark, dir)
    // the redelivered batch (crash before the checkpoint write): no-op
    VectorIndex.append(batch, "vec_id", "embedding", dir,
      commitId = Some("b1"), autoCompactFragments = 2)
    assert(VectorIndex.currentLists(spark, dir).count() == rows)
    assert(VectorIndex.driftReport(spark, dir) == drift)
    // a retrain between append and redelivery reopens the same window —
    // its extras rewrite must preserve last_append_id
    VectorIndex.retrain(spark, dir)
    VectorIndex.append(batch, "vec_id", "embedding", dir,
      commitId = Some("b1"), autoCompactFragments = 2)
    assert(VectorIndex.currentLists(spark, dir).count() == rows)
  }

  test("a rebuild at the same dir with metaCols serves a filtered query") {
    // a rebuild rewrites lists_g0 at the same paths with a new column; a
    // schema remembered by path would still lack it
    val (dir, fresh) = (tmpDir("ivfrebuildmeta"), tmpDir("ivfrebuildmetafresh"))
    val queries = corpus.filter($"vec_id" < 4)
    VectorIndex.build(corpus, "vec_id", "embedding", dir)
    assert(VectorIndex.topK(spark, dir, queries, "vec_id", "embedding", 3).count() == 12)
    VectorIndex.build(corpus, "vec_id", "embedding", dir, metaCols = Seq("label"))
    VectorIndex.build(corpus, "vec_id", "embedding", fresh, metaCols = Seq("label"))
    def filtered(d: String) = VectorIndex.topKFiltered(spark, d, queries,
        "vec_id", "embedding", 3, $"label" === 1)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(filtered(dir) == filtered(fresh) && filtered(fresh).size == 12)
    // the schema the build's write recorded is the one its footers hold
    val m = VectorIndex.store.current(spark, dir)
    val (k, gs) = m.refs("lists").head
    assert(GenIndex.footerDDL(spark, dir, m, "lists", "__cid", "") ==
      spark.read.parquet(s"$dir/${gs.head}/__cid=$k").schema.toDDL)
  }

  test("a rebuild at the same dir with other centroids serves them") {
    val (dir, fresh) = (tmpDir("ivfrebuildk"), tmpDir("ivfrebuildkfresh"))
    val queries = corpus.filter($"vec_id" < 8)
    def serve(d: String) = VectorIndex.topK(spark, d, queries, "vec_id", "embedding", 3,
        nprobe = 2).as[(Long, Long, Long, Double)].collect().toSet
    VectorIndex.build(corpus, "vec_id", "embedding", dir, numCentroids = 4)
    val before = serve(dir)
    VectorIndex.build(corpus, "vec_id", "embedding", dir, numCentroids = 6)
    VectorIndex.build(corpus, "vec_id", "embedding", fresh, numCentroids = 6)
    assert(VectorIndex.centroids(spark, dir).count() == 6)
    val after = serve(dir)
    assert(after == serve(fresh) && after.size == 24)
    assert(after != before, "4 and 6 centroids probed at 2 should serve differently")
  }

  test("serve ranks scores: duplicate queries and a re-appended vector rank once") {
    val dir = tmpDir("ivfdedup")
    VectorIndex.build(corpus.filter($"vec_id" < 200), "vec_id", "embedding", dir,
      numCentroids = 4)
    // ids 5 and 17 appended again with identical vectors: each is held twice
    VectorIndex.append(corpus.filter($"vec_id".isin(5, 17)), "vec_id", "embedding", dir)
    assert(VectorIndex.currentLists(spark, dir).filter(
      $"neighbor_id".isin(5, 17)).count() == 4)
    val q = corpus.filter($"vec_id".isin(5, 17, 40, 41))
      .withColumn("vec_id", $"vec_id" + 10000)
    val queries = q.union(q.filter($"vec_id" < 10020))
    val served = VectorIndex.topK(spark, dir, queries, "vec_id", "embedding", 3, nprobe = 2)
    val got = served.as[(Long, Long, Long, Double)].collect()
    // the reference: the vector-keyed distinct over the same candidates
    val probes = VectorFunctions.ivfAssign(queries, "vec_id", "embedding",
        VectorIndex.centroids(spark, dir), nprobe = 2)
      .select($"__aid".as("query_id"), $"__avec".as("__qv"), $"__cid")
    val want = HofReference.rankProbedByVector(
        probes.join(VectorIndex.currentLists(spark, dir), Seq("__cid")), 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.sorted.toSeq == want.sorted.toSeq && got.length == 12)
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length)
    // each duplicated id is its own query's top neighbour, once
    assert(got.filter(_._3 == 1).map(r => r._1 -> r._2).toSet
      .contains(10005L -> 5L) && got.exists(r => r._1 == 10017L && r._2 == 17L))
    // no vector reaches an aggregate key; the rank filter stays a
    // partial WindowGroupLimit
    val plan = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    plan.linesIterator.filter(_.contains("HashAggregate")).foreach(l =>
      assert(!l.contains("__qv") && !l.contains("__cv"), s"vector in a key: $l"))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("metaCols list files stay clustered on the metadata (no writer re-sort)") {
    // r15 ADVICE item 3: sorting within partitions by metaCols alone
    // left the dynamic-partition writer's required __cid ordering
    // unsatisfied, so it inserted its own sort on __cid — which can
    // destroy the metaCols row-group clustering topKFiltered's
    // metadata pruning depends on. With LEADING __cid the writer adds
    // nothing and every written file stays metadata-sorted.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("ivfmetasort")
    VectorIndex.build(emb, "vec_id", "embedding", dir,
      metaCols = Seq("label"))
    val files = VectorIndex.currentLists(spark, dir).inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      val labels = spark.read.parquet(f).select($"label")
        .as[Int].collect().toSeq
      assert(labels == labels.sorted,
        s"file $f not clustered on label: ${labels.take(20)}…")
    }
  }
}
