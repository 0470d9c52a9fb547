package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog!"), // near-dup of 0
    (2L, "completely different content about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "ab"), // shorter than shingle width
    (5L, "")
  ).toDF("doc_id", "text")

  test("CharNgramSet equals array_distinct(transform(...)) formulation") {
    val norm = TextFunctions.normalize($"text")
    val got = docs.select(
      TextFunctions.distinctCharNgrams(norm, 3).as("fast"),
      array_distinct(TextFunctions.charNgrams(norm, 3)).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
  }

  test("MinHashSig equals the HOF affine-permutation formulation") {
    val sh = TextFunctions.distinctCharNgrams(TextFunctions.normalize($"text"), 3)
    val got = docs.filter(size(sh) > 0).select(
      Dedup.minhashSignature(sh, 16).as("fast"),
      Dedup.minhashSignatureFromHashes(Dedup.shingleBaseHashes(sh), 16).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
    // empty shingle set → null signature (like array_min of empty)
    assert(docs.filter(size(sh) === 0)
      .select(Dedup.minhashSignature(sh, 16)).collect().forall(_.isNullAt(0)))
  }

  test("CharNgramHashSet equals the shingle-then-hash-then-dedup chain") {
    val norm = TextFunctions.normalize($"text")
    val got = docs.select(
      TextFunctions.distinctCharNgramHashes(norm, 3).as("fast"),
      sort_array(array_distinct(Dedup.shingleBaseHashes(
        TextFunctions.distinctCharNgrams(norm, 3)))).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
  }

  test("WordNgramHashSet equals the gram-then-hash-then-dedup chain") {
    val got = docs.select(
      TextFunctions.wordNgramHashes($"text", 5).as("fast"),
      sort_array(array_distinct(transform(
        TextFunctions.wordNgrams($"text", 5),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
    // below-n token counts → empty set, like wordNgrams' guard
    assert(Seq("a b c", "", "one").toDF("text")
      .select(TextFunctions.wordNgramHashes($"text", 5).as("h"))
      .collect().forall(_.getSeq[Long](0).isEmpty))
  }

  test("WordChunkHashes equals the chunk-then-hash chain, order kept") {
    val got = docs.select(
      TextFunctions.wordChunkHashes($"text", 4).as("fast"),
      transform(TextFunctions.wordChunks($"text", 4),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
    assert(Seq("a b c", "").toDF("text")
      .select(TextFunctions.wordChunkHashes($"text", 4).as("h"))
      .collect().forall(_.getSeq[Long](0).isEmpty))
  }

  test("fused word hashes skip null tokens like array_join, no NPE") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // the functions are SQL-registered, so arbitrary arrays (not just
    // split() output) reach them — a null element must hash like the
    // reference chain's array_join (skipped, single separator), not NPE
    val arr = array(lit("a"), lit(null).cast("string"), lit("b"), lit("c"))
    def ng(c: org.apache.spark.sql.Column) = ColumnBridge.column(
      expressions.WordNgramHashSet(ColumnBridge.expression(c), 2))
    def ch(c: org.apache.spark.sql.Column) = ColumnBridge.column(
      expressions.WordChunkHashes(ColumnBridge.expression(c), 4))
    def h(s: String) = conv(substring(md5(lit(s)), 1, 15), 16, 10).cast("long")
    val got = spark.range(1).select(
      ng(arr).as("grams"),
      ch(arr).as("chunks"),
      sort_array(array_distinct(array(h("a"), h("b"), h("b c")))).as("grams_ref"),
      array(h("a b c")).as("chunks_ref"))
    assert(got.filter(not($"grams" <=> $"grams_ref")).isEmpty &&
      got.filter(not($"chunks" <=> $"chunks_ref")).isEmpty)
  }

  test("MinHashSigFromHashes equals MinHashSig on the distinct hash sets") {
    // the minhash min is invariant to dedup/sort of the base hashes, so
    // the digest-free signature over the materialized verification sets
    // must be bit-identical to the from-shingles signature
    val sh = TextFunctions.distinctCharNgrams(TextFunctions.normalize($"text"), 3)
    val got = docs.filter(size(sh) > 0).select(
      Dedup.minhashSignatureFromHashesFast(
        sort_array(array_distinct(Dedup.shingleBaseHashes(sh))), 16).as("fast"),
      Dedup.minhashSignature(sh, 16).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
  }

  test("SimHash16 equals the HOF formulation; dups collide, others differ") {
    val got = docs.filter(length($"text") > 0).select(
      $"doc_id",
      Dedup.simhash16($"text").as("fast"),
      Dedup.simhash16Hof($"text").as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
    val m = got.select($"doc_id", $"fast").as[(Long, Int)].collect().toMap
    assert(m(0L) == m(3L))
    assert(m(0L) != m(2L))
  }

  test("JaccardLongSets equals the array_intersect formulation") {
    val sets = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(5L), Seq(5L)),
      (Seq.empty[Long], Seq(1L)))
      .toDF("a", "b")
    val got = sets.select(
      Dedup.jaccardLongSets($"a", $"b").as("fast"),
      coalesce(Dedup.jaccard($"a", $"b"), lit(0.0)).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
  }

  test("ContainmentLongSets equals the array_intersect/least formulation") {
    val sets = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),      // 2/3
      (Seq(1L, 2L), Seq(1L, 2L, 3L, 4L, 5L)),  // full containment, 1.0
      (Seq(1L, 2L), Seq(3L, 4L)),              // disjoint, 0.0
      (Seq(5L), Seq(5L)),
      (Seq.empty[Long], Seq(1L)))               // min-size 0 -> 0.0
      .toDF("a", "b")
    val ref = try_divide(size(array_intersect($"a", $"b")).cast("double"),
      least(size($"a"), size($"b")))
    val got = sets.select(
      Dedup.containmentLongSets($"a", $"b").as("fast"),
      coalesce(ref, lit(0.0)).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
    // asymmetry: the small set fully inside the big one scores 1.0
    assert(sets.select(Dedup.containmentLongSets($"a", $"b")).collect()
      .map(_.getDouble(0)).toSeq(1) == 1.0)
  }

  /** Independent Scala reimplementation of the 60-bit SimHash (shared
    * by the interpreted and codegen-only equivalence tests).
    */
  private def simhash60Ref(text: String): Long = {
    val toks = text.trim.split("\\s+")
    val md = java.security.MessageDigest.getInstance("MD5")
    val ones = new Array[Int](60)
    toks.foreach { t =>
      md.reset()
      val d = md.digest(t.getBytes("UTF-8"))
      val hex = d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15)
      val v = java.lang.Long.parseLong(hex, 16)
      (0 until 60).foreach(j => if (((v >> j) & 1L) == 1L) ones(j) += 1)
    }
    (0 until 60).foldLeft(0L)((acc, j) =>
      if (2 * ones(j) > toks.length) acc | (1L << j) else acc)
  }

  test("SimHash60 matches an independent reimplementation; dups collide") {
    val texts = docs.filter(length($"text") > 0).select("text").as[String].collect()
    val got = docs.filter(length($"text") > 0)
      .select($"text", Dedup.simhash60($"text")).as[(String, Long)].collect().toMap
    texts.foreach(t => assert(got(t) == simhash60Ref(t), s"mismatch for '$t'"))
  }

  test("signature expressions survive CODEGEN-ONLY mode, equal their twins") {
    // fallback off: a broken doGenCode in MinHashSig / SimHash16 /
    // SimHash60 / LshPlaneSignatures throws instead of silently
    // reverting to interpreted eval
    val old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val sh = TextFunctions.distinctCharNgrams(TextFunctions.normalize($"text"), 3)
      val mh = docs.filter(size(sh) > 0).select(
        Dedup.minhashSignature(sh, 16).as("fast"),
        Dedup.minhashSignatureFromHashes(Dedup.shingleBaseHashes(sh), 16).as("ref"))
      assert(mh.filter(not($"fast" <=> $"ref")).isEmpty)
      // empty shingle set → null signature, also under codegen
      assert(docs.filter(size(sh) === 0)
        .select(Dedup.minhashSignature(sh, 16)).collect().forall(_.isNullAt(0)))

      val s16 = docs.filter(length($"text") > 0).select(
        Dedup.simhash16($"text").as("fast"),
        Dedup.simhash16Hof($"text").as("ref"))
      assert(s16.filter(not($"fast" <=> $"ref")).isEmpty)

      docs.filter(length($"text") > 0)
        .select($"text", Dedup.simhash60($"text")).as[(String, Long)].collect()
        .foreach { case (t, got) =>
          assert(got == simhash60Ref(t), s"simhash60 codegen mismatch for '$t'") }

      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(100)
      val lsh = emb.select(
        VectorFunctions.lshTableSignatures($"embedding", 4, 4).as("fast"),
        HofReference.lshTableSignatures($"embedding", 4, 4).as("ref"))
      assert(lsh.filter(not($"fast" <=> $"ref")).isEmpty)

      val mf = docs.select(
        TextFunctions.maxTokenFreq($"text").as("fast"),
        HofReference.maxTokenFreq($"text").as("ref"))
      assert(mf.filter(not($"fast" <=> $"ref")).isEmpty)

      val mhh = docs.filter(size(sh) > 0).select(
        Dedup.minhashSignatureFromHashesFast(
          sort_array(array_distinct(Dedup.shingleBaseHashes(sh))), 16).as("fast"),
        Dedup.minhashSignatureFromHashes(Dedup.shingleBaseHashes(sh), 16).as("ref"))
      assert(mhh.filter(not($"fast" <=> $"ref")).isEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", old)
  }

  test("TokenMaxFreq equals the quadratic HOF formulation") {
    val got = docs.select(
      $"doc_id",
      TextFunctions.maxTokenFreq($"text").as("fast"),
      HofReference.maxTokenFreq($"text").as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
    // "the" appears twice in doc 0
    val m = got.select($"doc_id", $"fast").as[(Long, Int)].collect().toMap
    assert(m(0L) == 2)
  }

  test("near-dup broadcast is size-gated: disabled threshold plans shuffle join") {
    def plan(): String = Dedup
      .nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    // small corpus + default threshold → the hash-set side broadcasts
    assert(plan().contains("BroadcastHashJoin"))
    // threshold disabled (stand-in for "estimate exceeds threshold" at
    // corpus scale) → no broadcast hint is applied and the verification
    // joins shuffle on id — the 100 TB-safe plan
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(!plan().contains("BroadcastHashJoin"))
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("LSH band self-join reuses one exchange; signature pipeline runs once") {
    // the merge hint must turn the self-join's broadcast build (which
    // would re-run the md5-heavy signature pipeline AND broadcast the
    // corpus at scale) into a shuffle join whose two identical
    // exchanges collapse into one reused stage. A lingering cache from
    // another test would wrap the sides in TableCacheQueryStages, which
    // AQE does not canonicalize as equal — clear it to pin the real
    // (scan-fed) plan shape Bench sees.
    spark.catalog.clearCache()
    val df = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
    df.collect() // execute through df's own QueryExecution → final AQE plan
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") ||
      finalPlan.contains("ReusedQueryStage"), s"no exchange reuse in:\n$finalPlan")
    assert(!finalPlan.contains("BroadcastHashJoin"),
      "band self-join must not broadcast a corpus-wide side")
  }

  test("band-bucket cap bounds pathological candidates, keeps real pairs") {
    // 120 boilerplate-identical docs collide into ONE bucket per band:
    // uncapped LSH emits all 120·119/2 pairs — the quadratic blowup a
    // template-heavy crawl produces at scale. Capping degrades those
    // buckets to O(pop) star pairs (the clique stays connected — it
    // shares the same key in EVERY band, so nothing else could rescue
    // it) while a genuine near-dup pair (bucket population 2) survives
    // all-pairs, and the population count must ride the self-join's own
    // (__b, __key) Exchange, not add a second one.
    spark.catalog.clearCache()
    val template = (0L until 120L).map(i =>
      (i, "shared boilerplate template header repeated across the whole crawl"))
    val real = Seq(
      (500L, "a genuinely unique document about distributed query planning"),
      (501L, "a genuinely unique document about distributed query planning!"))
    val corpus = (template ++ real).toDF("doc_id", "text")

    val uncapped = Dedup.minhashCandidatePairs(corpus, "doc_id", "text").count()
    assert(uncapped >= 120L * 119 / 2, s"expected quadratic blowup, got $uncapped")

    val capped = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      maxBucket = Some(10))
    // execute the inspected frame itself: ReuseExchange collapses the
    // two band-key exchanges at AQE time, not in the initial plan
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet.contains((500L, 501L)), "capped LSH lost a real pair")
    // linear, not quadratic: 119 star pairs for the template clique
    // (every member reachable from doc 0) plus the one real pair
    assert(pairs.length == 120,
      s"cap must bound the template bucket to star pairs: ${pairs.length} candidates")
    val starred = pairs.toSet
    assert((1L until 120L).forall(i => starred.contains((0L, i))),
      "star pairs must keep every clique member connected to the bucket min")

    val plan = capped.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the capped path is bucket-aggregated: ONE exchange at bucket
    // cardinality feeds the collect_list aggregate and pairs expand
    // in-plan — no banded self-join, no window annotate (measured 3.0×
    // over the sort-merge shape at the 100× probe, identical pairs)
    assert(!plan.contains("SortMergeJoin"),
      s"capped candidates must not self-join the banded rows:\n$plan")
    assert(plan.contains("collect_list"),
      s"bucket aggregation missing from the capped plan:\n$plan")
    // a ReusedExchange line repeats the referenced exchange's text —
    // count only real Exchange operators
    val realExchanges = plan.linesIterator
      .filterNot(_.contains("ReusedExchange"))
      .count(_.contains("Exchange hashpartitioning(__b"))
    assert(realExchanges == 1,
      s"capped path must shuffle the banded rows exactly once:\n$plan")
  }

  test("simhash near-dup pairs find the exact dup at distance 0") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 3)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("near-dup pipeline finds planted pairs, not the distinct doc") {
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("UnicodeNormalize: NFC composes, NFKC folds compatibility forms") {
    val df = Seq(("café", "café", "ﬁn １")).toDF("dec", "comp", "compat")
    val r = df.select(
      TextFunctions.unicodeNormalize($"dec", "NFC").as("nfc"),
      ($"dec" === $"comp").as("raw_eq"),
      (TextFunctions.unicodeNormalize($"dec", "NFC") === $"comp").as("nfc_eq"),
      (TextFunctions.unicodeFingerprint($"dec") === TextFunctions.unicodeFingerprint($"comp")).as("fp_eq"),
      TextFunctions.unicodeNormalize($"compat", "NFKC").as("nfkc")).head()
    assert(!r.getAs[Boolean]("raw_eq"), "decomposed must differ byte-wise")
    assert(r.getAs[Boolean]("nfc_eq") && r.getAs[Boolean]("fp_eq"))
    assert(r.getAs[String]("nfc") == "café")
    assert(r.getAs[String]("nfkc") == "fin 1", "NFKC must fold ligature + full-width")
  }

  test("connectedComponents folds chains and keeps singletons") {
    // chain 1-2-3-4 has diameter 3: the min label needs three
    // propagation rounds to reach the far end, exercising the loop
    // (a single-round bug still passes star-shaped clusters)
    val nodes = (0L to 6L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("pointerJump converges in O(log diameter) where plain propagation cannot") {
    // a 41-node chain has diameter 40: plain min-label propagation
    // needs 40 rounds and must throw cleanly at the default 20 — this
    // drives 20 full rounds, the regression case for the exponential
    // logical-plan growth that used to OOM the driver before rounds
    // were lineage-truncated with localCheckpoint. Pointer doubling
    // halves the path each round and converges well inside the budget.
    val nodes = (0L to 40L).toDF("id")
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, edges)
    }
    val cc = Dedup.connectedComponents(nodes, edges, pointerJump = true)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 41 && cc.values.forall(_ == 0L))
    // same answer as plain propagation on a graph both can solve
    val n2 = (0L to 6L).toDF("id")
    val e2 = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(n2, e2, pointerJump = true)
      .as[(Long, Long)].collect().toMap ==
      Dedup.connectedComponents(n2, e2).as[(Long, Long)].collect().toMap)
  }

  test("exact-dedup fingerprint is whitespace/case insensitive") {
    val fp = Seq("A  b\tc", "a b c", "x").toDF("t")
      .select(TextFunctions.fingerprint($"t")).as[String].collect()
    assert(fp(0) == fp(1) && fp(0) != fp(2))
  }

  test("language-id picks marker-dominant language deterministically") {
    val got = Seq(
      "the cat and the dog of it", "el gato y la casa de madera",
      "der hund und die katze", "xyzzy plugh")
      .toDF("t").select(TextFunctions.languageId($"t")).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de", "unknown"))
  }

  test("cosine: parallel vectors 1.0, orthogonal 0.0; brute-force topk ranks") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)),
      (2L, Array(0.0f, 3.0f)), (3L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cos = emb.filter($"vec_id" === 0).crossJoin(
        emb.filter($"vec_id" === 1).select($"embedding".as("e2")))
      .select(VectorFunctions.cosine($"embedding", $"e2")).as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12)
    val top = VectorFunctions.bruteForceTopK(emb, emb.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 3)
      .select($"neighbor_id", $"rank").as[(Long, Long)].collect().toMap
    assert(top.toSeq.sortBy(_._2).map(_._1) == Seq(1L, 3L, 2L).zipWithIndex
      .map { case (id, i) => (id, i + 1) }.map(_._1))
  }

  test("LshPlaneSignatures equals the HOF zip_with/aggregate formulation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    val got = emb.select(
      VectorFunctions.lshTableSignatures($"embedding", 4, 4).as("fast"),
      HofReference.lshTableSignatures($"embedding", 4, 4).as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
  }

  test("CosineSimilarity expression is bit-identical to the HOF form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.limit(50).select($"vec_id".as("ia"), $"embedding".as("va"))
      .crossJoin(emb.limit(50).select($"vec_id".as("ib"), $"embedding".as("vb")))
    val got = pairs.select(
      VectorFunctions.cosine($"va", $"vb").as("fast"),
      HofReference.cosine($"va", $"vb").as("ref"))
    assert(got.filter(not($"fast" <=> $"ref")).isEmpty)
  }

  test("hot expressions survive CODEGEN-ONLY mode; mismatched lengths -> null") {
    // fallback off: a broken doGenCode throws instead of silently
    // reverting to interpreted eval
    val old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val vecs = Seq(
        (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f), Array(1L, 2L, 3L), Array(2L, 3L, 4L)),
        (Array(1.0f, 0.0f), Array(0.0f, 1.0f), Array(5L), Array(5L))
      ).toDF("a", "b", "sa", "sb")
      val r = vecs.select(
        VectorFunctions.cosine($"a", $"b").as("cos"),
        HofReference.cosine($"a", $"b").as("cosRef"),
        Dedup.jaccardLongSets(sort_array($"sa"), sort_array($"sb"),
          assumeSorted = true).as("jac"),
        Dedup.jaccard($"sa", $"sb").as("jacRef"))
      assert(r.filter(not($"cos" <=> $"cosRef") || not($"jac" <=> $"jacRef")).isEmpty)

      // length mismatch: null, matching the HOF twin's zip_with-pads-null
      val mism = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
        .toDF("a", "b")
        .select(VectorFunctions.cosine($"a", $"b").as("fast"),
          HofReference.cosine($"a", $"b").as("ref"))
      assert(mism.filter($"fast".isNotNull || $"ref".isNotNull).isEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", old)
  }

  test("FrequentTokens sketch is a bounded superset of exact heavy hitters") {
    // Zipf-ish corpus with a long rare tail: 10 head tokens with known
    // counts (1000/2, 1000/3, ...) + 500 singletons. Exact heavy
    // hitters (count > total/(capacity+1)) must all appear in the
    // sketch, the sketch never exceeds its capacity, and reported
    // counts never underestimate — SpaceSaving's three guarantees,
    // exercised across partitions (the merge path).
    val head = (0 until 10).flatMap(i => Seq.fill(1000 / (i + 2))(s"head_$i"))
    val tail = (0 until 500).map(i => s"rare_$i")
    val corpus = new scala.util.Random(42).shuffle(head ++ tail)
    val toks = spark.createDataset(corpus).repartition(4)

    val capacity = 20
    val total = corpus.size.toLong
    val trueCounts = corpus.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val exactHeavy = trueCounts.filter(_._2 * (capacity + 1) > total).keySet
    assert(exactHeavy.nonEmpty && exactHeavy.size < capacity)

    val sketch = toks.select(new FrequentTokens(capacity).toColumn).head()
    assert(sketch.size <= capacity, s"capacity violated: ${sketch.size}")
    val sketchMap = sketch.toMap
    assert(exactHeavy.subsetOf(sketchMap.keySet),
      s"lost heavy hitters: ${exactHeavy -- sketchMap.keySet}")
    exactHeavy.foreach { t =>
      assert(sketchMap(t) >= trueCounts(t),
        s"$t underestimated: ${sketchMap(t)} < ${trueCounts(t)}")
    }
  }

  test("FrequentTokens merge charges one-sided tokens the other side's floor") {
    // A token absent from a FULL summary may have been evicted there
    // with count up to that summary's minimum counter — the merge must
    // add that floor (Agarwal et al. mergeable-summaries compensation)
    // or a token that lost mass to an eviction gets underestimated.
    val agg = new FrequentTokens(2)
    val a = Map("x" -> 2L, "y" -> 1L) // full: floor 1
    val b = Map("z" -> 2L, "w" -> 1L) // full: floor 1
    // x: 2 + b's floor 1 = 3; z: 2 + a's floor 1 = 3; y/w: 2 each, cut
    assert(agg.merge(a, b) == Map("x" -> 3L, "z" -> 3L))
    // a below-capacity summary never evicted — its floor is 0
    val small = Map("z" -> 5L) // size 1 < capacity: floor 0
    // z: 5 + a's floor 1 = 6; x: 2 + 0 = 2; y: 1 + 0 = 1, cut
    assert(agg.merge(a, small) == Map("z" -> 6L, "x" -> 2L))
  }

  test("TopKByScore aggregator matches the rank-window top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val scored = VectorFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 500)
      .select($"query_id", $"neighbor_id", $"cos") // un-truncated scores
    val windowed = VectorFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 3)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    val agg = new TopKByScore(3).toColumn
    val viaAgg = scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("topk"))
      .flatMap { case (q, top) =>
        top.zipWithIndex.map { case ((id, _), i) => (q, id, (i + 1).toLong) } }
      .collect().toSet
    assert(viaAgg == windowed)
  }

  test("IVF ANN recall vs brute force on real embeddings (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val exact = VectorFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = VectorFunctions.ivfTopK(emb, queries, "vec_id", "embedding", 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall collapsed — bucketing broken?")
  }

  test("trained IVF centroids beat first-N ids on skewed data") {
    // Skewed corpus: ids 0..199 form one tight cluster (so "first 16
    // ids" centroids are 16 near-copies of the same direction), ids
    // 200..399 spread over four other orthogonal clusters. Cluster
    // identity lives in dims 0..4, deterministic per-id jitter in dims
    // 5..31 — so a cross-cluster cosine is pure jitter noise and the 16
    // degenerate first-N centroids scatter each outer cluster across
    // arbitrary lists, while spread centroids keep clusters whole.
    val dims = 32
    def vec(center: Int, id: Long): Array[Float] = {
      val v = new Array[Float](dims)
      var j = 5
      while (j < dims) {
        // well-mixed deterministic jitter — (id*31+j)%7 would yield only
        // 7 distinct jitter vectors and make top-k neighbors exact
        // jitter-clones that always co-assign
        var u = id * 2654435761L + j * 97003L
        u = (u ^ (u >>> 13)) * 1099511628211L
        v(j) = 0.05f * ((math.floorMod(u, 7L)).toInt - 3)
        j += 1
      }
      v(center) = 1.0f
      v
    }
    val rows = (0L until 200L).map(i => (i, vec(0, i))) ++
      (200L until 400L).map(i => (i, vec(1 + ((i - 200) / 50).toInt, i)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" >= 200 && $"vec_id" % 50 === 0)
    val exact = VectorFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(cents: Option[org.apache.spark.sql.DataFrame]): Double = {
      val got = VectorFunctions.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        numCentroids = 16, nprobe = 4, centroids = cents)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      (exact & got).size.toDouble / exact.size
    }
    val firstN = recallOf(Some(
      VectorFunctions.firstNCentroids(emb, "vec_id", "embedding", 16)))
    val trained = recallOf(None)
    // deterministic data → deterministic recalls: 0.25 vs 0.8. The
    // degenerate centroids scatter each outer cluster across arbitrary
    // lists (pure jitter-noise assignment); trained centroids keep
    // clusters whole, 3.2× the recall at the same probe budget.
    info(s"first-N recall: $firstN, trained recall: $trained")
    assert(trained >= firstN + 0.3,
      s"trained recall $trained not well above first-N recall $firstN")
    assert(trained >= 0.75, s"trained recall $trained below 0.75")
  }

  test("observed metrics match a separate aggregation pass, zero extra scan") {
    // telemetry counters ride the frame's own execution: materialize
    // the observed curation gate ONCE, then check the accumulated
    // counts against an independent groupBy over the same frame
    val gate = graft.SparkEntry.queries("t18_curation_gate")(
      spark, "/root/testdata/sf0.001")
    val reasons = Seq("lang_unknown", "length", "repetitive", "pii", "kept")
    val (observed, obs) = ObservedMetrics.observeCuration(gate, reasons)
    observed.write.format("noop").mode("overwrite").save()
    val got = obs.get
    val expected = gate.groupBy($"reason").count()
      .as[(String, Long)].collect().toMap
    assert(got("n_docs") == expected.values.sum)
    reasons.foreach { r =>
      assert(got(s"n_$r") == expected.getOrElse(r, 0L),
        s"counter n_$r=${got(s"n_$r")} != ${expected.getOrElse(r, 0L)}")
    }

    val (odf, comp) = ObservedMetrics.observeCompleteness(
      Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
        .toDF("id", "v"), Seq("v"))
    odf.write.format("noop").mode("overwrite").save()
    assert(comp.get("n_rows") == 3L && comp.get("nulls_v") == 1L)
  }

  test("LSH ANN recall vs brute force on real embeddings (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val exact = VectorFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = VectorFunctions.lshTopK(emb, queries, "vec_id", "embedding", 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall collapsed — bucketing broken?")
    assert(approx.subsetOf(exact) || approx.nonEmpty) // sane output
  }
}
