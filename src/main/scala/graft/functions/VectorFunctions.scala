package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`): exact
  * cosine via higher-order functions (codegen'd, no UDF), brute-force
  * top-k as the correctness baseline, and a random-hyperplane LSH
  * variant as the 100 TB scale path (bucketed join instead of the full
  * cross product).
  *
  * All arithmetic is element-ordered double accumulation so results are
  * bit-reproducible across engines.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ with left-to-right double accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused one-pass cosine (see expressions.CosineSimilarity); bit-
    * identical to `dot(a, b) / (norm(a) * norm(b))`, pinned by a spec.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Brute-force top-k cosine neighbors for each query vector: cross
    * join + rank window. Correct baseline; O(|queries|·|corpus|) — use
    * only for small query sets or validation.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Deterministic pseudo-random ±1 hyperplane component for (plane,
    * dim): parity of the last hex digit of md5("plane_dim"). Portable to
    * any engine with md5 — no RNG state, no broadcast of plane matrices.
    */
  def planeSign(plane: Int, dim: Column): Column = {
    val h = md5(concat(lit(s"plane${plane}_"), dim.cast("string")))
    when(conv(substring(h, 32, 1), 16, 10).cast("int") % 2 === 0, lit(1.0))
      .otherwise(lit(-1.0))
  }

  /** Multi-table LSH signatures: one `planesPerTable`-bit bucket key per
    * table (table t uses planes t·planesPerTable … +planesPerTable-1).
    * A single wide signature has vanishing recall (p_match = p_bit^bits);
    * T independent narrow tables give 1-(1-p_bit^planes)^T. One-pass
    * custom expression, pinned by a spec to the reference form: bit j of
    * table t is set when the left-to-right double sum of
    * vec[i]·planeSign(t·planesPerTable + j, i) is positive.
    */
  def lshTableSignatures(vec: Column, tables: Int, planesPerTable: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.LshPlaneSignatures(
      ColumnBridge.expression(vec), tables, planesPerTable))
  }

  /** IVF assignment: nearest (highest-cosine) centroid per vector,
    * deterministic ties by centroid id — EXACT, through the fused
    * per-row kernel at FULL coarse probe (TwoLevelAssign with
    * coarseProbe = #supers scores every child, which the kernel spec
    * pins ≡ the flat formulation; TwoLevelAssignTopK likewise for
    * nprobe > 1). The r15 formulation — crossJoin(broadcast(centroids))
    * × cosine × row_number window — was exact too, but it materialized
    * an (n·k)-row frame carrying a COPY OF EVERY VECTOR PER CENTROID
    * and pushed it through a sort + WindowGroupLimit + exchange + sort
    * just to argmax 16 numbers per row (guide §2.4: remove the shuffle
    * outright). The kernel is one map-side pass: zero exchanges, zero
    * vector duplication, and the (bounded, numCentroids-row) centroid
    * frame moves to the driver once instead of broadcasting into a
    * nested-loop join.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, nprobe: Int = 1): DataFrame =
    ivfAssign(df, idCol, vecCol, Centroids.collect(centroids), nprobe)

  /** [[ivfAssign]] against centroids already on the driver: no job
    * collects them, and their super-quantizer groups are built once per
    * [[Centroids]] value, not once per call.
    */
  private[graft] def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, nprobe: Int): DataFrame = {
    val (sup, cids, cvs) = centroids.groups
    import org.apache.spark.sql.graftbridge.ColumnBridge
    if (nprobe == 1) {
      val a = ColumnBridge.column(graft.functions.expressions.TwoLevelAssign(
        ColumnBridge.expression(col(vecCol)), sup, cids, cvs, sup.length))
      df.select(col(idCol).as("__aid"), col(vecCol).as("__avec"),
        a.as("__cid"))
    } else {
      val a = ColumnBridge.column(
        graft.functions.expressions.TwoLevelAssignTopK(
          ColumnBridge.expression(col(vecCol)), sup, cids, cvs, sup.length,
          nprobe))
      df.select(col(idCol).as("__aid"), col(vecCol).as("__avec"),
        explode(a).as("__cid"))
    }
  }

  /** A trained centroid set held on the driver: `ids` ascending, `vecs`
    * aligned with them. Centroids are control data (numCentroids rows),
    * so the assignment kernels take them as driver values; `groups` is
    * the super-quantizer built from them once, on first use.
    */
  private[graft] final class Centroids(val ids: Array[Long],
      val vecs: Array[Array[Float]]) {
    require(ids.nonEmpty, "empty centroid set")
    lazy val groups: (Array[Array[Float]], Array[Array[Long]],
      Array[Array[Array[Float]]]) = superGroups(ids, vecs)

    /** The (__cid, __cvec) frame the centroids are persisted as. */
    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      ids.toSeq.zip(vecs).toDF("__cid", "__cvec")
    }

    /** The vector of the centroid a row's `cid` names, looked up per
      * row in a plan literal: the join-free way to score a row against
      * its assigned centroid. Needs the trained ids 0 until k.
      */
    def vectorOf(cid: Column): Column = {
      require(ids.indices.forall(i => ids(i) == i),
        "centroid lookup needs the trained ids 0 until k")
      import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.graftbridge.ColumnBridge
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      // unsafe float arrays: the literal ships with each task as
      // k·dim·4 bytes, not as boxed floats
      val table = Literal(new GenericArrayData(
          vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v): Any)),
        ArrayType(ArrayType(FloatType, containsNull = false), containsNull = false))
      element_at(ColumnBridge.column(table), (cid + 1).cast("int"))
    }
  }

  private[graft] object Centroids {
    /** Collect a (__cid, __cvec) frame to the driver (one job unless it
      * is a local relation).
      */
    def collect(centroids: DataFrame): Centroids = {
      val spark = centroids.sparkSession
      import spark.implicits._
      val cents = centroids.select(col("__cid").cast("long"), col("__cvec"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      new Centroids(cents.map(_._1), cents.map(_._2))
    }
  }

  /** Two-level IVF assignment — the coarse-quantizer fix for flat
    * ivfAssign's O(n·k) arithmetic (and its (n·k)-row window shuffle),
    * which turns quadratic once k follows ivfParamsFor (k ~
    * n/cellTarget). The k centroids are themselves clustered into ⌈√k⌉
    * supers with the SAME deterministic k-means (centroids are
    * control data — all driver-side); each corpus vector then runs the
    * fused expressions.TwoLevelAssign kernel: score √k supers, keep
    * the top `coarseProbe`, score only their children — ~(1+p)·√k
    * cosines per vector, ONE map-side projection, zero shuffles, no
    * exploded (vector × centroid) frame.
    *
    * Assignment is approximate (the nearest child can hide under an
    * unprobed super). `coarseProbe ≥ #supers` degenerates to EXACTLY
    * the flat assignment — TwoLevelAssignSpec pins that equivalence
    * and the partial-probe agreement rate. Output matches ivfAssign's
    * single-assignment shape: (__aid, __avec, __cid).
    */
  /** Driver-side super-quantizer construction shared by the two-level
    * assignment kernels: cluster the (control-sized) centroid set into
    * ⌈√k⌉ supers with the same deterministic k-means, group children
    * under their nearest super, and DROP childless supers
    * (trainKMeansDeterministic keeps empty clusters): a probed super
    * with no children contributes nothing, and at low probe counts it
    * would waste a probe slot — worse, if ALL probed supers were
    * childless the kernel could only fall back. Every centroid lands
    * in exactly one group, so ≥1 super survives.
    */
  private def superGroups(ids: Array[Long], vecs: Array[Array[Float]]): (
      Array[Array[Float]], Array[Array[Long]], Array[Array[Array[Float]]]) = {
    val nSuper = math.max(1, math.ceil(math.sqrt(ids.length.toDouble)).toInt)
    val supers = trainKMeansDeterministic(vecs, nSuper, iters = 2)
    val grouped = Array.fill(supers.length)(
      Vector.newBuilder[(Long, Array[Float])])
    ids.indices.foreach { i =>
      val v = vecs(i)
      var best = 0
      var bc = Double.NegativeInfinity
      var si = 0
      while (si < supers.length) {
        val c = cosScalar(v, supers(si))
        if (c > bc) { bc = c; best = si }
        si += 1
      }
      grouped(best) += ((ids(i), v))
    }
    val kept = grouped.map(_.result()).zipWithIndex.filter(_._1.nonEmpty)
    (kept.map { case (_, si) => supers(si) },
      kept.map(_._1.map(_._1).toArray),
      kept.map(_._1.map(_._2).toArray))
  }

  def ivfAssignTwoLevel(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, coarseProbe: Int = 2): DataFrame =
    ivfAssignTwoLevel(df, idCol, vecCol, Centroids.collect(centroids), coarseProbe)

  private[graft] def ivfAssignTwoLevel(df: DataFrame, idCol: String,
      vecCol: String, centroids: Centroids, coarseProbe: Int): DataFrame = {
    val (keptSupers, childCids, childVecs) = centroids.groups
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val assignCol = ColumnBridge.column(
      graft.functions.expressions.TwoLevelAssign(
        ColumnBridge.expression(col(vecCol)), keptSupers, childCids, childVecs,
        coarseProbe))
    df.select(col(idCol).as("__aid"), col(vecCol).as("__avec"),
      assignCol.as("__cid"))
  }

  /** Multi-assignment face of ivfAssignTwoLevel: each vector lands in
    * its top `nAssign` cells (cosine desc, ties to the lower cid),
    * scored through the SAME coarse-probe kernel family
    * (expressions.TwoLevelAssignTopK) — one fused map-side pass, then
    * a bounded nAssign-wide explode. With coarseProbe = #supers this
    * is exactly flat ivfAssign(nprobe = nAssign) (spec-pinned); at
    * partial probes it is approximate the way TwoLevelAssign is.
    * Output shape matches ivfAssign's multi-probe form: one
    * (__aid, __avec, __cid) row per assigned cell.
    */
  def ivfAssignTwoLevelTopK(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, coarseProbe: Int = 2,
      nAssign: Int = 2): DataFrame = {
    val (keptSupers, childCids, childVecs) = Centroids.collect(centroids).groups
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val assignCol = ColumnBridge.column(
      graft.functions.expressions.TwoLevelAssignTopK(
        ColumnBridge.expression(col(vecCol)), keptSupers, childCids,
        childVecs, coarseProbe, nAssign))
    df.select(col(idCol).as("__aid"), col(vecCol).as("__avec"),
        explode(assignCol).as("__cid"))
  }

  /** Fixed-point scale (2²⁰) for exact cross-engine cluster means: a
    * coordinate is floored to floor(x·2²⁰ + 0.5) and summed as a long —
    * the sum is order-independent, so the mean is bit-identical in any
    * engine regardless of partitioning or fold order.
    */
  private[graft] val CentroidScale = 1048576.0

  /** Scalar twin of the CosineSimilarity expression: fused one-pass
    * left-to-right double accumulation, used by driver-side centroid
    * training so trained centroids match the oracle's arithmetic.
    */
  private def cosScalar(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Deterministic k-means over an id-ordered sample: farthest-first
    * (Gonzalez) init seeded at the min-id point — each next centroid is
    * the sample point minimizing its max cosine to the chosen set, ties
    * to the earlier id — then `iters` Lloyd steps whose cluster means
    * are computed in scaled-integer space (see CentroidScale) and
    * rounded to float. Every step is comparison- or integer-exact, so
    * the centroids are reproducible bit-for-bit by any engine (the s03
    * oracle re-derives them in SQL). Empty clusters keep their previous
    * centroid.
    */
  private[graft] def trainKMeansDeterministic(sample: Array[Array[Float]],
      k: Int, iters: Int): Array[Array[Float]] = {
    require(sample.length >= k, s"sample ${sample.length} smaller than k=$k")
    val dims = sample(0).length
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    while (chosen.size < k) {
      var best = -1
      var bestVal = Double.PositiveInfinity
      var p = 0
      while (p < sample.length) {
        var maxCos = Double.NegativeInfinity
        chosen.foreach { ci =>
          val c = cosScalar(sample(p), sample(ci))
          if (c > maxCos) maxCos = c
        }
        if (maxCos < bestVal) { bestVal = maxCos; best = p }
        p += 1
      }
      chosen += best
    }
    var cents = chosen.map(i => sample(i).clone()).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Long](k, dims)
      val cnts = new Array[Long](k)
      sample.foreach { v =>
        var bc = 0; var bcos = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val cs = cosScalar(v, cents(c))
          if (cs > bcos) { bcos = cs; bc = c } // strict > keeps lowest cid on ties
          c += 1
        }
        cnts(bc) += 1
        var d = 0
        while (d < dims) {
          sums(bc)(d) += math.floor(v(d).toDouble * CentroidScale + 0.5).toLong
          d += 1
        }
      }
      cents = Array.tabulate(k) { c =>
        if (cnts(c) == 0) cents(c)
        else Array.tabulate(dims)(d =>
          ((sums(c)(d).toDouble / cnts(c)) / CentroidScale).toFloat)
      }
      it += 1
    }
    cents
  }

  /** Trained IVF centroids as a (__cid, __cvec) frame: k-means on a
    * bounded id-ordered sample, collected to the driver (control-plane:
    * `sampleSize` rows — the standard sample-train-broadcast shape; at
    * 100 TB the corpus never moves, only the sample does).
    */
  def ivfTrainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleSize: Int = 256, iters: Int = 2): DataFrame =
    trainCentroids(corpus, idCol, vecCol, k, sampleSize, iters)
      .toDF(corpus.sparkSession)

  /** [[ivfTrainCentroids]] kept on the driver, where training leaves
    * them (ids 0 until k).
    */
  private[graft] def trainCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, sampleSize: Int, iters: Int): Centroids = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.orderBy(col(idCol)).limit(sampleSize)
      .select(col(vecCol)).as[Array[Float]].collect()
    val vecs = trainKMeansDeterministic(sample, k, iters)
    new Centroids(vecs.indices.map(_.toLong).toArray, vecs)
  }

  /** Untrained first-N-ids centroids — kept as the degenerate baseline
    * the training spec measures against (on skewed corpora these all
    * land in one region, collapsing list balance and recall).
    */
  def firstNCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    corpus.filter(col(idCol) < k)
      .select(col(idCol).as("__cid"), col(vecCol).as("__cvec"))

  /** IVF top-k: single-assignment inverted file over `numCentroids`
    * trained centroids (deterministic sample k-means, see
    * trainKMeansDeterministic); probe the `nprobe` nearest centroid
    * buckets instead of the corpus. Complement to the hyperplane-LSH
    * path. Pass `centroids` to reuse a pre-trained/persisted set.
    * Candidates are ranked by [[rankProbed]].
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int = 16,
      nprobe: Int = 4, centroids: Option[DataFrame] = None,
      sampleSize: Int = 256, trainIters: Int = 2): DataFrame = {
    val cents = centroids.map(Centroids.collect).getOrElse(
      trainCentroids(corpus, idCol, vecCol, numCentroids, sampleSize, trainIters))
    val bucketed = ivfAssign(corpus, idCol, vecCol, cents, 1)
      .select(col("__aid").as("neighbor_id"), col("__avec").as("__cv"), col("__cid"))
    val probes = ivfAssign(queries, idCol, vecCol, cents, nprobe)
      .select(col("__aid").as("query_id"), col("__avec").as("__qv"), col("__cid"))
    rankProbed(probes.join(bucketed, Seq("__cid")), k)
  }

  /** Top-k of the probe ⋈ list candidates (query_id, __qv, neighbor_id,
    * __cv, …): score each candidate on the map side, right after the
    * join, then deduplicate and rank (query_id, neighbor_id, cos) rows,
    * so no vector enters an aggregate key or an exchange. The rank
    * filter plans as a partial WindowGroupLimit before the window's
    * exchange. A pair reached twice (a duplicate query row, an id
    * appended twice with the same vector) counts once; one id held
    * with two different vectors ranks once per distinct cosine.
    */
  private[graft] def rankProbed(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    candidates.filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs (idA < idB): multi-table
    * LSH candidates, exact cosine verification at `threshold` — the
    * embedding-space sibling of Dedup.nearDuplicatePairs; same
    * bucket-bounded join, never corpus².
    *
    * `maxBucket > 0` drops buckets whose population exceeds it before
    * the pair join — the vector-space twin of the text path's df-cap
    * (candidatePairsFromShingles): a degenerate direction that hashes
    * thousands of vectors into one bucket makes that bucket's pair
    * fan-out quadratic REGARDLESS of the table/plane policy (measured:
    * the capped-64-table auto config at 200k vectors died spilling a
    * 64 g heap in the pair join's sort until hot buckets were capped).
    * A pair lost to one hot bucket can still surface in any other
    * table — the standard recall trade the text path already accepts.
    * Default off (0) so the fixed-param oracle-declared rows keep
    * their pinned outputs; the auto policy path turns it on.
    */
  /** Explicit fixed LSH/IVF parameters are declared fixture-scale
    * BASELINES (their outputs are oracle-pinned), not production
    * configs: bucket/cell population grows ∝ n under fixed params, so
    * pair work is quadratic in corpus size (measured: t10's fixed 4×4
    * went ~100× on a 10× corpus; s08's fixed k=16 cost 853 s at the
    * 100× probe vs 67 s for the sized policy). Past this row count the
    * fixed-param entry points REFUSE and name their auto twin, so no
    * sweep or user pays the quadratic cost by picking the wrong name;
    * `allowFixedAtScale = true` overrides for deliberate baseline
    * measurement.
    */
  private[graft] val FixedParamMaxRows = 50000L

  /** `n` is by-name: the guard is the ONLY consumer of the row count
    * on the fixed-param entry points, so an acknowledged baseline run
    * (allow = true) must not pay a corpus count it never reads.
    */
  private def guardFixedParams(n: => Long, entry: String,
      autoTwin: String, allow: Boolean): Unit =
    if (!allow) {
      val rows = n
      if (rows > FixedParamMaxRows)
        throw new IllegalArgumentException(
          s"$entry with FIXED parameters on $rows rows (> $FixedParamMaxRows): " +
            s"fixed params make pair work quadratic in corpus size — use " +
            s"$autoTwin (the sized policy path), or pass " +
            "allowFixedAtScale = true to measure the declared baseline " +
            "deliberately")
    }

  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 4, planesPerTable: Int = 4,
      maxBucket: Int = 0, allowFixedAtScale: Boolean = false): DataFrame = {
    guardFixedParams(df.count(), "cosineNearDupPairs",
      "cosineNearDupPairsAuto", allowFixedAtScale)
    // merge hint: see Dedup.candidatePairsFromShingles — one reused
    // Exchange instead of a broadcast build re-running the signature
    // projections (a corpus-wide broadcast at scale). Ids + signatures
    // ONLY: carrying the vector payload through the self-join's sort
    // multiplies the sorted bytes by tables× for columns the join
    // never reads (vectors re-attach by id during verification).
    val flat = df.select(col(idCol).as("__id"),
        posexplode(lshTableSignatures(col(vecCol), tables, planesPerTable))
          .as(Seq("__t", "__sig"))).hint("merge")
    val kept =
      if (maxBucket <= 0) flat
      else {
        // bucket-population filter as a COUNT WINDOW over the same
        // (t, sig) exchange the self-join needs — the old groupBy +
        // semi-join shape planned a SEPARATE partial-agg exchange whose
        // child could not canonicalize equal to the plain flat branch,
        // so the expensive lshTableSignatures projection ran twice (once
        // under pops, once under the join input). The window's child IS
        // the flat exchange: signatures project once, both self-join
        // sides read it through ReusedExchange, and the pops join
        // disappears. Window state per (t, sig) group is the bucket
        // population the cap is bounding anyway.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__t"), col("__sig"))
        flat.withColumn("__pop", count(lit(1)).over(w))
          .filter(col("__pop") <= maxBucket)
          .drop("__pop")
      }
    val cand = kept.as("a").join(kept.as("b"),
        col("a.__t") === col("b.__t") && col("a.__sig") === col("b.__sig") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    cand
      .join(vecs.select(col("__id").as("id_a"), col("__v").as("__va")), "id_a")
      .join(vecs.select(col("__id").as("id_b"), col("__v").as("__vb")), "id_b")
      .withColumn("cos", cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** LSH parameter policy for corpus-scale cosineNearDupPairs — the
    * contract that keeps candidate volume LINEAR in n where any fixed
    * (tables, planes) goes quadratic (bucket population ∝ n):
    *
    *  - `planes` grows with log₂(n / targetBucket), capping expected
    *    bucket population at `targetBucket` — so per-bucket pair work
    *    is bounded and total collisions are ~ tables·n·targetBucket/2;
    *  - `tables` grows to hold recall: a θ-similar pair shares one
    *    table's bucket with p = (1-θ/π)^planes, so
    *    tables = ln(missProb)/ln(1-p) keeps candidate recall ≥
    *    1-missProb as planes rise.
    *
    * The composition is the classic LSH exponent tradeoff: total work
    * ~ n^(1+ρ) with ρ = -log₂(1-θ/π) — e.g. ρ ≈ 0.22 at cosine 0.9,
    * ρ ≈ 0.63 at cosine 0.45. Genuinely low thresholds (broad
    * similarity, not near-dup) are better served by the IVF family
    * (ivfTopK / VectorIndex), which trades exactness explicitly.
    * First measured as t10 going ~100× on a 10× corpus with the fixed
    * 4×4 defaults: 16 buckets/table ⇒ bucket population ∝ n.
    */
  /** The UNCAPPED table count the recall target wants at this n/θ —
    * shared by lshParamsFor (which caps it) and the cap-regime guard
    * in cosineNearDupPairsAuto (which refuses when the cap bites), so
    * the two can never drift.
    */
  private[functions] def lshTablesWanted(n: Long, threshold: Double,
      targetBucket: Int = 150, missProb: Double = 0.05): Int = {
    val planes = math.max(4, stableCeil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)))
    val pPlane = 1.0 - math.acos(threshold) / math.Pi
    val pTable = math.pow(pPlane, planes.toDouble)
    math.max(2, stableCeil(math.log(missProb) / math.log(1.0 - pTable)))
  }

  def lshParamsFor(n: Long, threshold: Double, targetBucket: Int = 150,
      missProb: Double = 0.05, maxTables: Int = 64): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, "cosine threshold in (0,1)")
    val planes = math.max(4, stableCeil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)))
    val tables = lshTablesWanted(n, threshold, targetBucket, missProb)
    // Low thresholds at large n make the recall formula explode (e.g.
    // θ=0.45 at n=10M wants ~4700 tables — a multi-thousand-signature
    // explode nobody should silently plan). Cap the table count and say
    // so: past the cap the recall target is no longer met by LSH and the
    // IVF family (ivfTopK / VectorIndex) is the right tool.
    if (tables > maxTables) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"lshParamsFor(n=$n, threshold=$threshold) wants $tables tables; " +
          s"capping at $maxTables. Recall >= ${1 - missProb} is NOT met at " +
          "this threshold/n — broad-similarity regimes belong to the IVF " +
          "family (ivfTopK / VectorIndex), not LSH near-dup.")
      (maxTables, planes)
    } else (tables, planes)
  }

  /** IVF sizing policy — the lshParamsFor twin for the centroid
    * family (ivfTopK / VectorIndex / s08-style kNN cells / t43
    * SemDeDup cells): numCentroids grows with n so expected CELL
    * population stays ≤ cellTarget. Any fixed centroid count makes
    * per-cell pair/scan work quadratic in corpus size — the caveat
    * the s08/t43 rows document; this helper is the contract in code.
    * (k-means training cost is ~ sampleSize·k per iter: the trainers
    * sample a bounded set, so growing k stays cheap.)
    */
  def ivfParamsFor(n: Long, cellTarget: Int = 256): Int =
    math.max(4, stableCeil(n.toDouble / cellTarget))

  /** ceil biased down by 1e-9 — every sizing policy the ORACLES
    * re-derive in DuckDB SQL goes through this (and the SQL mirrors
    * the same `ceil(x - 1e-9)`): JVM and DuckDB libm (ln/log2/acos/
    * pow) may differ by 1 ulp, so an argument landing exactly on an
    * integer boundary could otherwise round to different policy
    * values on the two engines and flake the hash compare. True
    * policy arguments never sit within 1e-9 of an integer, so the
    * bias is semantically free.
    */
  private[functions] def stableCeil(x: Double): Int =
    math.ceil(x - 1e-9).toInt

  /** cosineNearDupPairs with the lshParamsFor policy applied from one
    * cheap corpus count — the production entry point; the fixed-param
    * form remains for oracle-pinned declared outputs.
    */
  def cosineNearDupPairsAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetBucket: Int = 150,
      missProb: Double = 0.05, allowCapRegime: Boolean = false,
      knownN: Long = -1L): DataFrame = {
    // knownN: callers that already paid the corpus count (the router,
    // policy-column rows) pass it through instead of re-executing the
    // whole upstream plan for a number they hold
    val n = if (knownN >= 0L) knownN else df.count()
    val (tables, planes) = lshParamsFor(n, threshold, targetBucket, missProb)
    // Cap-regime guard (the fixed-param fence's policy twin): when the
    // recall target wants MORE tables than the cap, two things are true
    // at once — the 1−missProb recall floor is NOT met, and candidate
    // volume (≈ tables·n·targetBucket/2 by the policy's own design) has
    // outgrown the LSH near-dup envelope (measured: θ=0.45 at the 100×
    // probe wants 542 tables; the capped-64 run ground through ~2.4B
    // candidate pairs before failing). Broad-similarity regimes belong
    // to the IVF family — refuse fast and say so, instead of a
    // silently-degraded many-minute grind; opt in deliberately to
    // measure the capped baseline.
    val want = lshTablesWanted(n, threshold, targetBucket, missProb)
    if (want > tables && !allowCapRegime)
      throw new IllegalArgumentException(
        s"cosineNearDupPairsAuto(threshold=$threshold) on $n rows wants " +
          s"$want LSH tables (cap $tables): recall >= ${1 - missProb} is " +
          "NOT met and candidate volume has outgrown the LSH near-dup " +
          "envelope — use nearDupPairsRouted (s13), which routes this " +
          "regime to the IVF cell-bounded pair join (nearDupRoutePolicy " +
          "names the branch and its recall regime; the wider IVF family " +
          "is ivfTopK / VectorIndex / semanticDedup cells, s10 the sized " +
          "policy row), or pass allowCapRegime = true to measure the " +
          "capped baseline deliberately")
    // hot-bucket cap at 20× the expected population: the policy holds
    // E[bucket] ≈ targetBucket, so only degenerate directions (which
    // would make the pair join quadratic) exceed it. The params here
    // ARE the sized policy, so the fixed-at-scale guard doesn't apply.
    cosineNearDupPairs(df, idCol, vecCol, threshold, tables, planes,
      maxBucket = 20 * targetBucket, allowFixedAtScale = true)
  }

  /** Measured recall floor of the routed IVF branch on the s13 FIXTURE
    * (symmetric nAssign=3 multi-assignment: 14/14 = 1.000 measured at
    * kc=4 — up from 0.857 at the r13 nAssign=2 default; floor pinned
    * with headroom in LshAutoSpec so a regression in training/
    * assignment/pairing trips it). This is a REGRESSION PIN, not a
    * scale guarantee: cell-coverage recall falls as kc grows, because
    * θ≈0.45 pairs are ~63° apart and genuinely straddle cells — the
    * round-14 RouteProbe table (ROADMAP) measured 0.420 at 10×
    * (kc=79) and nAssign=4 still only 0.543; ≥0.9 at corpus scale is
    * NOT affordable in this family, which is the honest price of a
    * broad-similarity ask the LSH policy refused (it wanted >64
    * tables). Because the pin is NOT a scale bound,
    * [[NearDupRoute.recallFloor]] deliberately reports 0.0 for the
    * cell-coverage regime — callers gate on `recallRegime` (r13
    * verdict item 3a) and this constant stays a spec-only fence.
    */
  val IvfRoutedRecallFloor = 0.95

  /** The routing decision behind [[nearDupPairsRouted]], as plain data
    * so callers (and oracle rows) can pin it: `wanted` is the UNCAPPED
    * lshTablesWanted count, and `route` is "lsh" iff that count fits
    * under `maxTables` — the SAME comparison cosineNearDupPairsAuto's
    * cap-regime fence makes, sharing lshTablesWanted so the fence, the
    * router, and any declared policy columns can never drift apart.
    * `kCells` is the IVF-branch sizing (ivfParamsFor), populated on
    * both routes for observability. `recallFloor`/`recallRegime` name
    * the recall CONTRACT of the branch taken: "table-policy" GUARANTEES
    * ≥ 1−missProb by LSH table sizing; "cell-coverage" carries NO
    * guaranteed lower bound — recallFloor is 0.0 there, deliberately,
    * so a pipeline gating `recallFloor >= x` FAILS onto the stronger
    * family instead of proceeding on a fixture constant (measured
    * cell-coverage recall is scale-dependent: 1.000 at the fixture's
    * kc=4, 0.420 at the 10× probe's kc=79 — ROADMAP round-14 table;
    * the fixture regression pin lives in [[IvfRoutedRecallFloor]],
    * which is a SPEC constant, not a production bound).
    */
  case class NearDupRoute(n: Long, wanted: Int, cap: Int, route: String,
      kCells: Int, recallFloor: Double, recallRegime: String)

  def nearDupRoutePolicy(n: Long, threshold: Double, targetBucket: Int = 150,
      missProb: Double = 0.05, maxTables: Int = 64,
      cellTarget: Int = 256): NearDupRoute = {
    val wanted = lshTablesWanted(n, threshold, targetBucket, missProb)
    val kc = math.max(1, math.min(n, ivfParamsFor(n, cellTarget).toLong)).toInt
    if (wanted <= maxTables)
      NearDupRoute(n, wanted, maxTables, "lsh", kc,
        1 - missProb, "table-policy")
    else
      NearDupRoute(n, wanted, maxTables, "ivf", kc,
        0.0, "cell-coverage")
  }

  /** Routed near-dup pairs — the entry point that turns the cap-regime
    * fence's refusal into a working plan (round-12 verdict item 1).
    * Below the cap boundary it IS cosineNearDupPairsAuto (the LSH
    * family, recall ≥ 1−missProb by the table policy); once the recall
    * target wants more tables than the cap — the regime where LSH
    * candidate volume (≈ tables·n·targetBucket/2) has outgrown the
    * near-dup envelope and the auto entry refuses — it routes to the
    * IVF cell-bounded exact pair join: the t43 SemDeDup kernel over
    * ivfParamsFor sizing, cells trained/assigned exactly like knnGraph
    * (flat assignment below TwoLevelMinCentroids, the fused two-level
    * kernel at/above), pairs formed ONLY within a cell and verified
    * with one codegen'd cosine each. Cell population stays ≤ ~cellTarget
    * as the corpus grows, so pair work is ∝ n·cellTarget — linear-ish
    * where capped LSH was measured grinding ~2.4B candidates (s09's
    * θ=0.45 @ 100× probe). The trade is explicit: the IVF branch's
    * recall is cell-coverage-bounded (cross-cell true pairs are
    * missed; LshAutoSpec pins the measured floor), which is the honest
    * price of a broad-similarity ask at corpus scale — against a
    * refusal, or a capped-LSH run that is BOTH slower and recall-broken.
    *
    * Output: (id_a, id_b, cos, route) with id_a < id_b; `route` is the
    * branch actually taken. The IVF branch is self-contained (its
    * assignment cache is released before returning, knnGraph's
    * pattern); the LSH branch inherits cosineNearDupPairsAuto's
    * caller-clears cache contract.
    */
  def nearDupPairsRouted(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetBucket: Int = 150, missProb: Double = 0.05,
      maxTables: Int = 64, cellTarget: Int = 256,
      knownN: Long = -1L): DataFrame = {
    val n = if (knownN >= 0L) knownN else df.count()
    val pol = nearDupRoutePolicy(n, threshold, targetBucket,
      missProb, maxTables, cellTarget)
    if (pol.route == "lsh")
      cosineNearDupPairsAuto(df, idCol, vecCol, threshold, targetBucket,
          missProb, knownN = n)
        .withColumn("route", lit("lsh"))
    else {
      val (out, assigned) =
        ivfCellPairsFrame(df, idCol, vecCol, threshold, pol.kCells,
          blockTarget = 4 * cellTarget)
      // materialize out of the private assignment cache before
      // releasing it (knnGraph's pattern)
      val released = out.localCheckpoint(true)
      assigned.unpersist()
      released
    }
  }

  /** The routed entry's un-checkpointed IVF-branch plan plus its live
    * assignment cache — for plan pins (the public entry hides the
    * join behind the checkpoint's LogicalRDD, the knnGraphFrame
    * precedent). Callers own `assigned.unpersist()`.
    *
    * SYMMETRIC nAssign=3 multi-assignment (raised from 2 on the
    * round-14 A/B): single-assignment misses every θ-pair straddling a
    * cell boundary (measured 0.50 recall at the s13 fixture); top-2
    * recovered 0.857; top-3 recovers 14/14 = 1.000 at the fixture and
    * +59% recall at the 10× probe (0.264 → 0.420 at kc=79) for a
    * measured ≤1.3× cost at 100× (55.5 → 73.4 s, within box noise —
    * nAssign=4 measured 55.0 s in the same sweep). Candidate volume
    * stays bounded — ≈9·n·cellTarget pre-verification — against LSH's
    * tables·n·targetBucket/2 with tables > 64 in the routed regime.
    *
    * Vectors ride the cell join (2n skinny rows per side — the
    * opposite call from cosineNearDupPairs' tables×-exploded flat
    * frame) so cosine evaluates INSIDE the join's codegen'd output and
    * the θ filter runs BEFORE any pair-sized exchange. The alternative
    * — distinct ids first, re-attach vectors — shuffles the
    * ~4·n·cellTarget candidate set three times (distinct + two vector
    * joins); this shape shuffles only the 2n assignment rows and the
    * θ-passing result. Measured at the 100× probe (200k vectors, 782
    * cells): 255.5 s → 52.2 s. The multi-probe duplicate (a pair
    * sharing ≥2 probed cells) re-verifies its cosine per cell —
    * bit-identical arithmetic, so the final result-sized distinct
    * collapses it exactly.
    *
    * HOT-CELL BOUND (r13 verdict item 4): ivfParamsFor caps the
    * AVERAGE cell population, so a genuinely skewed non-duplicate hot
    * cell (one topic direction, many distinct sub-θ vectors) used to
    * do population² cosine work in ONE task — the straggler that
    * serializes the whole stage. Each member now carries its cell
    * population (a window count inside the cached assignment — one
    * 2n-row exchange, paid once) and cells beyond `blockTarget`
    * members split into ⌈pop/blockTarget⌉ salted blocks: the b-side
    * hashes into a block, the a-side replicates across the cell's
    * blocks (Generate, not a join), and the join key becomes
    * (cid, block) — every within-cell pair still meets EXACTLY once,
    * so the result is bit-identical to the unblocked join
    * (spec-pinned), while the largest single task falls from pop² to
    * pop·blockTarget cosines and the hot cell's quadratic (which is
    * real work — the pairs must be verified) spreads across
    * ⌈pop/blockTarget⌉ tasks. Normal cells have 1 block and exactly
    * the old plan's key cardinality.
    */
  private[graft] def ivfCellPairsFrame(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, kc: Int,
      blockTarget: Int = 1024, nAssign: Int = 3): (DataFrame, DataFrame) = {
    val cents = ivfTrainCentroids(df, idCol, vecCol, kc,
      sampleSize = math.max(256, 2 * kc))
    val assigned = (if (kc >= VectorIndex.TwoLevelMinCentroids)
        ivfAssignTwoLevelTopK(df, idCol, vecCol, cents, coarseProbe = 2,
          nAssign = nAssign)
      else ivfAssign(df, idCol, vecCol, cents, nprobe = nAssign))
      .withColumn("__blocks",
        greatest(lit(1L), ceil(
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__cid"))) / lit(blockTarget))).cast("int"))
      .persist()
    val a = assigned.select(col("__cid").as("cid"), col("__aid").as("id_a"),
        col("__avec").as("__va"), col("__blocks"))
      .withColumn("__jb", explode(sequence(lit(0), col("__blocks") - 1)))
      .drop("__blocks")
    val b = assigned.select(col("__cid").as("cid"), col("__aid").as("id_b"),
      col("__avec").as("__vb"),
      pmod(hash(col("__aid")), col("__blocks")).as("__jb"))
    val out = a.join(b, Seq("cid", "__jb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .distinct()
      .withColumn("route", lit("ivf"))
    (out, assigned)
  }

  /** Greedy maximal-marginal-relevance selection (Carbonell &
    * Goldstein '98) over a BOUNDED candidate shortlist: step 1 takes
    * the most relevant candidate; step r takes
    * argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), ties by id
    * ascending — the diversity-aware rerank every retrieval stack runs
    * AFTER its top-k. Pure driver-side function by design: rerank
    * inputs are control data (a k'-row shortlist the distributed top-k
    * already bounded — the t12/t22 pattern), and the greedy recurrence
    * is inherently sequential in the selection count. The arithmetic
    * is one shared IEEE tree (λ·rel − (1−λ)·maxsim on doubles both
    * engines produce bit-identically), so the selection is
    * hash-reproducible cross-engine — t63's oracle replays it as k
    * unrolled SQL rounds.
    *
    * `cands` must be duplicate-free; `sims` must cover every ordered
    * candidate pair. Returns (mmr_rank, id, rel), rank 1-based.
    */
  def mmrSelect(cands: Seq[(Long, Double)], sims: Map[(Long, Long), Double],
      k: Int, lambda: Double): Seq[(Long, Long, Double)] = {
    require(lambda >= 0.0 && lambda <= 1.0, "lambda in [0,1]")
    val rel = cands.toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val remaining = scala.collection.mutable.TreeSet.from(cands.map(_._1))
    val out = Seq.newBuilder[(Long, Long, Double)]
    var r = 1
    while (r <= math.min(k, cands.size)) {
      val pick =
        if (selected.isEmpty)
          // step 1: plain relevance argmax, ties by id ascending
          remaining.maxBy(id => (rel(id), -id))
        else remaining.maxBy { id =>
          val maxSim = selected.map(s => sims(id -> s)).max
          (lambda * rel(id) - (1.0 - lambda) * maxSim, -id)
        }
      out += ((r.toLong, pick, rel(pick)))
      selected += pick
      remaining -= pick
      r += 1
    }
    out.result()
  }

  /** Batch kNN graph over IVF cells — the NAMED production entry point
    * for the s08/s10 shape (every vector's top-k among the vectors
    * sharing its cell): one assignment pass, a self-join keyed on cell
    * id (fan-out bounded by cell population), a per-query top-k window
    * Spark rewrites to WindowGroupLimit. `numCentroids ≤ 0` (default)
    * sizes cells with ivfParamsFor so cell population stays bounded as
    * the corpus grows — the only configuration that is linear-ish at
    * scale (measured: sized policy 67 s vs fixed-k 853 s at the 100×
    * probe). An explicit numCentroids is a fixture-scale baseline and
    * refuses past [[FixedParamMaxRows]] unless `allowFixedAtScale`.
    * The cell assignment is persisted internally (it feeds both join
    * sides — the materialize-once pattern of t43/s08).
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int = 3,
      numCentroids: Int = 0, allowFixedAtScale: Boolean = false): DataFrame = {
    val (out, assigned) =
      knnGraphFrame(df, idCol, vecCol, k, numCentroids, allowFixedAtScale)
    // materialize out of the cache before returning (the
    // connectedComponents pattern): the assignment cache is private
    // to this call, so it must be released HERE, and the k·n result
    // rows are skinny — an eager checkpoint, not a corpus rewrite
    val released = out.localCheckpoint(true)
    assigned.unpersist()
    released
  }

  /** The un-checkpointed knnGraph plan plus its live assignment cache —
    * for plan pins (the public entry hides the window behind the
    * checkpoint's LogicalRDD). Callers own `assigned.unpersist()`.
    */
  private[graft] def knnGraphFrame(df: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int,
      allowFixedAtScale: Boolean): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val kc =
      if (numCentroids > 0) {
        guardFixedParams(n, "knnGraph(numCentroids = fixed)",
          "knnGraph() [ivfParamsFor auto sizing]", allowFixedAtScale)
        numCentroids
      } else math.min(n, ivfParamsFor(n).toLong).toInt
    val cents = ivfTrainCentroids(df, idCol, vecCol, kc,
      sampleSize = math.max(256, 2 * kc))
    val assigned = (if (kc >= VectorIndex.TwoLevelMinCentroids)
        ivfAssignTwoLevel(df, idCol, vecCol, cents, coarseProbe = 2)
      else ivfAssign(df, idCol, vecCol, cents)).persist()
    val a = assigned.select(col("__cid").as("cid"),
      col("__aid").as("query_id"), col("__avec").as("qv"))
    val b = assigned.select(col("__cid").as("cid"),
      col("__aid").as("neighbor_id"), col("__avec").as("nv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val out = a.join(b, "cid").filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
    (out, assigned)
  }

  /** ANN top-k: candidates share any per-table bucket, then exact
    * cosine re-rank. Recall < 1 by construction (validated against
    * bruteForceTopK in tests); the join fans out by bucket population,
    * not corpus², and bucket keys are shuffle-friendly ints.
    */
  // ---------- Product quantization (the IVF-PQ serving path) ----------

  /** Σ (aᵢ-bᵢ)² with left-to-right double accumulation. */
  private def l2Scalar(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
    }
    s
  }

  /** Deterministic per-subspace L2 k-means: the Euclidean twin of
    * trainKMeansDeterministic (PQ codebooks must minimize RECONSTRUCTION
    * error, so the metric is L2 on subvectors — cosine is scale-blind
    * and would lose the magnitudes that dot-product reconstruction
    * needs). Farthest-first init from the first sample point (max-min
    * L2, ties to the earlier index), then `iters` Lloyd steps with
    * scaled-integer means (CentroidScale) — every step comparison- or
    * integer-exact, bit-reproducible on any engine.
    */
  private[graft] def trainPqCodebooks(sample: Array[Array[Float]], m: Int,
      codes: Int, iters: Int): Array[Array[Array[Float]]] = {
    val dims = sample(0).length
    require(dims % m == 0, s"dims $dims not divisible into $m subspaces")
    val subDim = dims / m
    Array.tabulate(m) { mi =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, mi * subDim, (mi + 1) * subDim))
      val chosen = scala.collection.mutable.ArrayBuffer(0)
      while (chosen.size < codes) {
        var best = -1; var bestVal = Double.NegativeInfinity
        var p = 0
        while (p < sub.length) {
          var minD = Double.PositiveInfinity
          chosen.foreach { ci =>
            val d = l2Scalar(sub(p), sub(ci)); if (d < minD) minD = d
          }
          if (minD > bestVal) { bestVal = minD; best = p }
          p += 1
        }
        chosen += best
      }
      var cents = chosen.map(i => sub(i).clone()).toArray
      var it = 0
      while (it < iters) {
        val sums = Array.ofDim[Long](codes, subDim)
        val cnts = new Array[Long](codes)
        sub.foreach { v =>
          var bc = 0; var bd = Double.PositiveInfinity
          var c = 0
          while (c < codes) {
            val d = l2Scalar(v, cents(c))
            if (d < bd) { bd = d; bc = c } // strict < keeps lowest code on ties
            c += 1
          }
          cnts(bc) += 1
          var d = 0
          while (d < subDim) {
            sums(bc)(d) += math.floor(v(d).toDouble * CentroidScale + 0.5).toLong
            d += 1
          }
        }
        cents = Array.tabulate(codes) { c =>
          if (cnts(c) == 0) cents(c)
          else Array.tabulate(subDim)(d =>
            ((sums(c)(d).toDouble / cnts(c)) / CentroidScale).toFloat)
        }
        it += 1
      }
      cents
    }
  }

  /** PQ codebooks as a broadcastable (__m, __code, __cvec) frame —
    * m·codes rows of subDim floats, trained on the same bounded
    * id-ordered driver sample as the IVF centroids.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, codes: Int = 16, sampleSize: Int = 256,
      iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.orderBy(col(idCol)).limit(sampleSize)
      .select(col(vecCol)).as[Array[Float]].collect()
    val cb = trainPqCodebooks(sample, m, codes, iters)
    (for { mi <- 0 until m; ci <- 0 until codes } yield
      (mi.toLong, ci.toLong, cb(mi)(ci))).toDF("__m", "__code", "__cvec")
  }

  /** PQ-encode each vector: per subspace the L2-nearest code — a 64-dim
    * float vector (256 B) becomes m code bytes plus one reconstructed
    * norm (m=16 → ~14× shrink; subspace count trades memory against
    * ADC resolution: 8×16 codes lost probed-exact top-3 entries past
    * shortlist 128 on sf0.1, 16×16 recovers 3/3 at shortlist 64 — the
    * measured basis for the defaults). Pure DataFrame ops: subvector
    * posexplode → broadcast codebook join → argmin window → regroup
    * (order restored by array_sort over (m, code) structs —
    * collect_list alone is partition-order-dependent).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    // the codebook is bounded driver data (m·codes rows — it was
    // TRAINED driver-side from the id-ordered sample); pull it down
    // once and encode in ONE fused map pass (expressions.PqEncode),
    // instead of the r15 shape — posexplode into m subvector rows ×
    // broadcast codebook join × argmin window × collect_list regroup —
    // which pushed a corpus×(m·codes) frame through a window exchange
    // to argmin `codes` numbers per subspace (guide §2.4). Spec-pinned
    // bit-identical to that formulation (kept in test sources) on the
    // fixture.
    val spark = df.sparkSession
    import spark.implicits._
    val cbRows = codebooks.select(col("__m"), col("__code"), col("__cvec"))
      .as[(Long, Long, Array[Float])].collect()
    val byM = cbRows.groupBy(_._1).toSeq.sortBy(_._1)
    require(byM.size == m, s"codebook has ${byM.size} subspaces, expected $m")
    val cb: Array[Array[Array[Float]]] = byM.map { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      require(sorted.zipWithIndex.forall { case (r, i) => r._2 == i.toLong },
        "codebook codes must be dense 0..codes-1 per subspace")
      sorted.map(_._3).toArray
    }.toArray
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val enc = ColumnBridge.column(graft.functions.expressions.PqEncode(
      ColumnBridge.expression(col(vecCol)), cb))
    df.select(col(idCol).as("__eid"), enc.as("__enc"))
      .select(col("__eid"), col("__enc").getField("codes").as("__codes"),
        col("__enc").getField("rnorm2").as("__rnorm2"))
  }

  /** IVF-PQ top-k — the memory-bounded ANN serving shape: the coarse
    * IVF probe bounds WHICH candidates are scored, the PQ codes + a
    * per-query (m × codes) lookup table score them WITHOUT touching raw
    * vectors (asymmetric distance: dot(q,x) ≈ Σₘ dot(qₘ, c[m,codeₘ(x)]),
    * ‖x‖ ≈ √Σₘ‖c‖²), and only the `shortlist` ADC-best are reranked
    * with exact cosine. At 100 TB the raw vectors stay in cold storage;
    * the scan touches m bytes per candidate plus one LUT broadcast per
    * query batch.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dims: Int = 64, numCentroids: Int = 16,
      nprobe: Int = 4, m: Int = 16, codes: Int = 16,
      shortlist: Int = 64): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible into $m subspaces")
    val subDim = dims / m
    val cents = ivfTrainCentroids(corpus, idCol, vecCol, numCentroids)
    val cb = pqCodebooks(corpus, idCol, vecCol, m, codes)
    val enc = pqEncode(corpus, idCol, vecCol, cb, m, subDim)
    val buckets = ivfAssign(corpus, idCol, vecCol, cents)
      .select(col("__aid").as("neighbor_id"), col("__cid"))
      .join(enc.withColumnRenamed("__eid", "neighbor_id"), "neighbor_id")
    val probes = ivfAssign(queries, idCol, vecCol, cents, nprobe)
      .select(col("__aid").as("query_id"), col("__cid"))
    val lut = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .select(col("query_id"), norm(col("__qv")).as("__qn"),
        posexplode(array((0 until m).map(i =>
          slice(col("__qv"), i * subDim + 1, subDim)): _*)).as(Seq("__m", "__qsv")))
      .withColumn("__m", col("__m").cast("long"))
      .join(broadcast(cb), Seq("__m"))
      .select(col("query_id"), col("__qn"), col("__m"), col("__code"),
        dot(col("__qsv"), col("__cvec")).as("__qdot"))
    // single-assignment corpus ⇒ (query, neighbor) pairs are already
    // unique across probed buckets; no distinct needed
    val adc = probes.join(buckets, Seq("__cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("__rnorm2"),
        posexplode(col("__codes")).as(Seq("__m", "__code")))
      .withColumn("__m", col("__m").cast("long"))
      .join(lut, Seq("query_id", "__m", "__code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("__qn")).as("__qn"), first(col("__rnorm2")).as("__r2"),
        sum(col("__qdot")).as("__adot"))
      .withColumn("__adc", col("__adot") / (col("__qn") * sqrt(col("__r2"))))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id"))
    val short = adc.withColumn("__srn", row_number().over(ws))
      .filter(col("__srn") <= shortlist)
    val rer = short.select(col("query_id"), col("neighbor_id"))
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")), "neighbor_id")
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, tables: Int = 4,
      planesPerTable: Int = 4): DataFrame = {
    def explodeSigs(df: DataFrame, id: String, vec: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec))
        .select(col(id), col(vec),
          posexplode(lshTableSignatures(col(vec), tables, planesPerTable))
            .as(Seq("__t", "__sig")))
    val q = explodeSigs(queries, "query_id", "__qv")
    val c = explodeSigs(corpus, "neighbor_id", "__cv")
    val cand = q.join(c, Seq("__t", "__sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val scored = cand
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")), "neighbor_id")
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss component for (output
    * component j, input dim i): parity of the last hex digit of
    * md5("jl{j}_{i}") — the Achlioptas '01 sign matrix, engine-portable
    * like `planeSign` but in its own key namespace so JL components
    * never alias LSH planes.
    */
  def jlSign(comp: Int, dim: Column): Column = {
    val h = md5(concat(lit(s"jl${comp}_"), dim.cast("string")))
    when(conv(substring(h, 32, 1), 16, 10).cast("int") % 2 === 0, lit(1.0))
      .otherwise(lit(-1.0))
  }

  /** The full dOut × dIn JL sign matrix as ONE plan literal: the signs
    * are constants per (comp, dim), so deriving them per ROW (1,536
    * md5 digests per vector at 24×64) is pure waste — computing the
    * same parities driver-side and shipping ~dOut·dIn doubles in the
    * plan turns the projection into plain codegen'd multiply-adds
    * (measured on s12: 9.0 s → see ROADMAP). Bit-identical to
    * `jlSign`: same md5, same last-nibble parity (pinned by spec).
    */
  def jlSignMatrix(dOut: Int, dIn: Int): Column =
    signMatrix("jl", dOut, dIn)

  /** Driver-side md5-last-nibble-parity sign matrix — the ONE encoding
    * of the `jlSign`/`planeSign` convention (key = s"$prefix${row}_$dim",
    * even last nibble → +1.0). Spec-pinned bit-identical to the
    * per-row md5 Column forms; change it in lockstep with them.
    */
  private def signMatrix(prefix: String, rows: Int, dIn: Int): Column =
    typedLit(Seq.tabulate(rows, dIn) { (r, i) =>
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$prefix${r}_$i".getBytes("UTF-8"))
      if ((dg(15) & 0x0f) % 2 == 0) 1.0 else -1.0
    }.map(_.toSeq))

  /** Plane-sign literal matrix, same trick as `jlSignMatrix` for the
    * `planeSign` family: bit-identical parities (pinned by spec), no
    * per-row digests. Rows are planes 0..planes-1, columns dims.
    */
  def planeSignMatrix(planes: Int, dIn: Int): Column =
    signMatrix("plane", planes, dIn)

  /** [[lshTableSignatures]] semantics over the literal sign matrix:
    * value-identical signatures (same md5 parities, same left-to-right
    * double fold) without the HOF's per-row sign derivation.
    */
  def lshTableSignaturesLit(vec: Column, tables: Int, planesPerTable: Int,
      dIn: Int = 64): Column = {
    val signs = planeSignMatrix(tables * planesPerTable, dIn)
    array((0 until tables).map { t =>
      (0 until planesPerTable).map { j =>
        val p = t * planesPerTable + j
        val s = aggregate(
          zip_with(vec, slice(element_at(signs, p + 1), lit(1), size(vec)),
            (x, sg) => x.cast("double") * sg),
          lit(0.0), (acc, v) => acc + v)
        widthGuard(vec, dIn, "lshTableSignaturesLit",
          when(s > 0, lit(1)).otherwise(lit(0)) * lit(1 << j))
      }.reduce(_ + _)
    }: _*)
  }

  /** A sign matrix covers `dIn` dims; a WIDER input vector would make
    * `slice` truncate the sign row, `zip_with` null-pad the shorter
    * side, and the null propagate through the aggregate — signatures
    * silently all-null, candidates silently none. Fail loudly instead
    * (r11 ADVICE). Narrower vectors remain fine: zip semantics ignore
    * the unused sign-row tail.
    */
  private def widthGuard(vec: Column, dIn: Int, ctx: String,
      res: Column): Column =
    // raise_error is NullType — the branch coerces to res's type, so
    // the guard never changes the guarded expression's schema
    when(size(vec) > lit(dIn),
      raise_error(concat(lit(s"$ctx: input vector width "),
        size(vec).cast("string"),
        lit(s" exceeds dIn=$dIn — pass the true dimensionality"))))
      .otherwise(res)

  /** JL random projection to `dOut` dims: proj_j = Σ_i v_i·sign(j,i)
    * (the 1/√dOut scale is dropped — it cancels in every cosine). A
    * map-side expression over the literal sign matrix: no shuffle, no
    * broadcast, no RNG state, no per-row digests. `dIn` must cover the
    * vector width: a NARROWER vector is fine (zip semantics ignore the
    * unused sign-row tail — the spec pins exact equality at the
    * fixture width), but a WIDER one raises at evaluation instead of
    * silently null-projecting (see [[widthGuard]]).
    */
  def jlProject(vec: Column, dOut: Int, dIn: Int = 64): Column = {
    val signs = jlSignMatrix(dOut, dIn)
    array((0 until dOut).map { j =>
      widthGuard(vec, dIn, "jlProject",
        aggregate(
          zip_with(vec, slice(element_at(signs, j + 1), lit(1), size(vec)),
            (x, s) => x.cast("double") * s),
          lit(0.0), (acc, v) => acc + v))
    }: _*)
  }

  /** ANN via JL-reduced candidate generation + full-space re-rank: the
    * cheap-space/exact-space split production retrieval uses when the
    * full vectors are too wide to bucket directly. Corpus and queries
    * are JL-projected to `dOut` dims (map-side), hyperplane-LSH
    * signatures are computed over the PROJECTED vectors (evaluating a
    * plane costs dOut, not d, multiplies), bucket-join candidates are
    * re-ranked by FULL-dimension cosine. Same bucket-population join
    * fan-out bound as `lshTopK`; the projection cuts the per-plane
    * work d/dOut× and the signature shuffle carries ids only.
    *
    * Defaults (dOut=24, 8 tables × 4 planes) are measured: projection
    * distortion costs candidate recall vs direct LSH, and widening to
    * 24 dims + doubling the table count buys it back (fixture recall@3
    * 0.42 at 16/4 → 0.75 at 24/8) while each plane still costs 24, not
    * 64, multiplies.
    */
  def jlLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dOut: Int = 24, tables: Int = 8,
      planesPerTable: Int = 4): DataFrame = {
    def sigs(df: DataFrame, id: String) =
      df.select(col(idCol).as(id),
          jlProject(col(vecCol), dOut).as("__pv"))
        .select(col(id),
          // literal-matrix form: HOF-identical signatures without the
          // HOF's per-row md5 sign derivation
          posexplode(lshTableSignaturesLit(col("__pv"), tables,
            planesPerTable, dIn = dOut)).as(Seq("__t", "__sig")))
    val cand = sigs(queries, "query_id")
      .join(sigs(corpus, "neighbor_id"), Seq("__t", "__sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val scored = cand
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
        "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        "neighbor_id")
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }
}
