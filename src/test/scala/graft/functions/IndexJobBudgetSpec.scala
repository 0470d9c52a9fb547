package graft.functions

import graft.SparkTestBase

/** Spark jobs per lifecycle phase of the three persisted index
  * families, pinned. Index mutations pay for commit machinery as much
  * as for data, so a job added (or removed) by any phase changes a count
  * here and is a reviewed change. Counts are for tiny fixtures in the
  * shared local[4] test session; each phase's body includes collecting
  * a serve's result.
  */
class IndexJobBudgetSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** Runs each phase in order and returns its job count by name: the
    * jobs its body started, those of GenIndex.inParallel's second thread
    * included, which carries the caller's job tag.
    */
  private def budget(phases: (String, () => Unit)*): Map[String, Int] =
    phases.map { case (name, body) => name -> countJobs(body())._2 }.toMap

  test("SignatureIndex: jobs per build, append, delete, compact and serve") {
    val dir = tmpDir("sigbudget") + "/idx"
    val jobs = budget(
      "build" -> (() => SignatureIndex.build(docs.filter($"doc_id" < 60),
        "doc_id", "text", dir, nBuckets = 8)),
      "append" -> (() => SignatureIndex.append(
        docs.filter($"doc_id" >= 60 && $"doc_id" < 80), "doc_id", "text", dir,
        commitId = Some("a1"))),
      "delete" -> (() => SignatureIndex.delete(
        Seq(3L, 61L).toDF("doc_id"), "doc_id", dir, commitId = Some("d1"))),
      "compact" -> (() => SignatureIndex.compact(spark, dir)),
      "serve" -> (() => SignatureIndex.servePairs(spark, dir,
        docs.filter($"doc_id" >= 80 && $"doc_id" < 100), "doc_id", "text", 0.5)
        .collect()))
    // every phase learns the signing params from the manifest extras;
    // build writes no meta parquet beside them
    assert(jobs == Map("build" -> 7, "append" -> 4, "delete" -> 9,
      "compact" -> 10, "serve" -> 14), s"signature index jobs: $jobs")
  }

  test("TextIndex: jobs per build, append, delete, compact and bm25 serve") {
    val dir = tmpDir("textbudget")
    val jobs = budget(
      "build" -> (() => TextIndex.build(docs.filter($"doc_id" < 60),
        "doc_id", "text", dir, nBuckets = 8)),
      "append" -> (() => TextIndex.append(
        docs.filter($"doc_id" >= 60 && $"doc_id" < 80), "doc_id", "text", dir,
        commitId = Some("a1"))),
      "delete" -> (() => TextIndex.delete(
        Seq(3L, 61L).toDF("doc_id"), "doc_id", dir, commitId = Some("d1"))),
      "compact" -> (() => TextIndex.compact(spark, dir)),
      "bm25" -> (() => TextIndex.bm25TopK(spark, dir,
        Seq("vector", "stream", "window", "hash"), 10).collect()))
    // the postings schema is memoized per build, so the serve after the
    // compact reads no footer
    assert(jobs == Map("build" -> 7, "append" -> 4, "delete" -> 9,
      "compact" -> 8, "bm25" -> 6), s"text index jobs: $jobs")
  }

  test("VectorIndex: jobs per build, append, delete, compact, retrain and topK") {
    val dir = tmpDir("vecbudget")
    val jobs = budget(
      "build" -> (() => VectorIndex.build(emb.filter($"vec_id" < 120),
        "vec_id", "embedding", dir, numCentroids = 4)),
      "append" -> (() => VectorIndex.append(
        emb.filter($"vec_id" >= 120 && $"vec_id" < 160), "vec_id", "embedding",
        dir, commitId = Some("a1"))),
      "delete" -> (() => VectorIndex.delete(
        Seq(3L, 121L).toDF("vec_id"), "vec_id", dir, commitId = Some("d1"))),
      "compact" -> (() => VectorIndex.compact(spark, dir)),
      "retrain" -> (() => VectorIndex.retrain(spark, dir)),
      "topK" -> (() => VectorIndex.topK(spark, dir, emb.filter($"vec_id" < 8),
        "vec_id", "embedding", 3).collect()))
    // centroids, their super-quantizer and the list schema are driver
    // values of the build: no phase reads them back
    assert(jobs == Map("build" -> 5, "append" -> 2, "delete" -> 3,
      "compact" -> 3, "retrain" -> 6, "topK" -> 5), s"vector index jobs: $jobs")
  }
}
