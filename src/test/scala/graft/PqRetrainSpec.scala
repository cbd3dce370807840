package graft

import graft.functions.GraftFunctions.dot
import graft.operators.Similarity
import org.apache.spark.sql.functions.sqrt

/** Day-N codebook retrain migration (`sim_pq_index_retrain`): the
  * versioned-root lifecycle must (a) genuinely retrain — the v2 sidecar
  * reflects the grown corpus, not a copy of v1's; (b) re-encode
  * everything — v2 is bit-identical to a fresh full build (train +
  * encode are deterministic); (c) swap `CURRENT` atomically; and (d)
  * fail fast on a degenerate retrain BEFORE touching the pointer, so a
  * bad scheduled run can never break the live index. */
class PqRetrainSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def codesSet(path: String): Set[(Long, Seq[Byte], Int)] =
    spark.read.parquet(s"$path/codes")
      .select("vec_id", "codes", "cluster")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq,
        r.get(2).toString.toInt))
      .toSet

  private def booksSet(path: String): Set[String] =
    spark.read.parquet(s"$path/codebooks").collect().map(_.toString).toSet

  private def unitVecs() = {
    import spark.implicits._
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding",
        sqrt(dot($"embedding", $"embedding")).as("nrm"))
      .filter($"nrm" > 0)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(x / nrm as float)) as unit")
      .as[(Long, Array[Float])]
  }

  test("migration retrains the sidecar, re-encodes everything, and swaps CURRENT") {
    val root = java.nio.file.Files.createTempDirectory("graft-pq-retrain-spec")
    try {
      val unit = unitVecs()
      val day1 = unit.filter(v => v._1 % 10 != 7)
      val batch = unit.filter(v => v._1 % 10 == 7)

      Similarity.initPqIndexRoot(spark, day1, root.toString)
      assert(Similarity.currentPqIndex(root.toString) == s"$root/v1")
      Similarity.appendPqIndex(spark,
        Similarity.currentPqIndex(root.toString), batch)
      val v1Books = booksSet(s"$root/v1")

      val next = Similarity.migratePqIndex(spark, unit, root.toString)
      assert(next == "v2")
      assert(Similarity.currentPqIndex(root.toString) == s"$root/v2")
      // retrained, not copied: the grown corpus moves the centroids
      assert(booksSet(s"$root/v2") != v1Books,
        "migration kept the stale sidecar — codebooks were not retrained")
      // the live v1 is undisturbed (readers mid-migration saw it whole)
      assert(booksSet(s"$root/v1") == v1Books)

      // v2 == a fresh full build of the grown corpus: train + encode
      // are deterministic, so the migration may not lose or alter codes
      Similarity.writePqIndexOf(spark, unit, s"$root/fresh")
      assert(booksSet(s"$root/v2") == booksSet(s"$root/fresh"),
        "migrated sidecar differs from a fresh train on the same corpus")
      assert(codesSet(s"$root/v2") == codesSet(s"$root/fresh"),
        "migrated codes differ from a fresh encode of the grown corpus")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("retrain-on-empty fails fast and leaves the live index serving") {
    val root = java.nio.file.Files.createTempDirectory("graft-pq-retrain-empty")
    try {
      val unit = unitVecs()
      Similarity.initPqIndexRoot(spark, unit, root.toString)
      val ex = intercept[IllegalArgumentException] {
        Similarity.migratePqIndex(spark, unit.filter(_ => false), root.toString)
      }
      assert(ex.getMessage.contains("empty"))
      // the pointer never moved and the probe still answers
      assert(Similarity.currentPqIndex(root.toString) == s"$root/v1")
      val out = Similarity.pqTopkFromIndex(spark, sf,
        Similarity.currentPqIndex(root.toString),
        nprobe = 1000, rerank = 1000000).collect()
      assert(out.length == 10)
    } finally graft.util.Fs.deleteRecursively(root)
  }
}
