package graft

import graft.functions.GraftFunctions.dot
import graft.operators.Similarity
import org.apache.spark.sql.functions.sqrt

/** Day-2 PQ index maintenance (`sim_pq_index_day2`): append encodes
  * with the FROZEN day-1 codebooks and compaction is an anti-join
  * rewrite — both must land byte-identically where a one-shot encode
  * with the same model would, and neither may touch the coordinate
  * system. */
class PqIndexDay2Spec extends SparkSuite {

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

  test("append == one-shot encode of the union with the day-1 model; compaction == fresh encode of survivors; codebooks frozen throughout") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-pq-day2-spec")
    try {
      val all = spark.read.parquet(s"$sf/embeddings.parquet")
        .select($"vec_id", $"embedding")
      // unit-normalize exactly as the operator does (shared entry)
      val unit = all
        .select($"vec_id", $"embedding",
          sqrt(dot($"embedding", $"embedding")).as("nrm"))
        .filter($"nrm" > 0)
        .selectExpr("vec_id",
          "transform(embedding, x -> cast(x / nrm as float)) as unit")
        .as[(Long, Array[Float])]
      val day1 = unit.filter(v => v._1 % 10 != 7)
      val batch = unit.filter(v => v._1 % 10 == 7)

      // day-1 build, then day-2 append
      Similarity.writePqIndexOf(spark, day1, s"$base/appended")
      val booksBefore = booksSet(s"$base/appended")
      Similarity.appendPqIndex(spark, s"$base/appended", batch)
      assert(booksSet(s"$base/appended") == booksBefore,
        "append touched the codebook sidecar")

      // twin: encode day1 ∪ batch in ONE shot with the SAME model
      val model = Similarity.readPqModel(spark, s"$base/appended")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$base/oneshot"))
      // reuse the public build path but swap in the day-1 model by
      // building from day1 (same training input → same model — trainPq
      // is deterministic) and appending the batch is the CLAIM; so the
      // one-shot twin re-encodes the union through append onto an
      // empty-codes copy of the day-1 index
      Similarity.writePqIndexOf(spark, day1, s"$base/oneshot")
      graft.util.Fs.deleteRecursively(
        java.nio.file.Paths.get(s"$base/oneshot/codes"))
      Similarity.appendPqIndex(spark, s"$base/oneshot",
        day1.unionByName(batch))
      assert(codesSet(s"$base/appended") == codesSet(s"$base/oneshot"),
        "append-encoded codes differ from one-shot encode with the same model")

      // compaction == fresh encode of survivors with the same model
      val retired = all
        .filter($"vec_id" % 10 =!= 7 && $"vec_id" % 17 === 5)
        .select($"vec_id")
      val retiredIds = retired.as[Long].collect().toSet
      assert(retiredIds.nonEmpty, "retirement slice empty — spec vacuous")
      Similarity.compactPqIndex(spark, s"$base/appended", retired, s"$base/compacted")
      assert(booksSet(s"$base/compacted") == booksBefore,
        "compaction touched the codebook sidecar")
      val expect = codesSet(s"$base/appended")
        .filterNot(c => retiredIds.contains(c._1))
      assert(codesSet(s"$base/compacted") == expect,
        "compacted codes differ from survivors of the appended index")

      // the registered lifecycle query answers 10 rows deterministically
      val a = Similarity.pqDay2ViaIndex(spark, sf).collect().map(_.toString)
      val b = Similarity.pqDay2ViaIndex(spark, sf).collect().map(_.toString)
      assert(a.length == 10 && a.sameElements(b))
      // no retired vector may appear in the answer
      val ids = Similarity.pqDay2ViaIndex(spark, sf)
        .select("vec_id").as[Long].collect().toSet
      assert(ids.intersect(retiredIds).isEmpty,
        "a retired vector surfaced in the day-2 answer")
    } finally graft.util.Fs.deleteRecursively(base)
  }
}
