package graft

import org.apache.spark.sql.functions.min
import org.apache.spark.sql.streaming.Trigger
import graft.queries.StreamQueries
import graft.operators.Dedup

/** Day-2 warm-started streaming near-dup (`stream_neardup_indexed`):
  * the persisted index's band relation boots the bucket state with
  * FROZEN day-1 owners. The driver oracle hash-pins the full rule at
  * sf0.01 (including a stream doc owned by a higher-id day-1 doc);
  * this spec pins the frozen-vs-min-wins distinction on crafted data —
  * where the two semantics provably differ — and determinism. */
class IndexedNearDupStreamSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("frozen day-1 owner wins over a LOWER-id stream arrival; index-free buckets stay min-wins") {
    import spark.implicits._
    val tDup = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    val tNew = ("omicron pi rho sigma tau upsilon phi chi " * 8).trim
    def doc(id: Long, t: String) = (id, t, "en", "web", t.length.toLong)
    val root = java.nio.file.Files.createTempDirectory("graft-neardup-idx-spec")
    try {
      // day 1: a single doc with id 10 owns tDup's buckets in the index
      val day1 = Seq(doc(10L, tDup))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      Dedup.writeIndex(spark, day1, root.resolve("index").toString)
      // day 2 stream: 3 (tDup, LOWER id than the index owner), 17 (tDup),
      // and a bucket the index has never seen (7 then 27 share tNew)
      Seq(doc(3L, tDup), doc(17L, tDup), doc(7L, tNew), doc(27L, tNew))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(root.resolve("stream").toString)
      val schema = spark.read.parquet(root.resolve("stream").toString).schema
      val stream = spark.readStream.schema(schema)
        .parquet(root.resolve("stream").toString)
      val hits = StreamQueries.nearDupHitsIndexed(spark, stream,
        root.resolve("index").resolve("bands").toString)
      val name = "neardup_idx_spec_" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
      val q = hits.writeStream.outputMode("update").format("memory")
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val res = spark.table(name).groupBy($"doc_id")
        .agg(min($"near_dup_of").as("o"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      spark.catalog.dropTempView(name)
      // a plain min-wins machine would let 3 take ownership silently and
      // report (17, 3) — the frozen rule reports BOTH against day-1's 10
      assert(res == Seq((3L, 10L), (17L, 10L), (27L, 7L)),
        s"frozen-owner semantics drifted: $res")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("deterministic across repeated drains") {
    val a = StreamQueries.streamNearDupIndexed(spark, sf)
      .collect().map(_.toString).sorted
    val b = StreamQueries.streamNearDupIndexed(spark, sf)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
