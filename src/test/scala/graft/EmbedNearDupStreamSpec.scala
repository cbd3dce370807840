package graft

import graft.queries.StreamQueries

/** Streaming embedding near-dup (`stream_embed_neardup`): the DuckDB
  * oracle hash-pins the single-batch owner-check semantics at sf0.01 —
  * including that cosine-verify REJECTS bucket collisions below τ
  * (collision-only output would be ~4× larger and hash-fail). This
  * spec pins the geometry-bounded state claim, cross-batch first-seen,
  * and determinism. */
class EmbedNearDupStreamSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("deterministic drains; state bounded by geometry (≤ tables × 2^bits), not corpus") {
    val a = StreamQueries.streamEmbedNearDup(spark, sf)
      .collect().map(_.toString).sorted
    val st = StreamQueries.lastNearDupState
    assert(st.isDefined, "drain did not report state-operator progress")
    val (rows, _) = st.get
    // 4 tables × 2^6 buckets — the key space itself is finite, the
    // family's only corpus-independent state bound
    assert(rows > 0 && rows <= 4 * 64, s"state rows $rows exceed geometry bound")
    val b = StreamQueries.streamEmbedNearDup(spark, sf)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("cross-batch: first-seen owner wins, late lower id takes over silently") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val dir = java.nio.file.Files.createTempDirectory("graft-embdup-batches")
    try {
      Seq((5L, v)).toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(dir.resolve("b1").toString)
      Seq((3L, v), (9L, v)).toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(dir.resolve("b2").toString)
      val staged = java.nio.file.Files.createTempDirectory("graft-embdup-in")
      def cp(sub: String, as: String): Unit = {
        val src = java.nio.file.Files.list(dir.resolve(sub))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.copy(src, staged.resolve(as))
      }
      cp("b1", "part-0001.parquet")
      cp("b2", "part-0002.parquet")
      try {
        val schema = spark.read.parquet(staged.toString).schema
        val name = "embdup_xbatch_" + java.lang.Long.toHexString(
          java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
        val result = StreamQueries.embedNearDupDrain(spark, stream, name, Nil)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        // 5 owns first; 3 (lower, later) takes over silently; 9 then
        // reports the CURRENT owner 3 at cosine 1
        assert(result == Seq((9L, 3L)),
          s"cross-batch first-seen semantics drifted: $result")
      } finally graft.util.Fs.deleteRecursively(staged)
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
