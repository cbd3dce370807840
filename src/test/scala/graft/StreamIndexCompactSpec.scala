package graft

/** Streamed-lifecycle index compaction (`stream_text_index_compact`):
  * folding N per-micro-batch posting dirs + a takedown through the
  * union compaction must answer byte-identically to the BATCH takedown
  * lifecycle (`text_search_compact`) — stream-accrued ≡ batch-built ≡
  * fresh survivor index. Micro-batch boundaries and the accrual order
  * must be invisible to the compacted relation. */
class StreamIndexCompactSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("stream-accrued + compacted == batch takedown lifecycle == deterministic") {
    val streamed = graft.queries.StreamQueries
      .streamTextIndexCompact(spark, sf).collect().map(_.toString).sorted
    val batch = graft.operators.TextAnalysis
      .searchCompact(spark, sf).collect().map(_.toString).sorted
    assert(streamed.nonEmpty, "phrase probe returned nothing — spec vacuous")
    assert(streamed.sameElements(batch),
      "streamed-lifecycle compaction diverges from the batch takedown")
    // no retired doc (doc_id ≡ 5 mod 17) may survive the compaction
    import spark.implicits._
    val ids = graft.queries.StreamQueries.streamTextIndexCompact(spark, sf)
      .select("doc_id").as[Long].collect()
    assert(ids.forall(_ % 17 != 5), "a retired doc surfaced post-compaction")
  }

  test("PQ twin: stream-accrued + compacted == batch-built + compacted") {
    import spark.implicits._
    // batch lifecycle with the same training universe (full corpus) and
    // the same takedown slice: the deterministic trainer makes the two
    // codebook sidecars identical, so the compacted code relations — and
    // the probe-all answers — must match row for row
    val base = java.nio.file.Files.createTempDirectory("pq-compact-spec")
    val batchTopk =
      try {
        graft.operators.Similarity.writePqIndex(spark, sf, s"$base/full")
        val retired = spark.read.parquet(s"$sf/embeddings.parquet")
          .filter(org.apache.spark.sql.functions.pmod(
            $"vec_id", org.apache.spark.sql.functions.lit(17)) === 5)
          .select($"vec_id")
        graft.operators.Similarity.compactPqIndex(
          spark, s"$base/full", retired, s"$base/compacted")
        graft.operators.Similarity.pqTopkFromIndex(
          spark, sf, s"$base/compacted", nprobe = 1000, rerank = 1000000)
          .collect().map(_.toString)
      } finally graft.util.Fs.deleteRecursively(base)
    val streamed = graft.queries.StreamQueries
      .streamPqIndexCompact(spark, sf).collect().map(_.toString)
    assert(streamed.nonEmpty, "PQ probe returned nothing — spec vacuous")
    assert(streamed.sameElements(batchTopk),
      "streamed-lifecycle PQ compaction diverges from the batch lifecycle")
    val ids = graft.queries.StreamQueries.streamPqIndexCompact(spark, sf)
      .select("vec_id").as[Long].collect()
    assert(ids.forall(_ % 17 != 5), "a retired vector surfaced post-compaction")
  }
}
