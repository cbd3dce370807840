package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Content-defined chunking (`dedup_cdc_chunks`): the DuckDB oracle
  * hash-pins boundary positions, chunk hashes, and occurrence counts at
  * three SFs; this spec pins the property that justifies the operator —
  * INSERTION LOCALITY: an edit re-chunks only the chunk it lands in,
  * every other chunk hash survives, so dedup matches against the
  * unedited corpus are preserved. Fixed-offset blocking loses every
  * chunk after the edit point; CDC loses at most one (plus a possible
  * boundary split/merge at the edit's own chunk). */
class CdcChunkSpec extends SparkSuite {

  test("coverage: chunks tile each document exactly") {
    import spark.implicits._
    val out = Dedup.cdcChunks(spark, "/root/testdata/sf0.001").cache()
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", length($"text").cast("long").as("n"))
      val per = out.groupBy($"doc_id").agg(
        min($"start_pos").as("first"),
        max($"start_pos" + $"chunk_len").as("last"),
        sum($"chunk_len").as("covered"),
        count(lit(1)).as("n_chunks"),
        max($"chunk_id").as("max_id"))
      val j = per.join(docs, "doc_id")
      assert(j.filter($"first" =!= 0L || $"last" =!= $"n" || $"covered" =!= $"n").count() === 0L,
        "chunks must tile the document with no gap or overlap")
      assert(j.filter($"max_id" =!= $"n_chunks" - 1).count() === 0L, "dense chunk ids")
    } finally out.unpersist()
  }

  test("insertion locality: an edit changes only the chunk it lands in") {
    import spark.implicits._
    // a long pseudo-random (but deterministic) base string — enough
    // content for several content-defined chunks at the 8-bit gate
    val base = {
      val sb = new StringBuilder
      var x = 12345L
      while (sb.length < 4000) {
        x = (x * 6364136223846793005L + 1442695040888963407L)
        sb.append(((x >>> 33) % 26 + 'a').toChar)
        if (x % 7 == 0) sb.append(' ')
      }
      sb.toString
    }
    val editAt = 2000
    val edited = base.substring(0, editAt) + "INSERTED-SPAN" + base.substring(editAt)
    val two = spark.createDataFrame(Seq((0L, base), (1L, edited))).toDF("doc_id", "text")
    val ch = Dedup.cdcChunksOf(spark, two)
      .select($"doc_id", $"start_pos", $"chunk_len", $"chunk_hash").collect()
    val baseCh = ch.filter(_.getLong(0) == 0L)
    val editCh = ch.filter(_.getLong(0) == 1L)
    assert(baseCh.length >= 4, s"need several chunks to make the claim (got ${baseCh.length})")
    // chunks strictly before the edit point: identical (same offset + hash)
    val beforeBase = baseCh.filter(r => r.getLong(1) + r.getLong(2) <= editAt).map(r => (r.getLong(1), r.getString(3))).toSet
    val beforeEdit = editCh.filter(r => r.getLong(1) + r.getLong(2) <= editAt).map(r => (r.getLong(1), r.getString(3))).toSet
    assert(beforeBase === beforeEdit, "pre-edit chunks must be byte-identical")
    // chunk hashes after the edit survive (shifted offset, same content)
    val afterBase = baseCh.filter(_.getLong(1) >= editAt).map(_.getString(3)).toSet
    val afterEdit = editCh.map(_.getString(3)).toSet
    val lost = afterBase -- afterEdit
    assert(lost.size <= 1,
      s"CDC must preserve all but the edited chunk's hash (lost ${lost.size})")
    // and the dedup consequence: most of the edited doc's chunk mass
    // still matches the base doc
    val shared = editCh.map(_.getString(3)).toSet intersect baseCh.map(_.getString(3)).toSet
    assert(shared.size >= baseCh.length - 2,
      s"shared chunks ${shared.size} of ${baseCh.length}")
  }
}
