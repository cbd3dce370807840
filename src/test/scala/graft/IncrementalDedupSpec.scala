package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Incremental (new-batch-vs-index) near-dup dedup: result parity with
  * the full run, and the structural guarantee that index×index pairs are
  * never produced — the property that makes the pattern viable when the
  * index is 100 TB and the batch is a fraction of a percent. */
class IncrementalDedupSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("incremental equals the full run restricted to batch-involving pairs") {
    val full = Dedup.minhashLsh(spark, sf)
      .filter(col("doc_a") % 10 === 7 || col("doc_b") % 10 === 7)
      .collect().map(_.toString).sorted
    val inc = Dedup.minhashIncremental(spark, sf)
      .collect().map(_.toString).sorted
    assert(inc.nonEmpty, "batch slice found no near-dups — fixture drifted?")
    assert(inc.sameElements(full),
      s"incremental diverged from the restricted full run: ${inc.length} vs ${full.length}")
    Dedup.unpersistIntermediates(spark)
  }

  test("day-2 accounting entry: one row per delta doc, stages non-vacuous, flag law holds") {
    // corpus_funnel_accounting_delta's REAL gate is its DuckDB oracle
    // (the full arrival-ordered recompute restricted to delta docs —
    // the DICOM delta twins' law, cross-engine); this pins the
    // structural invariants at sf0.001: every %10==7 doc accounted
    // exactly once, the near-dup stage non-vacuous (4 drops at this
    // corpus), and the flag lattice (a dup is never also a near-dup;
    // curated ⟺ all three stages passed). Exact-dup non-vacuity is
    // corpus-dependent (first dup pair appears at sf0.1 — covered by
    // the ×3-SF verify), so it is not gated here.
    val rows = Dedup.corpusFunnelAccountingDelta(spark, sf).collect()
    val nDelta = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 === 7).count()
    assert(rows.length == nDelta.toInt,
      s"accounting must emit one row per delta doc: ${rows.length} vs $nDelta")
    assert(rows.exists(_.getAs[Long]("is_neardup") == 1L),
      "near-dup stage vacuous on the sf0.001 delta slice")
    rows.foreach { r =>
      val (dup, nd, qk, cur) = (r.getAs[Long]("is_dup"), r.getAs[Long]("is_neardup"),
        r.getAs[Long]("quality_keep"), r.getAs[Long]("curated"))
      assert(!(dup == 1L && nd == 1L), s"dup flagged as near-dup too: $r")
      assert((cur == 1L) == (dup == 0L && nd == 0L && qk == 1L), s"curated flag law broken: $r")
    }
    Dedup.unpersistIntermediates(spark)
  }

  test("index-only duplicates are invisible to the incremental run") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-dedup")
    try {
      // doc ids 1,2 (index) are exact duplicates of each other; the only
      // batch doc (id 7) resembles nothing. A full run finds (1,2); the
      // incremental run must find NOTHING — it never pairs the index
      // against itself.
      val dupText = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
      Seq(
        (1L, dupText, "en", "web", dupText.length.toLong),
        (2L, dupText, "en", "web", dupText.length.toLong),
        (7L, "one two three four five six seven eight nine ten eleven twelve", "en", "web", 60L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(dir.resolve("documents.parquet").toString)
      val full = Dedup.minhashLsh(spark, dir.toString).collect()
      assert(full.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)),
        "full run must see the index-side duplicate pair")
      assert(Dedup.minhashIncremental(spark, dir.toString).collect().isEmpty,
        "incremental run generated an index-side pair")
      Dedup.unpersistIntermediates(spark)
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
