package graft

import graft.operators.Dedup

/** Span semantics of [[Dedup.substringSpans]] pinned on crafted
  * documents where the maximal duplicated spans are computable by hand
  * (the oracle pins the real corpus; this pins the DEFINITIONS —
  * cross-doc gating, island merging, within-doc exclusion — so a
  * refactor can't silently change them). Filler words are fully
  * disjoint between unrelated docs: any shared 5-gram would create an
  * unintended duplicated window. */
class SubstringDedupSpec extends SparkSuite {

  // doc 0 and doc 1 share one 7-token run (3 overlapping 5-grams →
  // ONE maximal span of 7 tokens); doc 2 repeats its own 5-gram twice
  // but shares it with nobody; doc 3 shares NOTHING; doc 4 and doc 5
  // share two runs separated by a gap > 5 in doc 4 (two islands).
  private val sharedRun = "s1 s2 s3 s4 s5 s6 s7"
  private val runA = "r1 r2 r3 r4 r5"
  private val runB = "t1 t2 t3 t4 t5"
  private lazy val dir: String = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "subspec").toString
    Seq(
      (0L, s"a1 a2 $sharedRun a3 a4"),
      (1L, s"b1 b2 b3 $sharedRun"),
      (2L, "c1 c2 c3 c4 c5 cx c1 c2 c3 c4 c5"),
      (3L, "d1 d2 d3 d4 d5 d6 d7 d8"),
      (4L, s"$runA e1 e2 e3 e4 e5 e6 e7 $runB"),
      (5L, s"$runA f1 $runB")
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    base
  }

  private lazy val rows: Map[Long, (Long, Long, Long)] =
    Dedup.substringSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_spans"),
        r.getAs[Long]("dup_tokens"), r.getAs[Long]("longest_span")))).toMap

  test("overlapping shared 5-grams merge into one maximal span") {
    // the 7-token shared run yields 3 overlapping duplicated windows in
    // each doc; gaps-and-islands must merge them into ONE 7-token span
    assert(rows(0L) == ((1L, 7L, 7L)))
    assert(rows(1L) == ((1L, 7L, 7L)))
  }

  test("within-doc repetition alone does not qualify (cross-doc gate)") {
    assert(!rows.contains(2L))
  }

  test("documents sharing nothing emit no row") {
    assert(!rows.contains(3L))
  }

  test("runs separated by a gap wider than k stay separate islands") {
    // doc 4: runA window start 0 and runB start 12 — gap 12 > k=5 →
    // two spans of 5; doc 5 has starts 0 and 6 — gap 6 > 5, also two
    // islands (adjacent-but-not-contiguous must NOT merge)
    assert(rows(4L) == ((2L, 10L, 5L)))
    assert(rows(5L) == ((2L, 10L, 5L)))
  }

  test("scrub removes exactly the covered tokens and passes other docs through") {
    val m = Dedup.substringScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed")))).toMap
    assert(m.size == 6, "scrub must return every document")
    // doc 0 loses the 7 shared tokens, keeps its unique frame
    assert(m(0L) == (("a1 a2 a3 a4", 7L)))
    assert(m(1L) == (("b1 b2 b3", 7L)))
    // within-doc repeats and unshared docs pass through untouched
    assert(m(2L)._2 == 0L && m(2L)._1 == "c1 c2 c3 c4 c5 cx c1 c2 c3 c4 c5")
    assert(m(3L)._2 == 0L)
    // doc 5 keeps only its 1-token separator between the two shared runs
    assert(m(5L) == (("f1", 10L)))
  }

  test("contiguous duplicated windows (gap exactly k) do merge") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "subspec2").toString
    // docs share a 10-token run: windows at starts 0 and 5 are disjoint
    // as intervals [0,4] and [5,9] but contiguous in tokens → one span
    val run = "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"
    Seq((0L, run), (1L, s"v1 $run")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val m = Dedup.substringSpans(spark, base).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_spans"),
        r.getAs[Long]("dup_tokens"), r.getAs[Long]("longest_span")))).toMap
    assert(m(0L) == ((1L, 10L, 10L)))
    assert(m(1L) == ((1L, 10L, 10L)))
  }
}
