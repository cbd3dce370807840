package graft

import graft.operators.Dedup

/** Segment-level boilerplate removal (`dedup_lines`): the oracle gates
  * exact values on the sf corpus; this pins the semantics on crafted
  * docs — cross-doc segments go, within-doc repeats stay, order is
  * preserved, and a doc that is ALL boilerplate survives as an empty
  * row rather than vanishing. */
class LineDedupSpec extends SparkSuite {

  test("cross-doc segments drop, unique content survives in order") {
    import spark.implicits._
    // chunk=8: craft docs from 8-token segments
    val boiler = "nav home about contact terms privacy login logout" // shared
    val a1 = "alpha beta gamma delta epsilon zeta eta theta"
    val a2 = "one two three four five six seven eight"
    val b1 = "red orange yellow green blue indigo violet white"
    val dir = java.nio.file.Files.createTempDirectory("graft-linededup")
    try {
      Seq(
        (0L, s"$boiler $a1 $a2", "en", "web", 0L),
        (1L, s"$b1 $boiler", "en", "web", 0L),
        (2L, boiler, "en", "web", 0L) // all boilerplate
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      val out = Dedup.lineDedup(spark, dir.toString).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
      assert(out.length == 3, "every doc must survive as a row")
      assert(out(0) == (0L, s"$a1 $a2", 1L), s"doc 0 drifted: ${out(0)}")
      assert(out(1) == (1L, b1, 1L), s"doc 1 drifted: ${out(1)}")
      assert(out(2) == (2L, "", 1L), s"all-boilerplate doc must go empty: ${out(2)}")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("within-doc repetition alone is NOT boilerplate") {
    import spark.implicits._
    val seg = "spark spark spark spark spark spark spark spark"
    val dir = java.nio.file.Files.createTempDirectory("graft-linededup2")
    try {
      Seq(
        (0L, s"$seg $seg", "en", "web", 0L), // repeats within ONE doc
        (1L, "totally different words live here in this doc", "en", "web", 0L)
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      val out = Dedup.lineDedup(spark, dir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      assert(out(0) == (0L, 0L), "min(doc)=max(doc): within-doc repeats must be kept")
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
