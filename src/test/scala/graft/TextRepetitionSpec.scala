package graft

import graft.operators.TextAnalysis

/** Repetition-filter semantics pinned on crafted documents where the
  * fractions are computable by hand (the oracle pins the real corpus;
  * this pins the DEFINITIONS so a refactor can't silently change them). */
class TextRepetitionSpec extends SparkSuite {

  /** Stage crafted docs as a documents.parquet the operator can read. */
  private lazy val dir: String = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "repspec").toString
    Seq(
      (0L, "a a a a a a a a a a"),          // one word repeated 10×
      (1L, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"), // 10 distinct, all bigrams unique
      (2L, "x y x y x y x y x y"),          // alternating pair
      (3L, "lonely"),                       // 1 token -> zero bigrams
      (4L, " ")                             // whitespace only -> zero tokens
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    base
  }

  private def row(id: Long) =
    TextAnalysis.repetition(spark, dir).collect().find(_.getLong(0) == id).get

  test("degenerate repetition: all-same-word doc is dropped") {
    val r = row(0L)
    assert(r.getAs[Long]("n_tokens") == 10L)
    assert(r.getAs[Double]("dup_word_frac") == 0.9)      // 1 - 1/10
    assert(r.getAs[Double]("top_bigram_frac") == 1.0)    // "a a" ×9 of 9
    assert(r.getAs[Double]("dup_bigram_frac") == 0.8889) // 1 - 1/9
    assert(r.getAs[Long]("keep") == 0L)
  }

  test("fully diverse doc is kept") {
    val r = row(1L)
    assert(r.getAs[Double]("dup_word_frac") == 0.0)
    assert(r.getAs[Double]("top_bigram_frac") == 0.1111) // 1/9
    assert(r.getAs[Double]("dup_bigram_frac") == 0.0)
    assert(r.getAs[Long]("keep") == 1L)
  }

  test("alternating two-word doc: both signals fire") {
    val r = row(2L)
    assert(r.getAs[Double]("dup_word_frac") == 0.8)      // 1 - 2/10
    assert(r.getAs[Double]("top_bigram_frac") == 0.5556) // "x y" ×5 of 9
    assert(r.getAs[Long]("keep") == 0L)
  }

  test("0-bigram and 0-token docs are kept with all-zero fractions") {
    // these rows must EXIST (the doc is defined, not dropped) and carry
    // 0.0 — not null — fractions; the DuckDB oracle mirrors this via its
    // LEFT JOIN back to all docs
    val r3 = row(3L)
    assert(r3.getAs[Long]("n_tokens") == 1L)
    assert(r3.getAs[Double]("dup_word_frac") == 0.0)
    assert(r3.getAs[Double]("top_bigram_frac") == 0.0)
    assert(r3.getAs[Double]("dup_bigram_frac") == 0.0)
    assert(r3.getAs[Long]("keep") == 1L)
    val r4 = row(4L)
    assert(r4.getAs[Long]("n_tokens") == 0L)
    assert(r4.getAs[Double]("dup_word_frac") == 0.0)
    assert(r4.getAs[Long]("keep") == 1L)
  }

  test("bigram counts never leave the map side unaggregated") {
    val plan = TextAnalysis.repetition(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      "gram counts must partial-aggregate before the exchange")
  }
}
