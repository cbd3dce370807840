package graft

import graft.operators.{Curation, TextAnalysis}

/** Definitions of the corpus-statistics operators pinned on crafted
  * documents where every number is computable by hand: tf-idf ranking
  * (integer tie-break contract), unigram surprisal (corpus-LM scoring),
  * and the quality funnel's first-fail composition law. The oracle pins
  * the real corpus; this pins the SEMANTICS. */
class CorpusStatsSpec extends SparkSuite {

  private def stage(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "cstats").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    base
  }

  test("tfidf: corpus-wide words score zero, rank breaks ties by (tf, df, term)") {
    // 4 docs; "common" in all 4 → idf = ln(1) = 0; doc 0's "alpha"
    // appears twice (tf 2) and only there (df 1) → top term by tf
    val dir = stage(Seq(
      (0L, "common alpha alpha beta"),
      (1L, "common beta"),
      (2L, "common gamma"),
      (3L, "common delta")))
    val top = TextAnalysis.tfidfTopK(spark, dir).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getAs[Long]("rank"))
    assert(top.head.getAs[String]("term") == "alpha")
    assert(top.head.getAs[Long]("tf") == 2L)
    assert(top.head.getAs[Double]("tfidf") == math.rint(2.0 * math.log(4.0) * 1e4) / 1e4)
    // rank 2: tf ties at 1 between "beta" (df 2) and "common" (df 4) —
    // df asc breaks it toward the rarer word
    assert(top(1).getAs[String]("term") == "beta")
    // "common" has idf ln(4/4) = 0 → tfidf exactly 0.0, still ranked
    assert(top(2).getAs[String]("term") == "common")
    assert(top(2).getAs[Double]("tfidf") == 0.0)
  }

  test("surprisal: uniform corpus scores ln(V), rare-word docs score higher") {
    // 8 token instances total: "a"×4, "b"×2, "c"×1, "d"×1
    val dir = stage(Seq(
      (0L, "a a a a"),
      (1L, "b b"),
      (2L, "c d")))
    val m = TextAnalysis.unigramSurprisal(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("surprisal")).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(m(0L) == r4(math.log(8.0 / 4)))
    assert(m(1L) == r4(math.log(8.0 / 2)))
    assert(m(2L) == r4(math.log(8.0 / 1)))
    // monotone: the all-common doc is the least surprising
    assert(m(0L) < m(1L) && m(1L) < m(2L))
  }

  test("temperature mix: dominant language downsampled at sqrt rate, minors kept whole") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "cstats").toString
    // 100 docs: 80 en, 10 fr, 10 de → en rate = sqrt(100/(3*80)) ≈ 0.6455,
    // fr/de at 10 < 100/3 → rate 1 (kept whole, bit-for-bit)
    (0L until 100L).map(i =>
        (i, s"doc $i", if (i < 80) "en" else if (i < 90) "fr" else "de"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val rows = Curation.mixTemperature(spark, base).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang("fr").length == 10 && byLang("de").length == 10,
      "below-share languages must be kept whole")
    assert(byLang("fr").forall(_.getAs[Double]("rate") == 1.0))
    val enRate = byLang("en").head.getAs[Double]("rate")
    assert(enRate == math.rint(math.sqrt(100.0 / (3.0 * 80.0)) * 1e6) / 1e6)
    // the hash gate realizes the rate to within sampling noise
    val kept = byLang("en").length
    assert(kept > 80 * 0.4 && kept < 80 * 0.9, s"en kept $kept of 80")
  }

  test("funnel: first-fail attribution and the composition law") {
    val good = "the quick brown fox jumps over the lazy dog again" // 10 tokens, clean
    val dir = stage(Seq(
      (0L, good),
      (1L, "short doc"),                                   // stage 1: < 10 tokens
      (2L, "a b c d e f g h i j"),                         // stage 2: mean token len 1
      (3L, good + " !!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!"), // stage 3: punct heavy
      (4L, good + " 123456789012"),                        // stage 5: long digit run
      (5L, good)))
    val rows = Curation.qualityFunnel(spark, dir).collect().sortBy(_.getLong(0))
    val byStage = rows.map(r => r.getLong(0) ->
      ((r.getAs[Long]("n_in"), r.getAs[Long]("n_fail"), r.getAs[Long]("n_out")))).toMap
    assert(rows.length == 5)
    assert(byStage(1L) == ((6L, 1L, 5L))) // doc 1 falls at the token floor
    assert(byStage(2L) == ((5L, 1L, 4L))) // doc 2 at mean token length
    assert(byStage(3L) == ((4L, 1L, 3L))) // doc 3 at punctuation
    assert(byStage(4L) == ((3L, 0L, 3L)))
    assert(byStage(5L) == ((3L, 1L, 2L))) // doc 4 at the digit-run gate
    // composition law: each stage's survivors feed the next
    (1L to 4L).foreach(k => assert(byStage(k)._3 == byStage(k + 1)._1))
  }
}
