package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation

/** `corpus_quality_classifier` — the trained-model tier of the curation
  * funnel. The DuckDB oracle hash-gates the exact scores; this spec pins
  * the MODEL properties the value hash doesn't name: the train/apply
  * split contract, that the learned model actually GENERALIZES the weak
  * rule to held-out documents (beats predicting the majority class, and
  * is not a constant classifier), and that a single-class degenerate
  * corpus yields finite scores and the majority prediction instead of a
  * smoothing blow-up. */
class QualityClassifierSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  test("one row per doc, in_train is exactly the even-doc_id half") {
    import spark.implicits._
    val r = Curation.nbQualityClassifier(spark, sf)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(r.count() === nDocs)
    assert(r.select($"doc_id").distinct().count() === nDocs)
    assert(r.filter(($"doc_id" % 2 === 0) =!= ($"in_train" === 1)).count() === 0L)
  }

  test("an all-out-of-vocab (or empty) doc is scored, at exactly the prior") {
    import spark.implicits._
    // odd doc_ids are held out of training, so doc 1's unseen token and
    // doc 3's empty text are outside the even-half vocabulary: the batch
    // classifier must KEEP them (the streaming scorer's contract) and
    // score them at exactly the prior log-odds
    val dir = java.nio.file.Files.createTempDirectory("nb-oov").toString
    try {
      Seq((0L, "hash hash table"), (2L, "plain words here"),
          (1L, "zzqx_never_seen_token"), (3L, ""))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = Curation.nbQualityClassifier(spark, dir)
        .select($"doc_id", $"nb_logodds").collect()
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(r.keySet === Set(0L, 1L, 2L, 3L), "every document is scored")
      assert(r(1L) === r(3L),
        "all-OOV and empty docs both score exactly the prior")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("corpus_nb_day2: append order is irrelevant, and deriving the model reads counts, not corpus") {
    import org.apache.spark.sql.functions._
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "nbday2").toString
    try {
      // counts are sufficient statistics: batch landing ORDER cannot
      // matter (sums commute) — the property the oracle hash can't name
      Curation.writeNbCounts(spark, docsDf.filter(!isBatch), s"$base/a", "overwrite")
      Curation.writeNbCounts(spark, docsDf.filter(isBatch), s"$base/a", "append")
      Curation.writeNbCounts(spark, docsDf.filter(isBatch), s"$base/b", "overwrite")
      Curation.writeNbCounts(spark, docsDf.filter(!isBatch), s"$base/b", "append")
      val (_, deriveBytes, _) = graft.util.Metrics.bytesReadDuring(spark) {
        Curation.deriveNbModel(spark, s"$base/a", s"$base/ma")
      }
      Curation.deriveNbModel(spark, s"$base/b", s"$base/mb")
      def model(p: String) = (
        spark.read.parquet(s"$p/weights").collect()
          .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq,
        spark.read.parquet(s"$p/prior").head().getLong(0))
      assert(model(s"$base/ma") === model(s"$base/mb"),
        "batch landing order changed the derived model")
      // the refresh's price: model derivation reads the vocab-sized
      // count artifact, never the corpus (here corpus ≈ 150 KiB text;
      // at 100 TB this inequality is the whole point)
      val countsBytes = graft.util.Metrics.diskBytes(s"$base/a")
      assert(deriveBytes <= countsBytes * 3,
        s"derive read $deriveBytes bytes vs counts artifact $countsBytes — is it re-reading the corpus?")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("batchId-keyed count sink is idempotent: a replayed micro-batch cannot double-count") {
    import org.apache.spark.sql.functions._
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "nbreplay").toString
    try {
      def model(p: String) = (
        spark.read.parquet(s"$p/weights").collect()
          .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq,
        spark.read.parquet(s"$p/prior").head().getLong(0))
      // once-each arm
      Curation.writeNbCountsBatch(spark, docsDf.filter(!isBatch), s"$base/a", 0L)
      Curation.writeNbCountsBatch(spark, docsDf.filter(isBatch), s"$base/a", 1L)
      Curation.deriveNbModel(spark, s"$base/a", s"$base/ma")
      // at-least-once arm: batch 1 REPLAYS (checkpointed-restart
      // semantics) — the overwrite of batch=1 must land on the same
      // location, so the derived model is identical, not double-counted
      Curation.writeNbCountsBatch(spark, docsDf.filter(!isBatch), s"$base/b", 0L)
      Curation.writeNbCountsBatch(spark, docsDf.filter(isBatch), s"$base/b", 1L)
      Curation.writeNbCountsBatch(spark, docsDf.filter(isBatch), s"$base/b", 1L)
      Curation.deriveNbModel(spark, s"$base/b", s"$base/mb")
      assert(model(s"$base/ma") === model(s"$base/mb"),
        "a replayed batch changed the derived model — the sink is not idempotent")
      // and batch-keyed counts merge with append-mode day-2 files: the
      // derive is layout-agnostic across the two writers
      Curation.writeNbCounts(spark, docsDf.filter(!isBatch), s"$base/c", "overwrite")
      Curation.writeNbCounts(spark, docsDf.filter(isBatch), s"$base/c", "append")
      Curation.deriveNbModel(spark, s"$base/c", s"$base/mc")
      assert(model(s"$base/ma") === model(s"$base/mc"),
        "batch-keyed and append-mode count layouts derived different models")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("held-out generalization: beats the majority class and is not constant") {
    import spark.implicits._
    val held = Curation.nbQualityClassifier(spark, sf)
      .filter($"in_train" === 0)
      .select($"y_weak", $"pred").collect()
    val n = held.length
    val pos = held.count(_.getInt(0) == 1)
    val baseRate = math.max(pos, n - pos).toDouble / n
    val acc = held.count(r => r.getInt(0) == r.getInt(1)).toDouble / n
    assert(acc > baseRate,
      s"NB must beat majority-class guessing on held-out docs: acc=$acc base=$baseRate")
    val preds = held.map(_.getInt(1)).distinct
    assert(preds.length === 2, "a constant classifier learned nothing")
  }

  test("streamed scores through the persisted model equal the batch classifier's") {
    import spark.implicits._
    val streamed = graft.queries.StreamQueries.streamCorpusNbScore(spark, sf)
      .select($"doc_id", ($"score_q".cast("double") / 1e9).as("s_lo"), $"pred".as("s_pred"))
    val batch = Curation.nbQualityClassifier(spark, sf)
      .select($"doc_id", $"nb_logodds", $"pred".as("b_pred"))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(streamed.count() === nDocs, "the stateless scorer emits every document")
    val joined = streamed.join(batch, "doc_id").collect()
    assert(joined.length === batch.count(),
      "every batch-scored doc must appear in the stream output")
    joined.foreach { r =>
      assert(r.getAs[Int]("s_pred") === r.getAs[Int]("b_pred"),
        s"pred diverged for doc ${r.getAs[Long]("doc_id")}")
      // batch displays 4-dec rounded log-odds; streamed is the exact
      // integer score — agreement up to one display ulp
      assert(math.abs(r.getAs[Double]("s_lo") - r.getAs[Double]("nb_logodds")) <= 1.1e-4,
        s"score diverged for doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("pipeline: kept ⊆ scored gate survivors with identical scores, and the funnel bounds dedup state") {
    import spark.implicits._
    val kept = graft.queries.StreamQueries.streamCorpusPipeline(spark, sf)
      .select($"doc_id", $"score_q".as("k_score"))
    val pipeState = graft.queries.StreamQueries.lastNearDupState
    // recompute the two stateless tiers in BATCH through the same
    // shared definitions — the stream must be a subset of them
    val model = Curation.nbModelPath(spark, sf)
    val survivors = Curation.nbScoreBatch(spark,
        graft.queries.StreamQueries.qualityGated(
          spark.read.parquet(s"$sf/documents.parquet")), model)
      .filter($"pred" === 1).select($"doc_id", $"score_q")
    val nKept = kept.count()
    val nSurv = survivors.count()
    assert(nKept > 0 && nKept <= nSurv)
    val agree = kept.join(survivors, "doc_id")
    assert(agree.count() === nKept, "every kept doc is a gate+NB survivor")
    assert(agree.filter($"k_score" =!= $"score_q").count() === 0L,
      "pipeline scores are the shared scorer's, bit-exact")
    // the composition claim as a measurement: the stateful store held
    // buckets only for funnel SURVIVORS (≤ 4 bands each) — strictly
    // fewer than the unfiltered streaming near-dup on the same corpus
    assert(pipeState.exists(_._1 <= 4 * nSurv),
      s"pipeline bucket state $pipeState exceeds 4×$nSurv")
    graft.queries.StreamQueries.streamNearDup(spark, sf).count()
    val fullState = graft.queries.StreamQueries.lastNearDupState
    assert(pipeState.get._1 < fullState.get._1,
      s"upstream filters must shrink the bucket store: $pipeState vs $fullState")
  }

  test("single-class corpus: finite scores, majority prediction, no smoothing blow-up") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nb-oneclass").toString
    try {
      // no 'hash' tokens anywhere → every weak label is 0
      spark.range(10).select($"id".as("doc_id"),
          concat(lit("alpha beta gamma delta row"), lit(" "),
            ($"id" % 3).cast("string")).as("text"),
          lit("en").as("lang"), lit("src0").as("source"),
          lit(30L).as("n_chars"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = Curation.nbQualityClassifier(spark, dir).collect()
      assert(r.length === 10)
      r.foreach { row =>
        assert(row.getAs[Int]("y_weak") === 0)
        assert(row.getAs[Int]("pred") === 0, "majority class under a one-class prior")
        assert(!row.getAs[Double]("nb_logodds").isNaN &&
               !row.getAs[Double]("nb_logodds").isInfinite)
      }
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }
}
