package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Similarity, TextAnalysis}
import graft.queries.Relational

/** Round-8 selection / layout / attribution additions (`corpus_dsir`,
  * `corpus_length_buckets`, `text_lm_score`, `sim_ann_filtered`,
  * `events_attribution`): each is hash-gated against DuckDB at three
  * SFs; this spec pins the structural invariants the value hashes don't
  * name — exact keep-quota of the histogram top-k, batch-size and
  * monotonicity of the length layout, the training-slice signal of the
  * LM score, the filter contract of filtered ANN, and conservation of
  * conversions/revenue in attribution. */
class SelectionOpsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("corpus_dsir keeps exactly n/5 docs, and every kept score dominates every dropped score") {
    import spark.implicits._
    val r = Curation.dsirSelect(spark, sf)
    val n = r.count()
    assert(r.filter($"keep" === 1).count() === n / 5,
      "histogram top-k must hit the quota exactly, ties resolved by doc_id")
    // display scores are 4-dec, rank key is 6-dec: dominance up to one
    // display ulp (the oracle hash pins the exact boundary ordering)
    val minKept = r.filter($"keep" === 1).agg(min($"dsir_logratio")).head().getDouble(0)
    val maxDropped = r.filter($"keep" === 0).agg(max($"dsir_logratio")).head().getDouble(0)
    assert(minKept >= maxDropped - 1.1e-4,
      s"kept scores must dominate dropped scores: $minKept vs $maxDropped")
  }

  test("corpus_length_buckets: full batches except the tail, lengths non-decreasing across batches") {
    import spark.implicits._
    val r = Curation.lengthBuckets(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(r.map(_.getAs[Long]("n_docs")).sum === nDocs)
    r.dropRight(1).foreach(row =>
      assert(row.getAs[Long]("n_docs") === 32L, "only the tail batch may be short"))
    val maxToks = r.sortBy(_.getAs[Long]("batch_id")).map(_.getAs[Long]("max_tok"))
    assert(maxToks.zip(maxToks.tail).forall { case (a, b) => a <= b },
      "batches are length-sorted, so per-batch max length is non-decreasing")
    r.foreach { row =>
      val pf = row.getAs[Double]("pad_frac")
      assert(pf >= 0.0 && pf < 1.0)
    }
  }

  test("text_lm_score: one row per multi-token doc, n_bigrams = tokens-1, training slice scores highest") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang",
        expr("cast(size(filter(split(lower(text), ' '), x -> length(x) > 0)) as long)").as("n_tok"))
    val r = TextAnalysis.lmScore(spark, sf)
    assert(r.count() === docs.filter($"n_tok" >= 2).count())
    assert(r.join(docs, "doc_id").filter($"n_bigrams" =!= $"n_tok" - 1).count() === 0L)
    assert(r.filter($"lm_logprob" >= 0.0).count() === 0L, "log-probs are strictly negative")
    val byLang = r.join(docs, "doc_id")
      .groupBy(($"lang" === "en").as("is_en")).agg(avg($"lm_logprob").as("m"))
      .collect().map(x => x.getBoolean(0) -> x.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      "a model trained on the en slice must rank en docs above the rest on average")
  }

  test("sim_ann_filtered: k hits per query, all sharing the query's label, ranked by descending cosine") {
    import spark.implicits._
    val labels = spark.read.parquet(s"$sf/embeddings.parquet").select($"vec_id", $"label")
    val r = Similarity.annFiltered(spark, sf)
    val per = r.groupBy($"q_id").agg(count(lit(1)).as("n")).collect()
    assert(per.nonEmpty && per.forall(_.getAs[Long]("n") === 5L))
    val joined = r
      .join(labels.withColumnRenamed("vec_id", "q_id").withColumnRenamed("label", "q_label"), "q_id")
      .join(labels, "vec_id")
    assert(joined.filter($"label" =!= $"q_label").count() === 0L,
      "the metadata predicate applies BEFORE ranking — no off-label neighbor may appear")
    val badOrder = r.withColumn("prev", lag($"cos_sim", 1).over(
      org.apache.spark.sql.expressions.Window.partitionBy($"q_id").orderBy($"rank")))
      .filter($"prev".isNotNull && $"prev" < $"cos_sim")
    assert(badOrder.count() === 0L)
  }

  test("events_attribution conserves conversions and revenue over the purchase set") {
    import spark.implicits._
    val purchases = spark.read.parquet(s"$sf/events.parquet")
      .filter($"event_type" === "purchase")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("cents"))
      .head()
    val r = Relational.eventsAttribution(spark, sf)
      .agg(sum($"n_conversions"), round(sum($"revenue"), 2)).head()
    assert(r.getLong(0) === purchases.getAs[Long]("n"))
    assert(math.abs(r.getDouble(1) - purchases.getAs[Long]("cents") / 100.0) < 0.05,
      "per-channel rounding may move the total by at most a cent per channel")
  }
}
