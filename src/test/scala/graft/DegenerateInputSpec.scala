package graft

import graft.operators.{Dedup, Graph}
import graft.queries.Relational

/** The round's new operators on EMPTY and singleton inputs — the
  * degenerate shapes a production pipeline hits on day one (an empty
  * partition, a table with one row) and that no corpus-level oracle
  * exercises: every operator must return an empty/consistent result,
  * never throw. */
class DegenerateInputSpec extends SparkSuite {

  /** A scratch sf-dir holding EMPTY copies of the tables the round's
    * operators read (schemas cloned from the real sf0.001 fixtures). */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-degenerate").toString
    sys.addShutdownHook(
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir)))
    Seq("customer", "part", "lineitem", "events", "orders", "documents",
        "embeddings")
      .foreach { t =>
        spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
          .limit(0).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    dir
  }

  test("empty tables: every new operator returns empty, none throws") {
    val ops: Seq[(String, () => Long)] = Seq(
      "dedup_edit_join" -> (() => Dedup.editJoin(spark, emptyDir).count()),
      "dedup_containment" -> (() => Dedup.containment(spark, emptyDir).count()),
      "q36_skyline" -> (() => Relational.q36Skyline(spark, emptyDir).count()),
      "graph_lpa" -> (() => Graph.lpa(spark, emptyDir).count()),
      "graph_kcore" -> (() => Graph.kcore(spark, emptyDir).count()),
      "graph_node_sim" -> (() => Graph.nodeSim(spark, emptyDir).count()),
      "graph_bfs" -> (() => Graph.bfs(spark, emptyDir).count()),
      "events_transitions" -> (() => Relational.eventsTransitions(spark, emptyDir).count()),
      "events_twap" -> (() => Relational.eventsTwap(spark, emptyDir).count()),
      "events_active_time" -> (() => Relational.eventsActiveTime(spark, emptyDir).count()),
      "events_cumulative_users" -> (() => Relational.eventsCumulativeUsers(spark, emptyDir).count()),
      "events_rfm" -> (() => Relational.eventsRfm(spark, emptyDir).count()),
      "table_diff" -> (() => graft.operators.Maintenance.tableDiff(spark, emptyDir).count()),
      // r8 additions
      "corpus_shard" -> (() => graft.operators.Curation.shard(spark, emptyDir).count()),
      "corpus_shuffle" -> (() => graft.operators.Curation.shuffleOrder(spark, emptyDir).count()),
      "corpus_interleave" -> (() => graft.operators.Curation.interleave(spark, emptyDir).count()),
      "corpus_epochs" -> (() => graft.operators.Curation.epochs(spark, emptyDir).count()),
      "dedup_lines" -> (() => Dedup.lineDedup(spark, emptyDir).count()),
      "source_jsonl" -> (() => graft.sources.DocumentSources.jsonlRoundtrip(spark, emptyDir).count()),
      "source_csv" -> (() => graft.sources.DocumentSources.csvRoundtrip(spark, emptyDir).count()),
      // r8 cont. — the learned sim_pq_index_day2 is excluded like every
      // kmeans-trained op (training on an empty corpus is a fail-fast,
      // not an empty result)
      "corpus_length_buckets" -> (() => graft.operators.Curation.lengthBuckets(spark, emptyDir).count()),
      "sim_range_search" -> (() => graft.operators.Similarity.rangeSearch(spark, emptyDir).count()),
      "stream_neardup_indexed" -> (() => graft.queries.StreamQueries.streamNearDupIndexed(spark, emptyDir).count()),
      "stream_embed_neardup" -> (() => graft.queries.StreamQueries.streamEmbedNearDup(spark, emptyDir).count()),
      "stream_corpus_quality_gate" -> (() => graft.queries.StreamQueries.streamCorpusQualityGate(spark, emptyDir).count()),
      // r9 additions — BM25 over an empty corpus has no postings (and
      // null corpus scalars never reach a score row); the hybrid fuses
      // two empty arms through the full-outer join
      "text_search_bm25" -> (() => graft.operators.TextAnalysis.bm25(spark, emptyDir).count()),
      "text_search_hybrid" -> (() => graft.operators.TextAnalysis.hybridSearch(spark, emptyDir).count()),
      // an empty corpus has no training rows and no scorable docs; the
      // COALESCE(missing class, 0) guards keep every smoothed ratio
      // finite so the plan collapses to empty instead of throwing
      "corpus_quality_classifier" -> (() => graft.operators.Curation.nbQualityClassifier(spark, emptyDir).count()),
      // the persisted model trained on the empty corpus is an empty
      // weight table + a zero prior; the stateless scorer then streams
      // zero documents
      "stream_corpus_nb_score" -> (() => graft.queries.StreamQueries.streamCorpusNbScore(spark, emptyDir).count()),
      // all three composed tiers collapse to empty: no gated docs, no
      // scorable docs, an empty bucket store — the drain still runs
      "stream_corpus_pipeline" -> (() => graft.queries.StreamQueries.streamCorpusPipeline(spark, emptyDir).count()),
      // no query vector, so the shortlist and pairwise relations are
      // empty and the greedy loop never iterates
      "sim_mmr_diversify" -> (() => graft.operators.Similarity.mmrDiversify(spark, emptyDir).count()),
      // r10 additions — the takedown entries compact an EMPTY posting
      // union (the anti-join and both probes collapse to zero rows);
      // the integer-twin trainers (sim_pq_exact / sim_ivf_exact /
      // sim_mmr_pq) are excluded like every kmeans-trained op, with the
      // fail-fast message pinned below
      "text_search_compact" -> (() => graft.operators.TextAnalysis.searchCompact(spark, emptyDir).count()),
      "text_search_bm25_compact" -> (() => graft.operators.TextAnalysis.bm25Compact(spark, emptyDir).count()),
      // counts over an empty corpus are a 1-row all-zero totals file +
      // an empty per-word relation; the derived model is an empty
      // weight table + zero prior, scoring zero documents
      "corpus_nb_day2" -> (() => graft.operators.Curation.nbModelDay2(spark, emptyDir).count()),
      // zero arrival files → zero micro-batches; the day-0 baseline
      // counts keep the post-drain derive well-defined
      "stream_corpus_nb_refresh" -> (() => graft.queries.StreamQueries.streamCorpusNbRefresh(spark, emptyDir).count()),
      // zero arrival files → zero micro-batches; the day-0 empty
      // posting dir keeps the post-drain phrase probe well-defined
      "stream_text_index_refresh" -> (() => graft.queries.StreamQueries.streamTextIndexRefresh(spark, emptyDir).count()),
      // compacting zero accumulated batch dirs (just the day-0 empty
      // baseline) with an empty takedown slice is a no-op rewrite
      "stream_text_index_compact" -> (() => graft.queries.StreamQueries.streamTextIndexCompact(spark, emptyDir).count()))
    ops.foreach { case (name, run) =>
      val n = try run() catch {
        case scala.util.control.NonFatal(e) =>
          fail(s"$name threw on empty input", e)
      }
      assert(n == 0L, s"$name returned $n rows on empty input")
      Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
    }
  }

  test("integer trainers fail FAST with a clear message on an empty corpus") {
    // the learned entries' degenerate contract: no silent empty result
    // from a trainer (an empty model scoring everything identically is
    // worse than an error), and no bare NoSuchElementException either
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.pqExact(spark, emptyDir).count()
    }
    assert(e1.getMessage.contains("empty embedding corpus"))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.ivfExact(spark, emptyDir).count()
    }
    assert(e2.getMessage.contains("empty corpus"))
    // the streaming PQ refresh trains day-0 codebooks — a learned
    // entry, so it fails fast rather than returning an empty index
    val e3 = intercept[IllegalArgumentException] {
      graft.queries.StreamQueries.streamPqIndexRefresh(spark, emptyDir).count()
    }
    assert(e3.getMessage.contains("empty embedding corpus"))
    // the streamed-compaction twin shares the refresh's day-0 trainer,
    // so the same fail-fast applies BEFORE any code is streamed or
    // compacted — never an empty compacted index
    val e4 = intercept[IllegalArgumentException] {
      graft.queries.StreamQueries.streamPqIndexCompact(spark, emptyDir).count()
    }
    assert(e4.getMessage.contains("empty embedding corpus"))
    graft.operators.Dedup.unpersistIntermediates(spark)
  }

  test("all-zero-token corpus: length buckets report pad_frac 0, not NaN") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-zerotok").toString
    try {
      // a batch composed entirely of empty documents divides 0/0 without
      // the guard; padding of an empty batch is 0 by definition
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
        .withColumn("text", lit(""))
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val rows = graft.operators.Curation.lengthBuckets(spark, dir).collect()
      assert(rows.length == 1)
      val pad = rows(0).getAs[Double]("pad_frac")
      assert(!pad.isNaN && pad == 0.0, s"pad_frac was $pad")
      assert(rows(0).getAs[Long]("max_tok") == 0L)
    } finally {
      spark.catalog.clearCache()
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("singleton tables: no pairs, no crashes, self-consistent rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-singleton").toString
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet").limit(1)
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    spark.read.parquet("/root/testdata/sf0.001/part.parquet").limit(1)
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(1)
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    try {
      assert(Dedup.editJoin(spark, dir).count() == 0)   // no pair from one name
      assert(Relational.q36Skyline(spark, dir).count() == 1) // the point IS the frontier
      assert(Relational.eventsTwap(spark, dir).count() == 0) // one event: no interval
      assert(Relational.eventsRfm(spark, dir).count() == 1)
      assert(Relational.eventsCumulativeUsers(spark, dir).count() == 1)
      // r8: one document — exactly one shard row at pos 0, the identity
      // permutation, one interleave row, ≥1 epoch copy, and no segment
      // can be cross-doc boilerplate
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(1)
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val sh = graft.operators.Curation.shard(spark, dir).collect()
      assert(sh.length == 1 && sh(0).getLong(2) == 0L)
      val pm = graft.operators.Curation.shuffleOrder(spark, dir).collect()
      assert(pm.length == 1 && pm(0).getLong(1) == 0L)
      assert(graft.operators.Curation.interleave(spark, dir).count() == 1)
      assert(graft.operators.Curation.epochs(spark, dir).count() >= 1)
      val ld = Dedup.lineDedup(spark, dir).collect()
      assert(ld.length == 1 && ld(0).getLong(2) == 0L,
        "a lone doc has no cross-doc boilerplate to lose")
      // r8 cont.: one vector — no pair for range search (self excluded),
      // no earlier owner for the stream filters
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(1)
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      assert(graft.operators.Similarity.rangeSearch(spark, dir).count() == 0)
      assert(graft.queries.StreamQueries.streamEmbedNearDup(spark, dir).count() == 0)
      assert(graft.queries.StreamQueries.streamNearDupIndexed(spark, dir).count() == 0)
      // r10: the integer trainers are defined on a single vector — all
      // farthest-point seeds coincide, every code is sub-centroid 0,
      // ADC stays finite; the IVF/MMR entries exclude the query itself
      // so their result sets are empty
      val pq1 = graft.operators.Similarity.pqExact(spark, dir).collect()
      assert(pq1.length == 1 &&
        (1 to 4).forall(i => pq1(0).getLong(i) == 0L),
        "one vector must encode as code 0 in every subspace")
      assert(graft.operators.Similarity.ivfExact(spark, dir).count() == 0)
      assert(graft.operators.Similarity.mmrDiversifyPqExact(spark, dir).count() == 0)
    } finally {
      Dedup.unpersistIntermediates(spark) // editJoin's tracked checkpoints
      spark.catalog.clearCache()
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }
}
