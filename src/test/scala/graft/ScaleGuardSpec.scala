package graft

import graft.operators.Dedup

/** Pins the scale guards: the exact O(n²) cosine path must refuse
  * over-threshold inputs (routing users to the LSH scale path), and the
  * n-gram Jaccard candidate generator must df-filter BEFORE any doc list
  * materializes (the window-based plan shape), so a stop-gram can never
  * grow an unbounded collect_list aggregation buffer. */
class ScaleGuardSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("embedCosine fails fast past the configured row cap, naming the scale path") {
    withConf("spark.graft.dedup.exactCosineMaxRows" -> "3") {
      val e = intercept[IllegalArgumentException] {
        Dedup.embedCosine(spark, sf)
      }
      assert(e.getMessage.contains("exactCosineMaxRows"))
      assert(e.getMessage.contains("embedLshNearDup"),
        "the error must point at the bucketed scale path")
    }
  }

  test("embedCosine runs under the default cap") {
    assert(Dedup.embedCosine(spark, sf).count() >= 0)
  }

  test("LSH candidate volume shrinks as spark.graft.lsh.bits rises") {
    import graft.operators.Similarity
    def candidates(): Long = Similarity.embedLshCandidates(spark, sf).count()
    val atDefault = candidates() // 4 tables × 6 bits
    val atTwelve = withConf("spark.graft.lsh.bits" -> "12")(candidates())
    assert(atTwelve < atDefault,
      s"12-bit buckets must collide less than 6-bit ones ($atTwelve vs $atDefault)")
    // more tables at fixed bits = more OR-amplified recall = more candidates
    withConf("spark.graft.lsh.bits" -> "6", "spark.graft.lsh.tables" -> "8") {
      assert(candidates() >= atDefault,
        "extra tables can only add collision opportunities")
    }
  }

  test("simhash candidate volume shrinks with fewer, wider bands") {
    def pairs(): Long = Dedup.simhashPairs(spark, sf).count()
    val atDefault = pairs() // 4 × 15-bit bands, hamming ≤ 12 verification
    // 2 × 30-bit bands: only hamming < 2 is guaranteed a collision —
    // strictly fewer candidates survive to (and through) verification
    withConf("spark.graft.simhash.bands" -> "2")(assert(pairs() <= atDefault))
    withConf("spark.graft.simhash.bands" -> "7") { // does not divide 60
      val e = intercept[IllegalArgumentException](pairs())
      assert(e.getMessage.contains("spark.graft.simhash.bands"))
    }
  }

  test("dedup intermediate caches AND checkpoints are released by unpersistIntermediates") {
    spark.catalog.clearCache()
    Dedup.unpersistIntermediates(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashLsh(spark, sf).count()
    Dedup.simhashPairs(spark, sf).count()
    Dedup.components(spark, sf).count()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the operators cache their multi-use intermediates")
    Dedup.unpersistIntermediates(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "no leaked cache storage after release")
    // localCheckpoint blocks live OUTSIDE the CacheManager — the release
    // must free them too (they were stalling unrelated bench passes when
    // left to driver GC + ContextCleaner)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"checkpoint blocks survived unpersistIntermediates: RDD ids $leaked")
  }

  test("minhash verify: length bound gates the merge-walk intersection") {
    val p = Dedup.minhashLsh(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("sortedintercount"),
      "exact verify must use the allocation-free merge walk, not array_intersect")
    assert(!p.contains("array_intersect"))
    // Catalyst folds both verify conjuncts into the join condition; the
    // cheap length bound must sit FIRST so short-circuit evaluation
    // gates the merge walk (same contract the ngram guard pins)
    val condLine = p.linesIterator
      .find(l => l.contains("least(n_sh") && l.contains("sortedintercount"))
    assert(condLine.isDefined,
      s"no operator evaluates the length bound alongside the intersection:\n$p")
    assert(condLine.get.indexOf("least(n_sh") < condLine.get.indexOf("sortedintercount"),
      "the exact length bound must precede (and gate) the intersection")
  }

  test("widened: narrow-heavy passes never inherit a single-split scan's width") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the session is local[4] on any host, and the one-file
    // documents.parquet reads as 1 split
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture precondition: one small parquet file must read as fewer splits than cores")
    // a below-cores input widens to the session's parallelism — the
    // verify-relation materializations (jaccardPrefix/containment word
    // sets, shingle hashing) are no longer fixed-width (VERDICT r15 #2)
    assert(Dedup.widened(docs).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // an input already at/above cores passes through UNCHANGED — the
    // rule never adds an exchange to a production-scale scan
    val already = docs.repartition(spark.sparkContext.defaultParallelism + 2)
    assert(Dedup.widened(already) eq already)
    // the heavy projection must evaluate ABOVE (after) the round-robin
    // exchange — widening moves raw rows, never precomputed results
    val p = Dedup.widened(docs).select(md5(col("text")).as("h"))
      .queryExecution.executedPlan.toString
    val proj = p.indexOf("md5")
    val ex = p.indexOf("Exchange RoundRobinPartitioning")
    assert(proj >= 0 && ex > proj,
      s"md5 projection must sit above the widening exchange:\n$p")
  }

  test("widenedBy: checkpoint-fed probe sides re-widen keyed, pass through at scale") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // r17: localCheckpoint BAKES IN whatever partitioning AQE last chose
    // (1 partition at small SFs), so the prefix-join candidate stages ran
    // single-threaded; the consumer re-widens the checkpointed leaf.
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture precondition: single small parquet reads as fewer splits than cores")
    val w = Dedup.widenedBy(docs, col("doc_id"))
    // below-cores input widens to session parallelism…
    assert(w.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // …via HASH partitioning on the key (not round robin), so a downstream
    // partial distinct still co-locates one probe doc's rows in one task
    val p = w.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(doc_id"),
      s"widenedBy must hash-partition on the key:\n$p")
    // an input already at/above cores passes through UNCHANGED — the rule
    // never adds an exchange to a production-scale relation
    val already = docs.repartition(spark.sparkContext.defaultParallelism + 2)
    assert(Dedup.widenedBy(already, col("doc_id")) eq already)
  }

  test("ngramJaccard: df filter precedes doc-list collection, same shuffle") {
    // Inspect the UN-checkpointed candidate relation: ngramJaccard's
    // localCheckpoint truncates this subtree to a Scan ExistingRDD in the
    // final plan, hiding exactly the structure this guard pins.
    val p = Dedup.ngramCandidates(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("Window [count(1)"), "df must come from a window count")
    val agg = p.indexOf("collect_list(doc_id")
    val win = p.indexOf("Window [count(1)")
    assert(agg >= 0 && win > agg,
      "the collect_list aggregate must sit ABOVE the window df filter")
    val between = p.substring(agg, win)
    assert(between.contains("df") && between.contains("<= 20"),
      "the df <= 20 filter must run before doc lists are collected")
    assert(!between.contains("Exchange"),
      "window df-count and the collect must share one hashpartitioning(gram) shuffle")
  }
}
