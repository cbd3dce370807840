package graft

/** Plan-quality regression guards: the physical plans the engine is
  * designed around must not silently degrade (pushdown reaching the
  * scan, broadcast joins for dims, TakeOrdered for top-k, partial
  * aggregation). These are the properties that decide 100 TB behavior. */
class PlanQualitySpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1: filter pushed to parquet scan + pruned read schema") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan must prune unused columns")
  }

  test("q1: partial+final hash aggregation") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q2: dimension joins broadcast; no shuffle of the fact for dims") {
    val p = plan("q2_join_agg")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q3: global top-k plans as TakeOrdered, not full sort") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("semi/anti joins plan as semi/anti, not inner+distinct") {
    assert(plan("q5_semi_join").contains("LeftSemi"))
    assert(plan("q6_anti_join").contains("LeftAnti"))
  }

  test("embed cosine: codegen'd native expression in the join project") {
    val p = plan("dedup_embed_cosine")
    assert(p.contains("dotproduct("))
  }

  test("dicom V2 source scan reports pruned columns") {
    val pruned = spark.read.format("dicom")
      .load(graft.queries.DicomQueries.Fixtures).select("modality")
    val leaf = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("columns=[modality]"))
  }

  test("q25 as-of join: one data shuffle (user_id window), filter pushed") {
    val p = plan("q25_asof_join")
    assert(p.contains("PushedFilters: [In(event_type"))
    assert(p.contains("RangeFrame")) // strictly-prior range window
    // exactly one hash exchange (the window's); the other is the final sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"))
  }

  test("q28 range join: banded equi-join, never a nested-loop product") {
    val p = plan("q28_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("probe_band") && p.contains("band"))
    assert(p.contains("partial_count")) // map-side partial aggregation
  }

  test("q30 lateral: decorrelated to windowed top-k, no per-row nested loop") {
    val p = plan("q30_lateral")
    // the correlated LIMIT becomes WindowGroupLimit — Partial (map-side
    // top-k pruning before the shuffle) then Final — never a nested loop
    // over the outer rows
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin")) // nation is the broadcast dim
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("knn join: per-vector top-k prunes map-side, no cartesian") {
    val p = plan("sim_knn_join")
    assert(p.contains("WindowGroupLimit"),
      "the rank<=k filter must become map-side top-k pruning")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("mm_embed_ann: cached embeddings + bucketed candidates, no collect/all-pairs") {
    val p = plan("mm_embed_ann")
    // the embedded frame must be a reused cache, never a driver collect
    // round-tripped through a local relation
    assert(!p.contains("LocalTableScan"),
      "embeddings must not be collected to the driver and re-created")
    assert(p.contains("InMemoryTableScan"),
      "the binary-load + embed subtree must run once (cache), not per join side")
    // candidates must come from the (table, bucket) equi-join — never an
    // all-pairs product
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // per-asset top-k prunes map-side
    assert(p.contains("WindowGroupLimit"))
    graft.operators.Dedup.unpersistIntermediates(spark)
  }

  test("dedup_semantic: cluster-bounded equi-join, anti-join keep-set, no cartesian") {
    val p = plan("dedup_semantic")
    // pair generation must be an equi-join on the cluster key — the
    // Σn_c² bound depends on it
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the keep-set is a LeftAnti join, never a NOT IN re-scan shape
    assert(p.contains("LeftAnti"))
    graft.operators.Dedup.unpersistIntermediates(spark) // semanticKeepSet caches
  }

  test("q33 sketch union: partial sketch agg map-side, pruned scan") {
    val p = plan("q33_sketch_union")
    // the shuffle must carry partial sketch buffers, not user_id rows
    assert(p.contains("partial_hll_sketch_agg"),
      "daily sketches must partial-aggregate before the exchange")
    assert(p.contains("hll_union_agg"))
    // only the three referenced event columns reach the scan; `ts`'s
    // physical type has varied across testdata generations (ns-long
    // under nanosAsLong, timestamp, timestamp_ntz) — pin the pruning,
    // not the driver's parquet writer
    assert("ReadSchema: struct<ts:[a-z_0-9()]+,user_id:bigint,event_type:string>".r
      .findFirstIn(p).isDefined, "events scan must read exactly (ts, user_id, event_type)")
  }

  test("q29 recursive CTE: fact table aggregates before the spine join") {
    val p = plan("q29_recursive_cte")
    // per_month pre-aggregation: the orders scan feeds a partial count —
    // the recursion and join only touch spine-sized relations
    assert(p.contains("partial_count"))
    assert(!p.contains("CartesianProduct"))
  }

  test("persisted-index incremental: equi-joins only, sets restricted by semi-join") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "idxplan").toAbsolutePath.toString
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
      graft.operators.Dedup.writeIndex(spark, docs.filter(!isBatch), idx)
      val out = graft.operators.Dedup.incrementalPairsFromIndex(
        spark, idx, docs.filter(isBatch))
      val p = out.queryExecution.executedPlan.toString
      // candidate generation and verification are equi-joins — the
      // Σ n_b(index)·n_b(batch) bound dies with any product join
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"))
      // verification joins candidates against the (checkpointed,
      // candidate-restricted) sets relation via BROADCAST hash joins —
      // the candidate-id LeftSemi itself runs eagerly inside ckptHinted,
      // so the returned plan's evidence is the broadcast-sized build
      // side; sets-restriction correctness is covered by
      // IncrementalIndexSpec's row-for-row parity
      assert(p.contains("BroadcastHashJoin"),
        "verify joins must broadcast the candidate-restricted sets")
      assert(p.contains("sortedintercount"),
        "merge-walk intersection expression missing from verify")
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
      graft.operators.Dedup.unpersistIntermediates(spark)
    }
  }

  test("index bloom runtime filter: prunes the index bands before the exchange, never a match") {
    import org.apache.spark.sql.functions._
    // the final dedup_incremental_idx plan checkpoints candidates away,
    // so pin the bloom on the PRE-checkpoint composition it actually
    // guards: batch-keyed bloom over the persisted band relation
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "idxbloom").toAbsolutePath.toString
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
      graft.operators.Dedup.writeIndex(spark, docs.filter(!isBatch), idx)
      val indexBands = spark.read.parquet(s"$idx/bands")
      val batchBands = graft.operators.Dedup.bandsOf(spark, docs.filter(isBatch))
      val pruned = graft.operators.Dedup.bloomPruneByBatch(spark, indexBands, batchBands)
      // plan shape: the bloom is a post-scan Filter on the bands read —
      // its xxhash64 key expression exists nowhere else in this plan
      val p = pruned.queryExecution.executedPlan.toString
      assert(p.contains("xxhash64"),
        "bloom filter (keyed on xxhash64(band, band_hash)) must sit on the bands scan")
      // no false negatives: every index band row whose key a batch row
      // shares survives the bloom — join parity pruned vs unpruned
      val joinKeys = Seq("band", "band_hash")
      val viaPruned = pruned.join(batchBands.select(joinKeys.map(col): _*).distinct(), joinKeys)
      val viaFull = indexBands.join(batchBands.select(joinKeys.map(col): _*).distinct(), joinKeys)
      assert(viaPruned.count() === viaFull.count(),
        "bloom must never drop an index row that joins a batch band")
      // and it actually prunes: non-matching buckets dominate the index,
      // so the surviving fraction must be far below 1 (fpp-bounded tail)
      val (kept, total) = (pruned.count(), indexBands.count())
      assert(kept < total / 2,
        s"bloom kept $kept of $total index band rows — not pruning")
      graft.operators.Dedup.unpersistIntermediates(spark)
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
      graft.operators.Dedup.unpersistIntermediates(spark)
    }
  }

  test("substring spans: one-exchange gram gate, broadcast dup set, per-doc window") {
    val p = plan("dedup_substring")
    // the cross-doc gate is min(doc_id) ≠ max(doc_id) — map-side
    // partial min/max in ONE exchange; a countDistinct regression
    // would re-grow the extra (g, doc_id) distinct shuffle
    assert(p.contains("partial_min(doc_id") && p.contains("partial_max(doc_id"),
      "gram gate must partial-aggregate min/max(doc_id) map-side")
    assert(!p.contains("count(distinct"),
      "gate must not expand to a two-exchange countDistinct")
    // surviving gram starts join the dup set by hash, never a product
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // the islands merge is per-document state, not corpus-wide
    assert(p.contains("windowspecdefinition(doc_id"),
      "gaps-and-islands window must partition by doc_id")
  }

  test("tfidf top-k: map-side WindowGroupLimit prunes before the final rank") {
    val p = plan("text_tfidf_topk")
    // rank<=k over (doc_id) must push a partial group-limit below the
    // shuffle so only k rows per doc per task reach the window exchange
    assert(p.contains("WindowGroupLimit") &&
           "WindowGroupLimit".r.findAllIn(p).length >= 2,
      "partial+final WindowGroupLimit expected for the rank<=k filter")
    assert(p.contains("BroadcastHashJoin"),
      "df relation must broadcast into the tf join")
  }

  test("dsir + lm score: one corpus tokenization — branches read the grain checkpoint") {
    // both operators aggregate the token stream to a grain relation and
    // materialize it once; every model/score branch must read THAT, so
    // the final plan may not contain a documents scan (r8 re-tokenized
    // the corpus once per branch — 3x the scan cost at 100 TB)
    // corpus_quality_classifier shares the convention: the (doc, label,
    // word) count grain checkpoints once, and class totals, per-word
    // weights, the prior AND the scoring join all read that relation
    Seq("corpus_dsir", "text_lm_score", "corpus_quality_classifier").foreach { q =>
      try {
        val p = plan(q)
        assert(!p.contains("documents.parquet"),
          s"$q must derive every branch from the checkpointed grain relation")
      } finally graft.operators.Dedup.unpersistIntermediates(spark)
    }
  }

  test("temperature mix: corpus streams through a broadcast join, never shuffles") {
    val p = plan("corpus_mix_temperature")
    // the L-row rate relation broadcasts; the acceptance hash gate rides
    // the join condition so rejected rows die inside the scan stage
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    assert(!"Exchange hashpartitioning\\(doc_id".r.findFirstIn(p).isDefined,
      "the document relation must not shuffle for the rate join")
  }

  test("substring scrub: covered-token removal is an equi anti-join, no range probe") {
    val p = plan("dedup_substring_scrub")
    assert(p.contains("LeftAnti"), "token removal must plan as LeftAnti")
    assert(!p.contains("CartesianProduct"))
  }

  test("surprisal: corpus total rides a broadcast, counts hash-join the token stream") {
    val p = plan("text_surprisal")
    // the one-row total may only appear as a broadcast nested-loop
    // build side; the word-count join itself must stay a hash join
    assert(p.contains("BroadcastHashJoin"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1 &&
           !p.contains("CartesianProduct"))
  }

  test("edit join: broadcast signature self-join, no cartesian, no sort-merge") {
    val p = plan("dedup_edit_join")
    // ckptHinted signatures broadcast at fixture scale; the candidate
    // generator must be an equi-join on the hash, never a product
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("skyline: range partition is the only corpus exchange; no Window") {
    val p = plan("q36_skyline")
    // the sweep replaces the naive dominance join AND the global-window
    // spelling — neither may appear
    assert(!p.contains("Window"), "sweep must not plan as a window")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      "skyline must not join anything")
    assert(p.contains("rangepartitioning"), "local pass needs the range sort")
  }

  test("lpa: windowless argmax — no Window, no sort in the rounds") {
    val p = plan("graph_lpa")
    assert(!p.contains("Window"), "packed argmax must not plan as a ranking window")
    assert(!p.contains("CartesianProduct"))
    // two HashAggregates per round (votes + argmax) + edge build + size
    assert("HashAggregate".r.findAllIn(p).length >= 8)
  }

  test("containment: equi-join candidates, broadcast verify, no cartesian") {
    val p = plan("dedup_containment")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("node_sim: edge-probe equi-joins only, never an all-wedge product") {
    val p = plan("graph_node_sim")
    // every join in the plan must be an EQUI-join (the degree joins
    // legitimately show as pre-AQE SortMergeJoin on cached stat-less
    // relations — node-keyed co-partitioning is the scale-correct
    // choice there; AQE broadcasts small sides at runtime). The claim
    // worth pinning is that no join degrades to a product.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Join"), "probe joins must be present")
  }

  test("dicom→corpus funnel: exchanges are the dedup partition + the near-dup doc_id join only") {
    // the scale claim in DicomQueries.corpusFunnel's doc: normalize and
    // the quality gate are per-row expressions, so the funnel's data
    // exchanges are exactly (a) the norm_md5 window partition (exact
    // dedup) and (b) the doc_id-keyed equi-join folding the near-dup
    // drop set back onto the corpus — whose candidate side is a
    // CHECKPOINTED pair-sized leaf (the LSH shingle/band machinery runs
    // once behind it, never re-planned into this query), with
    // broadcast-only verify joins. Plus the presentation sort's range
    // exchange, which is deliverable ordering, not funnel work.
    val p = plan("dicom_corpus_funnel")
    assert("Exchange hashpartitioning\\(norm_md5".r.findAllIn(p).length == 1,
      s"expected exactly the norm_md5 dedup exchange:\n$p")
    val hashEx = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.count(_ == "norm_md5") == 1 &&
      hashEx.filterNot(_ == "norm_md5").forall(_ == "doc_id") &&
      hashEx.length <= 3,
      s"normalize/quality must stay per-row — only the dedup partition and " +
        s"the doc_id near-dup join may exchange, got $hashEx:\n$p")
    assert(p.contains("Scan ExistingRDD[doc_a"),
      "the near-dup candidate relation must be a checkpointed leaf, " +
        "not a re-planned LSH pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }
}
