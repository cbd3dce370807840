package graft

import graft.operators.Curation

/** Dataset-curation operators: value invariants (the oracle pins exact
  * values — these pin the properties that must survive refactors) and the
  * scale-critical plan shapes. */
class CurationSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("split: hash-deterministic, exhaustive, ~90/5/5") {
    val rows = Curation.split(spark, sf).collect()
    assert(rows.length == 500)
    val bySplit = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    // md5 is uniform: 500 docs land near 450/25/25 (generous tolerance)
    assert(bySplit("train") > 400 && bySplit("train") < 490)
    assert(bySplit("val") > 5 && bySplit("test") > 5)
    // same input → identical assignment (no RNG state anywhere)
    assert(Curation.split(spark, sf).collect().toSeq == rows.toSeq)
  }

  test("shard: balanced md5 buckets, contiguous within-shard positions") {
    val rows = Curation.shard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 500)
    val byShard = rows.groupBy(_._2)
    assert(byShard.size == 16, s"all 16 shards populated, saw ${byShard.size}")
    // md5 uniformity: 500/16 ≈ 31 per shard, generous band
    assert(byShard.values.forall(g => g.size >= 15 && g.size <= 50),
      s"shard skew: ${byShard.view.mapValues(_.size).toMap}")
    // positions are 0..n_s-1 contiguous per shard
    byShard.foreach { case (sh, g) =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.size).toSeq,
        s"shard $sh positions not contiguous")
    }
  }

  test("shuffle: contiguous global permutation, computed without a one-task window") {
    val df = Curation.shuffleOrder(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._2).sorted.toSeq == (0L until 500L).toSeq,
      "positions must be the contiguous 0..n-1 permutation")
    assert(rows.map(_._1).distinct.length == 500)
    // the order is the hash order, not id order (it actually shuffles)
    assert(rows.sortBy(_._2).map(_._1).toSeq != rows.map(_._1).sorted.toSeq)
    // plan: no Window over an empty partition spec (the one-task shape)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"global shuffle must not plan a window: $plan")
  }

  test("interleave: every stream prefix holds each source near its proportion") {
    val rows = Curation.interleave(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = rows.length
    val prop = rows.groupBy(_._2).view.mapValues(_.length.toDouble / n).toMap
    // check the defining property at several prefixes: source share in
    // the prefix within ±2 docs + 5% of its corpus share (midpoint-grid
    // spacing guarantees |prefix_count − k·p| ≤ 1 per source in theory;
    // ties across sources relax it slightly)
    for (k <- Seq(n / 10, n / 4, n / 2)) {
      val prefix = rows.take(k).groupBy(_._2).view.mapValues(_.length).toMap
      prop.foreach { case (src, p) =>
        val expect = k * p
        val got = prefix.getOrElse(src, 0).toDouble
        assert(math.abs(got - expect) <= 2 + 0.05 * expect,
          s"prefix $k: source $src has $got docs, expected ~$expect")
      }
    }
  }

  test("pack: offsets stay inside the budget and chunks are contiguous per shard") {
    val rows = Curation.pack(spark, sf, budget = 512L).collect()
    assert(rows.forall(r => r.getAs[Long]("chunk_offset") >= 0 &&
      r.getAs[Long]("chunk_offset") < 512L))
    // within a shard, chunk ids are non-decreasing in doc_id order
    rows.groupBy(_.getAs[Long]("shard")).values.foreach { g =>
      val ordered = g.sortBy(_.getAs[Long]("doc_id")).map(_.getAs[Long]("chunk_id"))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
    }
  }

  test("pack plans as a per-shard window, never a single global prefix sum") {
    val p = Curation.pack(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(shard"),
      "the running sum must be sharded")
    assert(!p.contains("SinglePartition"),
      "a global cumulative sum would serialize the corpus through one partition")
  }

  test("group cap: exactly k per over-k stratum, map-side WindowGroupLimit prune") {
    val out = Curation.groupCap(spark, sf, k = 5)
    val perGroup = out.groupBy("lang", "source").count().collect()
    assert(perGroup.nonEmpty && perGroup.forall(_.getLong(2) <= 5))
    // the fixture has strata larger than k — the cap must actually bind
    assert(perGroup.exists(_.getLong(2) == 5L), "no stratum reached the cap")
    // rank-<=-k must plan as WindowGroupLimit: every map partition
    // pre-prunes its own per-group top-k BEFORE the exchange, so the
    // shuffle carries k x groups x partitions rows, never the corpus
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "the per-group cap must pre-prune map-side, not rank the whole corpus")
  }

  test("contamination: benchmark side broadcasts; pairs clear the threshold") {
    val df = Curation.contamination(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the small benchmark gram set must broadcast, not shuffle the corpus")
    val rows = df.collect()
    assert(rows.forall(_.getAs[Double]("bench_frac") >= 0.25))
    assert(rows.forall(_.getAs[Long]("bench_doc") % 199 == 0))
    assert(rows.forall(_.getAs[Long]("doc_id") % 199 != 0))
  }

  test("curated corpus round-trips through a split-partitioned sink with pruning") {
    import spark.implicits._
    import graft.operators.Dedup
    val outDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "curated")
    try {
      val kept = Dedup.corpusClean(spark, sf)
      val curated = kept.join(Curation.split(spark, sf), "doc_id")
        .select($"doc_id", $"split")
      curated.write.mode("overwrite").partitionBy("split").parquet(outDir.toString)
      val back = spark.read.parquet(outDir.toString)
      assert(back.count() == curated.count())
      // the split filter must prune partitions at the scan, not post-filter
      val train = back.filter($"split" === "train")
      val scan = train.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters: [isnotnull(split"),
        s"split filter must reach PartitionFilters, got: ${scan.take(300)}")
      assert(train.count() > 0)
    } finally {
      Dedup.unpersistIntermediates(spark)
      graft.util.Fs.deleteRecursively(outDir)
    }
  }

  test("stratified sample respects the stratum hash, not row order") {
    val a = Curation.sampleStratified(spark, sf).collect()
    assert(a.nonEmpty && a.length < 120) // ~10% of 500
    assert(Curation.sampleStratified(spark, sf).collect().toSeq == a.toSeq)
  }

  test("mixture sampling keeps each source at ~its weight, deterministically") {
    val rows = Curation.mix(spark, sf).collect()
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    // full-weight sources keep EVERY doc (h < 10000 always); each kept
    // row carries the weight its source was assigned
    bySrc.foreach { case (src, g) =>
      val m = src.drop(3).toInt % 4
      val expectW = Seq(1.0, 0.5, 0.25, 0.1)(m)
      assert(g.forall(_.getAs[Double]("w") == expectW))
      if (m == 0) assert(g.length == 25, s"$src at weight 1.0 must keep all 25")
    }
    // aggregate kept fraction tracks the mean weight (25 docs per source
    // × 20 sources; mean w = (1.0+0.5+0.25+0.1)/4 = 0.4625 → ~231)
    assert(rows.length > 150 && rows.length < 320, s"kept ${rows.length}")
    assert(Curation.mix(spark, sf).collect().toSeq == rows.toSeq)
  }
}
