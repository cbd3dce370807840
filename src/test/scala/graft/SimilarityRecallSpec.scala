package graft

import graft.operators.Similarity

/** Pins the learned k-means IVF as an honest upgrade over the per-label
  * coarse quantizer: with `label` assigned randomly in the test data, the
  * per-label centroids all collapse toward the global mean (probing 2 of
  * 10 near-identical lists ≈ a 20% random sample), while Lloyd's fits
  * centroids to the actual vector distribution — recall@10 against exact
  * brute force must be at least as good. Also pins determinism: two
  * training runs produce identical centroids (md5-seeded init + rounded
  * means). */
class SimilarityRecallSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getAs[Long]("vec_id")).toSet

  /** Committed per-round recall baseline (RECALL_BASELINE.json at the
    * repo root — updated only by a deliberate commit when a dial or the
    * testdata changes). Round-over-round the measured recall must not
    * drop below baseline − 0.1 (one neighbor of ten — the artifact's
    * grain; anything larger is a real retrieval regression, not noise:
    * every path here is deterministic, so a drop means code drift). */
  private lazy val baseline: Map[String, Double] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("RECALL_BASELINE.json")), "UTF-8")
    """"([a-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  private def assertNoRegression(key: String, measured: Double): Unit = {
    val base = baseline.getOrElse(key,
      fail(s"RECALL_BASELINE.json lacks $key — add the new metric to the baseline"))
    assert(measured >= base - 0.100001,
      f"recall regression: $key measured $measured%.2f vs committed baseline $base%.2f")
    if (measured > base + 0.100001)
      info(f"$key improved past baseline ($measured%.2f > $base%.2f) — consider bumping RECALL_BASELINE.json")
  }

  test("k-means IVF recall@10 >= per-label probe-2 IVF recall@10") {
    val truth = ids(Similarity.topkBrute(spark, sf))
    assert(truth.size == 10)
    val kmeans = ids(Similarity.ivfKmeansTopk(spark, sf, nprobe = 2))
    val perLabel = ids(Similarity.ivfProbe2(spark, sf))
    val rKmeans = (kmeans & truth).size / 10.0
    val rLabel = (perLabel & truth).size / 10.0
    // recorded (not just bounded) so the round-over-round trend is visible
    // in the test log: ScalaTest prints info() with the test result
    info(f"recall@10: kmeans-IVF(nprobe=2) = $rKmeans%.2f, per-label probe-2 = $rLabel%.2f")
    // ... and persisted as an artifact so the trend lands in BENCH_NOTES
    // per round instead of staying buried in test logs
    java.nio.file.Files.write(java.nio.file.Paths.get("target", "recall.json"),
      f"""{"metric":"recall_at_10","kmeans_ivf_nprobe2":$rKmeans%.2f,"per_label_probe2":$rLabel%.2f}%n"""
        .getBytes("UTF-8"))
    assert(rKmeans >= rLabel,
      s"learned quantizer recall $rKmeans must be >= per-label recall $rLabel")
    assertNoRegression("kmeans_ivf_nprobe2", rKmeans)
    assertNoRegression("per_label_probe2", rLabel)
  }

  test("IVF-PQ: rerank-all over all lists degenerates to exact brute force") {
    // with every list probed and the whole corpus reranked, PQ's
    // approximation can only affect the SHORTLIST order, which the
    // exact re-rank then fully repairs — the result must equal brute
    // force row for row. This pins the encode→ADC→re-rank plumbing
    // end to end: any indexing bug (wrong subspace offset, lut layout,
    // code truncation) breaks the identity.
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count().toInt
    val exact = Similarity.topkBrute(spark, sf).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val pq = Similarity.ivfPqTopk(spark, sf, nprobe = 10, rerank = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pq.toSeq == exact.toSeq)
  }

  test("IVF-PQ production dials: recall@10 recorded, shortlist actually candidate-sized") {
    val truth = ids(Similarity.topkBrute(spark, sf))
    val pq = ids(Similarity.ivfPqTopk(spark, sf))
    val r = (pq & truth).size / 10.0
    info(f"recall@10: ivf-pq(nprobe=4, rerank=50) = $r%.2f")
    // appended beside the kmeans recall artifact for the round notes
    val p = java.nio.file.Paths.get("target", "recall_pq.json")
    java.nio.file.Files.write(p,
      f"""{"metric":"recall_at_10","ivf_pq_nprobe4_rerank50":$r%.2f}%n""".getBytes("UTF-8"))
    // the dial must do better than chance by a wide margin: probing 4
    // of 10 learned lists with a 50-deep exact re-rank on 600 vectors
    assert(r >= 0.5, s"ivf-pq recall collapsed: $r")
    assertNoRegression("ivf_pq_nprobe4_rerank50", r)
  }

  test("auto-derived LSH geometry: out-of-the-box recall > 0 on the shipped corpora") {
    // the r9 fixed default (4 tables × 6 bits) measured recall 0.0 at
    // sf0.01 (RECALL_CURVE_r09) — correct per its bucket contract, but a
    // user calling annLsh out of the box got zero true neighbors. The
    // default geometry is now derived from the corpus count (constant
    // expected bucket occupancy); this gates that the derived operating
    // point actually retrieves, at BOTH shipped corpus sizes.
    for (dir <- Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      assert(spark.conf.getOption("spark.graft.lsh.bits").isEmpty,
        "gate must measure the UNCONFIGURED default")
      val truth = ids(Similarity.topkBrute(spark, dir))
      val r = (ids(Similarity.annLsh(spark, dir)) & truth).size / 10.0
      info(f"recall@10 of annLsh auto geometry at $dir = $r%.2f")
      assert(r > 0.0, s"auto LSH geometry retrieves nothing at $dir")
    }
    val rDefault = (ids(Similarity.annLsh(spark, sf)) &
      ids(Similarity.topkBrute(spark, sf))).size / 10.0
    assertNoRegression("lsh_auto", rDefault)
  }

  test("fused-retrieval quality: PQ-dense-arm fusion overlaps the brute-arm fusion") {
    // the float production arm's END-TO-END quality (VERDICT r11 #6):
    // dense-arm recall alone doesn't bound what the user reads — the
    // fused RRF list. Measure overlap@20 of hybridSearch at the
    // production ivf_pq dials vs the brute-dense-arm fusion and gate a
    // > 0 floor (RecallCurve records the per-SF values each round).
    def fused(arm: String): Seq[Long] = withConf("spark.graft.hybrid.denseArm" -> arm) {
      graft.operators.TextAnalysis.hybridSearch(spark, sf)
        .collect().map(_.getAs[Long]("doc_id")).toSeq
    }
    val brute = fused("brute")
    val pq = fused("ivf_pq")
    assert(brute.size == 20 && pq.size == 20,
      s"fusion must return topN=20 rows (got brute=${brute.size}, pq=${pq.size})")
    val overlap = (pq.toSet & brute.toSet).size / 20.0
    info(f"overlap@20 of ivf_pq-fused vs brute-fused = $overlap%.2f")
    assert(overlap > 0.0, "PQ-arm fusion shares nothing with the brute-arm fusion")
    assertNoRegression("hybrid_fusion_overlap_at_20", overlap)
  }

  test("geometry-driven auto nprobe: fused overlap@20 >= 0.65 at ALL shipped SFs, no per-SF dial") {
    // VERDICT r13 #4: the sf0.01 recall dip (fused overlap@20 = 0.65 at
    // the fixed nprobe=8 dial, 0.75 at nprobe=16) must not require a
    // human reading BENCH_NOTES — the hybrid production arm now derives
    // nprobe from index geometry (Similarity.autoNprobe: probed pool
    // ≥ 4× the rerank window, floored at 8, capped at all lists). Gate
    // the UNCONFIGURED default at every shipped corpus: same code, no
    // per-SF dial, fused overlap@20 ≥ 0.65 everywhere.
    for (dir <- Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      assert(spark.conf.getOption("spark.graft.hybrid.nprobe").isEmpty,
        "gate must measure the UNCONFIGURED auto dial")
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      // the gate must inspect the SAME operating point hybridSearch
      // resolves (ADVICE r14): the trainer's coarse-list constant and
      // the conf-resolved rerank, not literals
      val chosen = Similarity.autoNprobe(n, Similarity.PqCoarseLists,
        Similarity.hybridRerank(spark))
      def fused(arm: String): Seq[Long] = withConf("spark.graft.hybrid.denseArm" -> arm) {
        graft.operators.TextAnalysis.hybridSearch(spark, dir)
          .collect().map(_.getAs[Long]("doc_id")).toSeq
      }
      val brute = fused("brute")
      val overlap = (fused("ivf_pq").toSet & brute.toSet).size.toDouble / brute.size
      info(f"$dir: n=$n auto nprobe=$chosen fused overlap@20 = $overlap%.2f")
      assert(overlap >= 0.65,
        f"auto dial ships a recall dip at $dir: overlap $overlap%.2f < 0.65 (nprobe=$chosen)")
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
    }
  }

  test("auto nprobe large-corpus branch: the dial never scales with n (avgList >> rerank regime)") {
    // VERDICT r14 #2: the shipped SFs (n <= 2000 over k=10 lists) all
    // land in the probe-everything regime, so the branch a 100 TB
    // deployment runs — average list far wider than the rerank window —
    // was never gated. Two laws, both pure integer arithmetic on the
    // shipped rule:
    //   (a) at the trainer's fixed geometry, once avgList > rerank the
    //       dial sits at the fixed high-recall floor (8) and does NOT
    //       grow with n — probing is a fixed FRACTION of lists, never a
    //       corpus-tracking count;
    //   (b) with coarse lists scaled ∝ n (the constant-target-list-size
    //       geometry a real deployment trains), the probed VOLUME
    //       nprobe·avgList is a constant ∝ the rerank window — the
    //       number that keeps query cost flat as the corpus grows.
    val k = Similarity.PqCoarseLists
    val rr = Similarity.hybridRerank(spark)
    val decade = Similarity.autoNprobe(200000L, k, rr) // the sf10 corpus
    assert(decade == 8, s"decade-geometry dial must be the fixed floor, got $decade")
    for (n <- Seq(2000000L, 200000000L, 20000000000L))
      assert(Similarity.autoNprobe(n, k, rr) == decade,
        s"dial grew with n at n=$n: ${Similarity.autoNprobe(n, k, rr)} != $decade")
    // (b) lists ∝ n: target list sizes both sides of the rerank window
    for (target <- Seq(64L, 1024L)) {
      val probed = (20 to 36 by 4).map { p =>
        val n = 1L << p
        val k2 = math.max(1L, n / target).toInt
        Similarity.autoNprobe(n, k2, rr).toLong * (n / k2)
      }
      assert(probed.distinct.size == 1,
        s"probed volume must be n-invariant at target=$target, got $probed")
      assert(probed.head <= math.max(8L * target, 8L * rr),
        s"probed volume ${probed.head} is not ∝ the rerank window (target=$target)")
    }
  }

  test("high-recall operating point (the documented default dial) holds its recall") {
    // RECALL_CURVE_r09.json's sweep picked the high-recall dials a real
    // deployment should default to: learned IVF probing 8 of 10 lists
    // (recall 1.0 at both measured corpus sizes) and IVF-PQ at
    // nprobe=8 × rerank=200 (0.9 at both). Gate them like the cheap
    // dials so a quantizer/encode drift can't silently degrade the
    // recommended configuration.
    val truth = ids(Similarity.topkBrute(spark, sf))
    val rKmeans8 = (ids(Similarity.ivfKmeansTopk(spark, sf, nprobe = 8)) & truth).size / 10.0
    val rPq = (ids(Similarity.ivfPqTopk(spark, sf, nprobe = 8, rerank = 200)) & truth).size / 10.0
    info(f"recall@10: kmeans-IVF(nprobe=8) = $rKmeans8%.2f, ivf-pq(8,200) = $rPq%.2f")
    assertNoRegression("kmeans_ivf_nprobe8", rKmeans8)
    assertNoRegression("ivf_pq_nprobe8_rerank200", rPq)
  }

  test("MMR over the PQ-index shortlist: provenance cannot change the greedy (rerank-all ≡ brute)") {
    // the diversify-at-scale path (index probe → shortlist → greedy):
    // at rerank-all dials the PQ probe's exact-rerank shortlist IS the
    // brute top-shortN, so the diversified output must be identical row
    // for row — the greedy contract is independent of where the
    // shortlist came from
    val brute = Similarity.mmrDiversify(spark, sf).collect().map(_.toString)
    val viaPq = Similarity.mmrDiversifyPq(spark, sf,
      nprobe = 10, rerank = 1000000).collect().map(_.toString)
    assert(viaPq.nonEmpty && viaPq.sameElements(brute),
      "PQ-shortlist MMR at rerank-all dials drifted from the brute MMR")
    graft.operators.Dedup.unpersistIntermediates(spark)
  }

  test("persisted PQ index: identical to the recomputing path, probe prunes partitions") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "pqidx").toString
    try {
      Similarity.writePqIndex(spark, sf, idx)
      val viaIndex = Similarity.pqTopkFromIndex(spark, sf, idx)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val recomputed = Similarity.ivfPqTopk(spark, sf)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      // both are deterministic functions of the corpus at the same
      // dials — persisted ≡ recomputed must hold row for row
      assert(viaIndex.toSeq == recomputed.toSeq)
      // the probe-time cluster filter must reach the codes scan as a
      // PARTITION filter (directory pruning), never a post-scan filter
      // over the whole index
      val codes = spark.read.parquet(s"$idx/codes")
        .filter(col("cluster").isin(0, 1))
      val plan = codes.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("cluster"),
        "cluster probe must prune code partitions at the source")
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
    }
  }

  test("streamed batch-keyed PQ layout: cluster pruning survives the batch dimension, replay is idempotent") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "pqstream").toString
    try {
      // day-0 codebooks, then two "micro-batches" land batch-keyed codes
      Similarity.writePqCodebooks(spark, sf, idx)
      val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      val b0 = raw.filter(pmod(col("vec_id"), lit(2)) === 0)
      val b1 = raw.filter(pmod(col("vec_id"), lit(2)) === 1)
      Similarity.writePqCodesBatch(spark, idx, b0, 0L)
      Similarity.writePqCodesBatch(spark, idx, b1, 1L)
      val once = Similarity.pqTopkFromIndex(spark, sf, idx,
        nprobe = 1000, rerank = 1000000).collect().map(_.toString)
      // at exact dials the streamed union ≡ brute (the entry's gate)
      val brute = Similarity.topkBrute(spark, sf).collect().map(_.toString)
      assert(once.nonEmpty && once.sameElements(brute),
        "streamed batch-keyed index at exact dials drifted from brute")
      // at-least-once REPLAY of batch 1 rewrites, never duplicates
      Similarity.writePqCodesBatch(spark, idx, b1, 1L)
      val n = spark.read.parquet(s"$idx/codes").count()
      assert(n == raw.count(),
        s"replayed batch duplicated codes: $n rows for ${raw.count()} vectors")
      // cluster probe must still prune DIRECTORIES under every batch=
      // level — the scale property the two-level layout must not break
      val codes = spark.read.parquet(s"$idx/codes")
        .filter(col("cluster").isin(0, 1))
      val plan = codes.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("cluster"),
        "cluster probe must prune code partitions under the batch dimension")
    } finally {
      graft.operators.Dedup.unpersistIntermediates(spark)
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
    }
  }

  test("k-means training is deterministic across runs") {
    val a = Similarity.kmeansCentroids(spark, sf, k = 8, iters = 3)
    val b = Similarity.kmeansCentroids(spark, sf, k = 8, iters = 3)
    assert(a.length == 8 && a(0).length == 64)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // centroids moved off their seeds: training actually happened
    val seeds = Similarity.kmeansCentroids(spark, sf, k = 8, iters = 0)
    assert(a.map(_.toSeq).toSeq != seeds.map(_.toSeq).toSeq)
  }
}
