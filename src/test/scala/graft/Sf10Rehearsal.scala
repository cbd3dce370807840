package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Rehearsal.fmt

/** One decade past [[ScaleRehearsal]]: an sf10 corpus (100× the bench
  * scale — 500k documents, 200k embeddings) for the BUCKETED dedup
  * family only (minhash pairs, incremental-via-persisted-index,
  * transitive components, semantic keep-set). The intentionally-heavy
  * non-bucketed entries (guarded-quadratic cosine, simhash full pair
  * dump) are out of scope by design — this run answers one question:
  * do the bucketed operators' wall time and candidate volume keep
  * tracking Σn_b² when the corpus grows another 10×, with the
  * documented dial adjustments (embedding LSH bits up, rare-gram df cap
  * scaled with the duplication factor)?
  *
  * Generation is ScaleRehearsal's [[Rehearsal.replicate]] at 100
  * replicas. Output under the scratch dir (default target/).
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.Sf10Rehearsal"
  * Output: one JSON line + target/sf10_rehearsal.json
  */
object Sf10Rehearsal {

  private val Sf01 = "/root/testdata/sf0.1"
  private var Sf10 = "target/sf10"

  private val Family = Seq(
    "dedup_minhash_lsh", "dedup_incremental_idx",
    "dedup_components", "dedup_semantic")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSession(cpus)
    val timeOne = Rehearsal.timeOne(spark) _
    ensureSf10(spark)

    timeOne("dedup_exact", "/root/testdata/sf0.01") // JIT warm-up

    // section filter for local iteration on ONE part of the rehearsal
    // (family,lsh,ngram,semantic; default all). A partial run writes a
    // suffixed artifact so it can never masquerade as the full one.
    val AllSections = Set("family", "lsh", "ngram", "semantic", "pq", "tiers", "smaint", "ann")
    val sections = sys.env.get("SPARK_GRAFT_SF10_SECTIONS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(AllSections)
    val partial = sections != AllSections

    val rows = (if (sections("family")) Family else Seq.empty).map { name =>
      val (s1, n1) = timeOne(name, scratch(spark, "sf1"))
      val (s10, n10) = timeOne(name, Sf10)
      val ratio = if (s1 > 0) s10 / s1 else -1.0
      System.err.println(f"[sf10] $name%-22s sf1 ${fmt(s1)}s ($n1 rows)  sf10 ${fmt(s10)}s ($n10 rows)  ×${fmt(ratio)}")
      (name, s1, n1, s10, n10, ratio)
    }

    // embedding LSH candidate volume: the bits dial must keep Σn_b²
    // sub-quadratic another decade out (all-pairs at 200k vectors is
    // 2.0e10 — the bucketed count must sit orders of magnitude below)
    def candidates(tables: Int, bits: Int): Long = {
      spark.conf.set("spark.graft.lsh.tables", tables.toString)
      spark.conf.set("spark.graft.lsh.bits", bits.toString)
      try graft.operators.Similarity.embedLshCandidates(spark, Sf10, minSim = None).count()
      finally {
        spark.conf.unset("spark.graft.lsh.tables")
        spark.conf.unset("spark.graft.lsh.bits")
      }
    }
    val nVecs = spark.read.parquet(s"$Sf10/embeddings.parquet").count()
    val cand = (if (sections("lsh")) Seq(
      ("sf1_dial(4x9)", 4 -> 9),
      ("sf10_dial(4x12)", 4 -> 12)) else Seq.empty)
      .map { case (g, (t, b)) => (g, candidates(t, b)) }
    cand.foreach { case (g, c) =>
      System.err.println(f"[sf10] candidates $g: $c (all-pairs ${nVecs * (nVecs - 1) / 2}%d)")
    }

    // the rare-gram df cap's CANDIDATE VOLUME at each dial setting,
    // from the df histogram's closed form Σ C(df,2) — no pairs
    // generated. The naive "scale the cap with the duplication factor"
    // extrapolation (20 → 200 → 2000) was attempted as a full run and
    // spilled >36 GB of candidate pairs before exhausting disk: at 100×
    // duplication every former-rare gram's df sits near 100, so the
    // cap-2000 volume is ~dup² × the base volume. The histogram shows
    // the blow-up; the full query then runs only at the cap the
    // histogram says is tractable.
    val (vols, ngram, ngramSec) = if (sections("ngram")) {
      val dfHist = graft.operators.Dedup.ngramGramDf(spark, Sf10)
        .select(col("df")).cache()
      val vs = Seq(20L, 200L, 2000L).map { cap =>
        val v = dfHist.filter(col("df") <= cap)
          .agg(coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L)))
          .head().getLong(0)
        System.err.println(s"[sf10] ngram candidate volume at maxDf=$cap: $v")
        (cap, v)
      }
      dfHist.unpersist()
      spark.conf.set("spark.graft.dedup.ngram.maxDf", "200")
      val tN = System.nanoTime()
      val ng = SparkEntry.queries("dedup_ngram_jaccard")(spark, Sf10).count()
      val ngSec = (System.nanoTime() - tN) / 1e9
      spark.conf.unset("spark.graft.dedup.ngram.maxDf")
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      System.err.println(f"[sf10] dedup_ngram_jaccard maxDf=200: $ng rows in ${fmt(ngSec)}s")
      (vs, ng, ngSec)
    } else (Seq.empty[(Long, Long)], -1L, -1.0)

    // k ∝ n semantic dedup (the r7 fix for the fixed-k quadratic
    // decade): at targetClusterSize=200 the learned variant derives
    // k=100 at sf1 (20k vecs) and k=1000 at sf10 (200k vecs), so the
    // within-cluster pair volume Σ C(n_c,2) should stay ~flat PER DOC
    // and the wall far below the 232.7 s fixed-k salted sf10 run.
    def pairVolume(dir: String): (Long, Long, Double) = {
      val sizes = graft.operators.Similarity.kmeansAssignment(spark, dir)
        .groupBy("cluster").count()
        .agg(sum(expr("count * (count - 1) DIV 2")), sum(col("count")))
        .head()
      val (pairs, n) = (sizes.getLong(0), sizes.getLong(1))
      graft.operators.Dedup.unpersistIntermediates(spark)
      (pairs, n, pairs.toDouble / n)
    }
    val sem = (if (sections("semantic"))
      Seq("sf1" -> scratch(spark, "sf1"), "sf10" -> Sf10)
    else Seq.empty).map { case (tag, dir) =>
      val (sec, kept) = timeOne("dedup_semantic_kmeans", dir)
      val (pairs, n, perDoc) = pairVolume(dir)
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      System.err.println(f"[sf10] dedup_semantic_kmeans $tag%-5s ${fmt(sec)}s kept=$kept  pairs=$pairs (${fmt(perDoc)}/doc over $n vecs)")
      (tag, sec, kept, pairs, perDoc)
    }
    val semJson = sem.map { case (tag, sec, kept, pairs, perDoc) =>
      s""""$tag":{"sec":${fmt(sec)},"kept":$kept,"pairs":$pairs,"pairs_per_doc":${fmt(perDoc)}}"""
    }.mkString("{", ",", "}")

    // PQ day-2 at the decade's vector scale (200k × 64 floats — where
    // the encode pass is real work, not job overhead): the build pays
    // train + full encode over the standing corpus; append encodes the
    // BATCH with the frozen sidecar (never reads existing codes);
    // compaction rewrites 8-byte codes; the probe query reads probed
    // partitions + a ≤50-id rerank. Proportionality shows in the walls:
    // small-batch append sits at the job-overhead floor, the 10% batch
    // adds its encode share, both far under the build.
    val pqJson = if (sections("pq")) {
      val pqBase = java.nio.file.Files.createTempDirectory(
        graft.util.Fs.scratchDir(spark, "dayidx"), "pq10").toAbsolutePath
      val unit = graft.operators.Similarity.unitVecs(spark, Sf10)
      val tb = System.nanoTime()
      graft.operators.Similarity.writePqIndexOf(spark,
        unit.filter(v => v._1 % 10 != 7), s"$pqBase/day1")
      val buildSec = (System.nanoTime() - tb) / 1e9
      def arm(label: String, keep: Long => Boolean): (String, Double) = {
        val t0 = System.nanoTime()
        graft.operators.Similarity.appendPqIndex(spark, s"$pqBase/day1",
          unit.filter(v => keep(v._1)))
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.err.println(f"[sf10] pq_day2 $label%-16s ${fmt(sec)}s (build ${fmt(buildSec)}s)")
        (label, sec)
      }
      val appends = Seq(
        arm("append_0p1pct", id => id % 1000 == 7),
        // skip the first arm's ids: both arms feed one day-1 index, and a
        // re-append would double-encode ~0.1% of vec_ids, contaminating
        // the compact/probe measurements downstream
        arm("append_10pct", id => id % 10 == 7 && id % 1000 != 7))
      val retired = spark.read.parquet(s"$Sf10/embeddings.parquet")
        .filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 17 === 5)
        .select(col("vec_id"))
      val tc = System.nanoTime()
      graft.operators.Similarity.compactPqIndex(spark,
        s"$pqBase/day1", retired, s"$pqBase/day2")
      val compactSec = (System.nanoTime() - tc) / 1e9
      val tp = System.nanoTime()
      graft.operators.Similarity.pqTopkFromIndex(spark, Sf10, s"$pqBase/day2").collect()
      val probeSec = (System.nanoTime() - tp) / 1e9
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      System.err.println(f"[sf10] pq_day2 compact ${fmt(compactSec)}s  probe_query ${fmt(probeSec)}s")
      graft.util.Fs.deleteRecursively(pqBase)
      val armJson = appends.map { case (l, s) => s""""$l":${fmt(s)}""" }.mkString(",")
      s""","pq_day2":{"build_sec":${fmt(buildSec)},$armJson,"compact_sec":${fmt(compactSec)},"probe_query_sec":${fmt(probeSec)}}"""
    } else ""

    // ---- the r9 retrieval/curation tiers at the decade (500k docs),
    // same arm structure as ScaleRehearsal's sf1 run so the two rows
    // read as one table: BM25/positional index lifecycle
    // (build / append / probe / r10's COMPACT / probe-after-compact),
    // NB model train→ship→score, and the composed streaming pipeline
    // with its state-rows bound. Every arm reports wall + the bytes
    // axis its scale claim is made of (probe bytes ≪ corpus bytes;
    // score bytes ∝ batch; state rows ∝ survivors).
    val tiersJson = if (sections("tiers")) {
      import graft.util.Metrics.{bytesReadDuring, diskBytes}
      val docs10 = spark.read.parquet(s"$Sf10/documents.parquet")
      val isBatch10 = pmod(col("doc_id"), lit(10)) === lit(7)
      val root = java.nio.file.Files.createTempDirectory(
        graft.util.Fs.scratchDir(spark, "dayidx"), "tiers10").toAbsolutePath
      val day1 = s"$root/day1"; val batch = s"$root/batch"
      val tb = System.nanoTime()
      graft.operators.TextAnalysis.writePositionalIndexOf(
        spark, docs10.filter(!isBatch10), day1)
      val buildSec = (System.nanoTime() - tb) / 1e9
      val idxBytes = diskBytes(day1) + diskBytes(s"${day1}_doclen")
      val ta = System.nanoTime()
      graft.operators.TextAnalysis.writePositionalIndexOf(
        spark, docs10.filter(isBatch10), batch)
      val appendSec = (System.nanoTime() - ta) / 1e9
      val tp0 = System.nanoTime()
      val (_, probeBytes, _) = bytesReadDuring(spark) {
        graft.operators.TextAnalysis.bm25ViaIndex(
          spark, Seq(day1, batch), Seq("dup", "merge")).collect()
      }
      val probeSec = (System.nanoTime() - tp0) / 1e9
      val tc0 = System.nanoTime()
      graft.operators.TextAnalysis.compactPositionalIndex(spark,
        Seq(day1, batch),
        docs10.filter(pmod(col("doc_id"), lit(17)) === lit(5)).select(col("doc_id")),
        s"$root/compact")
      val compactSec = (System.nanoTime() - tc0) / 1e9
      val compactBytes = diskBytes(s"$root/compact") + diskBytes(s"$root/compact_doclen")
      val tp1 = System.nanoTime()
      val (_, probe2Bytes, _) = bytesReadDuring(spark) {
        graft.operators.TextAnalysis.bm25ViaIndex(
          spark, Seq(s"$root/compact"), Seq("dup", "merge")).collect()
      }
      val probe2Sec = (System.nanoTime() - tp1) / 1e9
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      System.err.println(f"[sf10] bm25_idx build ${fmt(buildSec)}s (${idxBytes / 1048576}%d MiB), append ${fmt(appendSec)}s, " +
        f"probe ${fmt(probeSec)}s ${probeBytes / 1048576}%d MiB, compact ${fmt(compactSec)}s (${compactBytes / 1048576}%d MiB), " +
        f"probe_compacted ${fmt(probe2Sec)}s ${probe2Bytes / 1048576}%d MiB")

      val tn0 = System.nanoTime()
      val (_, trainBytes, _) = bytesReadDuring(spark) {
        graft.operators.Curation.writeNbModel(spark, Sf10, s"$root/model")
      }
      val trainSec = (System.nanoTime() - tn0) / 1e9
      val modelBytes = diskBytes(s"$root/model")
      val ts0 = System.nanoTime()
      val (scoreRows, scoreBytes, _) = bytesReadDuring(spark) {
        graft.operators.Curation.nbScoreBatch(
          spark, docs10.filter(isBatch10), s"$root/model").count()
      }
      val scoreSec = (System.nanoTime() - ts0) / 1e9
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      System.err.println(f"[sf10] nb_model train ${fmt(trainSec)}s ${trainBytes / 1048576}%d MiB read " +
        f"(model ${modelBytes / 1024}%d KiB), score_batch ${fmt(scoreSec)}s $scoreRows rows ${scoreBytes / 1048576}%d MiB read")

      val tpl = System.nanoTime()
      val plKept = graft.queries.StreamQueries.streamCorpusPipeline(spark, Sf10).count()
      val plSec = (System.nanoTime() - tpl) / 1e9
      val (plRows, plBytes) =
        graft.queries.StreamQueries.lastNearDupState.getOrElse((-1L, -1L))
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      System.err.println(f"[sf10] pipeline ${fmt(plSec)}s kept=$plKept state_rows=$plRows state_bytes=$plBytes")
      graft.util.Fs.deleteRecursively(root)
      s""","tiers10":{"bm25_idx":{"build_sec":${fmt(buildSec)},"index_bytes":$idxBytes,"append_sec":${fmt(appendSec)},"probe":{"sec":${fmt(probeSec)},"bytes_read":$probeBytes},"compact_sec":${fmt(compactSec)},"compact_bytes":$compactBytes,"probe_compacted":{"sec":${fmt(probe2Sec)},"bytes_read":$probe2Bytes}},"nb_model":{"train_sec":${fmt(trainSec)},"train_bytes":$trainBytes,"model_bytes":$modelBytes,"score_batch":{"sec":${fmt(scoreSec)},"rows":$scoreRows,"bytes_read":$scoreBytes}},"pipeline_state":{"sec":${fmt(plSec)},"kept":$plKept,"state_rows":$plRows,"state_bytes":$plBytes}}"""
    } else ""

    // ---- streamed-maintenance decade row (the sf10 arm of
    // ScaleRehearsal's stream_maint curve, VERDICT r11 #5): per-batch
    // cost of live index upkeep at REAL batch sizes (500k docs → ~15.6k
    // docs/batch over 32 batches; 200k vecs → 6.25k/batch), the probe
    // wall/bytes vs accumulated batch-dir count, and both families'
    // compaction payoff — the curve that sets a production compaction
    // cadence one decade past the bench scale.
    val smaintJson = if (sections("smaint")) {
      import graft.util.Metrics.{bytesReadDuring, diskBytes}
      val docs10 = spark.read.parquet(s"$Sf10/documents.parquet")
      val root = java.nio.file.Files.createTempDirectory(
        graft.util.Fs.scratchDir(spark, "dayidx"), "smaint10").toAbsolutePath
      val B = 32
      val txtSecs = (0 until B).map { i =>
        val t0 = System.nanoTime()
        graft.operators.TextAnalysis.writePositionalIndexOf(spark,
          docs10.filter(pmod(col("doc_id"), lit(B)) === lit(i)), s"$root/t/b$i")
        (System.nanoTime() - t0) / 1e9
      }
      val tDirs = (0 until B).map(i => s"$root/t/b$i")
      val probeCurve = Seq(1, 8, 32).map { k =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val (_, b, _) = bytesReadDuring(spark) {
          graft.operators.TextAnalysis.searchViaIndexPaths(
            spark, tDirs.take(k), Seq("agg", "join")).collect()
        }
        (k, (System.nanoTime() - t0) / 1e9, b)
      }
      val tc0 = System.nanoTime()
      graft.operators.TextAnalysis.compactPositionalIndex(spark, tDirs,
        docs10.filter(pmod(col("doc_id"), lit(17)) === lit(5)).select(col("doc_id")),
        s"$root/t_compact")
      val tCompactSec = (System.nanoTime() - tc0) / 1e9
      val tCompactBytes = diskBytes(s"$root/t_compact") + diskBytes(s"$root/t_compact_doclen")
      spark.catalog.clearCache()
      val tq0 = System.nanoTime()
      val (_, tProbeCompBytes, _) = bytesReadDuring(spark) {
        graft.operators.TextAnalysis.searchViaIndexPaths(
          spark, Seq(s"$root/t_compact"), Seq("agg", "join")).collect()
      }
      val tProbeCompSec = (System.nanoTime() - tq0) / 1e9
      System.err.println(
        f"[sf10] smaint text: per-batch ${fmt(txtSecs.sum / B)}s mean " +
        "(probe " + probeCurve.map { case (k, s, b) =>
          f"$k dirs=${fmt(s)}s/${b / 1024}%d KiB" }.mkString(", ") +
        f"), compact ${fmt(tCompactSec)}s (${tCompactBytes / 1048576}%d MiB), " +
        f"probe_compacted ${fmt(tProbeCompSec)}s/${tProbeCompBytes / 1024}%d KiB")

      val tcb0 = System.nanoTime()
      graft.operators.Similarity.writePqCodebooks(spark, Sf10, s"$root/p")
      val pqCbSec = (System.nanoTime() - tcb0) / 1e9
      val emb10 = spark.read.parquet(s"$Sf10/embeddings.parquet")
      val pqSecs = (0 until B).map { i =>
        val t0 = System.nanoTime()
        graft.operators.Similarity.writePqCodesBatch(spark, s"$root/p",
          emb10.filter(pmod(col("vec_id"), lit(B)) === lit(i)), i.toLong)
        (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      val tpb0 = System.nanoTime()
      val (_, pqBatchedBytes, _) = bytesReadDuring(spark) {
        graft.operators.Similarity.pqTopkFromIndex(spark, Sf10, s"$root/p").collect()
      }
      val pqBatchedSec = (System.nanoTime() - tpb0) / 1e9
      val tpc0 = System.nanoTime()
      graft.operators.Similarity.compactPqIndex(spark, s"$root/p",
        emb10.filter(pmod(col("vec_id"), lit(17)) === lit(5)).select(col("vec_id")),
        s"$root/p_compact")
      val pqCompactSec = (System.nanoTime() - tpc0) / 1e9
      val pqCompactBytes = diskBytes(s"$root/p_compact/codes")
      spark.catalog.clearCache()
      val tpq0 = System.nanoTime()
      val (_, pqProbeCompBytes, _) = bytesReadDuring(spark) {
        graft.operators.Similarity.pqTopkFromIndex(spark, Sf10, s"$root/p_compact").collect()
      }
      val pqProbeCompSec = (System.nanoTime() - tpq0) / 1e9
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      System.err.println(
        f"[sf10] smaint pq: codebooks ${fmt(pqCbSec)}s, per-batch ${fmt(pqSecs.sum / B)}s mean, " +
        f"probe batched ${fmt(pqBatchedSec)}s/${pqBatchedBytes / 1024}%d KiB, " +
        f"compact ${fmt(pqCompactSec)}s (${pqCompactBytes / 1024}%d KiB), " +
        f"probe_compacted ${fmt(pqProbeCompSec)}s/${pqProbeCompBytes / 1024}%d KiB")
      graft.util.Fs.deleteRecursively(root)
      val pcJson = probeCurve.map { case (k, s, b) =>
        s"""{"dirs":$k,"sec":${fmt(s)},"bytes_read":$b}"""
      }.mkString("[", ",", "]")
      s""","smaint10":{"batches":$B,""" +
        s""""text":{"batch_sec_mean":${fmt(txtSecs.sum / B)},"batch_sec_min":${fmt(txtSecs.min)},"batch_sec_max":${fmt(txtSecs.max)},"probe_curve":$pcJson,"compact":{"sec":${fmt(tCompactSec)},"bytes_rewritten":$tCompactBytes},"probe_compacted":{"sec":${fmt(tProbeCompSec)},"bytes_read":$tProbeCompBytes}},""" +
        s""""pq":{"codebook_sec":${fmt(pqCbSec)},"batch_sec_mean":${fmt(pqSecs.sum / B)},"batch_sec_min":${fmt(pqSecs.min)},"batch_sec_max":${fmt(pqSecs.max)},"probe_batched":{"sec":${fmt(pqBatchedSec)},"bytes_read":$pqBatchedBytes},"compact":{"sec":${fmt(pqCompactSec)},"bytes_rewritten":$pqCompactBytes},"probe_compacted":{"sec":${fmt(pqProbeCompSec)},"bytes_read":$pqProbeCompBytes}}}"""
    } else ""

    // ---- decade-geometry ANN arm (VERDICT r14 #2): the shipped SFs
    // (n ≤ 2000 over k=10 lists) all land autoNprobe in its
    // probe-everything regime, so the large-corpus branch — average
    // list (20k vectors here) ≫ the rerank window — was argued, never
    // measured. This arm records the branch's operating point at 200k
    // vectors: the chosen dial (must be the fixed high-recall floor,
    // n-invariant), the dense arm's recall@100 vs exact brute, and the
    // user-facing fused overlap@20 of the auto-dialed hybrid vs the
    // brute-dense fusion. The dial-invariance gate fires after the
    // artifact write (the r14 lesson: gates never eat the evidence).
    val annJson = if (sections("ann")) {
      import graft.operators.{Similarity, TextAnalysis}
      val rr = Similarity.hybridRerank(spark)
      val k = Similarity.PqCoarseLists
      val autoNp = Similarity.autoNprobe(nVecs, k, rr)
      val avgList = math.max(1L, nVecs / k)
      val e = spark.read.parquet(s"$Sf10/embeddings.parquet")
        .selectExpr("vec_id", "embedding",
          "sqrt(graft_dot(embedding, embedding)) AS nrm")
      val q = e.filter(col("vec_id") === 0)
        .selectExpr("embedding AS q_emb", "nrm AS q_nrm")
      val tb0 = System.nanoTime()
      val brute100 = e.filter(col("vec_id") =!= 0).join(broadcast(q))
        .selectExpr("vec_id",
          "round(graft_dot(embedding, q_emb) / (nrm * q_nrm), 6) AS cos_sim")
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(100)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      val bruteSec = (System.nanoTime() - tb0) / 1e9
      val tp0 = System.nanoTime()
      val autoDense = Similarity.ivfPqTopk(spark, Sf10,
          nprobe = autoNp, rerank = rr, topN = 100)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      val pqSec = (System.nanoTime() - tp0) / 1e9
      val denseRecall = (autoDense & brute100).size.toDouble / brute100.size
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      def fusedIds(arm: String): Set[Long] = {
        if (arm != "brute") spark.conf.set("spark.graft.hybrid.denseArm", arm)
        try TextAnalysis.hybridSearch(spark, Sf10)
          .collect().map(_.getAs[Long]("doc_id")).toSet
        finally spark.conf.unset("spark.graft.hybrid.denseArm")
      }
      val bruteFused = fusedIds("brute")
      val tf0 = System.nanoTime()
      val autoFused = fusedIds("ivf_pq") // UNCONFIGURED nprobe → auto
      val fusedSec = (System.nanoTime() - tf0) / 1e9
      val fusedOverlap = (autoFused & bruteFused).size.toDouble / bruteFused.size
      graft.operators.Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
      System.err.println(
        f"[sf10] ann10 n=$nVecs auto np=$autoNp (avg list $avgList, probed ${autoNp * avgList}) " +
          f"dense recall@100 = $denseRecall%.2f (brute ${fmt(bruteSec)}s, pq ${fmt(pqSec)}s)  " +
          f"fused overlap@20 = $fusedOverlap%.2f (${fmt(fusedSec)}s)")
      s""","ann10":{"n_vectors":$nVecs,"coarse_lists":$k,"rerank":$rr,""" +
        s""""auto_nprobe":$autoNp,"avg_list":$avgList,"probed_vectors":${autoNp * avgList},""" +
        s""""dense_recall_at_100":${fmt(denseRecall)},"fused_overlap_at_20":${fmt(fusedOverlap)},""" +
        s""""brute_sec":${fmt(bruteSec)},"pq_sec":${fmt(pqSec)},"fused_sec":${fmt(fusedSec)}}"""
    } else ""

    val qjson = rows.map { case (n, s1, r1, s10, r10, ratio) =>
      s""""$n":{"sf1_sec":${fmt(s1)},"sf1_rows":$r1,"sf10_sec":${fmt(s10)},"sf10_rows":$r10,"ratio":${fmt(ratio)}}"""
    }.mkString("{", ",", "}")
    val cjson = cand.map { case (g, c) => s""""$g":$c""" }.mkString("{", ",", "}")
    val vjson = vols.map { case (cap, v) => s""""maxdf_$cap":$v""" }.mkString("{", ",", "}")
    val json = s"""{"metric":"sf10_rehearsal","n_docs":${spark.read.parquet(s"$Sf10/documents.parquet").count()},"n_vectors":$nVecs,"queries":$qjson,"lsh_candidates":$cjson,"ngram_candidate_volume":$vjson,"ngram_maxdf200":{"rows":$ngram,"sec":${fmt(ngramSec)}},"semantic_kmeans_scaled_k":$semJson$pqJson$tiersJson$smaintJson$annJson}"""
    println(json)
    val out = java.nio.file.Paths.get(
      if (partial) "target/sf10_rehearsal_partial.json"
      else "target/sf10_rehearsal.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // dial-invariance gate (VERDICT r14 #2), AFTER the artifact write:
    // at the decade geometry (avgList ≫ rerank) the auto dial must sit
    // at the fixed high-recall floor and must NOT move when the corpus
    // grows another one or two decades — the probe count is a fixed
    // fraction of lists, never a corpus-tracking number
    if (sections("ann")) {
      val rr = graft.operators.Similarity.hybridRerank(spark)
      val k = graft.operators.Similarity.PqCoarseLists
      val d = graft.operators.Similarity.autoNprobe(nVecs, k, rr)
      require(d == math.min(k, 8),
        s"decade auto dial $d is not the fixed high-recall floor ${math.min(k, 8)}")
      require(Seq(10L, 100L).forall(m =>
          graft.operators.Similarity.autoNprobe(nVecs * m, k, rr) == d),
        s"auto dial scales with n in the avgList > rerank regime (n=$nVecs, dial=$d)")
    }
    spark.stop()
  }

  private def scratch(s: SparkSession, name: String): String =
    graft.util.Fs.scratchDir(s, name).toString

  /** 100-replica twin of ScaleRehearsal.ensureSf1 (same generator, one
    * decade further). Requires the sf1 corpus — the ratio baseline. */
  private def ensureSf10(s: SparkSession): Unit = {
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(scratch(s, "sf1"), ScaleRehearsal.Sf1Marker)),
      "run graft.ScaleRehearsal first: sf10 ratios baseline against its sf1 corpus")
    Sf10 = scratch(s, "sf10")
    val done = java.nio.file.Paths.get(s"$Sf10/_REHEARSAL_OK")
    if (java.nio.file.Files.exists(done)) return
    Rehearsal.replicate(s, Sf01, Sf10, replicas = 100, files = 32)
    java.nio.file.Files.write(done, "ok\n".getBytes("UTF-8"))
  }
}
