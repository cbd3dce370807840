package graft

import graft.operators.TextAnalysis

/** Ranked-retrieval additions (`text_search_bm25`, `text_search_hybrid`):
  * both are hash-gated against DuckDB; this spec pins what the value
  * hashes don't name — agreement of the whole BM25 ranking with an
  * independent in-test reimplementation, the idf ordering a rare term
  * must impose, and the RRF arithmetic/sentinel contract of the fusion.
  */
class RankedSearchSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Independent scalar BM25 over the collected corpus — the naive
    * reference the distributed operator must reproduce exactly
    * (integer-quantized contributions, doc_id tiebreak). */
  private def naiveBm25(terms: Seq[String], k1: Double, b: Double,
                        topN: Int): Seq[(Long, Long, Long)] = {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split(" ").filter(_.nonEmpty))
    val tf = corpus.map { case (id, tks) =>
      id -> tks.groupBy(identity).map { case (w, g) => w -> g.length.toLong } }
    val dl = tf.map { case (id, m) => id -> m.values.sum }.toMap
    val nDocs = dl.size.toLong
    val avgdl = dl.values.sum.toDouble / nDocs
    val df = terms.map(t => t -> tf.count(_._2.contains(t)).toLong).toMap
    val scored = tf.flatMap { case (id, m) =>
      val hits = terms.filter(m.contains)
      if (hits.isEmpty) None
      else {
        val s = hits.map { t =>
          val idf = math.log(1 + (nDocs - df(t) + 0.5) / (df(t) + 0.5))
          val tfd = m(t).toDouble
          math.round(1e6 * idf * (tfd * (k1 + 1)) /
            (tfd + k1 * (1 - b + b * dl(id) / avgdl)))
        }.sum
        Some((id, hits.length.toLong, s))
      }
    }
    scored.sortBy { case (id, _, s) => (-s, id) }.take(topN).toSeq
  }

  test("text_search_bm25 reproduces the naive scalar BM25 exactly, ranks dense from 1") {
    val got = TextAnalysis.bm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_hit"), r.getAs[Long]("score_q")))
    val want = naiveBm25(Seq("dup", "merge"), 1.2, 0.75, 20)
      .zipWithIndex.map { case ((id, h, s), i) => (i + 1L, id, h, s) }
    assert(got.toSeq === want,
      "distributed BM25 must agree with the collected-corpus reference")
    assert(got.map(_._1).toSeq === (1L to got.length).toSeq)
  }

  test("text_search_bm25 agrees with the reference on an idf-skewed term pair") {
    val got = TextAnalysis.bm25(spark, sf, terms = Seq("dup", "batch")).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_hit"), r.getAs[Long]("score_q")))
    val want = naiveBm25(Seq("dup", "batch"), 1.2, 0.75, 20)
      .zipWithIndex.map { case ((id, h, s), i) => (i + 1L, id, h, s) }
    assert(got.toSeq === want,
      "rankings must agree on a second, idf-skewed term pair too")
    val scores = got.map(_._4)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "scores must be non-increasing in rank order")
  }

  test("text_search_bm25_day2: index-derived ranking is byte-identical to the corpus-derived one") {
    val corpus = TextAnalysis.bm25(spark, sf).collect().map(_.toSeq)
    val viaIndex = TextAnalysis.bm25Day2(spark, sf).collect().map(_.toSeq)
    assert(viaIndex.toSeq === corpus.toSeq,
      "day-2 index + sidecar must reproduce the corpus-derived BM25 exactly")
    // second call reuses the standing day-1 store (append-only lifecycle)
    val again = TextAnalysis.bm25Day2(spark, sf).collect().map(_.toSeq)
    assert(again.toSeq === corpus.toSeq)
  }

  test("text_search_hybrid: RRF score is exactly the integer sum of its per-arm terms") {
    val rows = TextAnalysis.hybridSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rl, rv, rrf) = (r.getAs[Long]("rank_lex"),
        r.getAs[Long]("rank_vec"), r.getAs[Long]("rrf"))
      val want = (if (rl > 0) 1000000L / (60L + rl) else 0L) +
        (if (rv > 0) 1000000L / (60L + rv) else 0L)
      assert(rrf === want, s"RRF mismatch at doc ${r.getAs[Long]("doc_id")}")
      assert(rl > 0 || rv > 0, "a fused doc must come from at least one arm")
    }
    val rrfs = rows.map(_.getAs[Long]("rrf"))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
  }

  test("text_search_hybrid: the IVF-PQ dense arm at rerank-all dials reproduces the brute fusion exactly") {
    // the 100 TB composition (pruned PQ probe + BM25 postings) must be
    // the TESTED path, not a comment: probing every coarse list with
    // rerank ≥ corpus makes the PQ arm's exact-rerank shortlist the
    // whole corpus, so the fused ranking must equal the brute arm's row
    // for row — flipping the dial trades recall for cost only
    val brute = TextAnalysis.hybridSearch(spark, sf).collect().map(_.toString)
    withConf("spark.graft.hybrid.denseArm" -> "ivf_pq", "spark.graft.hybrid.nprobe" -> "10",
        "spark.graft.hybrid.rerank" -> "1000000") {
      val viaPq = TextAnalysis.hybridSearch(spark, sf).collect().map(_.toString)
      assert(viaPq.nonEmpty && viaPq.sameElements(brute),
        "PQ dense arm at rerank-all dials drifted from the brute fusion")
    }
    graft.operators.Dedup.unpersistIntermediates(spark)
  }

  test("text_search_hybrid_pq: the hash-gated PQ composition fuses the exact-twin ADC ranking") {
    // the dense arm IS pqExact's integer ADC order: recompute the arm's
    // rank assignment from the twin and check every fused row's
    // rank_vec matches — drift in training/encode/ADC/cut would move a
    // rank and fail here before the oracle hash ever runs
    val adcRank = graft.operators.Similarity.pqExact(spark, sf)
      .filter("vec_id <> 0")
      .orderBy(org.apache.spark.sql.functions.col("adc_q").desc,
        org.apache.spark.sql.functions.col("vec_id"))
      .limit(100).collect().map(_.getAs[Long]("vec_id"))
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val rows = TextAnalysis.hybridSearchPqExact(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, rv, rrf, rl) = (r.getAs[Long]("doc_id"), r.getAs[Long]("rank_vec"),
        r.getAs[Long]("rrf"), r.getAs[Long]("rank_lex"))
      assert(rv === adcRank.getOrElse(id, 0L),
        s"dense-arm rank drifted from the PQ twin at doc $id")
      val want = (if (rl > 0) 1000000L / (60L + rl) else 0L) +
        (if (rv > 0) 1000000L / (60L + rv) else 0L)
      assert(rrf === want, s"RRF mismatch at doc $id")
    }
    graft.operators.Dedup.unpersistIntermediates(spark)
  }

  test("text_search_hybrid: both-arm docs dominate equal-rank single-arm docs") {
    val rows = TextAnalysis.hybridSearch(spark, sf).collect()
    val both = rows.filter(r =>
      r.getAs[Long]("rank_lex") > 0 && r.getAs[Long]("rank_vec") > 0)
    val single = rows.filter(r =>
      r.getAs[Long]("rank_lex") == 0 || r.getAs[Long]("rank_vec") == 0)
    for {
      b <- both
      s <- single
      if math.max(b.getAs[Long]("rank_lex"), b.getAs[Long]("rank_vec")) <=
        math.max(s.getAs[Long]("rank_lex"), s.getAs[Long]("rank_vec"))
    } assert(b.getAs[Long]("rrf") > s.getAs[Long]("rrf"),
      "two arms at no-worse ranks must fuse strictly higher than one")
  }
}
