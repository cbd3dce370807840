package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.dot
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The round-8 corpus-tooling additions (`text_chunk`, `text_search`,
  * `text_quality_regression`, `dedup_canonical`, `dedup_source_overlap`,
  * `corpus_contamination_semantic`): each is hash-gated against DuckDB
  * at three SFs; this spec pins the structural invariants the value
  * hashes alone don't name — window coverage, keeper uniqueness,
  * estimate/exact agreement shape, brute-force argmax equality, and the
  * pushed index filter on the search path. */
class CorpusToolsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("text_chunk tiles every document: start 0, stride 48, last window ends at n, text matches len") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as long)").as("n"))
    val ch = TextAnalysis.chunk(spark, sf)
    // re-tokenized chunk length equals the claimed chunk_len
    assert(ch.filter(
      expr("size(filter(split(chunk_text, ' '), x -> length(x) > 0))") =!= col("chunk_len"))
      .count() === 0L)
    val per = ch.groupBy($"doc_id").agg(
      min($"start_tok").as("first_start"),
      max($"start_tok" + $"chunk_len").as("last_end"),
      count(lit(1)).as("n_chunks"),
      max($"chunk_id").as("max_id"))
    val j = per.join(docs, "doc_id")
    assert(j.filter($"first_start" =!= 0L).count() === 0L)
    assert(j.filter($"last_end" =!= $"n").count() === 0L, "last window must end at the doc end")
    assert(j.filter($"max_id" =!= $"n_chunks" - 1).count() === 0L, "chunk ids must be dense")
    // every non-final window is exactly maxLen long
    val nonFinal = ch.join(per.select($"doc_id", $"max_id"), "doc_id")
      .filter($"chunk_id" < $"max_id")
    assert(nonFinal.filter($"chunk_len" =!= 64L).count() === 0L)
  }

  test("text_search_day2: appended index ≡ from-scratch index, store reuse stable") {
    val full = TextAnalysis.search(spark, sf).collect().map(_.toString).sorted
    val day2a = TextAnalysis.searchDay2(spark, sf).collect().map(_.toString).sorted
    // second call reads the per-process day-1 postings instead of
    // rebuilding them — results must be identical either way
    val day2b = TextAnalysis.searchDay2(spark, sf).collect().map(_.toString).sorted
    Dedup.unpersistIntermediates(spark)
    assert(full.nonEmpty && day2a.sameElements(full) && day2b.sameElements(full),
      "day-2 appended index drifted from the from-scratch index")
  }

  test("text_search_compact: retired docs actually vanish, survivors ≡ fresh rebuild (phrase + BM25)") {
    import spark.implicits._
    // at sf0.001 the ≡ 5 mod 17 takedown slice CONTAINS matching docs,
    // so this corpus genuinely exercises the deletion (the sf0.01
    // driver corpus happens to retire no matching doc for this phrase)
    val full = TextAnalysis.search(spark, sf)
      .collect().map(r => r.getLong(0) -> r.toString).toMap
    val retiredMatches = full.keySet.filter(_ % 17 == 5)
    assert(retiredMatches.nonEmpty,
      "fixture drift: the takedown slice must contain phrase matches for this pin to bite")
    val compacted = TextAnalysis.searchCompact(spark, sf)
      .collect().map(r => r.getLong(0) -> r.toString).toMap
    assert(retiredMatches.forall(id => !compacted.contains(id)),
      "a retired doc still matches through the compacted index")
    // compaction ≡ rebuild: surviving matches are exactly the full
    // result minus the retired slice, row for row
    assert(compacted === full.filter { case (id, _) => id % 17 != 5 })

    // the BM25 probe through a compacted index equals the probe through
    // a fresh index of the survivors (same scoring core, so any
    // difference is a compaction defect, not arithmetic drift)
    val scratch = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "tsc").toString
    try {
      val docsDf = spark.read.parquet(s"$sf/documents.parquet")
      TextAnalysis.writePositionalIndexOf(spark, docsDf, s"$scratch/all")
      TextAnalysis.compactPositionalIndex(spark, Seq(s"$scratch/all"),
        docsDf.filter(pmod($"doc_id", lit(17)) === 5).select($"doc_id"),
        s"$scratch/compact")
      TextAnalysis.writePositionalIndexOf(spark,
        docsDf.filter(pmod($"doc_id", lit(17)) =!= 5), s"$scratch/fresh")
      val viaCompact = TextAnalysis.bm25ViaIndex(spark,
        Seq(s"$scratch/compact"), Seq("dup", "merge")).collect().map(_.toString)
      val viaFresh = TextAnalysis.bm25ViaIndex(spark,
        Seq(s"$scratch/fresh"), Seq("dup", "merge")).collect().map(_.toString)
      assert(viaCompact.nonEmpty && viaCompact.sameElements(viaFresh),
        "BM25 through the compacted index drifted from a fresh survivor index")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(scratch))
    Dedup.unpersistIntermediates(spark)
  }

  test("compaction preserves the probe layout: the pushed word-IN filter survives the rewrite") {
    import spark.implicits._
    // the takedown rewrite must land in writePositionalIndexOf's layout
    // (word-partitioned, (word, doc_id)-sorted) or every post-takedown
    // probe silently degrades from row-group skipping to a full scan
    val scratch = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "tscplan").toString
    try {
      val docsDf = spark.read.parquet(s"$sf/documents.parquet")
      TextAnalysis.writePositionalIndexOf(spark, docsDf, s"$scratch/all")
      TextAnalysis.compactPositionalIndex(spark, Seq(s"$scratch/all"),
        docsDf.filter(pmod($"doc_id", lit(17)) === 5).select($"doc_id"),
        s"$scratch/compact")
      val probe = spark.read.parquet(s"$scratch/compact")
        .filter($"word".isin("agg", "join"))
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [In(word") ||
             plan.contains("PushedFilters: [Or(EqualTo(word"),
        s"compacted-index probe lost its pushed word filter:\n$plan")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(scratch))
    Dedup.unpersistIntermediates(spark)
  }

  test("stream_corpus_quality_gate ≡ the fused batch quality+langid filter") {
    import spark.implicits._
    // the streaming gate is a stateless per-doc function, so its rows
    // must equal the batch operators' own keep-set join exactly —
    // batch/stream drift here would mean the expressions forked
    val streamed = graft.queries.StreamQueries.streamCorpusQualityGate(spark, sf)
      .collect().map(_.toString).sorted
    val batch = TextAnalysis.quality(spark, sf).filter($"keep" === 1L)
      .select($"doc_id", $"n_tokens", $"mean_tok_len", $"punct_ratio")
      .join(TextAnalysis.langid(spark, sf).filter($"pred_lang" === "en")
        .select($"doc_id", $"pred_lang"), "doc_id")
      .orderBy($"doc_id")
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      s"stream gate (${streamed.length} rows) drifted from the batch fusion (${batch.length})")
  }

  test("dedup_canonical: exactly one keeper per component, and it maximizes (n_chars, -doc_id)") {
    import spark.implicits._
    val out = Dedup.canonical(spark, sf)
    val perComp = out.groupBy($"component").agg(sum($"keep").as("kept"))
    assert(perComp.filter($"kept" =!= 1L).count() === 0L)
    val chars = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id", $"n_chars")
    val best = out.join(chars, "doc_id")
      .groupBy($"component")
      .agg(max(struct($"n_chars".as("nc"), (-$"doc_id").as("nid"))).as("b"))
      .select($"component", (-$"b".getField("nid")).as("want_keeper"))
    val keeper = out.filter($"keep" === 1L).select($"component", $"doc_id".as("got_keeper"))
    assert(keeper.join(best, "component").filter($"got_keeper" =!= $"want_keeper").count() === 0L)
  }

  test("dedup_source_overlap: full pair matrix, bounds, and estimate granularity k/8") {
    import spark.implicits._
    val out = Dedup.sourceOverlap(spark, sf).cache()
    try {
      val nSrc = spark.read.parquet(s"$sf/documents.parquet")
        .select($"source").distinct().count()
      assert(out.count() === nSrc * (nSrc - 1) / 2, "one row per unordered source pair")
      assert(out.filter($"jaccard" < 0 || $"jaccard" > 1).count() === 0L)
      // 8-slot estimate can only take values k/8
      assert(out.filter(($"est_jaccard" * 8) =!= round($"est_jaccard" * 8)).count() === 0L)
    } finally out.unpersist()
  }

  test("corpus_contamination_semantic equals a brute-force window argmax") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = e.select($"vec_id", $"embedding",
      sqrt(dot($"embedding", $"embedding")).as("nrm"))
    val ev = n.filter(pmod($"vec_id", lit(20)) === 0)
      .select($"vec_id".as("eval_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val brute = n.filter(pmod($"vec_id", lit(20)) =!= 0).crossJoin(ev)
      .select($"eval_id", $"vec_id".as("train_id"),
        round(dot($"embedding", $"qe") / ($"nrm" * $"qn"), 4).as("cos_sim"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"eval_id")
          .orderBy($"cos_sim".desc, $"train_id")))
      .filter($"rn" === 1).drop("rn")
    val got = Similarity.semanticContamination(spark, sf)
      .select($"eval_id", $"train_id", $"cos_sim")
    assert(got.except(brute).count() === 0L && brute.except(got).count() === 0L)
  }

  test("text_search: pushed In-filter on the index scan; matches agree with a direct corpus recount") {
    import spark.implicits._
    val out = TextAnalysis.search(spark, sf, Seq("agg", "join"))
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("t"))
      .select($"doc_id", posexplode($"t").as(Seq("p", "w")))
      .withColumn("nxt", lead($"w", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id").orderBy($"p")))
      .filter($"w" === "agg" && $"nxt" === "join")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_matches"), min($"p").cast("long").as("first_pos"))
    assert(out.except(direct).count() === 0L && direct.except(out).count() === 0L)
    // day-2 plan shape: the query path reads the index behind a pushed
    // word filter (build a fresh index to inspect the scan plan)
    val idxDir = java.nio.file.Files.createTempDirectory("textidx-spec").toString
    try {
      TextAnalysis.writePositionalIndex(spark, sf, idxDir)
      val q = spark.read.parquet(idxDir).filter($"word".isin("agg", "join"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [In(word"),
        s"index scan must push the term filter, got:\n$plan")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idxDir))
  }

  test("corpus_split_leakage_safe: no component straddles the split; doc-keyed split WOULD leak here") {
    import spark.implicits._
    val safe = graft.operators.Curation.splitLeakageSafe(spark, sf).cache()
    try {
      // atomicity: every component maps to exactly one split
      assert(safe.groupBy($"component")
        .agg(countDistinct($"split").as("k")).filter($"k" =!= 1L).count() === 0L)
      // non-vacuity of the guarantee: the plain doc-keyed split assigns
      // at least one multi-doc component to 2+ sides on this corpus —
      // i.e. the operator exists for a reason, not hypothetically
      val plain = graft.operators.Curation.split(spark, sf).select($"doc_id", $"split")
      val straddled = safe.select($"doc_id", $"component")
        .join(plain, "doc_id")
        .groupBy($"component").agg(countDistinct($"split").as("k"), count(lit(1)).as("n"))
        .filter($"n" > 1 && $"k" > 1)
      assert(straddled.count() > 0L,
        "fixture must contain a dup cluster the doc-keyed split splits apart")
    } finally safe.unpersist()
  }

  test("dedup_source_overlap_incremental: day-2 merge equals the full recompute's estimate") {
    import spark.implicits._
    val full = Dedup.sourceOverlap(spark, sf).select($"src_a", $"src_b", $"est_jaccard")
    val day2 = Dedup.sourceOverlapIncremental(spark, sf)
    assert(day2.except(full).count() === 0L && full.except(day2).count() === 0L,
      "least()-merged signatures must reproduce the full-recompute estimate bit-for-bit")
  }

  test("dedup_soft: singletons always survive; ladder matches p = 1/m semantics") {
    import spark.implicits._
    val out = Dedup.softDedup(spark, sf).cache()
    try {
      assert(out.filter($"group_size" === 1L && $"keep" =!= 1L).count() === 0L,
        "a singleton's keep probability is exactly 1")
      // group_size is the true component population
      val sizes = out.groupBy($"component").agg(count(lit(1)).as("n"))
      assert(out.join(sizes, "component").filter($"group_size" =!= $"n").count() === 0L)
      // determinism: a second run is bit-identical
      val again = Dedup.softDedup(spark, sf)
      assert(out.except(again).count() === 0L && again.except(out).count() === 0L)
    } finally out.unpersist()
  }

  test("text_quality_regression matches the covariance closed form") {
    import spark.implicits._
    val stats = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source",
        expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as double)").as("y"),
        $"n_chars".cast("double").as("x"))
      .groupBy($"source")
      .agg(covar_pop($"y", $"x").as("cxy"), var_pop($"x").as("vx"),
           avg($"x").as("mx"), avg($"y").as("my"), corr($"y", $"x").as("r"))
      .select($"source",
        round($"cxy" / $"vx", 6).as("slope"),
        round($"my" - ($"cxy" / $"vx") * $"mx", 6).as("intercept"),
        round($"r" * $"r", 6).as("r2"))
    val got = TextAnalysis.qualityRegression(spark, sf)
      .select($"source", $"slope", $"intercept", $"r2")
    val j = got.as("g").join(stats.as("w"), "source")
      .filter(abs($"g.slope" - $"w.slope") > 1e-6 ||
              abs($"g.intercept" - $"w.intercept") > 1e-6 ||
              abs($"g.r2" - $"w.r2") > 1e-6)
    assert(j.count() === 0L)
  }

  test("corpus_funnel_accounting: stage law, one canonical per hash, every stage non-vacuous") {
    // the oracle hash certifies values; this pins the structural shape
    // the dicom funnel inherits (same stage order: normalize → exact →
    // near-dup → quality): curated ⇔ survived all three gates, exactly
    // one canonical doc per normalized hash, near-dup flags only on
    // exact survivors, and each attrition stage actually fires on the
    // fixture corpus (a vacuous stage would gate nothing)
    val rows = Dedup.corpusFunnelAccounting(spark, sf)
      .select("norm_md5", "is_dup", "is_neardup", "quality_keep", "curated")
      .collect()
    rows.foreach { r =>
      val (dup, nd, keep, cur) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cur == (if (dup == 0 && nd == 0 && keep == 1) 1L else 0L),
        s"stage law violated: dup=$dup nd=$nd keep=$keep cur=$cur")
      assert(!(dup == 1 && nd == 1),
        "a doc dropped at exact dedup must never carry a near-dup flag")
    }
    rows.groupBy(_.getString(0)).foreach { case (h, g) =>
      assert(g.count(_.getLong(1) == 0L) == 1,
        s"hash $h must have exactly one canonical doc")
    }
    assert(rows.exists(_.getLong(2) == 1L), "near-dup stage is vacuous here")
    assert(rows.exists(_.getLong(4) == 1L), "nothing curated — corpus degenerate")
    // the sf documents tables carry NO byte-identical docs (near-dups
    // only), so is_dup must be all-zero HERE as a property of the
    // corpus, not the operator — the rule's non-vacuous exercise lives
    // in the DICOM funnel specs (delta: the changed object's docs flag
    // is_dup=1 against the standing sink) which share the window rule
    val dupHashes = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(md5(trim(regexp_replace(lower(col("text")), " +", " "))))
      .count().filter(col("count") > 1).count()
    assert(dupHashes == 0L && rows.forall(_.getLong(1) == 0L),
      "corpus gained exact dups — drop the all-zero expectation and " +
        "assert non-vacuity instead")
  }
}
