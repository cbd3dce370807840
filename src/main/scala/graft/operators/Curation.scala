package graft.operators

import graft.functions.GraftFunctions.charGrams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Dataset-curation operators for the training-data pipeline extension:
  * deterministic train/val/test splitting, stratified sampling, sequence
  * packing, and benchmark-contamination checks — the steps between "clean
  * corpus" ([[Dedup.corpusClean]]) and "batches on the trainer".
  *
  * Everything is hash-deterministic (md5-derived, like [[Dedup]]) so the
  * DuckDB oracle reproduces each assignment bit-for-bit and a re-run over
  * re-partitioned data yields identical splits — the property that makes
  * dataset versioning possible at 100 TB.
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** 60-bit portable md5 hash — [[Dedup.h60]], the single shared
    * definition of the oracle-parity fold. */
  private def h60(e: String): String = Dedup.h60(e)

  /** LEAKAGE-SAFE split — the dedup-aware twin of [[split]]: the hash
    * ladder keys on the document's duplicate COMPONENT (singletons key
    * on themselves), so a near-dup cluster lands on one side of the
    * split atomically — a doc-keyed split routinely puts a train doc's
    * 0.9-Jaccard twin into test, and the eval numbers measure
    * memorization instead of generalization. Cost over [[split]] is a
    * streaming left join against the per-process persisted labeling
    * ([[Dedup.componentsFromStore]] — the closure is computed once per
    * corpus version and shared with canonical/soft dedup); the ladder
    * itself stays one narrow expression. Same 90/5/5 rates — but rates
    * now apply to components, and the per-DOC mass per side drifts by
    * dup mass (the honest price of atomicity; at web scale dup clusters
    * are a few percent of components, so drift is small and
    * measurable). */
  def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select($"doc_id")
      .join(Dedup.componentsFromStore(s, dir).select($"doc_id", $"component"),
        Seq("doc_id"), "left")
      .withColumn("component", coalesce($"component", $"doc_id"))
      .select($"doc_id", $"component",
        expr(s"${h60("cast(component as string)")} % 100").as("bucket"))
      .select($"doc_id", $"component", $"bucket",
        when($"bucket" < 90, "train")
          .when($"bucket" < 95, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** Deterministic 90/5/5 train/val/test split: bucket = md5(doc_id) mod
    * 100. Assignment depends only on the document id — never on
    * partitioning, row order, or cluster size — so the split is stable
    * across re-runs and engines. One narrow scan, no shuffle except the
    * oracle-stability sort. */
  def split(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        expr(s"${h60("cast(doc_id as string)")} % 100").as("bucket"))
      .select($"doc_id", $"bucket",
        when($"bucket" < 90, "train")
          .when($"bucket" < 95, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** Stratified deterministic sample: keep ~1-in-10 documents PER
    * (lang, source) stratum, selected by md5(lang:source:doc_id) — every
    * stratum is represented at the sampling rate regardless of its size,
    * the property plain random sampling loses on skewed corpora. Narrow
    * scan; the filter pushes into the stratum hash, no shuffle. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("h",
        expr(s"${h60("concat(lang, ':', source, ':', cast(doc_id as string))")} % 10"))
      .filter($"h" === 0)
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  /** PER-GROUP DOCUMENT CAP: keep exactly `k` documents per
    * (lang, source) group, chosen by hashed rank — the curation step
    * that caps over-represented domains (one spam-heavy source cannot
    * dominate the mix) while under-k groups pass through whole. The
    * selection is a deterministic reservoir analog: rank by
    * md5(doc_id) within the group (doc_id tiebreak), keep rank ≤ k —
    * re-runs, re-partitions, and engines agree bit-for-bit.
    *
    * Scale shape: rank-≤-k over a window triggers Spark's
    * WindowGroupLimit — each map partition pre-prunes to its own top-k
    * per group BEFORE the exchange, so the shuffle carries at most
    * k × groups × partitions rows, never the corpus (plan-pinned in
    * CurationSpec). */
  def groupCap(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang", $"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    docs(s, dir)
      .select($"doc_id", $"lang", $"source")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= k)
      .orderBy($"lang", $"source", $"rk")
  }

  /** Source-weighted mixture sampling — the data-mixing step of a
    * pre-training pipeline: each source gets a sampling weight (here a
    * deterministic 1.0/0.5/0.25/0.1 band keyed on the numeric source
    * suffix; in production a config map) and a document survives iff its
    * portable hash falls under the weight. Like every curation op the
    * decision depends only on (doc_id, source) — re-runs, re-partitions
    * and engines agree bit-for-bit, so a mixture is versionable. One
    * narrow scan, filter evaluated at the scan, no shuffle except the
    * oracle-stability sort. */
  def mix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = expr("cast(substr(source, 4) as int) % 4")
    val w = when(m === 0, 1.0).when(m === 1, 0.5).when(m === 2, 0.25)
      .otherwise(0.1)
    docs(s, dir)
      .withColumn("w", w)
      .withColumn("h",
        expr(s"${h60("concat(cast(doc_id as string), ':', source)")} % 10000"))
      .filter($"h" < $"w" * 10000)
      .select($"doc_id", $"source", $"w")
      .orderBy($"doc_id")
  }

  /** Temperature-flattened language mixing — the multilingual-LM
    * sampling rule: flatten the language distribution halfway toward
    * uniform in log space (exponent 1/2, i.e. temperature 2) with
    * per-language acceptance rate min(1, sqrt(N / (L·n_l))) — languages
    * at or below the uniform share N/L are kept whole, the dominant
    * language is downsampled so its kept mass grows only as sqrt(n_l).
    *
    * The rate is computed ONLY from correctly-rounded IEEE ops over
    * integer inputs (divide, multiply, sqrt — sqrt is exact-rounded by
    * the standard, unlike pow) so Spark and any oracle engine agree
    * bit-for-bit; no libm boundary can flip an acceptance. Acceptance
    * itself is the deterministic h60 doc hash against floor(rate·1e6).
    *
    * Scale shape: one language-count aggregation (map-side combined, L
    * rows), rates broadcast back over the corpus — no corpus shuffle at
    * all; the scan streams through a broadcast hash join and a filter. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byLang = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("n_l"))
    val tot = byLang.agg(sum($"n_l").cast("double").as("n"),
      count(lit(1)).cast("double").as("n_lang"))
    val rates = byLang.crossJoin(broadcast(tot))
      .select($"lang", least(lit(1.0), sqrt($"n" / ($"n_lang" * $"n_l"))).as("r"))
    docs(s, dir)
      .join(broadcast(rates), Seq("lang"))
      .filter(expr(s"${h60("concat(cast(doc_id as string), ':', lang)")} % 1000000") <
        ($"r" * lit(1e6)).cast("long"))
      .select($"doc_id", $"lang", round($"r", 6).as("rate"))
      .orderBy($"doc_id")
  }

  /** Sequence packing: assign documents to fixed-token-budget chunks
    * (budget 2048 whitespace tokens), packed in doc_id order WITHIN a
    * shard (`doc_id mod 16`). chunk = floor(tokens-before-this-doc /
    * budget); offset = position inside the chunk. Sharding keeps the
    * running sum a per-shard window — one hash-shuffle on shard, each
    * shard's cumulative sum independent — instead of a global
    * single-partition prefix sum that cannot scale. Documents longer than
    * the budget overflow their chunk deterministically (document-
    * preserving packing). */
  def pack(s: SparkSession, dir: String, budget: Long = 2048L): DataFrame = {
    import s.implicits._
    val win = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(s, dir)
      .select($"doc_id",
        expr("doc_id % 16").as("shard"),
        expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as bigint)").as("n_tok"))
      .withColumn("cum_before", coalesce(sum($"n_tok").over(win), lit(0L)))
      .select($"doc_id", $"shard", $"n_tok",
        // integer `div`, not `/`: Divide promotes to double and a cast
        // back — exact only below 2^53; div matches DuckDB's `//` at
        // every magnitude
        expr(s"cum_before div ${budget}L").as("chunk_id"),
        ($"cum_before" % budget).as("chunk_offset"))
      .orderBy($"doc_id")
  }

  /** Quality-filter funnel — the attrition accounting a cleaning
    * pipeline ships with its corpus card: five C4/Gopher-ish rules
    * applied in a FIXED order with first-fail attribution, reported as
    * one row per stage (docs entering, failing, surviving). Stage
    * ordering matters and is part of the contract: a doc failing both
    * the token floor and the punctuation gate counts ONLY against the
    * earlier rule, so the rows compose: n_out(k) = n_in(k+1), and
    * n_out(5) is exactly the keep-set size.
    *
    * Stat expressions deliberately mirror [[TextAnalysis.quality]] /
    * [[TextAnalysis.scrub]] (rounded to 4 before thresholding, the same
    * engine-portable regex character classes). Rules that divide are
    * ordered BEHIND the token floor, so the degenerate 0-token /
    * 0-length divisions are never compared on either engine.
    *
    * Scale shape: one narrow scan to per-doc stats, one 6-row partial-
    * aggregated rollup; the 5-row funnel itself is driver-trivial. */
  def qualityFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val stats = docs(s, dir)
      .select($"doc_id", $"text",
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"))
      .select($"doc_id",
        size($"tk").cast("long").as("n_tokens"),
        round(expr("aggregate(tk, cast(0 as double), (s, x) -> s + length(x)) / size(tk)"), 4)
          .as("mean_tok_len"),
        round(size(regexp_extract_all($"text", lit("[.!?,;:]"), lit(0))).cast("double") /
          length($"text"), 4).as("punct_ratio"),
        round(size(regexp_extract_all($"text", lit("[a-zA-Z]"), lit(0))).cast("double") /
          length($"text"), 4).as("alpha_ratio"),
        size(regexp_extract_all($"text", lit("[0-9]{6,}"), lit(0))).cast("long")
          .as("n_long_nums"))
    val ff = stats.select(
      when($"n_tokens" < 10, 1L)
        .when($"mean_tok_len" < 2.0 || $"mean_tok_len" > 15.0, 2L)
        .when($"punct_ratio" > 0.2, 3L)
        .when($"alpha_ratio" < 0.5, 4L)
        .when($"n_long_nums" > 0, 5L)
        .otherwise(0L).as("ff"))
    val ffc = ff.groupBy($"ff").agg(count(lit(1)).as("n"))
    val total = ff.agg(count(lit(1)).as("n_docs"))
    val stages = Seq((1L, "min_tokens"), (2L, "tok_len"), (3L, "punct_ratio"),
      (4L, "alpha_ratio"), (5L, "digit_runs")).toDF("stage", "rule")
    // the cumulative window runs over exactly 5 rows — single-partition
    // by construction, not an at-scale hazard
    val w = W.orderBy($"stage").rowsBetween(W.unboundedPreceding, -1)
    stages
      .join(ffc.withColumnRenamed("ff", "stage"), Seq("stage"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(total))
      .withColumn("n_in", $"n_docs" - coalesce(sum($"n").over(w), lit(0L)))
      .select($"stage", $"rule", $"n_in", $"n".as("n_fail"),
        ($"n_in" - $"n").as("n_out"))
      .orderBy($"stage")
  }

  /** Benchmark-contamination check: which corpus documents share enough
    * rolling character 8-grams with a benchmark set (stand-in: doc_id
    * divisible by 199) to look like eval leakage. The benchmark side is
    * SMALL by construction (eval sets are thousands of rows, the corpus
    * is billions) — its distinct-gram relation broadcasts, the corpus
    * side stays a narrow scan + explode, and the aggregation is map-side
    * partial. Reports pairs sharing ≥ 25% of the benchmark doc's grams.
    * Gram sets come from the one-pass native
    * [[graft.functions.CharGrams]] expression. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withGrams = docs(s, dir)
      .filter(length($"text") >= 8)
      .select($"doc_id",
        charGrams($"text", lit(8)).as("g_set"))
    val bench = withGrams
      .filter($"doc_id" % 199 === 0)
      .select($"doc_id".as("bench_doc"), explode($"g_set").as("gram"),
        size($"g_set").as("bench_n"))
    val corpus = withGrams
      .filter($"doc_id" % 199 =!= 0)
      .select($"doc_id", explode($"g_set").as("gram"))
    corpus
      .join(broadcast(bench), Seq("gram"))
      .groupBy($"doc_id", $"bench_doc", $"bench_n")
      .agg(count(lit(1)).as("n_shared"))
      .select($"doc_id", $"bench_doc", $"n_shared",
        round($"n_shared".cast("double") / $"bench_n", 4).as("bench_frac"))
      .filter($"bench_frac" >= 0.25)
      .orderBy($"doc_id", $"bench_doc")
  }

  /** DETERMINISTIC SHARD LAYOUT — the writer side of a training
    * pipeline: every document gets a shard (md5-bucketed, so shard
    * membership depends only on doc_id — re-runs and engines agree) and
    * a contiguous WITHIN-SHARD position in hash-shuffled order. Sorted
    * by (shard, pos) this IS the file layout a data loader consumes:
    * `nShards` equal-ish files, each internally shuffled, the whole
    * assignment reproducible bit-for-bit for dataset versioning.
    *
    * Plan shape: one narrow scan computes both hashes, then ONE hash
    * exchange on `shard` for the within-shard rank (WindowExec sorts
    * per shard partition — never a global sort). At 100 TB each task
    * ranks one shard's slice; shard count is the parallelism dial. */
  def shard(s: SparkSession, dir: String, nShards: Int = 16): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        expr(s"${h60("concat('sh:', cast(doc_id as string))")} % $nShards").as("shard"),
        expr(h60("concat('ord:', cast(doc_id as string))")).as("h"))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"shard").orderBy($"h", $"doc_id")).cast("long") - 1)
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** GLOBAL DETERMINISTIC SHUFFLE — the seeded permutation a trainer
    * consumes as "epoch order": position = rank of md5(seed:doc_id).
    * The hard part at scale is CONTIGUOUS global positions without a
    * single-partition window (a `row_number() OVER (ORDER BY …)` plan
    * collapses the corpus onto one task): range-exchange on the hash
    * (Spark samples split points), sort within partitions, then
    * zipWithIndex — per-partition counts, a driver prefix-sum over
    * #partitions longs, and offset-shifted local indices. Two narrow
    * passes, no global sort point; the same primitive Spark itself uses
    * for contiguous ids. The DuckDB oracle states the semantics as the
    * naive global window — equality pins the distributed rank against
    * the definition. */
  def shuffleOrder(s: SparkSession, dir: String, seed: String = "42"): DataFrame = {
    import s.implicits._
    val sorted = docs(s, dir)
      .select($"doc_id",
        expr(h60(s"concat('$seed:', cast(doc_id as string))")).as("h"))
      .repartitionByRange(col("h"), col("doc_id"))
      .sortWithinPartitions($"h", $"doc_id")
    val withPos = sorted.select($"doc_id").rdd
      .map(_.getLong(0)).zipWithIndex()
    s.createDataFrame(withPos).toDF("doc_id", "pos")
      .orderBy($"pos")
  }

  /** PROPORTIONAL-STRIDE INTERLEAVE — the order half of source mixing:
    * emit a single training stream in which every source's documents
    * are evenly spaced (any prefix of the stream holds each source in
    * ~its corpus proportion), instead of the source-clumped order a
    * plain sort produces. Classic low-discrepancy trick: document j of
    * a source with n docs gets stream key (2j+1)/(2n) — the midpoint
    * grid — and the stream orders by that key. Both engines compute
    * the key as ONE correctly-rounded IEEE division of small integers
    * (exact same bits everywhere; ties break on (source, doc_id)).
    *
    * Plan shape: one exchange on `source` for the per-source rank
    * (WindowExec per partition), a broadcast of per-source counts, and
    * the oracle-stability sort. The stream position itself stays a
    * SORT KEY, not a materialized global rank — consumers that need
    * contiguous ids compose with [[shuffleOrder]]'s zipWithIndex. */
  def interleave(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = docs(s, dir)
      .select($"doc_id", $"source",
        expr(h60("concat('il:', cast(doc_id as string))")).as("h"))
      .withColumn("j", row_number().over(
        Window.partitionBy($"source").orderBy($"h", $"doc_id")).cast("long") - 1)
    val counts = ranked.groupBy($"source").agg(count(lit(1)).as("n_src"))
    ranked.join(broadcast(counts), Seq("source"))
      .select($"doc_id", $"source", $"j",
        (($"j" * 2 + 1).cast("double") / ($"n_src" * 2).cast("double")).as("skey"))
      .orderBy($"skey", $"source", $"doc_id")
  }

  /** REPETITION-AWARE UPSAMPLING — the per-source epoch table of a
    * training mix (the "how many times does each source repeat" knob):
    * source m gets 1 + m·0.5 epochs (m = source-id mod 4 → 1.0 / 1.5 /
    * 2.0 / 2.5), realized per document as floor(e) guaranteed copies
    * plus one extra copy for the hash-selected fraction — so a 1.5-epoch
    * source repeats every doc once and HALF its docs (md5-chosen, not
    * row-order-chosen) twice. Fractional epochs never round a source up
    * or down wholesale, and the copy set is deterministic for dataset
    * versioning. Output (doc_id, source, copy_idx) is the materialized
    * epoch plan a loader consumes.
    *
    * Plan shape: one narrow scan computes the copy count (integer
    * arithmetic + one hash compare — the fraction ladder is
    * (m mod 2)·500000 over a 10⁶ hash space, no floats anywhere), one
    * explode, the oracle-stability sort. No shuffle before the sort. */
  def epochs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", $"source")
      .withColumn("m", expr("cast(substring(source, 4, 10) as int) % 4"))
      .withColumn("n_copies",
        expr(s"1 + (m div 2) + if(${h60("concat('ep:', cast(doc_id as string))")} % 1000000" +
          " < (m % 2) * 500000, 1, 0)"))
      .select($"doc_id", $"source",
        explode(expr("sequence(1L, cast(n_copies as long))")).as("copy_idx"))
      .orderBy($"doc_id", $"copy_idx")
  }

  /** SQL for the octave (floor log2) of `e`, clamped to [[OctMin]]..
    * [[OctMax]] — an unrolled integer comparison chain, shared verbatim
    * by the Spark plan and the DuckDB oracle. Integer compares only;
    * no engine's log() is consulted. */
  private[graft] def octaveSql(e: String): String =
    (OctMin until OctMax).foldRight(s"$OctMax") { (k, rest) =>
      s"CASE WHEN $e < ${1L << (k + 1)} THEN $k ELSE $rest END"
    }

  private val OctMin = 5  // weights clamp to [2^5, 2^12] — the n_chars
  private val OctMax = 12 // range any realistic doc corpus spans

  /** `CASE k WHEN j THEN sqrt^j(u) ...` — u^(1/2^k) as an iterated-sqrt
    * chain. IEEE 754 requires sqrt to be CORRECTLY ROUNDED (unlike exp/
    * ln/pow, which are allowed a ulp and do differ between libm and the
    * JVM), so every branch is bit-identical on any conforming engine. */
  private[graft] def sqrtChainSql(k: String, u: String): String = {
    val branches = (OctMin to OctMax).map { j =>
      s"WHEN $j THEN ${"sqrt(" * j}$u${")" * j}"
    }.mkString(" ")
    s"CASE $k $branches END"
  }

  /** WEIGHTED sample without replacement, top-20 per language stratum,
    * inclusion probability proportional to document length — the
    * Efraimidis-Spirakis exponential-key scheme (key = u^(1/w), keep
    * the k largest keys), the standard one-pass distributed weighted
    * reservoir.
    *
    * Reproducibility is the hard part: u^(1/w) through exp/ln is NOT
    * engine-portable (libm vs JVM differ in the last ulp, and a ulp at
    * a selection boundary flips the sample). Two deterministic moves
    * make every key bit-exact on any IEEE-754 engine:
    *   1. u = (md5_52(doc) + 1) / 2^52 — a 52-bit hash fits the double
    *      mantissa exactly, and dividing by a power of two is exact;
    *   2. weights quantize to OCTAVES (w = 2^k, k = clamped floor log2
    *      of n_chars), so u^(1/w) = sqrt applied k times — and IEEE
    *      sqrt is correctly rounded everywhere.
    * The octave grid costs at most 2× weight distortion vs raw lengths
    * — noise for a sampling rate dial — and buys a sample that is
    * bit-reproducible across engines, versions, and cluster sizes (the
    * dataset-versioning property; DuckDB replays it hash-for-hash).
    *
    * Plan shape: narrow scan computing (k, u, key) per row, then ONE
    * hash exchange on `lang` for the per-stratum top-k rank — and the
    * WindowGroupLimit rule prunes to ≤ 20 rows per stratum map-side
    * before the exchange, so at 100 TB the shuffle carries
    * k × strata rows, not the corpus. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = "((cast(conv(substring(md5(concat('ws:', cast(doc_id as string))), 1, 13), 16, 10) as bigint) + 1) / 4503599627370496.0)"
    docs(s, dir)
      .withColumn("k_oct", expr(octaveSql("n_chars")))
      .withColumn("skey", expr(sqrtChainSql("k_oct", u)))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"skey".desc, $"doc_id")))
      .filter($"rk" <= 20)
      .select($"lang", $"rk".cast("long").as("rk"), $"doc_id", $"n_chars")
      .orderBy($"lang", $"rk")
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): score every document by the
    * log-likelihood ratio of its hashed-unigram features under a TARGET
    * distribution (here the `en` slice — the "looks like the reference
    * corpus" signal) vs the RAW corpus distribution, then keep the top
    * 1/`keepDiv` fraction. Features are `h60(word) mod buckets` — the
    * hashed n-gram trick that makes the model a fixed-width count
    * vector instead of an open vocabulary; add-one smoothing on both
    * sides.
    *
    * Scale shape: ONE corpus tokenization — the token stream aggregates
    * immediately to the (doc, lang, bucket) grain (map-side partial)
    * and is materialized once; the target model, the raw model and the
    * per-doc scores are all derived from that grain relation (the r8
    * plan re-tokenized the corpus once per branch — 3× the scan cost).
    * The per-bucket log-weight table is ≤ `buckets` rows and
    * BROADCASTS, so scoring is one grain-relation aggregation and zero
    * corpus-wide joins.
    *
    * Determinism: per-bucket log-weights QUANTIZE to integer nano-units
    * — floor(w·1e9 + 0.5), only correctly-rounded IEEE ops past the one
    * ln() call — and every per-doc score is the EXACT integer sum
    * Σ n·wq, so the rank key is order-free and engine-portable (the
    * repo's fixed-point discipline; a distributed double sum of libm
    * logs can flip a keep at a rounding boundary).
    *
    * The global top-k keep flag does NOT use a global-window rank (a
    * single-partition sort at 100 TB): selection runs as exact
    * distributed top-k via a coarse score HISTOGRAM — per-bin counts
    * (bins = floor(score/1e7), a stats-sized table) give cumulative
    * offsets; bins wholly inside/outside the cut are flagged without
    * any ordering, and only the single boundary bin ranks its members
    * through a bin-partitioned window. The DuckDB oracle replays the
    * same selection with a naive global rank — identical keep set,
    * because bin order refines the global (score, doc_id) order. */
  def dsirSelect(s: SparkSession, dir: String, buckets: Int = 512,
                 keepDiv: Int = 5, targetLang: String = "en"): DataFrame = {
    import s.implicits._
    val cnt = Dedup.trackCheckpoint(docs(s, dir)
      .select($"doc_id", $"lang",
        explode(expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .select($"doc_id", $"lang", expr(s"${h60("word")} % $buckets").as("bkt"))
      .groupBy($"doc_id", $"lang", $"bkt").agg(count(lit(1)).as("n"))
      .localCheckpoint())
    val tgt = cnt.filter($"lang" === targetLang)
      .groupBy($"bkt").agg(sum($"n").as("ct"))
    val raw = cnt.groupBy($"bkt").agg(sum($"n").as("cr"))
    val tots = tgt.agg(sum($"ct").cast("double").as("nt"))
      .crossJoin(raw.agg(sum($"cr").cast("double").as("nr"))) // 1×1 totals
    val lw = raw.join(tgt, Seq("bkt"), "left")
      .crossJoin(broadcast(tots))
      .select($"bkt",
        floor((log((coalesce($"ct", lit(0L)) + lit(1)).cast("double") / ($"nt" + lit(buckets))) -
          log(($"cr" + lit(1)).cast("double") / ($"nr" + lit(buckets)))) * lit(1e9) + lit(0.5))
          .cast("long").as("wq"))
    val wt = cnt
      .join(broadcast(lw), "bkt") // ≤ `buckets` rows — ships to every task
      .groupBy($"doc_id")
      .agg(sum($"n").cast("long").as("n_tokens"),
        sum($"n" * $"wq").as("sq")) // exact integer score — order-free
      // the coarse bin floors the integer score at 1e7 nano-units (1e-2
      // in log space, the old grain) through an exactly-representable
      // double (|sq| ≪ 2^53), so equal scores can never straddle a bin
      .withColumn("bin", floor($"sq".cast("double") / lit(1e7)).cast("long"))
    val nKeep = wt.agg((count(lit(1)) / keepDiv).cast("long").as("n_keep"))
    val binCum = wt.groupBy($"bin").agg(count(lit(1)).as("bn"))
      // stats-sized window: one row per occupied bin, not per doc
      .withColumn("above", coalesce(sum($"bn").over(
        Window.orderBy($"bin".desc).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(nKeep))
      .select($"bin", $"above",
        ($"above" + $"bn" <= $"n_keep").as("all_in"),
        ($"above" >= $"n_keep").as("all_out"),
        ($"n_keep" - $"above").as("quota"))
    wt.join(broadcast(binCum), "bin")
      .withColumn("rk_in_bin",
        when($"all_in" || $"all_out", lit(0L)) // boundary bin only
          .otherwise(row_number().over(
            Window.partitionBy($"bin").orderBy($"sq".desc, $"doc_id")).cast("long")))
      .select($"doc_id", $"n_tokens",
        round($"sq".cast("double") / lit(1e9), 4).as("dsir_logratio"),
        when($"all_in", 1).when($"all_out", 0)
          .when($"rk_in_bin" <= $"quota", 1).otherwise(0).as("keep"))
      .orderBy($"doc_id")
  }

  /** Length-bucketed batching — the loader-side layout step that groups
    * documents of similar token length into fixed-size micro-batches so
    * per-batch padding (every sequence pads to the batch max) stays
    * minimal: sort by length, slice into consecutive batches of
    * `batchSize`. Emits per-batch padding accounting — the number a
    * training team watches, since padding fraction is pure wasted FLOPs.
    *
    * Scale shape: the global length-order position is computed WITHOUT a
    * global-window rank. Token length is already integer-binned, so the
    * per-length histogram (≤ distinct lengths — stats-sized) yields each
    * length's global starting offset via a tiny cumulative window, and a
    * doc's position is offset(len) + rank-within-length (a partitioned,
    * scalable window). The oracle replays it with a naive global
    * row_number — identical batch ids, because (length, doc_id) order is
    * total. */
  def lengthBuckets(s: SparkSession, dir: String, batchSize: Int = 32): DataFrame = {
    import s.implicits._
    val t = docs(s, dir).select($"doc_id",
      expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as bigint)").as("n_tok"))
    val offs = t.groupBy($"n_tok").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum($"cnt").over(
        Window.orderBy($"n_tok").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"n_tok", $"off")
    t.join(broadcast(offs), "n_tok")
      .withColumn("rn", $"off" +
        row_number().over(Window.partitionBy($"n_tok").orderBy($"doc_id")) - 1)
      .groupBy(($"rn" / batchSize).cast("long").as("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max($"n_tok").as("max_tok"),
        sum($"n_tok").cast("long").as("sum_tok"),
        // an all-empty batch (max_tok = 0) would divide 0/0 → NaN, whose
        // comparison/format semantics differ across engines — an empty
        // batch wastes no FLOPs, so its padding fraction is 0 by definition
        when(max($"n_tok") === 0, lit(0.0)).otherwise(
          round(lit(1.0) - sum($"n_tok").cast("double") /
            (count(lit(1)) * max($"n_tok")), 4)).as("pad_frac"))
      .orderBy($"batch_id")
  }

  /** Model-based quality filtering — the trained-classifier tier of the
    * curation funnel (the fastText/CCNet pattern: hand rules label a
    * seed set, a cheap linear model generalizes the rule to the whole
    * corpus). A multinomial Naive Bayes classifier is TRAINED in-query
    * on weak rule labels over the even-`doc_id` half of the corpus and
    * SCORES every document; the held-out odd half measures whether the
    * model generalizes rather than memorizes (`in_train` marks the
    * split). The weak rule is topical density — `hash` tokens ≥ 4% of
    * the document's tokens — stated as an integer cross-multiplication
    * (×25) so both engines label identically with no float division.
    *
    * Scale shape: ONE corpus tokenization, aggregated immediately to the
    * (doc, label, word) count grain (map-side partial) and materialized
    * once; class totals, per-word conditional counts and the vocabulary
    * size are all vocab-sized aggregates of that grain. Scoring is an
    * equi-join of the grain against the vocab-sized weight relation —
    * the honest distributed shape (a web-scale vocabulary does not
    * broadcast; cf. [[TextAnalysis.lmScore]]) — followed by one per-doc
    * sum. No corpus-wide shuffle carries raw tokens: counts combine
    * map-side before every exchange.
    *
    * Determinism: per-word log-likelihood-ratio weights and the class
    * prior QUANTIZE to integer nano-units — floor(w·1e9 + 0.5) past the
    * one ln() call on exact rational inputs (add-one smoothing over
    * exact integer counts) — and each document's log-odds is the EXACT
    * integer sum pq + Σ n·wq, so the predicted class flips on an
    * integer sign test, never on a distributed double sum (the repo's
    * fixed-point discipline, same as [[dsirSelect]]). A single-class
    * degenerate corpus stays finite: COALESCE(missing class, 0) keeps
    * every smoothed ratio strictly positive. */
  def nbQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (labels, cnt, lw, pri) = nbCore(s, dir)
    // LEFT joins end-to-end so the batch contract matches the streaming
    // scorer's: a token outside the even-half training vocabulary
    // contributes 0 (COALESCE), and a document with no scorable tokens
    // at all (empty text) scores exactly the prior — never dropped.
    val sw = cnt.join(lw, Seq("w"), "left") // vocab-sized model relation
      .groupBy($"doc_id")
      .agg(sum($"n" * coalesce($"wq", lit(0L))).cast("long").as("sw"))
    labels.join(sw, Seq("doc_id"), "left")
      .crossJoin(broadcast(pri)) // 1-row prior joins AFTER the per-doc sum
      .select($"doc_id", $"y".cast("int").as("y_weak"),
        round(($"pq" + coalesce($"sw", lit(0L))).cast("double") / lit(1e9), 4)
          .as("nb_logodds"),
        when($"pq" + coalesce($"sw", lit(0L)) > 0, 1).otherwise(0)
          .cast("int").as("pred"),
        ($"doc_id" % 2 === 0).cast("int").as("in_train"))
      .orderBy($"doc_id")
  }

  /** The NB training core shared by [[nbQualityClassifier]] and the
    * persisted-model path ([[nbModelPath]]): the materialized
    * (doc, label, word) count grain, the quantized per-word weight
    * relation, and the 1-row quantized prior. */
  private def nbCore(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val (lab, cnt) = nbGrainOf(s, docs(s, dir))
    val train = cnt.filter($"doc_id" % 2 === 0)
    val cls = train.groupBy($"y")
      .agg(sum($"n").cast("double").as("nc"),
        countDistinct($"doc_id").cast("double").as("dc"))
    val cby = train.groupBy($"w").agg(
      sum(when($"y" === 1, $"n").otherwise(lit(0L))).as("c1"),
      sum(when($"y" === 0, $"n").otherwise(lit(0L))).as("c0"))
    val tots = cls.agg(
      coalesce(sum(when($"y" === 1, $"nc")), lit(0.0)).as("n1"),
      coalesce(sum(when($"y" === 0, $"nc")), lit(0.0)).as("n0"),
      coalesce(sum(when($"y" === 1, $"dc")), lit(0.0)).as("d1"),
      coalesce(sum(when($"y" === 0, $"dc")), lit(0.0)).as("d0"))
      .crossJoin(cby.agg(count(lit(1)).cast("double").as("v"))) // 1×1 totals
    val (lw, pri) = nbWeightsOf(cby, tots)
    (lab.select($"doc_id", $"y"), cnt, lw, pri)
  }

  /** ONE corpus scan over an arbitrary `(doc_id, text)` frame: the
    * doc-grain label+token relation checkpoints (so the keep-everything
    * classifier's label branch — which must include docs with NO
    * tokens — reads it, not a second parquet scan; PlanQualitySpec pins
    * the final plan documents-scan-free), and the (doc, label, word)
    * count grain checkpoints off it. Shared by the full-corpus trainer
    * and the per-batch count writer of the day-2 lifecycle. */
  private def nbGrainOf(s: SparkSession, d: DataFrame,
                        needLabels: Boolean = true)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val labRaw = d.select($"doc_id",
      when(expr("size(filter(split(lower(text), ' '), x -> x = 'hash'))") * 25 >=
           expr("size(filter(split(text, ' '), x -> length(x) > 0))"), 1)
        .otherwise(0).as("y"),
      expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"))
    // the label relation is checkpointed only when the caller consumes
    // it as a SECOND branch (the full trainer's keep-everything label
    // side); the count-only writers (per-micro-batch sinks) read just
    // `cnt`, and an eager label materialization per batch is pure
    // overhead — same values either way (cnt derives from the identical
    // expressions, checkpointed itself below)
    val lab = if (needLabels) Dedup.trackCheckpoint(labRaw.localCheckpoint())
              else labRaw
    val cnt = Dedup.trackCheckpoint(lab
      .select($"doc_id", $"y", explode($"tk").as("w"))
      .groupBy($"doc_id", $"y", $"w").agg(count(lit(1)).as("n"))
      .localCheckpoint())
    (lab, cnt)
  }

  /** The quantization formulas — ONE definition of the model
    * arithmetic, fed either by the in-query training aggregates
    * ([[nbCore]]) or by the merged persisted counts
    * ([[deriveNbModel]]), so the two training paths cannot drift.
    * `cby` = (w, c1, c0); `tots` = 1 row (n1, n0, d1, d0, v) as
    * doubles (exactly-representable integer values < 2^53). */
  private def nbWeightsOf(cby: DataFrame, tots: DataFrame)
      : (DataFrame, DataFrame) = {
    val lw = cby.crossJoin(broadcast(tots))
      .select(col("w"),
        floor((log((col("c1") + lit(1)).cast("double") / (col("n1") + col("v"))) -
               log((col("c0") + lit(1)).cast("double") / (col("n0") + col("v")))) * lit(1e9) + lit(0.5))
          .cast("long").as("wq"))
    val pri = tots.select(
      floor((log((col("d1") + lit(1)) / (col("d1") + col("d0") + lit(2.0))) -
             log((col("d0") + lit(1)) / (col("d1") + col("d0") + lit(2.0)))) * lit(1e9) + lit(0.5))
        .cast("long").as("pq"))
    (lw, pri)
  }

  /** Persist the trained NB model: the top-`cap` weights by
    * discriminative magnitude (`|wq|` desc, word asc — a total order,
    * so the capped set is engine-reproducible) plus the 1-row prior.
    * The cap is the production contract of a DEPLOYED quality gate: the
    * full vocabulary lives in the distributed weight relation, but the
    * artifact a streaming scorer ships to every task is a fixed-size
    * table (the fastText-style quantize-and-ship step), so scoring
    * state is O(cap) regardless of corpus growth. The oracles and the
    * driver gate run the default cap. */
  def writeNbModel(s: SparkSession, dir: String, path: String,
                   cap: Int = 4096): Unit = {
    import s.implicits._
    val (_, _, lw, pri) = nbCore(s, dir)
    // independent writes off the shared checkpointed grain (§2.6)
    graft.util.Par.run(Seq(
      () => lw.orderBy(abs($"wq").desc, $"w").limit(cap)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/weights"),
      () => pri.coalesce(1).write.mode("overwrite").parquet(s"$path/prior")))
    Dedup.unpersistIntermediates(s)
  }

  /** DAY-2 MODEL MAINTENANCE, part 1 — persist the ADDITIVE training
    * counts of one document batch: per-word class counts (w, c1, c0)
    * and the 1-row class totals (n1, n0, d1, d0), both over the even-
    * doc_id train slice OF THIS BATCH. Naive Bayes is exactly
    * incremental in these sufficient statistics — counts over disjoint
    * batches SUM to the counts of their union — so `mode = "append"`
    * lands a new batch's files next to yesterday's and the model
    * derives from the union by aggregation alone ([[deriveNbModel]]):
    * a curation model that refreshes at batch cost, never a corpus
    * retrain. Cost here is the batch's one tokenize; the artifact is
    * vocab-sized. */
  def writeNbCounts(s: SparkSession, d: DataFrame, path: String,
                    mode: String): Unit = {
    import s.implicits._
    val train = nbGrainOf(s, d, needLabels = false)._2.filter($"doc_id" % 2 === 0)
    // the two count relations read the SAME checkpointed grain and land at
    // disjoint paths — independent jobs, submitted concurrently (§2.6);
    // per call this halves the write-wave latency, which at one call per
    // micro-batch is the dominant per-batch fixed cost
    graft.util.Par.run(Seq(
      () => train.groupBy($"w").agg(
          sum(when($"y" === 1, $"n").otherwise(lit(0L))).as("c1"),
          sum(when($"y" === 0, $"n").otherwise(lit(0L))).as("c0"))
        .write.mode(mode).parquet(s"$path/cby"),
      () => train.agg(
          coalesce(sum(when($"y" === 1, $"n")), lit(0L)).as("n1"),
          coalesce(sum(when($"y" === 0, $"n")), lit(0L)).as("n0"),
          countDistinct(when($"y" === 1, $"doc_id")).as("d1"),
          countDistinct(when($"y" === 0, $"doc_id")).as("d0"))
        .coalesce(1).write.mode(mode).parquet(s"$path/cls")))
    Dedup.unpersistIntermediates(s)
  }

  /** IDEMPOTENT variant of [[writeNbCounts]] for streaming foreachBatch
    * sinks: each batch's counts land at `$path/cby/batch=<id>` (and
    * `cls/batch=<id>`) in OVERWRITE mode, so under Spark's at-least-once
    * micro-batch semantics a checkpointed restart that REPLAYS a batch
    * rewrites the same location instead of appending duplicate counts.
    * The `batch=` directories read back through standard partition
    * discovery (the extra `batch` column is dropped by
    * [[deriveNbModel]]'s aggregations), so the derive step is layout-
    * agnostic: append-mode day-2 files and batch-keyed streaming files
    * merge by the same sums. Use a distinct sentinel id (e.g. -1) for a
    * day-0 baseline so the root stays free of bare files, which would
    * defeat partition discovery. */
  def writeNbCountsBatch(s: SparkSession, d: DataFrame, path: String,
                         batchId: Long): Unit = {
    import s.implicits._
    val train = nbGrainOf(s, d, needLabels = false)._2.filter($"doc_id" % 2 === 0)
    // same concurrent-submission shape as [[writeNbCounts]] (§2.6): both
    // relations read the checkpointed grain, write to disjoint batch dirs
    graft.util.Par.run(Seq(
      () => train.groupBy($"w").agg(
          sum(when($"y" === 1, $"n").otherwise(lit(0L))).as("c1"),
          sum(when($"y" === 0, $"n").otherwise(lit(0L))).as("c0"))
        .write.mode("overwrite").parquet(s"$path/cby/batch=$batchId"),
      () => train.agg(
          coalesce(sum(when($"y" === 1, $"n")), lit(0L)).as("n1"),
          coalesce(sum(when($"y" === 0, $"n")), lit(0L)).as("n0"),
          countDistinct(when($"y" === 1, $"doc_id")).as("d1"),
          countDistinct(when($"y" === 0, $"doc_id")).as("d0"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/cls/batch=$batchId")))
    Dedup.unpersistIntermediates(s)
  }

  /** DAY-2 MODEL MAINTENANCE, part 2 — derive the shipped capped model
    * from the merged persisted counts: sum the per-word files (a word
    * present in several batches merges by addition — the NB sufficient-
    * statistic property), sum the 1-row class totals, count the merged
    * vocabulary, and run the SAME quantization formulas as the
    * in-query trainer ([[nbWeightsOf]]) before the |wq|-desc cap. Cost
    * is counts bytes (vocab-sized), never corpus bytes; output layout
    * is [[writeNbModel]]'s, so every existing scorer consumes it
    * unchanged. Merged-counts model ≡ full-retrain model is the
    * `corpus_nb_day2` oracle's claim (append ≡ rebuild, the persisted-
    * index family convention applied to a learned model). */
  def deriveNbModel(s: SparkSession, countsPath: String, modelPath: String,
                    cap: Int = 4096): Unit = {
    import s.implicits._
    val cby = s.read.parquet(s"$countsPath/cby")
      .groupBy($"w").agg(sum($"c1").as("c1"), sum($"c0").as("c0"))
    val tots = s.read.parquet(s"$countsPath/cls")
      .agg(sum($"n1").cast("double").as("n1"),
        sum($"n0").cast("double").as("n0"),
        sum($"d1").cast("double").as("d1"),
        sum($"d0").cast("double").as("d0"))
      .crossJoin(cby.agg(count(lit(1)).cast("double").as("v")))
    val (lw, pri) = nbWeightsOf(cby, tots)
    // weights and prior are independent consumers of the merged counts —
    // two small write jobs submitted concurrently (§2.6)
    graft.util.Par.run(Seq(
      () => lw.orderBy(abs($"wq").desc, $"w").limit(cap)
        .coalesce(1).write.mode("overwrite").parquet(s"$modelPath/weights"),
      () => pri.coalesce(1).write.mode("overwrite").parquet(s"$modelPath/prior")))
  }

  /** `corpus_nb_day2`: the full day-2 lifecycle of the quality model —
    * persist day-1 training counts (doc_id ≢ 7 mod 10), APPEND the
    * day-2 batch's counts (≡ 7), derive the capped model from the
    * merged statistics, and score EVERY document through it with the
    * streaming scorer's arithmetic. The oracle is the full-corpus
    * retrain + cap + score SQL (`stream_corpus_nb_score`'s), so one
    * hash certifies the whole claim: a model refreshed by count
    * APPEND is bit-identical to one retrained from scratch on the
    * union — because disjoint batches' even-half train slices union to
    * the corpus's even half, and NB's sufficient statistics are sums. */
  def nbModelDay2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = docs(s, dir)
    val isBatch = pmod($"doc_id", lit(10)) === lit(7)
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "nbmodel"), "day2").toAbsolutePath
    try {
      writeNbCounts(s, all.filter(!isBatch), s"$base/counts", "overwrite")
      writeNbCounts(s, all.filter(isBatch), s"$base/counts", "append")
      deriveNbModel(s, s"$base/counts", s"$base/model")
      val out = nbScoreBatch(s, all, s"$base/model").orderBy($"doc_id")
      Dedup.trackCheckpoint(out.localCheckpoint())
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** Score a `(doc_id, text)` relation through a PERSISTED capped NB
    * model — the deployed-scorer arithmetic shared by the streaming
    * scorer ([[graft.queries.StreamQueries.streamCorpusNbScore]]) and
    * the batch rehearsal arm. The capped weight table rides into every
    * task as a literal map (driver read bounded by the cap, never the
    * vocabulary) and each document's log-odds is a per-ROW array fold
    * Σ wq[token] + prior — exact integers, pure projection: no state,
    * no shuffle, cost strictly proportional to the scored batch. Works
    * unchanged on streaming inputs (stateless column ops only);
    * `keep` passes extra input columns through untouched (the pipeline
    * composition needs `text` to flow on to the dedup stage). */
  def nbScoreBatch(s: SparkSession, docsDf: DataFrame, model: String,
                   keep: Seq[String] = Nil): DataFrame = {
    import s.implicits._
    val kc = keep.map(col)
    // driver-bounded by the model contract: ≤ cap rows by construction
    val wm = typedLit(s.read.parquet(s"$model/weights").collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("wq")).toMap)
    val pq = s.read.parquet(s"$model/prior").head().getAs[Long]("pq")
    docsDf
      .select($"doc_id" +: kc :+
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"): _*)
      .select($"doc_id" +: kc :+
        (lit(pq) + aggregate($"tk", lit(0L),
          (acc, x) => acc + coalesce(element_at(wm, x), lit(0L)))).as("score_q"): _*)
      .select($"doc_id" +: kc ++: Seq($"score_q",
        when($"score_q" > 0, 1).otherwise(0).cast("int").as("pred")): _*)
  }

  private val modelStore = new graft.util.ArtifactStore("nbmodel")

  /** Drop the model store (tests that rewrite a corpus dir in place
    * must call this, or they score through yesterday's model) — parity
    * with [[Dedup.clearComponentStore]] / [[TextAnalysis.clearIndexStore]]. */
  private[graft] def clearModelStore(): Unit = modelStore.clear()

  /** Per-process standing NB model artifact for `dir` — trained ONCE
    * (the offline step), then shared by every streaming scorer in the
    * process; the day-2 convention of the persisted dedup/positional
    * indexes. */
  def nbModelPath(s: SparkSession, dir: String): String =
    modelStore.get(s,
      java.nio.file.Paths.get(dir).toAbsolutePath.toString + "#nbmodel") { p =>
        writeNbModel(s, dir, s"$p/model")
        s"$p/model"
      }
}
