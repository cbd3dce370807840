package graft.operators

import graft.functions.GraftFunctions.{dot, charGrams, sortedInter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline extension
  * (SURVEY.md §7.1 step 6 / BASELINE.json north star).
  *
  * All hashes are md5-derived so the DuckDB oracle can reproduce them
  * bit-for-bit: a 60-bit integer hash is `conv(substr(md5(x),1,15),16,10)`
  * in Spark and `('0x' || substr(md5(x),1,15))::BIGINT` in DuckDB —
  * 15 hex digits = 60 bits, always inside a signed 64-bit range.
  *
  * Scale design (100 TB):
  *  - exact dedup = single hash-shuffle on the digest, map-side partial agg;
  *  - MinHash/LSH = linear-cost signature pass, then a shuffle keyed on
  *    (band, band_hash) — candidate pairs only, never O(n²);
  *  - SimHash = linear signature pass, duplicate clusters found by equality
  *    on the 60-bit signature (hash-shuffle, no pairwise compare);
  *  - n-gram Jaccard restricts the pair join to RARE shingles (document
  *    frequency ≤ cap), the standard trick that bounds the join fan-out;
  *  - embedding near-dup does the exact O(n²) form here as the small-side
  *    baseline; the LSH-bucketed scale path is in [[Similarity]].
  */
object Dedup {

  /** Intermediate caches this object created, per session. The multi-use
    * intermediates (shingle aggregates, simhash signatures, gram sets)
    * are `cache()`d because ReuseExchange alone re-runs part of the work
    * (measured at sf0.1: corpus_clean 2.1 s → 4.5 s uncached). Caller
    * contract: each cache lives until [[unpersistIntermediates]] (or
    * `spark.catalog.clearCache()` / session end) — a long-lived session
    * composing many dedup queries should call it between operators, as
    * [[graft.Bench]] and [[graft.Verify]] do in their per-query finally
    * blocks (after the result is consumed — see the release contract). */
  private val liveCaches =
    new java.util.HashMap[SparkSession, scala.collection.mutable.Buffer[DataFrame]]

  private[operators] def tracked(df: DataFrame): DataFrame = liveCaches.synchronized {
    // purge stopped sessions first: their caches died with the context,
    // and the tracked DataFrames would otherwise pin the dead session
    // (a WeakHashMap can't help here — the value chain DataFrame →
    // sparkSession strongly reaches the key, defeating the weak ref)
    val it = liveCaches.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    liveCaches.computeIfAbsent(df.sparkSession,
      _ => scala.collection.mutable.Buffer.empty[DataFrame]) += df.cache()
    df
  }

  /** Checkpointed intermediates (see [[ckptHinted]]): their blocks live
    * in the BlockManager OUTSIDE the CacheManager, so `clearCache()` /
    * `df.unpersist()` cannot release them and only driver GC +
    * ContextCleaner eventually would — the deferred cleanup that was
    * stalling unrelated in-suite bench passes. Tracked here so
    * [[unpersistIntermediates]] frees them deterministically. */
  private val liveCheckpoints =
    new java.util.HashMap[SparkSession, scala.collection.mutable.Buffer[DataFrame]]

  private[operators] def trackCheckpoint(ck: DataFrame): DataFrame =
    liveCheckpoints.synchronized {
      val it = liveCheckpoints.keySet().iterator()
      while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
      liveCheckpoints.computeIfAbsent(ck.sparkSession,
        _ => scala.collection.mutable.Buffer.empty[DataFrame]) += ck
      ck
    }

  /** Release the storage behind one localCheckpoint'ed frame: its plan
    * is a LogicalRDD over the persisted RDD — unpersist THAT (the
    * DataFrame-level unpersist only talks to the CacheManager). */
  private[operators] def releaseCheckpoint(d: DataFrame): Unit =
    d.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Unpersist every intermediate cache AND checkpoint this object holds
    * for `s`. Contract: call only AFTER consuming (collecting/writing)
    * every DataFrame the operators returned. The cache half is safe at
    * any time (caches are accelerators; a dropped cache recomputes), but
    * the checkpoint half is NOT: returned frames may have localCheckpoint
    * RDDs as plan leaves, and unpersisting a localCheckpoint destroys the
    * only copy — a later action on a still-lazy held result throws
    * checkpoint-block-not-found rather than recomputing. Bench/Verify
    * satisfy the contract (count()/write() precede the release). Also
    * purges any stopped sessions, so a caller that stops sessions without
    * releasing them is cleaned up by the next release from anywhere. */
  def unpersistIntermediates(s: SparkSession): Unit = {
    liveCaches.synchronized {
      Option(liveCaches.remove(s)).foreach(_.foreach(_.unpersist(false)))
      val it = liveCaches.keySet().iterator()
      while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    }
    liveCheckpoints.synchronized {
      Option(liveCheckpoints.remove(s)).foreach(_.foreach(releaseCheckpoint))
    }
  }

  /** 60-bit portable hash of a string column expression (SQL fragment) —
    * THE oracle-parity primitive (DuckDB twin:
    * `('0x'||substr(md5(x),1,15))::BIGINT`); shared with [[Curation]] so
    * the fold can never drift between operator families. */
  private[operators] def h60(e: String): String =
    s"cast(conv(substring(md5($e), 1, 15), 16, 10) as bigint)"

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Eagerly localCheckpoint `df` and return it with a broadcast hint
    * iff its (now known) row count is small enough to ship. Checkpointed
    * leaves (`LogicalRDD`) carry NO stats, so the planner would otherwise
    * assume they are huge and downgrade every join against them to a
    * shuffle — at sf0.1 that turned corpusClean's id semi-joins into
    * full-text shuffles. The count is executor-cheap (the RDD is already
    * stored); the threshold keeps the hint honest at 100 TB, where these
    * relations exceed driver memory and MUST shuffle. */
  private[operators] def ckptHinted(
      df: DataFrame, maxBroadcastRows: Long = 4000000): DataFrame =
    ckptBoth(df, maxBroadcastRows)._2

  /** [[ckptHinted]] exposing BOTH handles: the raw checkpoint (for a
    * consumer that must re-widen it — see [[widenedBy]]) and the
    * broadcast-hinted view (for build sides). One checkpoint, one count. */
  private[operators] def ckptBoth(
      df: DataFrame, maxBroadcastRows: Long = 4000000): (DataFrame, DataFrame) = {
    val ck = trackCheckpoint(df.localCheckpoint())
    (ck, if (ck.count() <= maxBroadcastRows) broadcast(ck) else ck)
  }

  /** Broadcast row cap for ARRAY-BEARING checkpoint leaves (per-doc
    * shingle/gram hash sets run ~2 KB/row, so 100k rows ≈ 200 MB — a
    * safe hint). The 4M default is calibrated for SKINNY id/pair rows;
    * row count is the wrong proxy for these heavy relations (4M × 2 KB
    * = 8 GB would hit Spark's broadcast hard cap and the driver heap). */
  private val HeavyRowBroadcastCap = 100000L

  /** Match a NARROW-heavy relation's parallelism to the session's when
    * its plan yields FEWER partitions than cores: the single-small-file
    * scan shape (one ~600 KB parquet = one split under the 4 MB
    * open-cost packing rule) otherwise runs the per-token/per-shingle
    * hash work single-threaded on a 32-core box — the fixed-width trap
    * class VERDICT r15 #1 named, approached from the opposite end. At
    * production scale a corpus scan already carries ≥ cores splits and
    * this returns the input UNCHANGED — no exchange is ever added to a
    * large input, so the rule is input-shape-adaptive, not a local-mode
    * constant. The repartition moves raw pre-explosion rows (cheap);
    * Catalyst keeps the heavy projection ABOVE the round-robin
    * exchange, so the expensive expressions evaluate post-shuffle on
    * every core (plan-pinned in ScaleGuardSpec). */
  private[graft] def widened(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** [[widened]] with a HASH key instead of round robin — for relations
    * whose downstream partial aggregation depends on co-locating rows of
    * one key (e.g. the prefix-join probe sides: all of doc b's token rows
    * must share a map task so the partial distinct collapses a pair's
    * duplicate emissions before the exchange). Same adaptive rule as
    * [[widened]]: widen ONLY a below-cores input; pass-through at
    * scale, so no exchange is ever added to a production-width relation.
    *
    * Why this exists (r17 finding): localCheckpoint MATERIALIZES whatever
    * partitioning AQE last chose — at small SFs AQE coalesces the
    * window/aggregate exchanges to ONE partition, and every downstream
    * heavy stage (the candidate join + partial distinct, ~13 s of
    * single-core CPU at sf0.1) inherits that width from the checkpointed
    * leaf. The scan-side [[widened]] cannot see this; the consumer of the
    * checkpoint must re-widen. */
  private[graft] def widenedBy(df: DataFrame,
                               key: org.apache.spark.sql.Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, key) else df
  }

  /** Exact dedup: group documents by content digest; keep the lowest
    * doc_id of each group. Output IS the deduplicated keep-set (plus the
    * collapsed copy count) — one hash-shuffle, map-side partial agg. */
  def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .groupBy(md5($"text").as("text_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"text_hash")
  }

  /** Word 3-shingles per document (NOT deduped — downstream aggregates
    * use min/collect_set, which are duplicate-insensitive, so the
    * explicit distinct's extra full shuffle is unnecessary). NOT
    * [[widened]]: measured r16 (dedicated JVMs, widen on/off A/B) —
    * the minhash family's per-shingle work is light enough that the
    * extra raw-text exchange costs more than the parallelism returns
    * (corpus_clean 3.45 → 4.21 s, dedup_incremental 3.36 → 4.10 s with
    * widening ON), unlike the md5-per-token/per-window families where
    * widening wins 8-30% (hashedWordSets, dupStarts, ngramGramSets). */
  private[operators] def shinglesOf(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), expr("filter(split(text, ' '), x -> length(x) > 0)").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
          .as("shingle"))
  }


  /** MinHash (8 permutations) + LSH banding (4 bands × 2 rows) + exact
    * Jaccard verification on candidate pairs. Output: near-dup pairs with
    * their true shingle-Jaccard ≥ 0.5.
    *
    * The "permutation" family is min over md5(i || '|' || shingle) as a
    * *string* min — portable, uniform, and order-free. All 8 signatures
    * are computed in ONE aggregation pass over the shingle set (8 agg
    * functions, single shuffle) instead of exploding 8× rows — same
    * values, 8× less shuffle volume. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, docs(s, dir))

  /** MinHash+LSH near-dup pairs over an arbitrary (doc_id, text) frame —
    * reused by [[minhashLsh]], the corpus-clean composition, and (per
    * side) the incremental variant [[minhashIncremental]]. */
  def minhashPairs(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    // Candidate pairs by LSH BUCKETING, not a bands self-join: group on
    // (band, band_hash), expand in-bucket pairs from the collected id
    // list. Identical pair set (same band hashes) at half the shuffle —
    // the band relation moves ONCE, and near-dup buckets are tiny so the
    // in-bucket expansion is Σn_b², the LSH contract. The eager
    // localCheckpoint computes candidates exactly once and truncates the
    // lineage, so every downstream plan (verify joins, callers' edge
    // lists, the iterative components loop) sees a leaf instead of the
    // whole shingle/band pipeline — nested-cache plans here cost ~1 s of
    // driver-side PLANNING per action at sf0.1 (measured).
    val cand = ckptHinted(bucketExpand(bandsOf(s, d))
      .distinct()
      .coalesce(4)) // pair-sized relation; 32 store tasks would be overhead
    minhashVerify(s, d, cand)
  }

  /** LSH band relation (doc_id, band, band_hash) of a (doc_id, text)
    * frame.
    *
    * The doc-level SIGNATURE table (n_docs rows × 8 short strings) stays
    * LAZY — candidate generation is its single consumer, so it is never
    * materialized (profiling showed per-doc shingle-hash ARRAYS cost
    * ~1.2 s at sf0.1 in columnar cache build alone — and at 100 TB would
    * pin a corpus-sized cache). The shingle relation shuffles once here.
    * Two md5s per shingle, sliced into four 8-hex (32-bit) minhash
    * fields each — min-over-uniform-hash at a quarter of the hashing
    * cost (the md5 is CSE'd across the four mins that share it);
    * DuckDB twin: min(substr(md5((perm//4)||'|'||shingle),
    * (perm%4)*8+1, 8)) */
  private[graft] def bandsOf(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    val mhAggs = (0 to 7).map { p =>
      val h = md5(concat(lit(s"${p / 4}|"), $"shingle"))
      min(substring(h, p % 4 * 8 + 1, 8)).as(s"mh$p")
    }
    val sigs = shinglesOf(d)
      .groupBy($"doc_id")
      .agg(mhAggs.head, mhAggs.tail: _*)
    // band b covers perms {2b, 2b+1}; the "p:mh" strings sort by p (single
    // leading digit), so concat in perm order == the sorted concat
    val bandCols = (0 to 3).map { b =>
      struct(lit(b).as("band"),
        md5(concat(lit(s"${2 * b}:"), col(s"mh${2 * b}"),
                   lit(s"|${2 * b + 1}:"), col(s"mh${2 * b + 1}"))).as("band_hash"))
    }
    sigs
      .select($"doc_id", explode(array(bandCols: _*)).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.band_hash".as("band_hash"))
  }

  /** In-bucket ordered pair expansion of a band relation (Σn_b² — the
    * LSH contract). Pairs STREAM through two Generate operators — the
    * first explode emits one row per member, the second filters the
    * sorted ids array to y > doc_a — so peak per-row memory is ONE ids
    * array, never an n² struct array (a single flatten/transform
    * expansion would materialize 5·10⁹ structs inside one row for a
    * 100k-strong exact-duplicate bucket). Output volume is still Σn_b²
    * rows — that is the LSH contract — and `corpusClean`'s exact-dedup
    * stage ahead of minhash is the designed defense against exact-dup
    * mass inflating buckets in the first place. */
  private def bucketExpand(bands: DataFrame): DataFrame = {
    import bands.sparkSession.implicits._
    bands
      .groupBy($"band", $"band_hash")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .filter(size($"ids") > 1)
      .select(explode($"ids").as("doc_a"), $"ids")
      .select($"doc_a", explode(expr("filter(ids, y -> y > doc_a)")).as("doc_b"))
  }

  /** Exact-Jaccard verification of candidate pairs WITHOUT corpus-wide
    * set materialization: re-shingle ONLY the candidate docs (broadcast
    * semi-join prunes the rescan to the docs LSH actually surfaced — a
    * vanishing fraction of the corpus) and merge-walk their SORTED
    * distinct-shingle-hash sets (`graft_sorted_inter` on bigint arrays —
    * no per-pair hash-set build), gated by the exact length bound
    * (J ≥ 0.5 ⟹ min ≥ 0.5·max, the same prefix-filter rule as the ngram
    * verify). Arrays here are bounded by the CANDIDATE count, never
    * corpus-sized. Jaccard-on-[[h60]]-hashes equals Jaccard-on-strings
    * because the DuckDB oracle applies the SAME hash — any
    * (astronomically unlikely) 60-bit collision collides identically in
    * both engines. */
  /** Sorted 60-bit shingle-hash set per document — the verify-side half
    * of the minhash INDEX (what [[minhashVerify]] computes on the fly
    * and [[writeIndex]] persists). (doc_id, sh_set, n_sh). */
  private def shingleSetsOf(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    shinglesOf(d)
      .groupBy($"doc_id")
      .agg(sort_array(collect_set(expr(h60("shingle")))).as("sh_set"))
      .select($"doc_id", $"sh_set", size($"sh_set").cast("long").as("n_sh"))
  }

  private def minhashVerify(s: SparkSession, d: DataFrame, cand: DataFrame): DataFrame = {
    import s.implicits._
    val candIds = cand.select($"doc_a".as("doc_id"))
      .union(cand.select($"doc_b".as("doc_id"))).distinct()
    minhashVerifyWithSets(s,
      shingleSetsOf(s, d.join(broadcast(candIds), Seq("doc_id"), "left_semi")), cand)
  }

  /** Candidate verification against an ALREADY-RESTRICTED shingle-set
    * relation (every candIds member present exactly once). */
  private def minhashVerifyWithSets(s: SparkSession, sets: DataFrame,
                                    cand: DataFrame): DataFrame = {
    import s.implicits._
    // candidate-bound: `sets` is already semi-joined to LSH-surfaced
    // docs (a vanishing corpus fraction), so 4 store tasks are safe
    val candSets = ckptHinted(sets.coalesce(4),
      maxBroadcastRows = HeavyRowBroadcastCap)

    cand
      .join(candSets.as("ca"), $"doc_a" === $"ca.doc_id")
      .join(candSets.as("cb"), $"doc_b" === $"cb.doc_id")
      // 0.00005 slack: the FINAL filter compares round(J, 4) >= 0.5, which
      // admits true J down to 0.49995 — the size bound must prune against
      // that same effective threshold or a pair in [0.49995, 0.5) with
      // min/max < 0.5 passes the (identically rounding) oracle but not us.
      .filter(least($"ca.n_sh", $"cb.n_sh") >= lit(0.5 - 0.00005) * greatest($"ca.n_sh", $"cb.n_sh"))
      .select($"doc_a", $"doc_b",
        sortedInter($"ca.sh_set", $"cb.sh_set")
          .cast("double").as("n_inter"),
        ($"ca.n_sh" + $"cb.n_sh").as("n_sum"))
      .select($"doc_a", $"doc_b",
        round($"n_inter" / ($"n_sum" - $"n_inter"), 4).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** INCREMENTAL near-dup: dedup a NEW BATCH against an existing corpus
    * without ever re-pairing the corpus against itself — the only shape
    * that works when the index is 100 TB and the daily arrivals are a
    * fraction of a percent. Batch = `doc_id % 10 = 7` (a deterministic
    * 10% standing in for "today's arrivals"); index = everything else.
    *
    * Structure (and the whole point): index bands join batch bands on
    * (band, band_hash) — index×index pairs are NEVER GENERATED, so the
    * candidate volume is Σ n_b(index)·n_b(batch) + Σ n_b(batch)², not
    * Σ n_b(corpus)². In production the index band/signature relation is
    * the PERSISTED output of the previous run (a ~KB/doc table, exactly
    * like the q33/q34 sketch partials); here it is recomputed from the
    * same table because the driver gate reads one directory.
    *
    * Output = the full run's pairs restricted to batch-involving ones —
    * the DuckDB oracle states exactly that, so the equivalence is
    * hash-checked, not argued. */
  def minhashIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = docs(s, dir)
    val isBatch = pmod($"doc_id", lit(10)) === lit(7)
    incrementalPairs(s, all.filter(!isBatch), all.filter(isBatch))
  }

  /** False-positive rate of [[bloomPruneByBatch]]'s filter. */
  private val BloomFpp = 0.01

  /** BLOOM RUNTIME FILTER for the incremental candidate join: a bloom
    * built over the BATCH side's (band, band_hash) keys, applied to the
    * INDEX band relation before the equi-join. At 100 TB the index band
    * relation is corpus-sized while the daily batch is still far too
    * wide to broadcast (4 rows/doc × millions of docs), so the candidate
    * join shuffles BOTH sides — and shuffling the corpus-sized index
    * daily is the dominant cost. The bloom is a few MiB regardless of
    * batch width (driver-built from the cached batch bands, broadcast
    * once), and prunes the index side to ~matching buckets + fpp right
    * above the scan, BEFORE the exchange: shuffled index rows become
    * ∝ candidates, not ∝ corpus. Correctness is structural — a false
    * positive only passes a row the join drops anyway, and false
    * negatives are impossible (`mightContain` never rejects an inserted
    * key) — and hash-gated: `dedup_incremental`/`dedup_incremental_idx`
    * compare against the DuckDB full-run-restricted oracle. The
    * false-positive rate is fixed at [[BloomFpp]]. */
  private[graft] def bloomPruneByBatch(s: SparkSession, indexBands: DataFrame,
                                batchBands: DataFrame): DataFrame = {
    // one 64-bit key per band row; bandsOf emits exactly 4 rows/doc, so
    // the cached-relation count is the exact expectedNumItems bound
    val key = xxhash64(col("band"), col("band_hash"))
    val n = batchBands.count()
    if (n == 0L) return indexBands.filter(lit(false)) // empty batch: no candidates
    val bloom = batchBands.stat.bloomFilter(key, n, BloomFpp)
    val bc = s.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
    indexBands.filter(mightContain(key))
  }

  /** The library API behind [[minhashIncremental]]: near-dup pairs that
    * involve at least one `batch` document, against an `index` corpus
    * that is never paired with itself. Both frames are (doc_id, text)
    * with disjoint ids. In production, feed `index` from the persisted
    * band relation of the previous run instead of recomputing. */
  def incrementalPairs(s: SparkSession, index: DataFrame, batch: DataFrame): DataFrame = {
    import s.implicits._
    val batchBands = tracked(bandsOf(s, batch))
    val indexBands = bloomPruneByBatch(s, bandsOf(s, index), batchBands)
    val cross = batchBands.as("n")
      .join(indexBands.as("i"), Seq("band", "band_hash"))
      .select(
        least($"n.doc_id", $"i.doc_id").as("doc_a"),
        greatest($"n.doc_id", $"i.doc_id").as("doc_b"))
    val within = bucketExpand(batchBands)
    // pair-bound: Σ n_b(index)·n_b(batch) + Σ n_b(batch)² candidate
    // rows (the LSH contract), never corpus-sized — 4 store tasks safe
    val cand = ckptHinted(cross.union(within).distinct().coalesce(4))
    minhashVerify(s, index.unionByName(batch), cand)
  }

  /** PERSIST the minhash index for a corpus: the band relation (4 rows
    * per doc — candidate generation) and the shingle-set relation
    * (~KB per doc — candidate verification) as two parquet tables under
    * `path`. This is the production artifact [[incrementalPairs]]'
    * Scaladoc promises: tomorrow's batch reads it instead of re-banding
    * a 100 TB corpus. Bands are written bucketed-friendly (sorted within
    * files by the join key) but remain plain parquet — on the day-2 read
    * the [[bloomPruneByBatch]] runtime filter cuts the index rows
    * entering the candidate exchange to ~matching buckets + fpp, so the
    * corpus-sized relation never shuffles whole. Sets are RANGE-SORTED
    * on doc_id (disjoint file
    * ranges, sorted row groups) so the day-2 read path's pushed
    * candidate-id In filter skips whole row groups via parquet min/max
    * stats — the layout that makes "index bytes touched ∝ candidates"
    * literally true below the pushdown cap. */
  def writeIndex(s: SparkSession, corpus: DataFrame, path: String): Unit = {
    // partition on the FULL (band, band_hash) join key: `band` alone has
    // 4 distinct values, which would funnel a corpus-sized shuffle into
    // 4 writer tasks (each sorting and spilling a quarter of the corpus)
    bandsOf(s, corpus)
      .repartition(col("band"), col("band_hash"))
      .sortWithinPartitions(col("band"), col("band_hash"))
      .write.mode("overwrite").parquet(s"$path/bands")
    shingleSetsOf(s, corpus)
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$path/sets")
  }

  /** [[incrementalPairs]] fed from a PERSISTED index (see
    * [[writeIndex]]) instead of recomputing the corpus bands/sets —
    * hash-identical output by construction (both relations are
    * deterministic functions of the corpus; IncrementalIndexSpec and the
    * `dedup_incremental_idx` oracle pin it). Index documents never
    * re-shingle: when the index-side candidate count is at or below
    * `spark.graft.dedup.index.pushdownMaxIds`, their ids are pushed into
    * the parquet scan as an In filter, and the doc_id-range-sorted file
    * layout ([[writeIndex]]) turns that into row-group skipping — index
    * bytes READ ∝ candidates, not corpus size (measured per round in
    * ScaleRehearsal's day-2 section). Above the cap the read degrades to
    * one sequential columnar scan of `sets` restricted by a broadcast
    * semi-join — still index bytes, never corpus re-shingling. */
  def incrementalPairsFromIndex(s: SparkSession, indexPath: String,
                                batch: DataFrame): DataFrame = {
    import s.implicits._
    // RE-DELIVERY contract: a doc_id present in BOTH the batch and the
    // persisted index is treated as batch (its stale index rows are
    // ignored) — exactly the relation [[incrementalPairs]] sees when its
    // `index` excludes batch ids, so persisted ≡ recomputed holds even
    // under replays. Without the exclusion a replayed id would appear
    // in the sets relation twice (duplicated output rows) and pair with
    // itself in candidate generation. The pushdown path inherits the
    // contract for free: its id list is candIds MINUS batch ids, so
    // stale rows never leave the scan.
    val batchIds = broadcast(batch.select($"doc_id").distinct())
    val batchBands = tracked(bandsOf(s, batch))
    val indexBands = bloomPruneByBatch(s,
      s.read.parquet(s"$indexPath/bands"), batchBands)
      .join(batchIds, Seq("doc_id"), "left_anti")
    val cross = batchBands.as("n")
      .join(indexBands.as("i"), Seq("band", "band_hash"))
      .select(
        least($"n.doc_id", $"i.doc_id").as("doc_a"),
        greatest($"n.doc_id", $"i.doc_id").as("doc_b"))
    val within = bucketExpand(batchBands)
    // pair-bound (bloom-pruned index bands × batch bands + in-batch
    // pairs): candidate-sized by the LSH contract — 4 store tasks safe
    val cand = ckptHinted(cross.union(within).distinct().coalesce(4))
    val candIds = cand.select($"doc_a".as("doc_id"))
      .union(cand.select($"doc_b".as("doc_id"))).distinct()
    val idxCandIds = candIds.join(batchIds, Seq("doc_id"), "left_anti")
    // bounded probe: collect at most cap+1 ids — enough to decide the
    // route without ever pulling an unbounded id list onto the driver.
    // HARD-clamped at 2000: parquet evaluates a pushed In as a recursive
    // or-chain of per-value leaves, so a many-thousand-value predicate
    // overflows the scan task's stack (measured: 10k values SOE'd the
    // sf10 rehearsal) — past the clamp the semi-join route is strictly
    // safer and barely slower
    val cap = math.min(2000,
      s.conf.get("spark.graft.dedup.index.pushdownMaxIds", "1000").toInt)
    // id-type-agnostic (Any, not getLong): the funnel's persisted-standing
    // path runs this machinery over its string doc keys — isin() and the
    // pushed In filter work identically for either id type
    val probe = idxCandIds.select($"doc_id")
      .limit(cap + 1).collect().map(_.get(0))
    val indexSets =
      if (probe.isEmpty)
        s.read.parquet(s"$indexPath/sets").filter(lit(false))
      else if (probe.length <= cap)
        s.read.parquet(s"$indexPath/sets")
          .filter($"doc_id".isin(probe.toIndexedSeq: _*))
      else
        s.read.parquet(s"$indexPath/sets")
          .join(batchIds, Seq("doc_id"), "left_anti")
          .join(broadcast(idxCandIds), Seq("doc_id"), "left_semi")
    val sets = indexSets
      .unionByName(shingleSetsOf(
        s, batch.join(broadcast(candIds), Seq("doc_id"), "left_semi")))
    // the sets parquet scan executes eagerly inside minhashVerifyWithSets
    // (ckptHinted), so scoping the In-pushdown threshold around the call
    // covers it; the returned frame only re-reads checkpointed blocks
    withParquetInPushdown(s, math.max(probe.length, 10)) {
      minhashVerifyWithSets(s, sets, cand)
    }
  }

  /** Run `f` with `spark.sql.parquet.pushdown.inFilterThreshold` raised
    * to `n`: parquet pushes an In predicate as an or-of-eq chain (which
    * row-group min/max stats can evaluate) only up to the threshold —
    * past it the filter collapses to a min..max range that skips nothing
    * when candidate ids span the id space. Restored in `finally`; safe
    * under the engine's serial per-query execution (same contract as
    * StreamQueries' conf scoping). */
  private def withParquetInPushdown[A](s: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prev = s.conf.getOption(key)
    s.conf.set(key, n.toString)
    try f finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Query twin of [[minhashIncremental]] through the persisted-index
    * path: build the index for the standing corpus (in production this
    * is yesterday's artifact — here the driver gate reads one
    * directory), then run the batch against it. Shares
    * `dedup_incremental`'s oracle SQL shape — the driver hash-compares
    * it against DuckDB, proving persisted ≡ recomputed end-to-end. */
  def minhashIncrementalFromIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = docs(s, dir)
    val isBatch = pmod($"doc_id", lit(10)) === lit(7)
    val idxPath = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "dedupidx"), "idx").toAbsolutePath.toString
    try {
      writeIndex(s, all.filter(!isBatch), idxPath)
      // materialize before the finally-delete: the returned frame's scan
      // must not outlive the index files
      val out = incrementalPairsFromIndex(s, idxPath, all.filter(isBatch))
        .orderBy($"doc_a", $"doc_b")
      trackCheckpoint(out.localCheckpoint())
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idxPath))
  }

  /** DAY-2 INDEX COMPACTION — deletion support for the persisted dedup
    * index: drop every retired document's rows from both index
    * relations (bands and shingle sets) and rewrite them in the SAME
    * layout [[writeIndex]] produces (bands repartitioned on the full
    * join key, sets range-sorted on doc_id so the candidate-id pushdown
    * keeps row-group skipping). Cost is ONE metadata-light anti-join +
    * rewrite per relation — index bytes, never corpus re-shingling; at
    * 100 TB this runs as the retention job that keeps day-N candidate
    * volume from accumulating deleted corpora. The compacted index is
    * bit-equivalent to an index built fresh from the surviving
    * documents (both relations are per-doc deterministic functions, so
    * removal commutes with construction — pinned in
    * IncrementalIndexSpec and by the `dedup_index_compact` oracle). */
  def compactIndex(s: SparkSession, indexPath: String, retired: DataFrame,
                   outPath: String): Unit = {
    import s.implicits._
    val gone = broadcast(retired.select($"doc_id").distinct())
    s.read.parquet(s"$indexPath/bands")
      .join(gone, Seq("doc_id"), "left_anti")
      .repartition(col("band"), col("band_hash"))
      .sortWithinPartitions(col("band"), col("band_hash"))
      .write.mode("overwrite").parquet(s"$outPath/bands")
    s.read.parquet(s"$indexPath/sets")
      .join(gone, Seq("doc_id"), "left_anti")
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$outPath/sets")
  }

  /** `dedup_index_compact`: the full day-2 deletion lifecycle — build
    * the day-1 index, RETIRE a deterministic slice (index docs with
    * doc_id ≡ 5 mod 17 — the analog of a corpus takedown), compact,
    * and run the usual incremental batch against the compacted index.
    * The oracle is the incremental pair SQL over a universe that simply
    * EXCLUDES the retired documents — so the gate certifies both halves
    * at once: retired docs can never produce a candidate (their bands
    * are gone) and surviving pairs are byte-identical to a fresh index
    * of the survivors. */
  def minhashIncrementalCompacted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = docs(s, dir)
    val isBatch = pmod($"doc_id", lit(10)) === lit(7)
    val retired = all.filter(!isBatch && pmod($"doc_id", lit(17)) === lit(5))
      .select($"doc_id")
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "dedupidx"), "compact").toAbsolutePath
    try {
      writeIndex(s, all.filter(!isBatch), s"$base/day1")
      compactIndex(s, s"$base/day1", retired, s"$base/day2")
      val out = incrementalPairsFromIndex(s, s"$base/day2", all.filter(isBatch))
        .orderBy($"doc_a", $"doc_b")
      trackCheckpoint(out.localCheckpoint())
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** Transitive near-duplicate GROUPS: connected components over the
    * MinHash near-dup pair graph — the canonical corpus-dedup semantics.
    * Pair-based removal ([[corpusClean]]) drops the higher id of each
    * EDGE; components assign every document of a duplicate CLUSTER one
    * id (the cluster's min), correct even when similarity is only
    * transitive (a~b, b~c, a≁c — a and c still share a cluster).
    *
    * Oracle: DuckDB transitive closure (`WITH RECURSIVE` reach) +
    * min-reachable aggregation over the SAME MinHash pair SQL. */
  def components(s: SparkSession, dir: String, maxIters: Int = 64): DataFrame = {
    import s.implicits._
    // checkpoint the pair list BEFORE symmetrizing: the union's two
    // branches are separate subtrees, so a lazy `pairs` would run the
    // verify joins twice — and the CC loop would replan the whole minhash
    // pipeline every round
    val pairs = // pair-bound: verified near-dup PAIRS only — 4 tasks safe
      trackCheckpoint(minhashPairs(s, docs(s, dir)).select($"doc_a", $"doc_b")
        .coalesce(4).localCheckpoint())
    val edges =
      pairs.union(pairs.select($"doc_b", $"doc_a")).toDF("src", "dst")
    componentsOf(s, edges, maxIters)
      .select($"node".as("doc_id"), $"component").orderBy($"doc_id")
  }

  /** PERSIST a component labeling — the [[writeIndex]] analog for the
    * transitive-closure artifact: range-sorted on `doc_id` so consumer
    * joins stream sorted row groups. The labeling is a deterministic
    * function of the corpus, so persisted ≡ recomputed by construction
    * (pinned in DedupComponentsSpec). */
  def writeComponents(s: SparkSession, labels: DataFrame, path: String): Unit =
    labels.select(col("doc_id"), col("component"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(path)

  // Process-level store of persisted closure artifacts, keyed by
  // absolute corpus dir (+slice tag): the first consumer pays the
  // fixpoint and a write; every later consumer — canonical selection,
  // soft dedup, the leakage-safe split, repeat bench passes — reads
  // label bytes. Mirrors a production pipeline, where the labeling is
  // computed once per corpus version and shared by its consumers.
  private val componentStore = new graft.util.ArtifactStore("components")

  /** Drop the process-level label store (tests that rewrite a corpus
    * dir in place must call this, or they read yesterday's labels). */
  private[graft] def clearComponentStore(): Unit = componentStore.clear()

  private def storeDir(s: SparkSession, key: String,
                       build: String => Unit): String =
    componentStore.get(s, key) { p => build(p); p }

  /** [[components]] through the per-process persisted store: label
    * bytes after the first call per corpus. Hash-identical to the
    * fresh closure by determinism. */
  def componentsFromStore(s: SparkSession, dir: String): DataFrame = {
    val key = java.nio.file.Paths.get(dir).toAbsolutePath.toString
    val p = storeDir(s, key,
      p => writeComponents(s, components(s, dir), s"$p/labels"))
    s.read.parquet(s"$p/labels")
  }

  /** Day-1 standing artifacts for [[componentsIncremental]], built once
    * per process per corpus: the persisted minhash index of the
    * standing slice ([[writeIndex]]) plus its persisted component
    * labeling — exactly what a real day-2 job reads from yesterday. */
  private def day1ComponentArtifacts(s: SparkSession, dir: String): String = {
    import s.implicits._
    val key = java.nio.file.Paths.get(dir).toAbsolutePath.toString + "#day1"
    storeDir(s, key, p => {
      val day1 = docs(s, dir).filter(pmod($"doc_id", lit(10)) =!= lit(7))
      writeIndex(s, day1, s"$p/index")
      val pairs = trackCheckpoint( // pair-bound (see components) — 4 tasks safe
        minhashPairs(s, day1).select($"doc_a", $"doc_b")
          .coalesce(4).localCheckpoint())
      writeComponents(s,
        componentsOf(s,
          pairs.union(pairs.select($"doc_b", $"doc_a")).toDF("src", "dst"))
          .select($"node".as("doc_id"), $"component"),
        s"$p/labels")
    })
  }

  /** DAY-2 INCREMENTAL COMPONENTS — the transitive twin of
    * [[incrementalPairsFromIndex]]: yesterday's labeling collapses to
    * node-sized STAR edges (doc → its component id — connectivity-
    * preserving because a component id is a member's id), only the
    * batch-involving pairs are computed fresh (from the PERSISTED
    * day-1 index — never an index×index candidate, never a day-1
    * re-shingle), and the CC loop runs over star ∪ new edges. A batch
    * doc bridging two day-1 clusters merges them exactly as a full
    * recompute would, but the per-day work is |batch shingles| +
    * |candidate index bytes| + a CC loop over |day-1 nodes| + |new
    * pairs| instead of ALL pairs — the day-2 cost profile. Day-1
    * artifacts (index + labels) come from the per-process store, so
    * steady-state passes measure ONLY the day-2 path, the number the
    * operator exists to deliver. The output must equal the full
    * recompute (same oracle as `dedup_components` — a stronger gate
    * than a self-referential one) and the equality is also pinned
    * in-process in DedupComponentsSpec. */
  def componentsIncremental(s: SparkSession, dir: String,
                            maxIters: Int = 64): DataFrame = {
    import s.implicits._
    val all = docs(s, dir)
    val isBatch = pmod($"doc_id", lit(10)) === lit(7)
    val p = day1ComponentArtifacts(s, dir)
    val day1Labels = s.read.parquet(s"$p/labels")
    val newPairs = trackCheckpoint( // pair-bound (batch-involving pairs) — 4 tasks safe
      incrementalPairsFromIndex(s, s"$p/index", all.filter(isBatch))
        .select($"doc_a", $"doc_b")
        .coalesce(4).localCheckpoint())
    // star edges: (node ≠ component) suffices — a component's min id
    // always appears as the dst of some member's star edge, and
    // clusters have ≥ 2 members by construction
    val star = day1Labels.filter($"doc_id" =!= $"component")
      .select($"doc_id".as("doc_a"), $"component".as("doc_b"))
    val merged = star.unionByName(newPairs)
    componentsOf(s,
      merged.union(merged.select($"doc_b", $"doc_a")).toDF("src", "dst"),
      maxIters)
      .select($"node".as("doc_id"), $"component").orderBy($"doc_id")
  }

  /** Connected components of an undirected graph given as a symmetric
    * `(src, dst)` edge list (both directions present). Returns
    * `(node, component)` where `component` is the min node id reachable.
    *
    * Spark shape: hash-min label propagation WITH pointer jumping, the
    * Pregel-on-DataFrames pattern. Labels start as each node's own id;
    * each round every node takes the min label among itself and its
    * neighbors (one edges⋈labels join + one partial-agg shuffle over the
    * node-sized label relation, ≪ edges), then a pointer-jump step
    * (labels self-join: `component := component's component`) doubles the
    * effective propagation distance — rounds needed is O(log diameter),
    * not diameter, so even pathological chain graphs converge in a few
    * dozen rounds at ANY size. The convergence test is folded into the
    * same action that materializes the round (a `changed` count aggregated
    * off the cached next-labels), so a round costs exactly its two
    * data-sized joins — no separate old⋈new comparison join.
    *
    * Iterates to FIXPOINT: partial propagation would silently under-merge
    * clusters (and break oracle parity), so `maxIters` is a safety valve
    * that THROWS rather than returning a partially-merged labeling.
    * log₂-convergence means the default 64 covers any graph that fits in
    * an id space. Lineage is truncated with an eager `localCheckpoint`
    * EVERY round (the jump step), so deep iteration never accretes an
    * unbounded plan and each round's inputs release immediately. */
  def componentsOf(s: SparkSession, edgesIn: DataFrame, maxIters: Int = 64): DataFrame = {
    import s.implicits._
    // every round joins the edge list — cache it once (tracked, so the
    // session's unpersistIntermediates releases it like every other
    // dedup intermediate)
    val edges = tracked(edgesIn)
    var labels = edges.select($"src".as("node")).distinct()
      .withColumn("component", $"node").persist()
    var changed = 1L
    var it = 0
    while (changed > 0) {
      if (it >= maxIters)
        throw new IllegalStateException(
          s"componentsOf did not converge in $maxIters rounds — refusing to " +
            "return a partially-merged labeling (pointer-jumped hash-min " +
            "converges in O(log diameter); this indicates a bug or an " +
            "absurd maxIters)")
      // hash-min: every node absorbs the min label among itself and its
      // neighbors; `prev` (the node's own incoming label) rides along so
      // convergence is decided in the SAME action that materializes the
      // round — no separate old⋈new comparison join. Correctness of the
      // pre-jump test: changed == 0 means every node's label already
      // equals the min over its closed neighborhood, which forces labels
      // constant per component (= the component's min id) — so testing
      // before the jump loses nothing.
      val self = labels.select($"node", $"component", $"component".as("prev"))
      val nbr = edges.join(labels, $"dst" === $"node")
        .select($"src".as("node"), $"component",
          lit(Long.MaxValue).as("prev"))
      val merged = self.unionByName(nbr).groupBy($"node")
        .agg(min($"component").as("component"), min($"prev").as("prev"))
        .persist()
      changed = merged
        .agg(coalesce(sum(when($"component" < $"prev", 1L).otherwise(0L)),
          lit(0L)))
        .head().getLong(0)
      if (changed == 0) {
        // fixpoint: merged carries the same labeling labels had
        labels.unpersist(false)
        labels = merged
      } else {
        // pointer jump: component ids are always live node ids, so the
        // inner self-join on the CACHED merged is total and cheap; b's
        // label may itself have shrunk this round — that is the doubling
        // that makes rounds O(log diameter), not diameter. The eager
        // localCheckpoint both materializes the jump (so the caches it
        // read can be released NOW) and truncates lineage every round —
        // deep iteration never accretes an unbounded plan.
        val jumped = trackCheckpoint(merged.as("a")
          .join(merged.as("b"), col("a.component") === col("b.node"))
          .select(col("a.node").as("node"), col("b.component").as("component"))
          .localCheckpoint())
        // the PRIOR round's labels may be checkpoint-backed: free its
        // blocks now (df.unpersist only talks to the CacheManager and is
        // a no-op on a LogicalRDD plan — releaseCheckpoint is a no-op on
        // everything else, so calling both covers both round shapes)
        labels.unpersist(false)
        releaseCheckpoint(labels)
        merged.unpersist(false)
        labels = jumped
      }
      it += 1
    }
    tracked(labels) // already persisted; registers it for release
    labels.select($"node", $"component")
  }

  /** SimHash: 60-bit signature from token hashes; duplicate clusters are
    * signature-equality groups (no pairwise compare → scales linearly).
    *
    * The 60 per-bit balances are 60 aggregate COLUMNS over the token
    * relation, not a 60× row explode: one hash-shuffle of token rows with
    * map-side partial aggregation (the earlier (doc_id, bit)-keyed form
    * shuffled 60× the volume and needed a second shuffle to fold bits
    * back into a signature). */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = docs(s, dir)
      .select($"doc_id", explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("word"))
      .withColumn("h", expr(h60("word")))
    val balances = (0 until 60).map(b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1L).otherwise(-1L)).as(s"bal$b"))
    tok
      .groupBy($"doc_id")
      .agg(balances.head, balances.tail: _*)
      .select($"doc_id",
        (0 until 60).map(b =>
          when(col(s"bal$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .orderBy($"doc_id")
  }

  /** Number of simhash bands the 60-bit signature splits into —
    * `spark.graft.simhash.bands`, default 4 (= 15-bit bands). Must divide
    * 60. The band count is the recall/candidate-volume dial: `bands`
    * bands of width 60/bands guarantee every pair with hamming <
    * `bands` collides somewhere (pigeonhole), and candidate volume per
    * band value is quadratic in its population — fewer, wider bands cut
    * candidates at the cost of recall. */
  private[operators] def simhashBands(s: SparkSession): Int = {
    val b = s.conf.get("spark.graft.simhash.bands", "4").toInt
    require(b > 0 && 60 % b == 0,
      s"spark.graft.simhash.bands must divide 60, got $b")
    b
  }

  /** SimHash near-dup pairs: the 60-bit signatures from [[simhash]] are
    * banded into [[simhashBands]] equal-width bands; a pair is a
    * candidate iff some band matches exactly (pigeonhole: hamming <
    * bands ⇒ guaranteed candidate; larger distances trade recall,
    * standard LSH semantics), then kept when XOR-popcount hamming ≤ 12.
    * Linear signature pass + banded join — never O(n²). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sig = tracked(simhash(s, dir))
    val nBands = simhashBands(s)
    val width = 60 / nBands
    val mask = (1L << width) - 1
    val bandCols = (0 until nBands).map(t =>
      struct(lit(t).as("t"), expr(s"shiftright(simhash, ${width * t}) & $mask").as("bval")))
    val bands = sig
      .select($"doc_id", explode(array(bandCols: _*)).as("bb"))
      .select($"doc_id", $"bb.t".as("t"), $"bb.bval".as("bval"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        $"a.t" === $"b.t" && $"a.bval" === $"b.bval" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    cand
      .join(sig.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sig.as("sb"), $"doc_b" === $"sb.doc_id")
      .select($"doc_a", $"doc_b",
        bit_count(expr("sa.simhash ^ sb.simhash")).cast("long").as("hamming"))
      .filter($"hamming" <= 12)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Character 5-gram Jaccard near-dup: candidate pairs must share a RARE
    * gram (df ≤ 20), then exact Jaccard via set intersection on doc-level
    * sorted gram arrays (the gram relation shuffles once for df, once for
    * the doc aggregate; the pair verification touches only doc rows). */
  private def ngramDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).filter(length($"text") >= 5)
  }

  /** Per-doc DISTINCT gram set built NARROWLY in the scan projection
    * (native one-pass [[graft.functions.CharGrams]] — no interpreted
    * per-gram lambdas). */
  private def ngramGramSets(s: SparkSession, in: DataFrame,
                            widen: Boolean = true): DataFrame = {
    import s.implicits._
    // widened: the one-pass gram extraction is the family's heavy narrow
    // work and must not inherit a single-split scan's parallelism.
    // `widen = false` for CANDIDATE-BOUND inputs (ADVICE r16): the verify
    // site's downstream coalesce(4) collapses the post-shuffle narrow
    // chain back to 4 tasks, so the added round-robin exchange is pure
    // overhead there — and widened's df.rdd planning probe eagerly fires
    // the caller's broadcast job before the repartition re-plans it.
    val src = if (widen) widened(in) else in
    src.select($"doc_id",
      charGrams($"text", lit(5)).as("g_set"))
  }

  /** Candidate pairs sharing a RARE gram (df ≤ maxDf), UN-checkpointed so
    * plan guards (ScaleGuardSpec) can inspect the shuffle structure that
    * [[ngramJaccard]]'s localCheckpoint otherwise truncates to a
    * Scan ExistingRDD.
    *
    * df filter BEFORE any doc list materializes: count(*) over a window
    * keyed on gram runs in WindowExec's spillable row container (a
    * stop-gram with millions of docs spills to disk instead of growing
    * one collect_list agg buffer until OOM), and the groupBy that follows
    * reuses the window's hashpartitioning(gram) — the gram relation
    * shuffles exactly ONCE in the whole query, and the collect_list only
    * ever sees groups of ≤ maxDf rows. Pairs are generated in-place
    * (≤ df²/2 per gram). The cap bounds candidate volume AND is the
    * recall dial: a duplicated corpus inflates every gram's df
    * uniformly, so it must scale with the duplication factor or
    * candidates vanish entirely — observed at the 10× scale rehearsal,
    * where df≤20 yields ZERO candidates until raised. Default 20 is
    * oracle-pinned; ScaleRehearsal exercises 200. */
  private[graft] def ngramCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = ngramGramSets(s, ngramDocs(s, dir))
      .select($"doc_id", explode($"g_set").as("gram"))
    val maxDf = s.conf.get("spark.graft.dedup.ngram.maxDf", "20").toLong
    val gramWin = org.apache.spark.sql.expressions.Window.partitionBy($"gram")
    grams
      .withColumn("df", count(lit(1)).over(gramWin))
      .filter($"df" <= maxDf)
      .groupBy($"gram")
      .agg(collect_list($"doc_id").as("ds"))
      .select(explode(expr(
        """filter(flatten(transform(ds, a -> transform(ds, b -> struct(a, b)))),
                  p -> p.a < p.b)""")).as("p"))
      .select($"p.a".as("doc_a"), $"p.b".as("doc_b"))
      .distinct()
      .coalesce(4) // pair-bound: Σ df² candidate pairs under the df cap — 4 tasks safe
  }

  /** The (gram → df) histogram behind [[ngramCandidates]]'s rare-gram
    * filter. Candidate-pair volume at any df cap is the closed form
    * Σ C(df,2) over grams with df ≤ cap — one aggregation over this
    * relation, no pair ever generated. Rehearsals use it to measure how
    * the cap dial scales: at the sf10 rehearsal the cap-2000 FULL query
    * spilled >36 GB of candidate pairs before exhausting disk, while
    * this histogram quantifies the same blow-up in seconds (the volume
    * grows ~quadratically in the duplication factor — see BENCH_NOTES
    * round 7). */
  private[graft] def ngramGramDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramGramSets(s, ngramDocs(s, dir))
      .select(explode($"g_set").as("gram"))
      .groupBy($"gram").agg(count(lit(1)).as("df"))
  }

  /** User-facing pre-flight for the [[ngramJaccard]] df-cap dial: the
    * gram-df histogram rolled up to one row per df value, carrying the
    * closed-form candidate-pair volume n_grams × C(df,2). Candidate
    * volume at any cap is the running sum of `pair_volume` up to it —
    * so the tractability of a cap is answered by a relation whose size
    * is the number of DISTINCT df values, before a single pair exists.
    * Two narrow shuffles (gram df, then df rollup); the first is the
    * same gram shuffle [[ngramCandidates]] pays anyway. */
  def ngramDfHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramGramDf(s, dir)
      .groupBy($"df")
      .agg(count(lit(1)).as("n_grams"))
      .withColumn("pair_volume", $"n_grams" * expr("df * (df - 1) DIV 2"))
      .orderBy($"df")
  }

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The corpus-wide gram-array table is NEVER materialized (same lesson
    // as the minhash rewrite: the columnar cache build of array columns
    // alone cost ~1.2 s at sf0.1 and would pin a corpus-sized array cache
    // at 100 TB) — candidate generation consumes it lazily once, and the
    // verify stage re-derives gram sets for CANDIDATE docs only.
    val d = ngramDocs(s, dir)
    val cand = ckptHinted(ngramCandidates(s, dir))
    val candIds = cand.select($"doc_a".as("doc_id"))
      .union(cand.select($"doc_b".as("doc_id"))).distinct()
    // verify-side sets are sorted ONCE PER DOC so the per-pair exact
    // intersection is a merge walk (graft_sorted_inter), not a hash-set
    // build — sf1 profile: the per-pair array_intersect churn was the
    // whole verify cost, ~14 s of the 23 s query
    val candSets = ckptHinted(
      ngramGramSets(s, d.join(broadcast(candIds), Seq("doc_id"), "left_semi"),
          widen = false) // candidate-bound input; coalesce(4) below caps width anyway
        .select($"doc_id", sort_array($"g_set").as("g_set"))
        .withColumn("n_g", size($"g_set").cast("long"))
        .coalesce(4), // candidate-bound: semi-joined to candIds — 4 tasks safe
      maxBroadcastRows = HeavyRowBroadcastCap)
    cand
      .join(candSets.as("ca"), $"doc_a" === $"ca.doc_id")
      .join(candSets.as("cb"), $"doc_b" === $"cb.doc_id")
      // EXACT length pre-filter (the prefix-filter literature's size
      // bound): |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
      // J ≥ 0.7 requires min ≥ 0.7·max — pairs whose gram-set sizes
      // alone rule them out never reach the intersection at all. The
      // sf1 profile measured 1.0M candidates feeding 60k final pairs;
      // sizes prune 38% for free, no recall loss. The 0.00005 slack keeps
      // the bound a strict superset of the ROUNDED final filter (which
      // admits true J down to 0.69995) — oracle parity at the boundary.
      .filter(least($"ca.n_g", $"cb.n_g") >= lit(0.7 - 0.00005) * greatest($"ca.n_g", $"cb.n_g"))
      .select($"doc_a", $"doc_b",
        sortedInter($"ca.g_set", $"cb.g_set")
          .cast("double").as("n_inter"),
        ($"ca.n_g" + $"cb.n_g").as("n_sum"))
      .select($"doc_a", $"doc_b",
        round($"n_inter" / ($"n_sum" - $"n_inter"), 4).as("jaccard"))
      .filter($"jaccard" >= 0.7)
      .orderBy($"doc_a", $"doc_b")
  }

  /** (doc_id, n_w, w, rk): each doc's hashed word tokens ranked
    * rare-first (df asc, then token — THE global prefix order), built on
    * two token-level exchanges (df over a word window, rank over a doc
    * window). Shared by [[jaccardPrefix]] and [[containment]] so both
    * prefix-filter operators (and their oracles) rank by the identical
    * order. */
  private def rankedTokens(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val byTok = org.apache.spark.sql.expressions.Window.partitionBy($"w")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
      .orderBy($"df", $"w")
    d.select($"doc_id", $"n_w", explode($"w_set").as("w"))
      .withColumn("df", count(lit(1)).over(byTok))
      .withColumn("rk", row_number().over(byDoc))
      .select($"doc_id", $"n_w", $"w", $"rk")
  }

  /** (doc_id, w_set: sorted distinct h60 word hashes, n_w): the shared
    * input relation of the word-set similarity joins ([[jaccardPrefix]],
    * [[containment]]) — one builder so both operators (and their
    * oracles' token CTEs) hash and sort identically. */
  private def hashedWordSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    widened(docs(s, dir))
      .select($"doc_id",
        expr("array_sort(array_distinct(transform(" +
             "filter(split(text, ' '), x -> length(x) > 0), " +
             s"x -> ${h60("x")})))")
          .as("w_set"))
      .filter(size($"w_set") >= 1)
      .withColumn("n_w", size($"w_set").cast("long"))
  }

  /** PREFIX-FILTERED SET-SIMILARITY JOIN (the PPJoin/All-Pairs family):
    * all document pairs whose WORD-SET Jaccard ≥ 4/5, found without a
    * df cap and without approximation — the prefix filter is LOSSLESS.
    *
    * The bound (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07):
    * order every doc's tokens by a global rank (df ASC, token ASC —
    * rarest first) and keep only the first
    * `prefix_len = n − ceil(τ·n) + 1` tokens. Two τ-similar sets MUST
    * share a token inside both prefixes — if they disagreed on all
    * prefix tokens, the overlap could be at most the suffix length
    * ceil(τ·n) − 1 on either side, below the overlap τ forces. So
    * candidates = pairs sharing a PREFIX token, a strict superset of
    * the answer, and exact verification loses nothing. Rare-first
    * ordering makes those prefixes land on the df histogram's tail —
    * the same tokens the [[ngramCandidates]] df cap keeps, but with
    * per-doc proof instead of a recall dial.
    *
    * All thresholds are INTEGER (τ = 4/5 exactly): prefix_len uses
    * ceil(4n/5) = (4n+4) div 5, the candidate-time size gate is
    * 5·min(na,nb) ≥ 4·max(na,nb), and the final test 5·I ≥ 4·(na+nb−I)
    * ⇔ 9·I ≥ 4·(na+nb) — no float ever decides membership, so the
    * DuckDB oracle (naive all-shared-token pairwise Jaccard) agrees
    * bit-for-bit; the reported double is display-only.
    *
    * Scale shapes: token df is one partial-agged word exchange; prefix
    * extraction is one doc_id exchange of (token, df) rows; candidate
    * generation joins PREFIX tokens only, with the size gate inside the
    * join condition so length-incompatible pairs die before the
    * exchange; verification re-derives sorted word arrays for CANDIDATE
    * docs only and walks them with the codegen'd merge
    * (`graft_sorted_inter`) — the corpus-wide array table is never
    * materialized (the [[ngramJaccard]] lesson). Tokens carry as 60-bit
    * hashes ([[h60]], mirrored in the oracle like every hashed family
    * here) — long-array merge walks measured ~2× the string walks, the
    * exchanges shrink to 8 B/token, and parity is unconditional because
    * BOTH engines intersect the same hash sets. */
  def jaccardPrefix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE materialization of the corpus word-set relation, shared by
    // the ranking side (prefix extraction reads the checkpoint) and the
    // verify side (candSets IS the checkpoint): r15 computed
    // hashedWordSets twice per query, the verify copy through a fixed
    // coalesce(4) that capped the corpus-sized tokenize+hash pass at
    // four tasks at ANY scale (VERDICT r15 what's-wrong #1). The width
    // now follows the input scan ([[widened]]), so the heaviest narrow
    // pass parallelizes everywhere and the 4-task cap is gone.
    val d = ckptHinted(hashedWordSets(s, dir),
      maxBroadcastRows = HeavyRowBroadcastCap)

    // prefix_len = n − ceil(4n/5) + 1, all integer (div, not /:
    // Column./ is double division)
    val (prefixCk, prefixes) = ckptBoth(
      rankedTokens(d).filter($"rk" <= expr("n_w - (n_w * 4 + 4) div 5 + 1")))
    // PROBE side re-widened off the checkpoint (r17): the window
    // exchanges above the checkpoint are AQE-coalesced to ~1 partition
    // at small SFs, and the checkpoint BAKES that width in — the
    // candidate join + partial distinct (the query's dominant stage, ~9 s
    // single-core at sf0.1) inherited it and ran single-threaded on a
    // 32-core box. Hash-keyed on the probe doc so all of one doc's token
    // rows share a map task: every duplicate emission of a pair (same
    // doc_b, different shared token) dies in the partial distinct BEFORE
    // the exchange. Pass-through at production width ([[widenedBy]]).
    val probe = widenedBy(prefixCk, $"doc_id")

    // candidate pairs STREAM from the join through one distinct into
    // the verify — never checkpointed, never consumed twice (the ngram
    // path materializes candidates because its id relations feed two
    // consumers; here there is exactly one). `prefixes` is broadcast-
    // hinted (ckptHinted), so the self-join is a BHJ whose probe side
    // spreads a hot token's rows across all partitions — no skewed SMJ
    // task ever owns a token's full pair block.
    val cand = prefixes.as("pa").join(probe.as("pb"),
        $"pa.w" === $"pb.w" && $"pa.doc_id" < $"pb.doc_id" &&
        // length gate: J ≥ 4/5 needs 5·min ≥ 4·max — inside the join
        // condition so incompatible pairs never leave the build
        lit(5) * least($"pa.n_w", $"pb.n_w") >=
          lit(4) * greatest($"pa.n_w", $"pb.n_w") &&
        // POSITIONAL filter (the PPJoin refinement): at the FIRST
        // token a τ-similar pair shares, overlap ≤ 1 + min(suffix
        // lengths past the match), so 9·(1 + min) ≥ 4·(na + nb) must
        // hold there. Applying it to EVERY instance is still lossless
        // for pair existence — the first-shared-token instance always
        // passes — while later instances (which contribute nothing
        // but duplicate verify walks) die here, before the exchange
        lit(9) * (lit(1) + least($"pa.n_w" - $"pa.rk",
                                 $"pb.n_w" - $"pb.rk")) >=
          lit(4) * ($"pa.n_w" + $"pb.n_w"))
      .select($"pa.doc_id".as("doc_a"), $"pb.doc_id".as("doc_b"))
      .distinct()

    // no candidate-id semi-join here (unlike the ngram path, where rare
    // grams prune docs): prefix_len = n − ceil(4n/5) + 1 ≥ 1 for every
    // non-empty doc, so EVERY doc is its own candidate and the verify
    // side is the whole (doc, sorted hash set) relation — exactly the
    // shared checkpoint `d` above, already materialized once at the
    // scan's own width (no second tokenize pass, no fixed coalesce)
    val candSets = d

    cand
      .join(candSets.as("ca"), $"doc_a" === $"ca.doc_id")
      .join(candSets.as("cb"), $"doc_b" === $"cb.doc_id")
      .select($"doc_a", $"doc_b",
        sortedInter($"ca.w_set", $"cb.w_set")
          .cast("long").as("n_inter"),
        ($"ca.n_w" + $"cb.n_w").as("n_sum"))
      .filter(lit(9) * $"n_inter" >= lit(4) * $"n_sum")
      .select($"doc_a", $"doc_b", $"n_inter",
        round($"n_inter".cast("double") / ($"n_sum" - $"n_inter"), 4)
          .as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** CONTAINMENT JOIN (excerpt detection) — the ASYMMETRIC twin of
    * [[jaccardPrefix]]: ordered pairs (a, b) where ≥ 90% of a's word
    * set appears in b's AND a is strictly smaller (|a| < |b|) — "a is
    * an excerpt of the larger b", the shape that catches quotes,
    * boilerplate reuse, and partial copies that symmetric Jaccard
    * misses (a 50-word quote inside a 5,000-word doc has Jaccard ≈ 1%
    * but containment ≈ 100%).
    *
    * The candidate filter is again a THEOREM, not a dial: overlap must
    * reach t = ceil(9·n_a/10), so a's first n_a − t + 1 tokens in
    * global rarity order must hit SOMETHING in b — but unlike the
    * Jaccard join there is no length gate to shrink b's side, so the
    * probe joins a's short rare-first prefix (≈ n_a/10 + 1 tokens)
    * against b's FULL token relation. That asymmetry is the documented
    * cost model: candidates = Σ_tok df_prefix(tok) · df_all(tok), kept
    * small exactly because prefixes are rare-first. All thresholds
    * integer ((9n+9) div 10; verify 10·I ≥ 9·n_a), so the naive
    * pairwise DuckDB oracle agrees bit-for-bit; the n_a < n_b gate and
    * the b-capacity gate (n_b ≥ t) sit INSIDE the join condition. */
  def containment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // shared word-set checkpoint — same single-materialization fix as
    // [[jaccardPrefix]] (one tokenize+hash pass at scan width feeds the
    // token ranking AND the verify sets; the fixed coalesce(4) verify
    // copy of r15 is gone — VERDICT r15 what's-wrong #1)
    val d = ckptHinted(hashedWordSets(s, dir),
      maxBroadcastRows = HeavyRowBroadcastCap)

    val (rankedCk, ranked) = ckptBoth(rankedTokens(d))
    // a-side: rare-first prefix of length n − ceil(9n/10) + 1
    val prefixes = ranked.filter($"rk" <= expr("n_w - (n_w * 9 + 9) div 10 + 1"))
    // PROBE side (b's FULL token relation) re-widened off the checkpoint,
    // hash-keyed on doc_id — same r17 single-task-stage fix as
    // [[jaccardPrefix]] (the checkpoint bakes in AQE's 1-partition
    // coalesce at small SFs; the candidate join + partial distinct, ~13 s
    // single-core at sf0.1, inherited it). Keying by the probe doc keeps
    // a pair's duplicate emissions in one map task so the partial
    // distinct kills them before the exchange; pass-through at scale.
    val probe = widenedBy(rankedCk, $"doc_id")

    val cand = prefixes.as("pa").join(probe.as("pb"),
        $"pa.w" === $"pb.w" && $"pa.doc_id" =!= $"pb.doc_id" &&
        // strict excerpt shape (which also guarantees b has room for
        // the required overlap: n_b > n_a ≥ ceil(9·n_a/10))
        $"pa.n_w" < $"pb.n_w" &&
        // POSITIONAL filter (the jaccardPrefix refinement, r16): both
        // docs rank tokens by the SAME global (df, w) order, so at the
        // FIRST token a containment-valid pair shares, every other
        // shared token sits past BOTH positions — overlap ≤ 1 +
        // min(suffix lengths), and 10·(1 + min) ≥ 9·n_a must hold
        // there. Applying it to EVERY instance stays lossless for pair
        // existence (the first-shared-token instance always passes);
        // later instances — duplicate (doc_a, doc_b) emissions the
        // distinct would drop anyway — die before the exchange
        lit(10) * (lit(1) + least($"pa.n_w" - $"pa.rk",
                                  $"pb.n_w" - $"pb.rk")) >=
          lit(9) * $"pa.n_w")
      .select($"pa.doc_id".as("doc_a"), $"pb.doc_id".as("doc_b"))
      .distinct()

    // the verify side IS the shared checkpoint (see jaccardPrefix)
    val candSets = d

    cand
      .join(candSets.as("ca"), $"doc_a" === $"ca.doc_id")
      .join(candSets.as("cb"), $"doc_b" === $"cb.doc_id")
      .select($"doc_a", $"doc_b",
        sortedInter($"ca.w_set", $"cb.w_set")
          .cast("long").as("n_inter"),
        $"ca.n_w".as("n_a"))
      .filter(lit(10) * $"n_inter" >= lit(9) * $"n_a")
      .select($"doc_a", $"doc_b", $"n_inter",
        round($"n_inter".cast("double") / $"n_a", 4).as("containment"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Surviving duplicated-gram starts: (doc_id, i) for every k-gram
    * window whose hash appears in ≥ 2 distinct documents — the shared
    * front of [[substringSpans]] (island merge) and [[substringScrub]]
    * (token removal). Steps 1–2 of [[substringSpans]]'s Scaladoc. */
  private def dupStarts(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val grams = widened(docs(s, dir)) // per-window h60 hashing must not run single-split
      .select($"doc_id", expr("filter(split(text, ' '), x -> length(x) > 0)").as("tk"))
      .filter(size($"tk") >= k)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, size(tk) - $k), " +
        s"i -> ${h60(s"array_join(slice(tk, i + 1, $k), ' ')")})"))
        .as(Seq("i", "g")))
    val dup = grams.groupBy($"g")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .filter($"mn" =!= $"mx").select($"g")
    grams.join(dup, Seq("g"))
      .select($"doc_id", $"i".cast("long").as("i"))
  }

  /** Span-level exact substring dedup — the "duplicated training spans"
    * shape: maximal WORD spans of length ≥ k whose every k-token window
    * appears in ≥ 2 DISTINCT documents (within-doc repeats alone do not
    * qualify — they are [[TextAnalysis.repetition]]'s job). Published
    * suffix-array formulations scan one giant concatenation; the
    * Spark-native plan is sliding k-grams with positions → gram-df gate →
    * per-doc gaps-and-islands merge of the surviving windows:
    *
    *  1. one narrow scan emits (doc_id, i, h60(gram)) — the shuffle
    *     carries an 8-byte gram hash, never gram text;
    *  2. one hash-shuffle keeps only cross-doc grams. "≥ 2 distinct
    *     docs" is tested as min(doc_id) ≠ max(doc_id) — exactly
    *     equivalent, but min/max partial-aggregate map-side in ONE
    *     exchange where countDistinct costs two (a (g, doc_id) distinct
    *     shuffle plus a re-shuffle on g). On a replica-heavy corpus the
    *     surviving relation is a small fraction of all grams;
    *  3. an equi-join restricts gram starts to the duplicated subset,
    *     then a per-doc window merges overlapping/adjacent windows
    *     [i, i+k-1] into maximal spans (new island iff the gap to the
    *     previous start exceeds k). The window partitions by doc_id
    *     over the SURVIVING starts only — per-doc state, never corpus-
    *     wide, so it parallelizes across documents at any scale.
    *
    * Output: one row per document that carries at least one duplicated
    * span — span count, duplicated-token total, longest span. All-long
    * columns, so the oracle hash has no float boundary to sit on. */
  def substringSpans(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"i")
    dupStarts(s, dir, k)
      .withColumn("brk", when(
        lag($"i", 1).over(w).isNull || $"i" - lag($"i", 1).over(w) > k, 1L)
        .otherwise(0L))
      .withColumn("island", sum($"brk").over(w))
      .groupBy($"doc_id", $"island")
      .agg(min($"i").as("s"), (max($"i") + lit(k - 1L)).as("e"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"e" - $"s" + 1L).as("dup_tokens"),
        max($"e" - $"s" + 1L).as("longest_span"))
      .orderBy($"doc_id")
  }

  /** The removal form of [[substringSpans]] — the treatment ExactSubstr-
    * style pipelines apply: every token covered by a cross-document
    * duplicated k-gram window is cut, and the document is re-joined from
    * the survivors. Returns EVERY document (untouched docs pass through
    * whole) so the output is a drop-in replacement corpus.
    *
    * The covered-token set is built by exploding each surviving start
    * into its k token indices and de-duplicating — k× rows of the
    * SURVIVING starts only (a small fraction of the corpus), never a
    * per-token range probe. Removal is then a pure equi LeftAnti on
    * (doc_id, idx) — no range join, no per-doc nested loop — and the
    * text is re-joined from an index-sorted struct array so the result
    * is deterministic under any partitioning. */
  def substringScrub(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val covered = dupStarts(s, dir, k)
      .select($"doc_id", explode(expr(s"sequence(i, i + ${k - 1})")).as("idx"))
      .distinct()
    val toks = docs(s, dir)
      .select($"doc_id", posexplode(
        expr("filter(split(text, ' '), x -> length(x) > 0)")).as(Seq("idx", "w")))
      .select($"doc_id", $"idx".cast("long").as("idx"), $"w")
    toks.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"idx", $"w"))).as("kept"))
      .select($"doc_id",
        expr("array_join(transform(kept, t -> t.w), ' ')").as("clean_text"),
        size($"kept").cast("long").as("n_kept"))
      .join(docs(s, dir).select($"doc_id",
        expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as bigint)")
          .as("n_tokens")), Seq("doc_id"), "right")
      .select($"doc_id",
        coalesce($"clean_text", lit("")).as("clean_text"),
        ($"n_tokens" - coalesce($"n_kept", lit(0L))).as("n_removed"))
      .orderBy($"doc_id")
  }

  /** SEGMENT-LEVEL EXACT DEDUP — RefinedWeb/C4-style repeated-line
    * removal: segment every document (a real corpus splits on newlines;
    * this corpus has none, so segments are fixed `chunk`-token windows —
    * the delimiter is a dial, the semantics are identical), drop every
    * segment whose exact text appears in ≥ 2 DISTINCT documents
    * (boilerplate: headers, navigation, license blocks), and reassemble
    * each document from its surviving segments in order.
    *
    * Differs from [[substringScrub]] on purpose: that operator removes
    * cross-doc k-gram SPANS at any alignment (training-span leakage);
    * this one removes whole aligned segments (boilerplate lines), which
    * is what the published web-corpus pipelines run first — and at a
    * fraction of the cost, since the unit relation is n_tokens/chunk
    * segments instead of every k-window.
    *
    * Plan shape: one narrow scan emits (doc_id, seg_i, h60(segment)) —
    * the df gate shuffles an 8-byte hash, never segment text; "≥ 2
    * distinct docs" is the one-exchange min≠max gate (the
    * [[substringSpans]] lesson); reassembly is a per-doc
    * array_sort(collect_list) over surviving segments — per-doc state
    * only. Docs whose every segment was boilerplate survive as empty
    * strings (the right-join), so the output is corpus-complete. */
  def lineDedup(s: SparkSession, dir: String, chunk: Int = 8): DataFrame = {
    import s.implicits._
    val segs = docs(s, dir)
      .select($"doc_id", expr("filter(split(text, ' '), x -> length(x) > 0)").as("tk"))
      .filter(size($"tk") > 0)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, (size(tk) - 1) div $chunk), " +
        s"i -> array_join(slice(tk, i * $chunk + 1, $chunk), ' '))"))
        .as(Seq("seg_i", "seg")))
      .select($"doc_id", $"seg_i".cast("long").as("seg_i"), $"seg",
        expr(h60("seg")).as("g"))
    val boiler = segs.groupBy($"g")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .filter($"mn" =!= $"mx").select($"g")
    segs.join(boiler, Seq("g"), "left_anti")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"seg_i", $"seg"))).as("kept"))
      .select($"doc_id",
        expr("array_join(transform(kept, t -> t.seg), ' ')").as("clean_text"),
        size($"kept").cast("long").as("n_kept"))
      .join(docs(s, dir).select($"doc_id",
        expr(s"cast((size(filter(split(text, ' '), x -> length(x) > 0)) + $chunk - 1) div $chunk as bigint)")
          .as("n_segs")), Seq("doc_id"), "right")
      .select($"doc_id",
        coalesce($"clean_text", lit("")).as("clean_text"),
        ($"n_segs" - coalesce($"n_kept", lit(0L))).as("n_removed"))
      .orderBy($"doc_id")
  }

  /** End-to-end corpus cleaning — the composition a training-data
    * pipeline actually runs: C4-style quality filter → exact dedup
    * (keep lowest doc_id per digest) → MinHash near-dup removal (drop the
    * higher id of every pair found among the survivors). Returns the
    * kept doc_id set. Every stage is one of the already-oracle-gated
    * operators; the composition itself is oracle-gated too. */
  def corpusClean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The quality pass (regexp-heavy) and the exact-dedup digest pass each
    // run ONCE; what survives them is carried forward as checkpointed
    // id-sets (8 bytes/doc — executor-local, nothing corpus-sized is ever
    // cached). Downstream consumers rebuild the text view with one plain
    // parquet scan + a semi-join against the id leaf.
    val keepIds = ckptHinted(TextAnalysis.quality(s, dir)
      .filter($"keep" === 1L).select($"doc_id"))
    val exactKeep = ckptHinted(docs(s, dir)
      .join(keepIds, Seq("doc_id"), "left_semi")
      .groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("doc_id")).select($"doc_id"))
    val base = docs(s, dir).join(exactKeep, Seq("doc_id"), "left_semi")
    val drop = minhashPairs(s, base)
      .select($"doc_b".as("doc_id")).distinct()
    // the survivor id-set IS exactKeep — no text scan needed for the tail
    exactKeep
      .join(drop, Seq("doc_id"), "left_anti")
      .orderBy($"doc_id")
  }


  /** ATTRITION-ACCOUNTED corpus funnel on the documents table — the
    * oracle-gated twin of the DICOM funnel composition
    * (`dicom_corpus_funnel`'s stage ORDER: normalize → exact dedup →
    * MinHash near-dup → quality), emitting one row PER DOCUMENT with
    * its stage outcomes rather than the survivor set. [[corpusClean]]
    * gates the survivor-set composition in its quality-first order;
    * this entry hash-gates the funnel's attrition FORM — per-doc
    * flags, first-doc-per-normalized-hash canonical rule, the
    * drop-the-later-doc near-dup rule over exact survivors, quality on
    * the normalized text — so the binary-sourced dicom funnel entries
    * inherit oracle-certified semantics for the exact composition they
    * run, not just for each stage in isolation. Stage expressions are
    * shared verbatim: `text_normalize`'s canonical form,
    * [[minhashPairs]], `text_quality`'s keep rule. */
  def corpusFunnelAccounting(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = trim(regexp_replace(lower($"text"), " +", " "))
    val keyed = docs(s, dir)
      .select($"doc_id", norm.as("text"), md5(norm).as("norm_md5"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"norm_md5").orderBy($"doc_id")
    val deduped = keyed
      .withColumn("is_dup", (row_number().over(w) > 1).cast("long"))
    val ndDrop = minhashPairs(s,
        deduped.filter($"is_dup" === 0).select($"doc_id", $"text"))
      .select($"doc_b".as("doc_id")).distinct()
      .withColumn("nd_hit", lit(1L))
    deduped
      .join(ndDrop, Seq("doc_id"), "left")
      .withColumn("is_neardup",
        when($"is_dup" === 0 && $"nd_hit" === 1L, 1L).otherwise(0L))
      // text is already normalized (lowercase, single spaces) — the
      // token list equals text_quality's split(lower(text)) tokens;
      // char-ratio denominators use the normalized length consistently
      // on both engines
      .withColumn("tk", expr("filter(split(text, ' '), x -> length(x) > 0)"))
      // degenerate-doc guard (ADVICE r13): a zero-token or empty-text doc
      // must yield NULL ratios on BOTH engines — unguarded, Spark emits
      // NaN/Infinity where DuckDB emits NULL, a latent cross-engine hash
      // mismatch (the oracle SQL carries the matching nullif())
      .select(
        $"doc_id", $"norm_md5", $"is_dup", $"is_neardup",
        size($"tk").cast("long").as("n_tokens"),
        when(size($"tk") === 0, lit(null))
          .otherwise(round(
            expr("aggregate(tk, cast(0 as double), (s, x) -> s + length(x)) / size(tk)"), 4))
          .as("mean_tok_len"),
        when(length($"text") === 0, lit(null))
          .otherwise(round(
            size(regexp_extract_all($"text", lit("[.!?,;:]"), lit(0))).cast("double") /
              length($"text"), 4))
          .as("punct_ratio"))
      .withColumn("quality_keep",
        when($"n_tokens" >= 10 && $"mean_tok_len" >= 2.0 &&
          $"mean_tok_len" <= 15.0 && $"punct_ratio" <= 0.2, 1L).otherwise(0L))
      .withColumn("curated",
        (($"is_dup" === 0) && ($"is_neardup" === 0) &&
          ($"quality_keep" === 1)).cast("long"))
      .orderBy($"doc_id")
  }

  /** DAY-2 ATTRITION ACCOUNTING — the incremental twin of
    * [[corpusFunnelAccounting]], ORACLE-hash-gating the batch-vs-index
    * funnel composition the DICOM delta twins run
    * (`dicom_corpus_funnel_delta*`): standing = doc_id % 10 != 7,
    * delta = the % 10 == 7 batch (the `dedup_incremental` convention).
    * Exact dedup is the incremental rule (a delta doc dups if its
    * normalized hash exists in the standing relation — broadcast,
    * hashes never text — or an earlier delta doc claimed it today);
    * near-dup pairs come from [[incrementalPairs]] (delta bands probe
    * the standing band relation under the bloom prune, the standing
    * corpus is never re-paired with itself) with the arrival-ordered
    * drop rule (a standing partner always wins; within-delta the lower
    * doc_id wins); quality is the shared per-row tail. The DuckDB
    * oracle states the LAW the DicomPipelineSpec pins for the binary
    * twins — the FULL arrival-ordered accounting restricted to the
    * delta docs — so incremental ≡ recompute is certified cross-engine
    * by one hash, not just Spark-vs-Spark. One row per DELTA doc. */
  def corpusFunnelAccountingDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = trim(regexp_replace(lower($"text"), " +", " "))
    val keyed = docs(s, dir)
      .select($"doc_id", norm.as("text"), md5(norm).as("norm_md5"))
    val isDelta = pmod($"doc_id", lit(10)) === lit(7)
    val standing = keyed.filter(!isDelta)
    val delta = keyed.filter(isDelta)
    val seenHashes = standing.select($"norm_md5").distinct()
      .withColumn("seen", lit(1L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"norm_md5").orderBy($"doc_id")
    val deduped = delta
      .join(broadcast(seenHashes), Seq("norm_md5"), "left")
      .withColumn("is_dup",
        when($"seen" === 1L || row_number().over(w) > 1, 1L).otherwise(0L))
      .drop("seen")
    val standingCanon = standing
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"doc_id", $"text")
    // arrival-ordered drop: cross pairs drop the DELTA end regardless of
    // numeric id order; within-delta pairs drop the numerically later
    // (ids share arrival, so numeric order IS the tuple order)
    val ndDrop = incrementalPairs(s, standingCanon,
        deduped.filter($"is_dup" === 0).select($"doc_id", $"text"))
      .select(
        when(pmod($"doc_a", lit(10)) === 7 && pmod($"doc_b", lit(10)) === 7, $"doc_b")
          .when(pmod($"doc_a", lit(10)) === 7, $"doc_a")
          .otherwise($"doc_b").as("doc_id"))
      .distinct()
      .withColumn("nd_hit", lit(1L))
    deduped
      .join(ndDrop, Seq("doc_id"), "left")
      .withColumn("is_neardup",
        when($"is_dup" === 0 && $"nd_hit" === 1L, 1L).otherwise(0L))
      .withColumn("tk", expr("filter(split(text, ' '), x -> length(x) > 0)"))
      .select(
        $"doc_id", $"norm_md5", $"is_dup", $"is_neardup",
        size($"tk").cast("long").as("n_tokens"),
        when(size($"tk") === 0, lit(null))
          .otherwise(round(
            expr("aggregate(tk, cast(0 as double), (s, x) -> s + length(x)) / size(tk)"), 4))
          .as("mean_tok_len"),
        when(length($"text") === 0, lit(null))
          .otherwise(round(
            size(regexp_extract_all($"text", lit("[.!?,;:]"), lit(0))).cast("double") /
              length($"text"), 4))
          .as("punct_ratio"))
      .withColumn("quality_keep",
        when($"n_tokens" >= 10 && $"mean_tok_len" >= 2.0 &&
          $"mean_tok_len" <= 15.0 && $"punct_ratio" <= 0.2, 1L).otherwise(0L))
      .withColumn("curated",
        (($"is_dup" === 0) && ($"is_neardup" === 0) &&
          ($"quality_keep" === 1)).cast("long"))
      .orderBy($"doc_id")
  }

  /** Row ceiling for the exact O(n²) cosine path. Configurable via
    * `spark.graft.dedup.exactCosineMaxRows`; past it [[embedCosine]] fails
    * fast and names the LSH scale path, so the cartesian baseline can't be
    * pointed at a 100 TB corpus by accident. */
  private[operators] def exactCosineMaxRows(s: SparkSession): Long =
    s.conf.get("spark.graft.dedup.exactCosineMaxRows", "1000000").toLong

  /** Embedding cosine near-duplicates — exact O(n²) baseline form.
    * Norms are precomputed once per side; the dot product is the native
    * codegen'd [[graft.functions.DotProduct]] — the same left-to-right
    * double summation as DuckDB's sequential list_dot_product (bit-
    * identical results; 74 s → ~2 s at sf0.1 vs the interpreted HOF).
    *
    * Guarded: refuses inputs above [[exactCosineMaxRows]] (the count is a
    * Spark job over an empty projection — footer-cheap for parquet, but
    * still a job). [[Similarity.embedLshNearDup]] is the unguarded scale
    * path (Σ n_b² bucketed join, never all-pairs). */
  def embedCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = s.read.parquet(s"$dir/embeddings.parquet")
    val n = src.count()
    val cap = exactCosineMaxRows(s)
    require(n <= cap,
      s"Dedup.embedCosine is the exact O(n^2) baseline and got $n rows " +
      s"(cap $cap, spark.graft.dedup.exactCosineMaxRows). " +
      "Use Similarity.embedLshNearDup for the bucketed scale path.")
    val e = src
      .select($"vec_id", $"embedding",
        sqrt(dot($"embedding", $"embedding")).as("nrm"))
    e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        round(dot($"a.embedding", $"b.embedding") / ($"a.nrm" * $"b.nrm"), 4).as("cos_sim"))
      .filter($"cos_sim" >= 0.45)
      .orderBy($"vec_a", $"vec_b")
  }

  /** EDIT-DISTANCE SIMILARITY JOIN (entity-resolution shape): every
    * customer-name pair within Levenshtein distance ≤ 1, found WITHOUT
    * the naive |n|² comparison via symmetric-delete signatures (the
    * SymSpell family): sig(x) = {x} ∪ {x with one character deleted}.
    * For k = 1 the filter is a PROVEN superset — any single edit between
    * a and b is witnessed by a shared signature (substitution at i:
    * both sides delete position i; insert/delete: the shorter string IS
    * a deletion of the longer; equality: the identity signature) — so,
    * like [[jaccardPrefix]], there is no recall dial: sharing a
    * signature is necessary, exact `levenshtein` (codegen'd on Spark,
    * built-in on DuckDB, same integer DP) is sufficient.
    *
    * Scale shapes: |x|+1 signatures per string (bounded by name length,
    * NOT corpus size) carried as 60-bit hashes ([[h60]] — collisions
    * only add candidates, the exact verify removes them); candidates =
    * Σ_sig df² where a signature's df counts only strings within one
    * edit of each other — the join is OUTPUT-bound, never |n|²-bound.
    * The one corpus exchange is the signature self-join; the pair
    * distinct and the verify run on candidate ids only. k = 2 would
    * square the signature count per string (the documented dial);
    * prefix-partition families (PassJoin) are the published route past
    * that. */
  /** {x} ∪ one-char deletions, de-duplicated per string (a run of equal
    * characters yields equal deletion strings) — THE symmetric-delete
    * signature set, shared with [[graft.queries.StreamQueries]]'
    * streaming filter (and mirrored by both DuckDB oracles) so the
    * batch join, the online filter and their gates can never compute
    * different signatures. */
  private[graft] def deletionSigExpr(col: String): String =
    s"array_distinct(concat(array($col), " +
    s"transform(sequence(1, length($col)), " +
    s"i -> concat(substring($col, 1, i - 1), substring($col, i + 1)))))"

  def editJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = s.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey".as("id"), $"c_name".as("nm"))

    // signatures carried as 8 B hashes (collisions only add candidates)
    val sigs = ckptHinted(
      c.select($"id", explode(expr(deletionSigExpr("nm"))).as("sig"))
        .select($"id", expr(h60("sig")).as("sg")))

    val cand = sigs.as("a").join(sigs.as("b"),
        $"a.sg" === $"b.sg" && $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
      .distinct()

    val names = ckptHinted(c)
    cand
      .join(names.as("na"), $"id_a" === $"na.id")
      .join(names.as("nb"), $"id_b" === $"nb.id")
      .select($"id_a", $"id_b",
        levenshtein($"na.nm", $"nb.nm").cast("long").as("dist"))
      .filter($"dist" <= 1)
      .orderBy($"id_a", $"id_b")
  }

  /** CANONICAL SELECTION — the step that turns a duplicate-component
    * labeling into a curated corpus: every document gets its transitive
    * component (singletons label themselves) and a keep flag marking
    * the component's canonical representative, chosen by
    * (n_chars DESC, doc_id ASC) — "longest wins, ties to the oldest id"
    * — a deterministic rule over base columns, so the whole output
    * hash-gates. The labeling comes from the per-process persisted
    * store ([[componentsFromStore]]) — the closure is computed once per
    * corpus version and shared by its consumers, so this operator's own
    * cost is one window shuffle keyed by component; component sizes are
    * dup-cluster sizes (bounded by the near-dup geometry, not the
    * corpus), so no key can skew the window at 100 TB. The left join
    * keeps the corpus side streaming — the component labeling is
    * pair-derived and tiny relative to the corpus. */
  def canonical(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val comp = componentsFromStore(s, dir).select($"doc_id", $"component")
    docs(s, dir).select($"doc_id", $"n_chars")
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce($"component", $"doc_id"))
      .withColumn("keep",
        when(row_number().over(
          Window.partitionBy($"component")
            .orderBy($"n_chars".desc, $"doc_id")) === 1, 1L).otherwise(0L))
      .select($"doc_id", $"component", $"keep")
      .orderBy($"doc_id")
  }

  /** DAY-2 SOURCE OVERLAP — the mergeability proof for the signature
    * path of [[sourceOverlap]]: a MinHash slot is a MIN, so yesterday's
    * per-source signatures fold with a fresh batch's via `least()` —
    * day-2 cost is the BATCH's shingle pass plus an 8-column merge over
    * source-count rows, never a corpus re-shingle. The estimate from
    * merged signatures must equal the full-recompute estimate exactly
    * (min is associative — the gate is the same `est` SQL the full
    * operator uses), which is precisely the property that lets a 100 TB
    * deployment keep source signatures as a standing 8-slots-per-source
    * table updated per append. The batch split (doc_id ≡ 7 mod 10) is
    * the incremental family's shared convention. */
  def sourceOverlapIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = docs(s, dir)
    val isBatch = pmod($"doc_id", lit(10)) === lit(7)
    val day1 = sourceSignatures(s, all.filter(!isBatch))
    val batch = sourceSignatures(s, all.filter(isBatch))
    val mergeCols = (0 to 7).map { p =>
      least(coalesce(col(s"d.mh$p"), col(s"b.mh$p")),
            coalesce(col(s"b.mh$p"), col(s"d.mh$p"))).as(s"mh$p")
    }
    val merged = day1.as("d").join(batch.as("b"),
        $"d.source" === $"b.source", "full_outer")
      .select(coalesce($"d.source", $"b.source").as("source") +: mergeCols: _*)
    val right = merged.columns.foldLeft(merged)((df, c) => df.withColumnRenamed(c, c + "_b"))
    merged.join(broadcast(right), $"source" < $"source_b")
      .select($"source".as("src_a"), $"source_b".as("src_b"),
        round((0 to 7).map(p =>
            when(col(s"mh$p") === col(s"mh${p}_b"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / 8.0, 4).as("est_jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  /** Per-source 8-slot MinHash signatures over an arbitrary
    * (source, text) frame — the mergeable unit [[sourceOverlap]] and
    * [[sourceOverlapIncremental]] share. */
  private def sourceSignatures(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    val sh = d
      .select($"source", expr("filter(split(text, ' '), x -> length(x) > 0)").as("tk"))
      .filter(size($"tk") >= 3)
      .select($"source", explode(expr(
        "transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
        .as("shingle"))
    val mhAggs = (0 to 7).map { p =>
      val h = md5(concat(lit(s"${p / 4}|"), $"shingle"))
      min(substring(h, p % 4 * 8 + 1, 8)).as(s"mh$p")
    }
    sh.groupBy($"source").agg(mhAggs.head, mhAggs.tail: _*)
  }

  /** SOFT DEDUP — down-weighting instead of dropping: each member of an
    * m-doc duplicate component survives with probability 1/m via the
    * deterministic md5 ladder (bucket < 2⁶⁰ div m — integer division on
    * both engines, no float boundary), so a component contributes ONE
    * expected copy while every member keeps a nonzero chance of being
    * the surviving one. This is the curriculum-friendly alternative to
    * [[canonical]]'s hard argmax: hard dedup always keeps the same
    * representative (systematic bias toward long docs); soft dedup
    * preserves within-cluster diversity across dataset versions and
    * composes with epoch resampling (different seeds ⇒ swap the hash
    * salt). Deterministic per doc ⇒ hash-gated end to end. Cost is ONE
    * window exchange keyed by component (the group-size count —
    * dup-cluster-bounded keys like [[canonical]], no corpus-scale skew)
    * past the shared persisted labeling ([[componentsFromStore]]); the
    * keep ladder is integer-only (bucket < 2⁶⁰ div m — no float
    * boundary to disagree on). */
  def softDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    docs(s, dir).select($"doc_id")
      .join(componentsFromStore(s, dir).select($"doc_id", $"component"),
        Seq("doc_id"), "left")
      .withColumn("component", coalesce($"component", $"doc_id"))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy($"component")).cast("long"))
      .select($"doc_id", $"component", $"group_size",
        when(expr(h60("cast(doc_id as string)")) <
          expr(s"${1L << 60}L div group_size"), 1L).otherwise(0L).as("keep"))
      .orderBy($"doc_id")
  }

  /** CONTENT-DEFINED CHUNKING — the storage-dedup chunker (FastCDC /
    * rsync lineage): a chunk boundary falls wherever the 8-char gram
    * ending at that position hashes into the gate (md5 leading byte
    * '00' — an 8-bit gate, ~256-char expected chunks), so boundaries
    * are a function of LOCAL content only. That is the property that
    * matters: an insertion re-chunks the one chunk it lands in and
    * every other chunk hash — and therefore every dedup match — is
    * untouched, which fixed-offset blocking cannot do (pinned on a
    * crafted edit in CdcChunkSpec). Per-doc work is array-expression
    * only (boundary list via filter(sequence), chunks via
    * arrays_zip + posexplode — no per-character row explosion), and
    * the ONLY exchange is the chunk-hash window that annotates each
    * chunk with its corpus-wide occurrence count: cost tracks chunk
    * rows (~n/256), never pairs. The gate width is the dial — each
    * extra gate bit doubles expected chunk size and halves the chunk
    * relation. The portable md5-gram gate stands in for the gear/Rabin
    * rolling hash of native chunkers; same boundary-locality contract,
    * engine-replayable. */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunksOf(s, docs(s, dir))

  private[graft] def cdcChunksOf(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    d.select($"doc_id", $"text", length($"text").as("n"))
      // guard: Spark's sequence(8, n-1) runs DESCENDING when n-1 < 8
      .withColumn("bnd",
        when($"n" >= 9, expr(
          "filter(sequence(8, n - 1), i -> substring(md5(substring(text, i - 7, 8)), 1, 2) = '00')"))
          .otherwise(expr("cast(array() as array<int>)")))
      .withColumn("starts", concat(array(lit(0)), $"bnd"))
      .withColumn("ends", concat($"bnd", array($"n")))
      .select($"doc_id", $"text",
        posexplode(arrays_zip($"starts", $"ends")).as(Seq("k", "se")))
      .select($"doc_id",
        $"k".cast("long").as("chunk_id"),
        $"se.starts".cast("long").as("start_pos"),
        ($"se.ends" - $"se.starts").cast("long").as("chunk_len"),
        md5(expr("substring(text, se.starts + 1, se.ends - se.starts)")).as("chunk_hash"))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy($"chunk_hash")).cast("long"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** CORPUS-LEVEL OVERLAP between sources — the "which crawls dumped
    * the same sites" audit: each source's document set is collapsed to
    * its union shingle set, and every source pair gets (a) the 8-slot
    * MinHash Jaccard ESTIMATE (the same permutation family as the
    * doc-level dedup — min over the union is min over per-doc mins, so
    * a source signature is one extra agg over machinery that already
    * exists) and (b) the EXACT distinct-shingle Jaccard. The estimate
    * is the 100 TB path: 8 short strings per source, source-pair
    * comparison is |sources|² over a broadcast — free. The exact path
    * shuffles the distinct (source, shingle) relation once and joins
    * on `shingle`, so cost tracks SHARED shingle mass, never
    * |sources|² × corpus; it's the on-demand drill-down when the
    * estimate flags a pair. Sources are a handful-to-thousands
    * cardinality in practice, so the pair relation itself never
    * matters. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = docs(s, dir)
      .select($"source", expr("filter(split(text, ' '), x -> length(x) > 0)").as("tk"))
      .filter(size($"tk") >= 3)
      .select($"source", explode(expr(
        "transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
        .as("shingle"))
    // one (source, shingle) exchange feeds BOTH the signature agg and the
    // exact-intersection join
    val shd = tracked(sh.distinct())
    val mhAggs = (0 to 7).map { p =>
      val h = md5(concat(lit(s"${p / 4}|"), $"shingle"))
      min(substring(h, p % 4 * 8 + 1, 8)).as(s"mh$p")
    }
    val sig = shd.groupBy($"source").agg(mhAggs.head, mhAggs.tail: _*)
    val sigB = sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, c + "_b"))
    val est = sig.join(broadcast(sigB), $"source" < $"source_b")
      .select($"source".as("src_a"), $"source_b".as("src_b"),
        round((0 to 7).map(p =>
            when(col(s"mh$p") === col(s"mh${p}_b"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / 8.0, 4).as("est_jaccard"))
    val cnt = shd.groupBy($"source").agg(count(lit(1)).as("n_sh"))
    val inter = shd.as("x").join(shd.as("y"),
        $"x.shingle" === $"y.shingle" && $"x.source" < $"y.source")
      .groupBy($"x.source".as("src_a"), $"y.source".as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    est
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(broadcast(cnt.toDF("src_a", "n_a")), "src_a")
      .join(broadcast(cnt.toDF("src_b", "n_b")), "src_b")
      .select($"src_a", $"src_b", $"est_jaccard",
        round(coalesce($"n_inter", lit(0L)).cast("double") /
          ($"n_a" + $"n_b" - coalesce($"n_inter", lit(0L))), 4).as("jaccard"))
      .orderBy($"src_a", $"src_b")
  }
}
