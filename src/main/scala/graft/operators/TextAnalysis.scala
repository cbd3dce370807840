package graft.operators

import graft.functions.GraftFunctions.{dot, gramMinMd5}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline extension:
  * language ID (stopword-hit heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting (min-hash of
  * rolling character grams).
  *
  * Everything is a single narrow pass over `documents` (no shuffle except
  * the final deterministic ORDER BY, which exists only for oracle
  * stability) — at 100 TB these are embarrassingly parallel scans.
  * Regexes use only character classes whose semantics agree between Java
  * regex (Spark) and RE2-ish engines (DuckDB).
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private val En = Seq("the", "and", "of", "to", "in", "a", "is")
  private val Es = Seq("el", "la", "de", "que", "y", "en", "un")
  private val De = Seq("der", "die", "und", "ist", "das", "nicht", "ein")

  private def hitCount(words: Seq[String]): org.apache.spark.sql.Column = {
    val list = words.map(w => s"'$w'").mkString(", ")
    expr(s"cast(size(filter(tk, x -> x in ($list))) as bigint)")
  }

  /** Language ID: argmax of stopword hits across EN/ES/DE lists, ties
    * broken in EN > ES > DE order (>=); 'und' (undetermined) when no list
    * hits at all. */
  def langid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"))
      .select($"doc_id",
        hitCount(En).as("n_en"), hitCount(Es).as("n_es"), hitCount(De).as("n_de"))
      .select($"doc_id", $"n_en", $"n_es", $"n_de",
        when($"n_en" + $"n_es" + $"n_de" === 0, "und")
          .when($"n_en" >= $"n_es" && $"n_en" >= $"n_de", "en")
          .when($"n_es" >= $"n_de", "es")
          .otherwise("de").as("pred_lang"))
      .orderBy($"doc_id")
  }

  /** Quality scoring: length, token stats, punctuation / alpha / stopword
    * ratios, plus a composite keep/drop heuristic (the C4-style filter
    * shape: enough tokens, sane mean token length, low punctuation). */
  def quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val enList = En.map(w => s"'$w'").mkString(", ")
    docs(s, dir)
      .select($"doc_id", $"text",
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"))
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars"),
        size($"tk").cast("long").as("n_tokens"),
        round(expr("aggregate(tk, cast(0 as double), (s, x) -> s + length(x)) / size(tk)"), 4).as("mean_tok_len"),
        round(size(regexp_extract_all($"text", lit("[.!?,;:]"), lit(0))).cast("double") /
          length($"text"), 4).as("punct_ratio"),
        round(size(regexp_extract_all($"text", lit("[a-zA-Z]"), lit(0))).cast("double") /
          length($"text"), 4).as("alpha_ratio"),
        round(expr(s"cast(size(filter(tk, x -> x in ($enList))) as double) / size(tk)"), 4).as("stopword_ratio"))
      .withColumn("keep",
        when($"n_tokens" >= 10 && $"mean_tok_len" >= 2.0 && $"mean_tok_len" <= 15.0 &&
             $"punct_ratio" <= 0.2, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** Token counting: whitespace tokens and a BPE-ish regex token stream
    * (letter runs / digit runs / single non-alphanumeric marks). */
  def tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(
        $"doc_id",
        expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as bigint)").as("n_ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        (length($"text") - length(regexp_replace($"text", lit(" "), lit(""))) + 1)
          .cast("long").as("n_fields"))
      .orderBy($"doc_id")
  }

  /** PII scrubbing: redact email addresses and long digit runs (id/phone
    * shaped) with typed placeholder tokens — the pre-training privacy
    * pass. Patterns use only character classes, so Java regex (Spark)
    * and RE2 (DuckDB, with the 'g' flag) agree. Emits the redaction
    * counts and the md5 of the scrubbed text (small, hashable) — the
    * scrubbed corpus itself would be written, not returned. One narrow
    * scan. */
  def scrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val longNum = "[0-9]{6,}"
    docs(s, dir)
      .select($"doc_id",
        size(regexp_extract_all($"text", lit(email), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all($"text", lit(longNum), lit(0))).cast("long").as("n_long_nums"),
        md5(regexp_replace(regexp_replace($"text", email, "<EMAIL>"),
          longNum, "<NUM>")).as("scrubbed_md5"))
      .orderBy($"doc_id")
  }

  /** Text normalization: lowercase, collapse whitespace runs, trim — the
    * canonical form exact-dedup and fingerprinting should run on. Emits
    * the md5 of the normalized text plus whether normalization changed
    * anything. One narrow scan. */
  def normalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = trim(regexp_replace(lower($"text"), " +", " "))
    docs(s, dir)
      .select($"doc_id",
        md5(norm).as("norm_md5"),
        (norm =!= $"text").cast("long").as("changed"),
        length(norm).cast("long").as("n_chars_norm"))
      .orderBy($"doc_id")
  }

  /** Repetition filtering (the Gopher-rules shape): documents whose text
    * is dominated by repeated words or repeated word bigrams are
    * low-quality for training and get dropped. Signals:
    *   - `dup_word_frac`     = 1 − distinct/total words (computed with
    *     array-local ops — no shuffle);
    *   - `top_bigram_frac`   = occurrences of the single most frequent
    *     word bigram / total bigrams;
    *   - `dup_bigram_frac`   = 1 − distinct/total bigrams;
    *   - `keep` — both repetition fractions under the Gopher-ish
    *     thresholds (dup words ≤ 0.40, top bigram ≤ 0.20).
    *
    * Scale shape: token stats are per-row array ops (narrow); bigram
    * stats go through two partial-aggregated shuffles — (doc, gram)
    * counts, then the per-doc rollup — each carrying at most one row per
    * distinct gram per doc (counts combine map-side, so the raw gram
    * stream never crosses the wire). */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tokens = docs(s, dir)
      .select($"doc_id",
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"))
      .select($"doc_id",
        size($"tk").cast("long").as("n_tokens"),
        size(array_distinct($"tk")).cast("long").as("n_distinct"),
        // element_at is 1-based; guard the <2-token case because
        // sequence(1, 0) counts DOWN ([1,0]) instead of being empty.
        when(size($"tk") >= 2,
          expr("transform(sequence(1, size(tk) - 1), i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
          .otherwise(expr("array()")).as("bg"))
    val bigramStats = tokens
      .select($"doc_id", $"n_tokens", $"n_distinct", explode_outer($"bg").as("g"))
      .groupBy($"doc_id", $"n_tokens", $"n_distinct", $"g")
      .agg(count($"g").as("c"))
      .groupBy($"doc_id", $"n_tokens", $"n_distinct")
      .agg(max($"c").as("top_c"), sum($"c").as("n_bg"),
        sum(when($"c" > 0, 1L).otherwise(0L)).as("n_distinct_bg"))
    // 0-bigram docs (< 2 tokens) and 0-token docs are DEFINED, not
    // dropped and not null: nothing is repeated, so every fraction is
    // 0.0 and the doc keeps. The DuckDB oracle LEFT JOINs its bigram
    // aggregate back to all docs with the same explicit cases — without
    // this, unnest-on-empty silently dropped the doc there while
    // explode_outer kept a null-frac row here.
    bigramStats
      .select($"doc_id", $"n_tokens",
        when($"n_tokens" > 0,
          round(lit(1.0) - $"n_distinct".cast("double") / $"n_tokens", 4))
          .otherwise(lit(0.0)).as("dup_word_frac"),
        when($"n_bg" > 0, round($"top_c".cast("double") / $"n_bg", 4))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when($"n_bg" > 0,
          round(lit(1.0) - $"n_distinct_bg".cast("double") / $"n_bg", 4))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
      .withColumn("keep",
        when($"dup_word_frac" <= 0.40 && $"top_bigram_frac" <= 0.20, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** Lowercased whitespace tokens, one row per token INSTANCE — the
    * shared front of the corpus-statistics operators below. */
  private def tokenInstances(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select($"doc_id",
      explode(expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
  }

  /** Per-document top-3 tf-idf terms — the keyword-extraction pass a
    * corpus profiler runs. tf = in-doc occurrences, df = documents
    * containing the term, score = tf · ln(N/df).
    *
    * Ranking is by the INTEGER triple (tf desc, df asc, term asc), not
    * by the double score: tf·ln(N/df) is monotone in tf and 1/df, so
    * the ordering agrees wherever the score distinguishes pairs, and
    * where scores tie (or differ only past the 52nd bit) the integer
    * ordering is engine-stable — a double-ordered rank could flip
    * between Spark's and the oracle's libm at the ulp level. The score
    * itself is still emitted (rounded) for the user.
    *
    * Scale shape: two partial-aggregated shuffles (doc×term counts,
    * then term df) + one equi-join on term + a per-doc window over at
    * most |distinct terms in doc| rows. N is one footer-cheap count. */
  def tfidfTopK(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    val nDocs = docs(s, dir).count()
    val tf = tokenInstances(s, dir)
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tf".desc, $"df".asc, $"word".asc)
    tf.join(df, Seq("word"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"doc_id", $"rank", $"word".as("term"), $"tf", $"df",
        round($"tf" * log(lit(nDocs.toDouble) / $"df"), 4).as("tfidf"))
      .orderBy($"doc_id", $"rank")
  }

  /** EXACT corpus-wide top-k frequent words via the two-pass
    * sketch-then-recount pattern — the only exact heavy-hitters shape
    * that works at 100 TB, where a full `GROUP BY word` would shuffle
    * every token and a one-pass sketch alone (q34's CMS) is only
    * approximate.
    *
    * Pass 1: a [[graft.functions.MisraGries]] summary (bounded O(m)
    * state, map-side partial merge — the token stream never shuffles,
    * only ≤ m-entry partials do). Its candidate set provably contains
    * every word with true count > err. Pass 2: exact recount of the
    * ≤ m candidates only (broadcast semi-join gate on the token stream,
    * then a candidate-sized aggregation). The CERTIFICATE makes the
    * result exact rather than probably-right: the k-th recounted count
    * must strictly exceed the summary's err, so no absent word (true
    * count ≤ err) can reach the top k. Fails loudly with the measured
    * err if m was too small for the corpus — raise m, never silently
    * emit an approximation labeled exact. Oracle: plain DuckDB
    * top-k-by-count, hash-compared. */
  def heavyHitters(s: SparkSession, dir: String, k: Int = 20,
                   m: Int = 4096): DataFrame = {
    import s.implicits._
    val mg = udaf(new graft.functions.MisraGries(m))
    val tok = docs(s, dir).select(
      expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"))
    val sm = tok.agg(mg($"tk").as("s")).select($"s.words", $"s.err")
      .as[(Array[String], Long)].head()
    val (candidates, err) = sm
    // tracked like the dedup intermediates: released deterministically
    // by Dedup.unpersistIntermediates in per-query finally blocks, so a
    // long-lived session composing operators never accumulates orphans
    val exact = Dedup.tracked(tokenInstances(s, dir)
      .join(broadcast(candidates.toSeq.toDF("word")), Seq("word"), "left_semi")
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word")
      .limit(k))
    // empty corpus: no tokens were ever summarized (err 0, no
    // candidates) — the exact top-k of nothing is nothing
    if (candidates.isEmpty && err == 0L) return exact
    val kthRow = exact.agg(min($"n")).head()
    val kth = if (kthRow.isNullAt(0)) 0L else kthRow.getLong(0)
    // two ways an unlisted word (true count ≤ err) could sneak into the
    // top k: displace a listed row (impossible once kth > err), or fill
    // an EMPTY slot when fewer than k candidates survived — which only
    // err == 0 (nothing was ever trimmed, the summary is the full exact
    // vocabulary) rules out
    require((exact.count() == k || err == 0L) && kth > err,
      s"heavy-hitters certificate failed: k-th count $kth vs summary err $err — " +
        s"raise the Misra-Gries budget m (=$m) above the corpus's heavy tail")
    exact
  }

  /** Per-document mean unigram surprisal under the corpus's OWN unigram
    * LM — the perplexity-proxy quality filter (CCNet shape) without an
    * external model: p(w) = c(w)/T over the whole corpus, score =
    * mean over token instances of −ln p(w). Low scores flag boilerplate
    * built from the corpus's most common words; high scores flag noise.
    *
    * Scale shape: one shuffle for corpus term counts, one equi-join of
    * the token stream against them (both partial-aggregated / spillable
    * at any corpus size), one per-doc rollup. The corpus total rides a
    * one-row broadcast — never a driver-side constant fold of data. */
  def unigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = tokenInstances(s, dir)
    val cnt = tok.groupBy($"word").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum($"c").cast("double").as("t"))
    tok.join(cnt, Seq("word"))
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log($"t" / $"c")), 4).as("surprisal"))
      .orderBy($"doc_id")
  }

  /** Document fingerprint: minimum md5 over rolling character 8-grams
    * (winnowing-style min-sampling). Equal fingerprints ⇒ high overlap
    * candidates. Runs as ONE narrow codegen'd pass via the native
    * [[graft.functions.GramMinMd5]] expression — no explode (1.45M rows
    * at sf0.1), no shuffle, no per-gram hex strings (raw digests compare
    * unsigned; hex only for the winner). 2.9 s → ~0.9 s at sf0.1. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter(length($"text") >= 8)
      .select($"doc_id",
        gramMinMd5($"text", lit(8)).as("fingerprint"),
        (length($"text") - lit(7)).cast("long").as("n_grams"))
      .orderBy($"doc_id")
  }

  /** INVERTED INDEX build: word → document frequency, total term
    * frequency, and a BOUNDED posting list (the first `cap` doc ids in
    * id order, comma-joined) — the retrieval-side artifact a corpus
    * search / contamination-lookup service is built on.
    *
    * The posting-list bound is the scale contract: a stopword's full
    * posting list is corpus-sized, so an uncapped `collect_list` per
    * word is an executor OOM waiting for the first "the". Instead the
    * per-word doc ids pass through a row_number window capped at `cap`
    * — Spark's WindowGroupLimit rule prunes to ≤ cap rows per word
    * map-side, BEFORE the exchange, so the posting shuffle carries at
    * most cap × vocab rows no matter how skewed the corpus. df/tf come
    * from a separate partial-aggregated branch that never materializes
    * a list at all. Two word-keyed shuffles + one vocab-sized join. */
  def invertedIndex(s: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // tracked-cache the doc-term relation: both consumers (stats,
    // postings) otherwise re-explode AND re-exchange the whole token
    // stream — column pruning rewrites the two subtrees differently, so
    // ReuseExchange can never kick in. One corpus pass, one (doc, word)
    // exchange, spill-safe cache (this is the postings staging relation
    // a day-2 index build would land as a table anyway).
    val docTerm = Dedup.tracked(docs(s, dir).select($"doc_id",
        explode(expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy($"doc_id", $"word")
      .agg(count(lit(1)).as("tf")))
    val stats = docTerm.groupBy($"word")
      .agg(count(lit(1)).cast("long").as("df"),
           sum($"tf").cast("long").as("tf_total"))
    val postings = docTerm
      .withColumn("rk", row_number().over(
        Window.partitionBy($"word").orderBy($"doc_id")))
      .filter($"rk" <= cap)
      .groupBy($"word")
      .agg(array_join(
        transform(sort_array(collect_list($"doc_id")), x => x.cast("string")),
        ",").as("postings"))
    stats.join(postings, "word").orderBy($"word")
  }

  /** Sliding-window token chunking — the context-window splitter a
    * training pipeline runs right before tokenized-example assembly:
    * each document becomes ⌈(n−L)/S⌉+1 windows of `maxLen` tokens with
    * stride `stride` (overlap L−S), the final window truncated at the
    * document end. One narrow pass: tokenize → per-row sequence of
    * window starts → posexplode; no shuffle (the ORDER BY exists only
    * for oracle stability). At 100 TB this is embarrassingly parallel
    * and output-bound (~n/S windows per doc); the chunk text is
    * re-assembled with `slice` + `concat_ws` inside codegen, never a
    * per-row UDF. Chunk count uses integer arithmetic only —
    * `1 + (n − L + S − 1) div S` — so the Spark and DuckDB row sets
    * agree exactly. */
  def chunk(s: SparkSession, dir: String, maxLen: Int = 64, stride: Int = 48): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", expr("filter(split(text, ' '), x -> length(x) > 0)").as("t"))
      .withColumn("n", size($"t"))
      .withColumn("n_chunks",
        when($"n" <= maxLen, lit(1))
          .otherwise(lit(1) + expr(s"(n - $maxLen + ${stride - 1}) div $stride").cast("int")))
      .select($"doc_id", $"t", $"n",
        explode(expr("sequence(0, n_chunks - 1)")).as("i"))
      .select(
        $"doc_id",
        $"i".cast("long").as("chunk_id"),
        ($"i" * stride).cast("long").as("start_tok"),
        least(lit(maxLen), $"n" - $"i" * stride).cast("long").as("chunk_len"),
        concat_ws(" ", slice($"t", $"i" * stride + 1, lit(maxLen))).as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Per-source least-squares fit of token count against character
    * count — the corpus-health regression a curation dashboard keeps
    * per slice (a source whose slope or R² drifts from the fleet is
    * mis-extracted or boilerplate-heavy). Closed form, one partial-agg
    * shuffle on `source`: Spark's regr_slope/regr_intercept/regr_r2
    * are plain Welford-style aggregates, so the corpus streams through
    * map-side partials and only 5 doubles per source cross the wire —
    * the same shape at 20 sources or 20 million. */
  def qualityRegression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"source",
        expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as double)").as("y"),
        $"n_chars".cast("double").as("x"))
      .groupBy($"source")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        round(expr("regr_slope(y, x)"), 6).as("slope"),
        round(expr("regr_intercept(y, x)"), 6).as("intercept"),
        round(expr("regr_r2(y, x)"), 6).as("r2"))
      .orderBy($"source")
  }

  /** Full POSITIONAL inverted index (word → doc, sorted token
    * positions), persisted hash-partitioned + sorted on `word` so a
    * query's `word IN (...)` filter prunes to the terms' row groups —
    * the search-side twin of [[invertedIndex]]'s stats view (which caps
    * postings for display; search needs them all). One corpus pass,
    * one (doc, word) exchange; at 100 TB this is the day-1 index build
    * a search tier lands once and queries forever. */
  def writePositionalIndex(s: SparkSession, dir: String, path: String): Unit =
    writePositionalIndexOf(s, docs(s, dir), path)

  /** The posting-writer core over an arbitrary document frame — shared
    * by the day-1 build and the day-2 batch append, so the two paths'
    * posting shape cannot drift. Alongside the postings it lands the
    * DOC-LENGTH SIDECAR (`<path>_doclen`: doc_id → total tokens) every
    * scoring consumer needs — derived by re-aggregating the POSTING
    * RELATION (Σ len(positions) per doc), not by a second corpus pass,
    * so the sidecar inherits the append lifecycle for free: disjoint
    * doc_ids ⇒ disjoint sidecar rows.
    *
    * r17: the postings aggregate is checkpointed ONCE and both writes
    * read it concurrently (§2.6). The r16 shape wrote the index, then
    * RE-READ the just-written parquet to derive the sidecar — one extra
    * sequential job + a full index decode per call, which at one call
    * per micro-batch was the streamed lifecycle's dominant fixed cost.
    * Same sidecar values (the rewrite never changes posting rows); the
    * checkpoint is batch-index-sized and released before return. */
  private[graft] def writePositionalIndexOf(s: SparkSession, d: DataFrame, path: String): Unit = {
    import s.implicits._
    val postings = Dedup.trackCheckpoint(
      d.select($"doc_id",
          posexplode(expr("filter(split(lower(text), ' '), x -> length(x) > 0)"))
            .as(Seq("pos", "word")))
        .groupBy($"word", $"doc_id")
        .agg(sort_array(collect_list($"pos".cast("long"))).as("positions"))
        .localCheckpoint())
    try {
      graft.util.Par.run(Seq(
        () => postings
          .repartition($"word")
          .sortWithinPartitions($"word", $"doc_id")
          .write.mode("overwrite").parquet(path),
        () => postings
          .select($"doc_id", size($"positions").cast("long").as("tf"))
          .groupBy($"doc_id")
          .agg(sum($"tf").cast("long").as("dl"))
          .write.mode("overwrite").parquet(doclenPath(path))))
    } finally Dedup.releaseCheckpoint(postings)
  }

  private def doclenPath(indexPath: String): String = s"${indexPath}_doclen"

  /** Phrase search THROUGH the persisted positional index — the day-2
    * consumer: the query path never touches the corpus. Each phrase
    * term's postings come off the index scan behind a pushed
    * `word IN (phrase terms)` filter (row-group skipping via the
    * sorted layout), candidates are the doc-level intersection
    * (equi-joins on doc_id over term-posting relations — sized by the
    * phrase's document frequencies, not the corpus), and adjacency is
    * verified against the position lists (`array_contains(pos_i,
    * p + i)`). Matches are 0-based token offsets of the phrase head.
    * The index is built fresh into a scratch dir per call (the gated
    * entry must be self-contained); a deployment would build once via
    * [[writePositionalIndex]] and amortize. */
  def search(s: SparkSession, dir: String,
             phrase: Seq[String] = Seq("agg", "join")): DataFrame = {
    import s.implicits._
    require(phrase.nonEmpty, "phrase must have at least one term")
    val idxPath = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "textidx"), "idx").toAbsolutePath.toString
    try {
      writePositionalIndex(s, dir, idxPath)
      val out = searchIndex(s, s.read.parquet(idxPath), phrase)
      // materialize before the finally-delete: the returned frame's scan
      // must not outlive the index files
      Dedup.trackCheckpoint(out.localCheckpoint())
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idxPath))
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(doclenPath(idxPath)))
    }
  }

  /** The phrase probe over an already-loaded posting relation — shared
    * by [[search]] and [[searchDay2]]: pushed word-IN filter, per-term
    * equi-joins sized by the phrase's document frequencies, adjacency
    * verified against position lists. */
  private def searchIndex(s: SparkSession, idxAll: DataFrame,
                          phrase: Seq[String]): DataFrame = {
    import s.implicits._
    val idx = idxAll.filter($"word".isin(phrase: _*))
    val head = idx.filter($"word" === phrase.head)
      .select($"doc_id", explode($"positions").as("p"))
    val matches = phrase.zipWithIndex.drop(1).foldLeft(head) { case (cur, (t, i)) =>
      cur.join(
          idx.filter($"word" === t).select($"doc_id", $"positions".as(s"pos_$i")),
          "doc_id")
        .filter(array_contains(col(s"pos_$i"), $"p" + i))
        .select($"doc_id", $"p")
    }
    matches.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_matches"), min($"p").as("first_pos"))
      .orderBy($"doc_id")
  }

  /** The phrase probe over the UNION of posting file sets — shared by
    * the streaming index-maintenance twin ([[graft.queries.StreamQueries
    * .streamTextIndexRefresh]]), which accumulates one posting dir per
    * micro-batch: disjoint doc_ids ⇒ disjoint posting rows, so the
    * union reads exactly like one index. */
  private[graft] def searchViaIndexPaths(s: SparkSession, paths: Seq[String],
                                         phrase: Seq[String]): DataFrame =
    searchIndex(s, s.read.parquet(paths: _*), phrase)

  // Per-process store of the day-1 positional index (the standing
  // artifact a deployment amortizes) — the components-store pattern:
  // first consumer builds + writes, every later call reads index bytes.
  private val indexStore = new graft.util.ArtifactStore("textidx")

  /** Drop the day-1 index store (tests that rewrite a corpus dir). */
  private[graft] def clearIndexStore(): Unit = indexStore.clear()

  private def day1IndexPath(s: SparkSession, dir: String): String =
    indexStore.get(s,
      java.nio.file.Paths.get(dir).toAbsolutePath.toString + "#textday1") { p =>
        writePositionalIndexOf(s,
          docs(s, dir).filter(pmod(col("doc_id"), lit(10)) =!= lit(7)),
          s"$p/idx")
        s"$p/idx"
      }

  /** DAY-2 PHRASE SEARCH — the append lifecycle of the positional
    * index: yesterday's postings are a standing artifact (per-process
    * store, built once over the doc_id ≢ 7 mod 10 slice — the
    * incremental family's shared batch convention); today's batch
    * writes ONLY ITS OWN postings as new index files (disjoint doc_ids
    * ⇒ disjoint posting rows — an append never reads or rewrites day-1
    * bytes), and the probe reads the union of the two file sets. Day-2
    * cost is batch tokenization + the phrase-df-sized probe, never a
    * corpus re-index. Append ≡ rebuild is the gate: the oracle is
    * [[search]]'s full-corpus SQL, so the unioned index must return
    * byte-identical matches to a from-scratch index of everything. */
  def searchDay2(s: SparkSession, dir: String,
                 phrase: Seq[String] = Seq("agg", "join")): DataFrame = {
    import s.implicits._
    require(phrase.nonEmpty, "phrase must have at least one term")
    val day1 = day1IndexPath(s, dir)
    val batchPath = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "textidx"), "batch").toAbsolutePath.toString
    try {
      writePositionalIndexOf(s,
        docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === lit(7)), batchPath)
      val out = searchIndex(s, s.read.parquet(day1, batchPath), phrase)
      // materialize before the finally-delete of the batch postings
      Dedup.trackCheckpoint(out.localCheckpoint())
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(batchPath))
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(doclenPath(batchPath)))
    }
  }

  /** DAY-2 COMPACTION — deletion support for the positional index,
    * closing the text family's lifecycle gap with the dedup/PQ indexes
    * ([[Dedup.compactIndex]], `sim_pq_index_day2`): drop every retired
    * document's rows from the postings AND the doc-length sidecar and
    * rewrite both in the SAME layout [[writePositionalIndexOf]]
    * produces (word-partitioned, (word, doc_id)-sorted — the pushed
    * word-IN probe keeps its row-group skipping). Takes the UNION of
    * posting file sets, so one compaction pass also folds day-N appends
    * back into a single set (the retention + small-file job in one).
    * Cost is one broadcast anti-join + rewrite per relation — index
    * bytes, never a corpus re-tokenize; at 100 TB this is the takedown
    * job that actually deletes a document from search. Both relations
    * are per-doc deterministic functions, so removal commutes with
    * construction: the compacted index is bit-equivalent to an index
    * built fresh from the surviving documents (pinned in
    * CorpusToolsSpec; the `text_search_compact` oracle is the phrase
    * SQL over the survivor universe). */
  private[graft] def compactPositionalIndex(
      s: SparkSession, indexPaths: Seq[String], retired: DataFrame,
      outPath: String): Unit = {
    import s.implicits._
    val gone = broadcast(retired.select($"doc_id").distinct())
    // postings and sidecar compactions read disjoint inputs and write
    // disjoint outputs — concurrent submission (§2.6)
    graft.util.Par.run(Seq(
      () => s.read.parquet(indexPaths: _*)
        .join(gone, Seq("doc_id"), "left_anti")
        .repartition($"word")
        .sortWithinPartitions($"word", $"doc_id")
        .write.mode("overwrite").parquet(outPath),
      () => s.read.parquet(indexPaths.map(doclenPath): _*)
        .join(gone, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(doclenPath(outPath))))
  }

  /** `text_search_compact`: the full deletion lifecycle of the
    * positional index — standing day-1 postings (the per-process
    * store, doc_id ≢ 7 mod 10), APPEND the day-2 batch (≡ 7), RETIRE a
    * takedown slice (doc_id ≡ 5 mod 17, the `dedup_index_compact`
    * convention), COMPACT the union into one survivor set, and answer
    * the phrase query from the compacted index alone. The oracle is
    * the usual phrase SQL over documents excluding the retired slice,
    * so one hash certifies both halves: a retired doc can never match
    * (its postings are gone) and survivors rank byte-identical to a
    * fresh index of the survivor corpus. */
  def searchCompact(s: SparkSession, dir: String,
                    phrase: Seq[String] = Seq("agg", "join")): DataFrame = {
    import s.implicits._
    require(phrase.nonEmpty, "phrase must have at least one term")
    val day1 = day1IndexPath(s, dir)
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "textidx"), "compact").toAbsolutePath
    try {
      writePositionalIndexOf(s,
        docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === lit(7)),
        s"$base/batch")
      val retired = docs(s, dir)
        .filter(pmod($"doc_id", lit(17)) === lit(5)).select($"doc_id")
      compactPositionalIndex(s, Seq(day1, s"$base/batch"), retired, s"$base/day2")
      val out = searchIndex(s, s.read.parquet(s"$base/day2"), phrase)
      // materialize before the finally-delete of batch + compacted files
      Dedup.trackCheckpoint(out.localCheckpoint())
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** `text_search_bm25_compact`: the takedown lifecycle through the
    * RANKED path — same build/append/retire/compact as [[searchCompact]]
    * but the probe is BM25 over the compacted postings + sidecar. After
    * a takedown the corpus STATISTICS change (N, avgdl, df are survivor
    * stats off the compacted sidecar), so this gate certifies more than
    * absence: the ranking is re-normalized exactly as a fresh index of
    * the survivors would score it — the oracle is the full BM25 SQL
    * over the survivor universe. */
  def bm25Compact(s: SparkSession, dir: String,
                  terms: Seq[String] = Seq("dup", "merge"),
                  topN: Int = 20): DataFrame = {
    import s.implicits._
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val day1 = day1IndexPath(s, dir)
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "textidx"), "bm25c").toAbsolutePath
    try {
      writePositionalIndexOf(s,
        docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === lit(7)),
        s"$base/batch")
      val retired = docs(s, dir)
        .filter(pmod($"doc_id", lit(17)) === lit(5)).select($"doc_id")
      compactPositionalIndex(s, Seq(day1, s"$base/batch"), retired, s"$base/day2")
      val out = bm25ViaIndex(s, Seq(s"$base/day2"), terms, topN)
      Dedup.trackCheckpoint(out.localCheckpoint())
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** Bigram language-model scoring — the CCNet/KenLM-style perplexity
    * filter of a pre-training pipeline: train an add-one-smoothed bigram
    * LM on a reference slice (here the `trainLang` documents) and score
    * EVERY document by its mean bigram log-probability. Low scores flag
    * off-language or degenerate text; the score column is the standard
    * perplexity-filter input (perplexity = exp(-score)).
    *
    * Per-bigram probability is (c(w1,w2)+1) / (c(w1)+V) with c(w1) the
    * count of w1 as a bigram HEAD in the training slice (so rows sum
    * correctly: Σ_w2 c(w1,w2) = c(w1)) and V the training vocabulary
    * size; out-of-vocabulary heads degrade to the uniform 1/V floor via
    * the same formula (c = 0 on both sides of the left joins).
    *
    * Scale shape: ONE corpus tokenization — each document's token list
    * becomes adjacent (w1, w2) pairs plus a (w_last, NULL) tail row,
    * aggregated immediately to the (doc, lang, w1, w2) grain and
    * materialized once. Bigrams are the w2-non-null rows; the training
    * VOCABULARY is distinct w1 over the train slice (every word of a
    * doc appears as some pair's w1, the tail row covering the last/only
    * token) — so the bigram counts, the head counts, the vocab total
    * AND the per-doc scores all derive from one pass instead of three
    * corpus scans (the r8 plan re-derived the bigram stream per
    * branch). The LM tables then equi-join on the pair/head keys — the
    * LM is itself a distributed relation sized by the TRAINING slice's
    * distinct bigrams, never collected or broadcast by assumption (at
    * 100 TB a reference-slice LM is GBs; AQE broadcasts it only when it
    * truly fits). The single 1-row vocabulary total rides a broadcast
    * cross join. Documents with fewer than two tokens have no bigram
    * distribution and are excluded by definition. */
  def lmScore(s: SparkSession, dir: String, trainLang: String = "en"): DataFrame = {
    import s.implicits._
    val cnt = Dedup.trackCheckpoint(docs(s, dir)
      .select($"doc_id", $"lang",
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"))
      .filter(size($"tk") >= 1) // sequence(1, 0) would run DESCENDING
      .select($"doc_id", $"lang", explode(expr(
        "transform(sequence(1, size(tk)), i -> struct(element_at(tk, i) AS w1, " +
          "if(i < size(tk), element_at(tk, i + 1), cast(null as string)) AS w2))"))
        .as("p"))
      .select($"doc_id", $"lang", $"p.w1", $"p.w2")
      .groupBy($"doc_id", $"lang", $"w1", $"w2").agg(count(lit(1)).as("n"))
      .localCheckpoint())
    val cb = cnt.filter($"lang" === trainLang && $"w2".isNotNull)
      .groupBy($"w1", $"w2").agg(sum($"n").as("cb"))
    val c1 = cb.groupBy($"w1").agg(sum($"cb").cast("long").as("c1"))
    val v = cnt.filter($"lang" === trainLang)
      .agg(countDistinct($"w1").cast("double").as("v"))
    cnt.filter($"w2".isNotNull)
      .join(cb, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v)) // 1-row vocab total
      .groupBy($"doc_id")
      .agg(
        sum($"n").cast("long").as("n_bigrams"),
        round(
          sum($"n" * log((coalesce($"cb", lit(0L)) + lit(1)).cast("double") /
            (coalesce($"c1", lit(0L)).cast("double") + $"v"))) / sum($"n"),
          4).as("lm_logprob"))
      .orderBy($"doc_id")
  }

  /** BM25 scoring core shared by [[bm25]] and [[hybridSearch]]'s lexical
    * arm: per-document integer-quantized BM25 score over the query
    * terms, plus the matched-term count. One corpus tokenization feeds
    * the doc-term relation, the doc-length sidecar AND the per-term
    * document frequencies (tracked-cached — the same staging relation
    * [[invertedIndex]] lands); scoring itself touches only the rows
    * whose `word` is a query term, so at 100 TB — where the doc-term
    * relation is the PERSISTED index and doc lengths its sidecar — the
    * query path is postings-of-query-terms-sized, never corpus-sized.
    *
    * Fixed-point discipline (the DSIR/kmeans convention): each (doc,
    * term) contribution `idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`
    * is quantized to an integer at 1e6 BEFORE the per-doc sum, so both
    * engines rank on an exact integer and partial-agg order cannot
    * flip a tie. idf is the Lucene-style `ln(1 + (N−df+0.5)/(df+0.5))`
    * — always positive, so quantized contributions only add. */
  private def bm25Scores(s: SparkSession, dir: String, terms: Seq[String],
                         k1: Double, b: Double): DataFrame = {
    import s.implicits._
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val docTerm = Dedup.tracked(docs(s, dir).select($"doc_id",
        explode(expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy($"doc_id", $"word")
      .agg(count(lit(1)).cast("long").as("tf")))
    val dlen = docTerm.groupBy($"doc_id").agg(sum($"tf").cast("long").as("dl"))
    bm25ScoreOf(s, docTerm.filter($"word".isin(terms: _*)), dlen, k1, b)
  }

  /** The scoring core proper, over whatever (doc_id, word, tf) query-term
    * relation and (doc_id, dl) length sidecar the caller produced —
    * corpus-derived ([[bm25Scores]]) or index-derived ([[bm25Day2]]),
    * so the two paths' arithmetic cannot drift. */
  private def bm25ScoreOf(s: SparkSession, qt: DataFrame, dlen: DataFrame,
                          k1: Double, b: Double): DataFrame = {
    import s.implicits._
    // corpus scalars ride a 1-row broadcast; avgdl is an exact integer
    // sum over an exact count so both engines derive the same double
    val tot = dlen.agg(count(lit(1)).cast("long").as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
    val dfRel = qt.groupBy($"word").agg(count(lit(1)).cast("long").as("df"))
    qt.join(broadcast(dfRel), "word") // |terms| rows
      .join(dlen, "doc_id")           // candidate-sized probe into the sidecar
      .crossJoin(broadcast(tot))
      .select($"doc_id",
        expr(s"cast(round(1e6 * ln(1 + (n_docs - df + 0.5) / (df + 0.5)) " +
          s"* (tf * ${k1 + 1}) / (tf + $k1 * (${1 - b} + $b * dl / avgdl))) as bigint)")
          .as("wq"))
      .groupBy($"doc_id")
      .agg(sum($"wq").cast("long").as("score_q"),
           count(lit(1)).cast("long").as("n_hit"))
  }

  /** The index-side probe: BM25 over the union of posting file sets and
    * their doc-length sidecars — shared by [[bm25Day2]] and the scale
    * rehearsal (which measures the probe WITHOUT a batch append, the
    * steady-state "query forever" cost). */
  private[graft] def bm25ViaIndex(s: SparkSession, paths: Seq[String],
                                  terms: Seq[String], topN: Int = 20): DataFrame = {
    import s.implicits._
    val qt = s.read.parquet(paths: _*)
      .filter($"word".isin(terms: _*))
      .select($"doc_id", $"word", size($"positions").cast("long").as("tf"))
    val dlen = s.read.parquet(paths.map(doclenPath): _*)
    bm25RankHead(s, bm25ScoreOf(s, qt, dlen, k1 = 1.2, b = 0.75), topN)
  }

  /** Dense-rank head of a scored relation: top-N via orderBy+limit
    * (TakeOrderedAndProject), rank window only over the ≤ topN rows. */
  private def bm25RankHead(s: SparkSession, scored: DataFrame, topN: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    scored.orderBy($"score_q".desc, $"doc_id").limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy($"score_q".desc, $"doc_id")).cast("long"))
      .select($"rank", $"doc_id", $"n_hit", $"score_q")
      .orderBy($"rank")
  }

  /** BM25 RANKED retrieval — the scored twin of [[search]]'s boolean
    * phrase probe: top `topN` documents for a bag of query terms under
    * BM25 (k1 = 1.2, b = 0.75), ranks dense from 1 with doc_id as the
    * deterministic tiebreak. The top-N runs through orderBy+limit
    * (Spark's TakeOrderedAndProject: per-partition heaps, no
    * single-partition global window over the candidate set — candidates
    * for a common term are corpus-sized); the rank column is assigned
    * by a window AFTER the limit, over ≤ topN rows. */
  def bm25(s: SparkSession, dir: String,
           terms: Seq[String] = Seq("dup", "merge"),
           k1: Double = 1.2, b: Double = 0.75, topN: Int = 20): DataFrame =
    bm25RankHead(s, bm25Scores(s, dir, terms, k1, b), topN)

  /** DAY-2 BM25 — ranked retrieval THROUGH the persisted positional
    * index and its doc-length sidecar, never a corpus re-tokenize: tf
    * is `len(positions)` off the pruned posting scan (pushed
    * `word IN (...)` filter, same as the phrase probe), dl/N/avgdl come
    * off the sidecar (doc-count-sized — index metadata, not corpus),
    * and the scoring core is shared with [[bm25]] so the arithmetic
    * cannot drift. Day-1 postings + sidecar are the standing
    * per-process artifact ([[searchDay2]]'s store, doc_id ≢ 7 mod 10);
    * the batch appends only its own posting/sidecar files, the query
    * reads the union of the file sets. Oracle = [[bm25]]'s full-corpus
    * SQL, so the index-derived ranking must be byte-identical to the
    * corpus-derived one: append ≡ rebuild, index ≡ corpus. */
  def bm25Day2(s: SparkSession, dir: String,
               terms: Seq[String] = Seq("dup", "merge"),
               topN: Int = 20): DataFrame = {
    import s.implicits._
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val day1 = day1IndexPath(s, dir)
    val batchPath = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "textidx"), "bm25batch").toAbsolutePath.toString
    try {
      writePositionalIndexOf(s,
        docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === lit(7)), batchPath)
      val out = bm25ViaIndex(s, Seq(day1, batchPath), terms, topN)
      // materialize before the finally-delete of the batch files
      Dedup.trackCheckpoint(out.localCheckpoint())
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(batchPath))
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(doclenPath(batchPath)))
    }
  }

  /** HYBRID retrieval — reciprocal-rank fusion of the BM25 lexical arm
    * and a dense cosine arm, the RAG-era default for corpus search:
    * each arm independently ranks its top `armN` (lexical: integer BM25
    * scores; dense: cosine vs the vec_id-0 query under [[Similarity]]'s
    * round-6 convention, vec_id ≡ doc_id in the synthetic corpus), then
    * RRF fuses with `⌊1e6/(rrfK + rank)⌋` per arm present — integer
    * `div`, so the fused score is an exact integer in both engines and
    * a doc missing from an arm contributes exactly 0 (its rank column
    * reports the 0 sentinel).
    *
    * Scale shape: the arms never cross-product — each is its own
    * top-armN (TakeOrderedAndProject over postings / a broadcast-query
    * brute scan, the [[Similarity.topkBrute]] baseline a deployment
    * would swap for the IVF-PQ tier), and the fusion is a full-outer
    * equi-join of two ≤ armN-row relations. */
  def hybridSearch(s: SparkSession, dir: String,
                   terms: Seq[String] = Seq("dup", "merge"),
                   rrfK: Int = 60, armN: Int = 100, topN: Int = 20): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Scores(s, dir, terms, k1 = 1.2, b = 0.75)
      .orderBy($"score_q".desc, $"doc_id").limit(armN)
      .withColumn("rank_lex",
        row_number().over(Window.orderBy($"score_q".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"rank_lex")
    // the dense arm is a DIAL (spark.graft.hybrid.denseArm): "brute" —
    // the oracle-pinned exact baseline — or "ivf_pq", the tier a 100 TB
    // deployment actually runs (pruned-list ADC probe + exact rerank;
    // nprobe/rerank dials below). RankedSearchSpec pins that at
    // rerank-all dials the PQ arm reproduces the brute arm — and thus
    // the whole fused ranking — row for row, so flipping the dial
    // trades recall for cost without touching fusion semantics.
    val armScores: DataFrame =
      s.conf.get("spark.graft.hybrid.denseArm", "brute") match {
        case "ivf_pq" =>
          val rr = Similarity.hybridRerank(s)
          // nprobe defaults to the GEOMETRY-DRIVEN dial (VERDICT r13 #4):
          // Similarity.autoNprobe sizes the probed candidate pool to the
          // rerank window from the corpus count — MEMOIZED per corpus
          // path (ADVICE r14: the sizing count is derived once per
          // corpus, not one extra Spark job per hybridSearch call).
          // An explicit integer conf remains the named override.
          val np = s.conf.get("spark.graft.hybrid.nprobe", "auto") match {
            case "auto" => Similarity.autoNprobe(
              Similarity.corpusCount(s, dir),
              Similarity.PqCoarseLists, rr)
            case explicit => explicit.toInt
          }
          Similarity.ivfPqTopk(s, dir, nprobe = np, rerank = rr, topN = armN)
            .withColumnRenamed("vec_id", "doc_id")
        case _ =>
          val e = s.read.parquet(s"$dir/embeddings.parquet")
            .select($"vec_id", $"embedding",
              sqrt(dot($"embedding", $"embedding")).as("nrm"))
          val q = e.filter($"vec_id" === 0)
            .select($"embedding".as("q_emb"), $"nrm".as("q_nrm"))
          e.filter($"vec_id" =!= 0)
            .join(broadcast(q))
            .select($"vec_id".as("doc_id"),
              round(dot($"embedding", $"q_emb") / ($"nrm" * $"q_nrm"), 6).as("cos_sim"))
            .orderBy($"cos_sim".desc, $"doc_id").limit(armN)
      }
    val vec = armScores
      .withColumn("rank_vec",
        row_number().over(Window.orderBy($"cos_sim".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"rank_vec")
    rrfFuse(s, lex, vec, rrfK, topN)
  }

  /** `text_search_hybrid_pq`: the hybrid composition with the dense arm
    * HASH-GATED end-to-end — the lexical arm is [[bm25Scores]]' integer
    * BM25 ranking verbatim, and the dense arm is the integer-exact PQ
    * twin's ADC ranking ([[Similarity.pqExact]]: exact integer subspace
    * training + encode + additive ADC vs query 0), so every
    * data-dependent decision in the ACTUAL 100 TB retrieval plan —
    * postings-derived lexical scores, codebook training, encode ties,
    * the ADC shortlist cut, both rank assignments, and the integer RRF
    * fusion — is certified by one oracle hash. Where
    * [[hybridSearch]]'s `ivf_pq` dial exercises the float production
    * index (rerank-all parity pinned in RankedSearchSpec), this entry
    * certifies the MECHANICS of fuse-BM25-with-a-PQ-index cross-engine,
    * the same twin-CTE recipe `sim_mmr_pq` used for
    * diversify-over-an-index. */
  def hybridSearchPqExact(s: SparkSession, dir: String,
                          terms: Seq[String] = Seq("dup", "merge"),
                          rrfK: Int = 60, armN: Int = 100,
                          topN: Int = 20): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Scores(s, dir, terms, k1 = 1.2, b = 0.75)
      .orderBy($"score_q".desc, $"doc_id").limit(armN)
      .withColumn("rank_lex",
        row_number().over(Window.orderBy($"score_q".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"rank_lex")
    val vec = Similarity.pqExact(s, dir)
      .filter($"vec_id" =!= 0)
      .orderBy($"adc_q".desc, $"vec_id").limit(armN)
      .withColumn("rank_vec",
        row_number().over(Window.orderBy($"adc_q".desc, $"vec_id")).cast("long"))
      .select($"vec_id".as("doc_id"), $"rank_vec")
    rrfFuse(s, lex, vec, rrfK, topN)
  }

  /** Shared RRF fusion tail: full-outer equi-join of the two ≤ armN-row
    * rank relations, integer `⌊1e6/(rrfK + rank)⌋` per arm present (0
    * sentinel for a missing arm), top-`topN` re-ranked. */
  private def rrfFuse(s: SparkSession, lex: DataFrame, vec: DataFrame,
                      rrfK: Int, topN: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        (coalesce(expr(s"$RrfScale div (${rrfK}L + rank_lex)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div (${rrfK}L + rank_vec)"), lit(0L)))
          .cast("long").as("rrf"),
        coalesce($"rank_lex", lit(0L)).as("rank_lex"),
        coalesce($"rank_vec", lit(0L)).as("rank_vec"))
      .orderBy($"rrf".desc, $"doc_id").limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy($"rrf".desc, $"doc_id")).cast("long"))
      .select($"rank", $"doc_id", $"rank_lex", $"rank_vec", $"rrf")
      .orderBy($"rank")
  }

  private val RrfScale = "1000000L"
}
