package graft.operators

import graft.functions.GraftFunctions.bpeSymLen
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One word of the BPE working set: its current symbol sequence and its
  * corpus frequency. Top-level so the product encoder derives. */
case class BpeWord(syms: Seq[String], freq: Long)

/** Distributed BYTE-PAIR-ENCODING vocabulary learning — the tokenizer-
  * training step of an LLM data pipeline (Sennrich et al. 2016, the
  * algorithm behind GPT/Llama-style tokenizers).
  *
  * The scale insight every production BPE trainer uses: training runs on
  * the WORD-FREQUENCY DICTIONARY, not the corpus. The corpus is touched
  * exactly once (one groupBy to count words); every merge round after
  * that operates on vocab-sized data (distinct words ≪ corpus tokens),
  * so 100 TB of text costs one aggregation plus K rounds over a relation
  * that fits in a few executors.
  *
  * Per round: count adjacent symbol pairs (flatMap over sliding windows,
  * weighted by word freq — a partial-aggregated vocab-sized shuffle),
  * pick the argmax pair under the deterministic (freq desc, pair asc)
  * tie rule, and apply the merge with one narrow left-to-right scan per
  * word (non-overlapping, leftmost-first — the standard greedy). The
  * single `limit(1).collect()` per round moves ONE row to the driver:
  * that row (the chosen merge) is genuinely global control flow, the
  * same shape as [[Similarity]]'s k-row k-means reduce. Each round's
  * working set is persisted and the previous round's released, so
  * lineage stays one round deep.
  *
  * BOTH halves are hash-gated cross-engine: [[encodeOracleSql]] unrolls
  * the k learn rounds as generated CTEs and encodes with them;
  * [[learnOracleSql]] shares those CTEs verbatim and emits the merge
  * table itself, so every data-dependent argmax gates as a value row.
  * BpeSpec additionally pins exact parity against an independent
  * single-threaded reference implementation plus the
  * monotone-frequency invariant. */
object Bpe {

  /** End-of-word sentinel — lets merges learn word-final units ("ing</w>")
    * distinct from word-internal ones, as in the original algorithm. */
  val Eow = "</w>"

  private[graft] def mergeOnce(syms: Seq[String], a: String,
                               b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** The word-frequency dictionary: the one corpus-sized pass. */
  private def wordFreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .select(explode(expr(
        "filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
  }

  /** Learn `k` merges; returns (rank, left, right, pair_freq) — the
    * ordered merge table that IS a BPE tokenizer's vocabulary. */
  def learn(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import s.implicits._
    var words: Dataset[BpeWord] = wordFreq(s, dir).as[(String, Long)]
      .map { case (w, f) => BpeWord(w.map(_.toString) :+ Eow, f) }
      .persist()
    // lineage defense with one job per round instead of two: round r's
    // argmax job is ALSO the action that materializes round r's persisted
    // working set, so the explicit `next.count()` materialization job is
    // redundant — the parent is released one round LATE (after the argmax
    // has filled the child's cache), never before, so no round ever
    // recomputes more than one narrow map. Peak cache is two vocab-sized
    // rounds instead of one.
    var parent: Option[Dataset[BpeWord]] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    try {
      var rank = 1
      var exhausted = false
      while (rank <= k && !exhausted) {
        val best = words
          .flatMap(w => w.syms.sliding(2).collect {
            case Seq(a, b) => (a, b, w.freq)
          })
          .toDF("a", "b", "f")
          .groupBy($"a", $"b").agg(sum($"f").as("cnt"))
          .orderBy($"cnt".desc, $"a", $"b")
          .limit(1)
          .as[(String, String, Long)]
          .collect()
        // the argmax above materialized `words`; its parent is now safe to drop
        parent.foreach(_.unpersist(false))
        parent = None
        best.headOption match {
          case None => exhausted = true
          case Some((a, b, cnt)) =>
            merges += ((rank, a, b, cnt))
            val next = words.map(w => BpeWord(mergeOnce(w.syms, a, b), w.freq))
              .persist()
            parent = Some(words)
            words = next
            rank += 1
        }
      }
    } finally {
      words.unpersist(false)
      parent.foreach(_.unpersist(false))
    }
    s.createDataFrame(merges.toSeq)
      .toDF("rank", "left", "right", "pair_freq")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("rank")
  }

  /** DuckDB oracle for [[encode]]: the full learn(k)+encode path as ONE
    * SQL statement with the k rounds UNROLLED as generated CTEs — so
    * `text_bpe_encode` is value-hash-gated cross-engine, not rows-only.
    *
    * The non-trivial part is replaying [[mergeOnce]]'s leftmost-first
    * non-overlapping scan declaratively. Candidates are adjacent
    * (sym, next) = (a, b) positions; greedy left-to-right selection
    * takes a candidate iff the candidate immediately before it (in
    * sequence order) was not taken, which over a maximal RUN of
    * consecutive candidates means: take the even offsets. Runs of
    * consecutive candidates only arise from repeated symbols
    * ("aaaa" under (a,a) → take positions 0 and 2 → [aa, aa]) — the
    * exact case a naive string replace() over separator-joined symbols
    * gets wrong (its match consumes the shared separator, so "•a•a•a•a•"
    * yields [aa, a, a] shapes). Gaps-and-islands over row_number gives
    * the even-offset rule in two window passes; the round's argmax
    * replays the trainer's (cnt DESC, a, b) binary-order tie rule.
    * Scalar subqueries against the 1-row argmax CTE keep an exhausted
    * round (no pairs left) a no-op instead of annihilating the join. */
  def encodeOracleSql(k: Int = 8): String =
    s"""${learnCtes(k)},
       |dict AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sym FROM s$k GROUP BY word),
       |tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS word
       |  FROM documents),
       |dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id, word)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words, CAST(sum(n * n_sym) AS BIGINT) AS n_tokens
       |FROM dw JOIN dict USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[learn]] itself: the SAME generated learn-replay
    * CTEs as [[encodeOracleSql]] (one training definition, shared
    * verbatim), emitting the merge table instead of encoding with it —
    * round r's 1-row argmax b_r carries its pair count, so every
    * data-dependent selection hash-gates as (rank, left, right,
    * pair_freq). Early exhaustion agrees by construction: an empty
    * round's argmax is empty (contributes no row) and its merge is a
    * no-op, so every later round stays empty — exactly [[learn]]'s
    * stop. */
  def learnOracleSql(k: Int = 8): String = {
    val arms = (1 to k).map { r =>
      s"SELECT $r AS rank, a, b, cnt FROM b$r"
    }.mkString(" UNION ALL ")
    s"""${learnCtes(k)}
       |SELECT CAST(rank AS BIGINT) AS rank, a AS "left", b AS "right",
       |       CAST(cnt AS BIGINT) AS pair_freq
       |FROM ($arms) ORDER BY rank""".stripMargin
  }

  /** The shared learn-replay interior: word-frequency dictionary, the
    * exploded symbol start state, and k unrolled merge rounds (pair
    * count → deterministic argmax b_r → leftmost-first merge s_r). */
  private def learnCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""pa$r AS MATERIALIZED (
         |  SELECT a, b, sum(freq) AS cnt FROM (
         |    SELECT sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b, freq
         |    FROM $prev)
         |  WHERE b IS NOT NULL GROUP BY a, b),
         |b$r AS MATERIALIZED (SELECT a, b, cnt FROM pa$r ORDER BY cnt DESC, a, b LIMIT 1),
         |c$r AS (
         |  SELECT word, freq, sym,
         |         row_number() OVER (PARTITION BY word ORDER BY pos) AS rn,
         |         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
         |         coalesce(sym = (SELECT a FROM b$r)
         |             AND lead(sym) OVER (PARTITION BY word ORDER BY pos) = (SELECT b FROM b$r),
         |           false) AS cand
         |  FROM $prev),
         |d$r AS (
         |  SELECT *, rn - row_number() OVER (PARTITION BY word, cand ORDER BY rn) AS island
         |  FROM c$r),
         |e$r AS (
         |  SELECT *, cand AND (row_number() OVER (PARTITION BY word, cand, island ORDER BY rn) - 1) % 2 = 0 AS taken
         |  FROM d$r),
         |s$r AS MATERIALIZED (
         |  SELECT word, freq, rn AS pos, CASE WHEN taken THEN sym || nxt ELSE sym END AS sym
         |  FROM (SELECT *, lag(taken) OVER (PARTITION BY word ORDER BY rn) AS ptaken FROM e$r)
         |  WHERE NOT coalesce(ptaken, false))""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS word
       |    FROM documents)
       |  GROUP BY word),
       |s0pos AS (SELECT word, freq, unnest(range(1, len(word) + 2)) AS pos FROM wf),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq, CAST(pos AS INT) AS pos,
       |         CASE WHEN pos <= len(word) THEN substr(word, CAST(pos AS INT), 1) ELSE '$Eow' END AS sym
       |  FROM s0pos),
       |$rounds""".stripMargin
  }

  /** ENCODE with a learned merge table — the serving half of the
    * tokenizer, and the pipeline's per-document token accounting
    * (sequence-length budgeting, packing inputs, cost estimates).
    *
    * The dictionary trick again, in reverse: the merge table (k rows)
    * ships in the encoder closure, each DISTINCT word is encoded ONCE
    * (fold the merges in rank order, each a leftmost-first scan — the
    * exact [[mergeOnce]] the trainer applied, so train→encode is
    * self-consistent by construction), and the corpus only pays a
    * word-level join against that vocab-sized dictionary. Per-doc
    * output is integer-only (word and BPE-token counts): no float ever
    * crosses engines, and the doc rollup partial-aggregates.
    *
    * Hash-gated cross-engine via [[encodeOracleSql]] — the k learn
    * rounds unroll as generated CTEs, so DuckDB replays the full
    * train→encode path including every data-dependent argmax ([[learn]]
    * gates separately through [[learnOracleSql]], the same CTEs emitting
    * the merge table itself). BpeSpec additionally
    * pins exact parity against an independent single-threaded reference
    * on crafted docs, plus the token-count bounds
    * (n_words ≤ n_tokens ≤ chars + words). */
  def encode(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val merges = learn(s, dir, k)
      .select($"left", $"right").as[(String, String)].collect()

    // per-distinct-word encode as a CODEGEN expression (r17, guide §4):
    // the former typed `.map` fold planned as Deserialize→MapElements→
    // Serialize — an encoder round-trip per distinct word that broke the
    // whole-stage-codegen span. graft_bpe_sym_len runs the identical
    // greedy merge fold natively; the merge table rides as a k-row
    // foldable literal (rank order preserved).
    val mergesLit = typedLit[Seq[Seq[String]]](
      merges.toSeq.map { case (a, b) => Seq(a, b) })
    val dict = wordFreq(s, dir).select($"word",
      bpeSymLen($"word", mergesLit).as("n_sym"))

    // (doc, word) pre-agg BEFORE the dictionary join: the partial agg
    // collapses repeated words map-side, so the join and both exchanges
    // carry per-doc DISTINCT words, never raw token volume
    s.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", explode(expr(
        "filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("n"))
      .join(dict, Seq("word"))
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_words"),
           sum($"n" * $"n_sym").as("n_tokens"))
      .orderBy($"doc_id")
  }
}
