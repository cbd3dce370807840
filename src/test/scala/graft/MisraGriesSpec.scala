package graft

import graft.functions.MisraGries
import graft.operators.TextAnalysis

/** Semantics of the Misra-Gries mergeable summary and the exact
  * heavy-hitters certificate. The `text_heavy_hitters` oracle pins the
  * real corpus result; this pins the GUARANTEES on crafted streams where
  * the trim path actually fires: the superset/err invariant, its
  * survival under partition-order merges, and the certificate's
  * fail-loudly contract when the budget is hostile. */
class MisraGriesSpec extends SparkSuite {

  /** Exact counts of a token stream, locally. */
  private def exactCounts(rows: Seq[Array[String]]): Map[String, Long] =
    rows.flatten.groupBy(identity).map { case (w, xs) => (w, xs.size.toLong) }

  /** Run the aggregator the way Spark partials would: reduce rows into
    * per-slice states, then merge in the given slice order. */
  private def runSliced(m: Int, rows: Seq[Array[String]],
                        nSlices: Int): (Map[String, Long], Long) = {
    val agg = new MisraGries(m)
    val states = rows.grouped(math.max(1, rows.size / nSlices)).map { slice =>
      slice.foldLeft(agg.zero)(agg.reduce)
    }.toSeq
    val merged = states.reduce(agg.merge)
    val out = agg.finish(merged)
    (out.words.zip(out.counts).toMap, out.err)
  }

  // a stream with 3 heavies over a wide light tail: m=8 forces trims.
  // Heaviness must clear the decrement bound err <= N/(m+1): here
  // N = 3*100 + 2*120 = 540 tokens, bound 540/9 = 60 < 100 per heavy,
  // so presence of the heavies is GUARANTEED, not lucky
  private val heavyTail: Seq[Array[String]] = {
    val heavies = Seq.fill(100)(Array("alpha", "beta", "gamma"))
    val tail = (0 until 120).map(i => Array(s"w$i", s"w${(i + 7) % 120}"))
    heavies ++ tail
  }

  test("superset/err invariant: true count <= stored + err for every word, trims firing") {
    val exact = exactCounts(heavyTail)
    val (stored, err) = runSliced(8, heavyTail, nSlices = 1)
    assert(err > 0L, "fixture must actually exercise the trim path")
    assert(stored.size <= 8, "state must stay within the counter budget")
    exact.foreach { case (w, n) =>
      assert(n <= stored.getOrElse(w, 0L) + err,
        s"invariant broken for '$w': true $n > stored ${stored.getOrElse(w, 0L)} + err $err")
    }
    // the heavies (true count 40 > err) are guaranteed present
    Seq("alpha", "beta", "gamma").foreach(w => assert(stored.contains(w)))
  }

  test("merge order cannot break the invariant (1, 3 and 7 slices)") {
    val exact = exactCounts(heavyTail)
    Seq(1, 3, 7).foreach { slices =>
      val (stored, err) = runSliced(8, heavyTail, slices)
      exact.foreach { case (w, n) =>
        assert(n <= stored.getOrElse(w, 0L) + err,
          s"slices=$slices: invariant broken for '$w'")
      }
      Seq("alpha", "beta", "gamma").foreach(w =>
        assert(stored.contains(w), s"slices=$slices: heavy '$w' evicted"))
    }
  }

  private def stage(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "mgspec").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    base
  }

  test("heavyHitters: equals plain groupBy-count top-k on a trim-forcing corpus") {
    import spark.implicits._
    // 200 light words + 3 heavies; m=16 keeps trims firing through the
    // distributed pass while the heavies stay certifiable
    val docs = (0 until 100).map { i =>
      (i.toLong, s"hot warm tepid light${i % 50} light${(i * 3) % 50} light${(i * 7) % 50}")
    }
    val dir = stage(docs)
    val got = TextAnalysis.heavyHitters(spark, dir, k = 3, m = 16).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          "filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy($"word").count()
      .orderBy($"count".desc, $"word").limit(3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    assert(got.forall(_._2 == 100L), "each heavy appears once per doc")
  }

  test("streaming heavy hitters: bounded per-shard state, heavies survive a trimming drain") {
    // the oracle pins exact equality on the no-trim corpus; this pins
    // the DEGRADED contract: with a hostile m the stream still emits
    // lower-bound counts and never loses a word heavy enough to clear
    // the per-shard decrement mass
    val docs = (0 until 100).map { i =>
      (i.toLong, s"hot warm tepid light${i % 50} light${(i * 3) % 50} light${(i * 7) % 50}")
    }
    val dir = stage(docs)
    val exact = Map("hot" -> 100L, "warm" -> 100L, "tepid" -> 100L)
    val out = graft.queries.StreamQueries.heavyHitters(spark, dir, m = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // lower bounds only — a streamed count above the true count would
    // mean state leaked across shards or batches
    out.foreach { case (w, n) =>
      assert(n <= exact.getOrElse(w, 100L), s"'$w' overcounted: $n")
    }
    // the three heavies clear any possible per-shard err here and must
    // all surface
    exact.keys.foreach(w => assert(out.contains(w), s"heavy '$w' lost in trims"))
  }

  test("certificate fails loudly when the budget cannot separate the tail") {
    // uniform distribution: every word ties, no budget below the
    // vocabulary can certify a top-k — must throw, never emit approx
    val docs = (0 until 60).map(i => (i.toLong, s"u${i % 30} v${i % 30}"))
    val dir = stage(docs)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.heavyHitters(spark, dir, k = 3, m = 4)
    }
    assert(e.getMessage.contains("certificate"))
  }
}
