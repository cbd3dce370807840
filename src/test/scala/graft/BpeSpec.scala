package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** BPE vocabulary learning: the distributed trainer must agree MERGE FOR
  * MERGE with an independently-written single-threaded reference run on
  * the same word-frequency dictionary — the strongest gate available for
  * an operator whose round-k input depends on k-1 data-dependent
  * argmaxes (no SQL oracle can express it). */
class BpeSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Reference BPE: plain Scala, deliberately structured differently
    * (map of pair counts, no DataFrames) so a shared bug can't hide. */
  private def referenceBpe(wordFreq: Map[String, Long],
                           k: Int): Seq[(Int, String, String, Long)] = {
    var words: Map[Seq[String], Long] = wordFreq.toSeq
      .map { case (w, f) => ((w.map(_.toString) :+ Bpe.Eow): Seq[String], f) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (rank <- 1 to k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- words; Seq(a, b) <- syms.sliding(2))
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      if (counts.nonEmpty) {
        val ((a, b), cnt) = counts.minBy { case ((x, y), c) => (-c, x, y) }
        out += ((rank, a, b, cnt))
        words = words.toSeq
          .map { case (syms, f) => (Bpe.mergeOnce(syms, a, b): Seq[String], f) }
          .groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  test("distributed trainer matches the single-threaded reference merge for merge") {
    import spark.implicits._
    val wf = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(expr(
        "filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect().toMap
    val want = referenceBpe(wf, 8)
    val got = Bpe.learn(spark, sf, 8).collect()
      .map(r => (r.getAs[Long]("rank").toInt, r.getAs[String]("left"),
                 r.getAs[String]("right"), r.getAs[Long]("pair_freq")))
      .toSeq
    assert(got == want)
  }

  test("merge frequencies are non-increasing and merges apply greedily left-first") {
    val rows = Bpe.learn(spark, sf, 8).collect()
    assert(rows.length == 8)
    val freqs = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("pair_freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b },
      s"pair freqs must be non-increasing: ${freqs.mkString(",")}")
    // greedy non-overlapping semantics on an overlap-heavy input
    assert(Bpe.mergeOnce(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.mergeOnce(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(Bpe.mergeOnce(Seq("x"), "a", "b") == Seq("x"))
  }

  test("encode matches an independent train→encode on every fixture doc") {
    import spark.implicits._
    // independent path: reference trainer's merges applied by a plain
    // fold over each doc's words — no Spark in the expectation
    val wf = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(expr(
        "filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect().toMap
    val merges = referenceBpe(wf, 8).map { case (_, a, b, _) => (a, b) }
    def encodeWord(w: String): Int =
      merges.foldLeft(w.map(_.toString) :+ Bpe.Eow: Seq[String]) {
        case (ss, (a, b)) => Bpe.mergeOnce(ss, a, b)
      }.length
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as[Long], $"text".as[String]).collect()
      .map { case (id, t) =>
        val ws = t.toLowerCase.split(" ").filter(_.nonEmpty)
        id -> ((ws.length.toLong, ws.map(encodeWord(_).toLong).sum))
      }.filter(_._2._1 > 0).toMap

    val got = Bpe.encode(spark, sf, 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens")))).toMap
    assert(got == want)
    // bounds: ≥ 1 token per word; ≤ chars + one Eow per word, and the
    // 8 learned merges must actually compress SOMETHING
    assert(got.values.forall { case (w, t) => t >= w })
    assert(got.values.map(_._2).sum <
      want.keys.map(id => want(id)._1).sum +
        spark.read.parquet(s"$sf/documents.parquet")
          .select(sum(length(lower($"text")))).as[Long].collect().head)
  }
}
