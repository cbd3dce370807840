package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The prefix filter's one non-negotiable claim is LOSSLESSNESS: the
  * candidate set provably contains every τ-similar pair, so the output
  * must equal a filter-free pairwise enumeration. The oracle pins that
  * at sf0.01; this pins it at sf0.001 against an in-process naive
  * computation (so a refactor that breaks the bound fails here with
  * the missing pair named, not as an opaque hash diff), plus the
  * integer-threshold boundary semantics.
  */
class JaccardPrefixSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("prefix filter is lossless: output equals naive pairwise Jaccard") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as[Long],
        split($"text", " ").as[Array[String]])
      .collect()
      .map { case (id, ws) => id -> ws.filter(_.nonEmpty).toSet }
      .filter(_._2.nonEmpty)
    val naive = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      (ida, sa) = docs(i)
      (idb, sb) = docs(j)
      inter = (sa & sb).size
      if 9L * inter >= 4L * (sa.size + sb.size)
    } yield {
      val (lo, hi) = if (ida < idb) (ida, idb) else (idb, ida)
      (lo, hi) -> inter.toLong
    }).toMap

    val got = Dedup.jaccardPrefix(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_inter"))
      .toMap
    assert(got == naive,
      s"missing=${(naive.keySet -- got.keySet).take(5)} " +
      s"extra=${(got.keySet -- naive.keySet).take(5)}")
    assert(got.nonEmpty, "fixture must contain τ-similar pairs")
  }

  test("containment prefix filter is lossless: output equals naive ordered pairs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as[Long],
        split($"text", " ").as[Array[String]])
      .collect()
      .map { case (id, ws) => id -> ws.filter(_.nonEmpty).toSet }
      .filter(_._2.nonEmpty)
    // ordered (a, b): a strictly smaller, ≥ 90% of a inside b
    val naive = (for {
      (ida, sa) <- docs.iterator
      (idb, sb) <- docs.iterator
      if ida != idb && sa.size < sb.size
      inter = (sa & sb).size
      if 10L * inter >= 9L * sa.size
    } yield (ida, idb) -> inter.toLong).toMap

    val got = Dedup.containment(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_inter"))
      .toMap
    assert(got == naive,
      s"missing=${(naive.keySet -- got.keySet).take(5)} " +
      s"extra=${(got.keySet -- naive.keySet).take(5)}")
    assert(got.nonEmpty, "fixture must contain excerpt pairs")
  }

  test("integer thresholds sit exactly on the τ = 4/5 boundary") {
    import spark.implicits._
    // J exactly 4/5 must be KEPT (≥, not >): sets of size 9 sharing 8
    // tokens -> I=8, U=10, J=0.8 exactly
    val a = (1 to 9).map(i => s"w$i").mkString(" ")
    val b = ((1 to 8).map(i => s"w$i") :+ "x").mkString(" ")
    // J just below: size 9 sharing 7 -> J = 7/11
    val c = ((1 to 7).map(i => s"w$i") ++ Seq("y", "z")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("jp").toString
    Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.jaccardPrefix(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }
}
