package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** `sim_mmr_diversify` — the oracle hash-gates every selection; this
  * spec pins the PROPERTIES the hash doesn't name: the greedy argmax
  * invariant (each pick maximizes the exact integer objective among
  * the remaining shortlist, recomputed independently here), the
  * rank-1 = brute-top-1 anchor, and that the diversity term actually
  * buys diversity — the MMR set's mean pairwise cosine is strictly
  * below the plain top-k's on the clustered test embeddings. */
class MmrDiversifySpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  private def cosq(a: Array[Float], b: Array[Float]): Long = {
    def dot(x: Array[Float], y: Array[Float]): Double =
      x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
    math.round(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6)
  }

  test("greedy integer argmax invariant, top-1 anchor, and measured diversity gain") {
    import spark.implicits._
    val r = Similarity.mmrDiversify(spark, sf).orderBy($"sel_rank").collect()
    assert(r.length === 10)
    assert(r.map(_.getLong(1)).distinct.length === 10)

    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(row => row.getAs[Long]("vec_id") ->
        row.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    val qv = embs(0L)
    val relq = embs.keys.filter(_ != 0L).map(id => id -> cosq(embs(id), qv)).toMap
    val shortlist = relq.toSeq.sortBy { case (id, rq) => (-rq, id) }.take(30)

    // rank 1 is the brute top-1 of the shortlist
    assert(r.head.getLong(1) === shortlist.head._1)

    // each later pick maximizes 7·relq − 3·maxsimq among the remaining
    // shortlist, ties to the smaller vec_id — recomputed independently
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
    r.foreach { row =>
      val remaining = shortlist.filterNot { case (id, _) => chosen.contains(id) }
      val best = remaining.map { case (id, rq) =>
        val ms = if (chosen.isEmpty) 0L
                 else chosen.map(c => cosq(embs(id), embs(c))).max
        (id, 7L * rq - 3L * ms)
      }.maxBy { case (id, sc) => (sc, -id) }
      assert(row.getLong(1) === best._1,
        s"rank ${row.getInt(0)}: engine picked ${row.getLong(1)}, argmax is ${best._1}")
      assert(row.getLong(3) === best._2, s"mmr_q mismatch at rank ${row.getInt(0)}")
      chosen += row.getLong(1)
    }

    // the diversity term pays: mean pairwise cosine strictly below the
    // plain top-10's, and the sets genuinely differ
    def meanPair(ids: Seq[Long]): Double = {
      val ps = for (a <- ids; b <- ids if a < b) yield cosq(embs(a), embs(b)).toDouble
      ps.sum / ps.length
    }
    val mmrSet = r.map(_.getLong(1)).toSeq
    val topSet = shortlist.take(10).map(_._1)
    assert(mmrSet.toSet !== topSet.toSet, "MMR made no swaps vs plain top-k")
    assert(meanPair(mmrSet) < meanPair(topSet),
      s"MMR set is not more diverse: ${meanPair(mmrSet)} vs ${meanPair(topSet)}")
  }
}
