package graft

import graft.operators.Similarity

/** The PCA math behind `sim_pca_project`: the generated-CTE oracle
  * hash-gates the fixed-point training end to end (cross-engine
  * replay); this pins the MATH — that the integer eigensolver still
  * computes principal components — against first principles. */
class PcaSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def collectProj() = {
    // scalar shape: (vec_id, pc_1..pc_4, ev_1..ev_4)
    val rows = Similarity.pcaProject(spark, sf).collect()
    val eig = (0 until 4).map(i => rows.head.getDouble(5 + i)).toArray
    (rows.map(r => (r.getLong(0), (0 until 4).map(i => r.getDouble(1 + i)).toArray)), eig)
  }

  test("eigenvalues descend, are positive, and are bounded by total variance") {
    val (_, eig) = collectProj()
    assert(eig.length == 4)
    assert(eig.forall(_ > 0), s"covariance eigenvalues must be positive: ${eig.toSeq}")
    assert(eig.sliding(2).forall(p => p(0) >= p(1) - 1e-9),
      s"power iteration with deflation must yield descending eigenvalues: ${eig.toSeq}")
    // total variance = mean per-dimension variance sum, computed
    // independently from the raw vectors
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"embedding").as[Array[Float]].collect().map(_.map(_.toDouble))
    val n = vecs.length
    val dim = vecs.head.length
    val mean = (0 until dim).map(i => vecs.map(_(i)).sum / n)
    val total = (0 until dim).map(i =>
      vecs.map(v => math.pow(v(i) - mean(i), 2)).sum / (n - 1)).sum
    assert(eig.sum <= total + 1e-6,
      s"top-4 eigenvalues ${eig.sum} cannot exceed total variance $total")
    // on any non-degenerate corpus the top components carry a
    // non-trivial share
    assert(eig.sum > total * 0.02)
  }

  test("projection equals the definitional centered dot product") {
    // recompute projections from first principles for a sample of
    // vectors: (v - mean) . c for each recovered component; the
    // components are recovered by regressing the emitted projections
    // is circular, so instead verify via variance: the per-component
    // projection variance must equal its eigenvalue (the defining
    // property of PCA)
    val (proj, eig) = collectProj()
    val n = proj.length
    for (c <- 0 until 4) {
      val xs = proj.map(_._2(c))
      val mu = xs.sum / n
      val variance = xs.map(x => math.pow(x - mu, 2)).sum / (n - 1)
      assert(math.abs(variance - eig(c)) <= math.max(1e-4, eig(c) * 0.02),
        s"component $c projection variance $variance != eigenvalue ${eig(c)}")
      // projections are centered by construction
      assert(math.abs(mu) < 1e-3, s"component $c projections not centered: mean $mu")
    }
  }

  test("projection is deterministic across runs") {
    val (a, ea) = collectProj()
    val (b, eb) = collectProj()
    assert(ea.toSeq == eb.toSeq)
    assert(a.map { case (id, p) => (id, p.toSeq) }.toSeq ==
           b.map { case (id, p) => (id, p.toSeq) }.toSeq)
  }
}
