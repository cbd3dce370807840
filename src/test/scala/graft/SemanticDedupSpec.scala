package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Pins the learned-cluster semantic dedup (`dedup_semantic_kmeans`),
  * whose k-means training loop is not SQL-expressible:
  *
  *  - keep-set invariant: a kept vector has NO lower-id same-cluster
  *    neighbor at cosine ≥ τ, so no two KEPT vectors in one cluster can
  *    be ≥ τ — checked by recomputing all same-cluster kept pairs
  *    exactly, independently of the operator's join;
  *  - something is actually dropped (the rule isn't vacuously true);
  *  - determinism: two runs return identical keep-sets (md5-seeded
  *    k-means init + rounded means + hash-free assignment). */
class SemanticDedupSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("kmeans keep-set: no two kept same-cluster vectors at cos >= tau; deterministic") {
    import spark.implicits._
    val kept = Similarity.semanticDedupKmeans(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    assert(kept.nonEmpty && kept.size < all.size,
      s"rule must drop something: kept ${kept.size} of ${all.size}")
    // exact pairwise check over kept same-cluster pairs (fixture-sized)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val byCluster = kept.toSeq.groupBy(_._2).values
    for (grp <- byCluster; Seq((ia, _), (ib, _)) <- grp.sortBy(_._1).combinations(2)) {
      val c = math.rint(cos(all(ia), all(ib)) * 10000) / 10000
      assert(c < 0.3, s"kept pair ($ia, $ib) in one cluster at cos $c >= tau")
    }
    val again = Similarity.semanticDedupKmeans(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(again == kept, "keep-set must be deterministic across runs")
  }

  test("cluster count scales with the corpus via targetClusterSize (k = n / target)") {
    // the sf10 lesson: fixed k makes within-cluster pairs n²/k —
    // quadratic per decade; k ∝ n keeps expected cluster size constant
    // and pair volume linear. Pin the derivation end-to-end: the dial
    // changes the number of distinct clusters the keep-set reports.
    def distinctClusters(target: Int): Int =
      withConf("spark.graft.dedup.semantic.targetClusterSize" -> target.toString) {
        Similarity.semanticDedupKmeans(spark, sf).select("cluster").distinct().count().toInt
      }
    // 500 fixture vectors: target 100 → k = 5, target 250 → k = 2
    // (clusters with all members dropped could shrink the observed
    // count, so assert ≤ k and a strict ordering between the dials)
    val fine = distinctClusters(100)
    val coarse = distinctClusters(250)
    assert(fine <= 5 && fine >= 3, s"target 100 on 500 vecs should give ~5 clusters, saw $fine")
    assert(coarse == 2, s"target 250 on 500 vecs should give k=2 clusters, saw $coarse")
    assert(fine > coarse)
  }

  test("keep-set is salt-invariant: every pair meets exactly once at any salt width") {
    // the within-cluster pair join spreads each cluster's quadratic pair
    // space over `spark.graft.dedup.semantic.salt` tasks (sf10 finding:
    // AQE's byte-keyed skew splitter never fires on CPU-quadratic but
    // byte-small clusters); the claim that makes that safe — each (a, b)
    // pair meets exactly once, at salt = b.vec_id % S — is pinned here by
    // running the oracle-gated query at salt widths 1 (unsalted), 3
    // (non-divisor of the fixture size), and the default 16
    def run(salt: Int): Seq[(Long, Int)] =
      withConf("spark.graft.dedup.semantic.salt" -> salt.toString) {
        SparkEntry.queries("dedup_semantic")(spark, sf).collect()
          .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toSeq.sorted
      }
    val unsalted = run(1)
    assert(unsalted.nonEmpty)
    assert(run(3) == unsalted, "salt=3 keep-set diverged from unsalted")
    assert(run(16) == unsalted, "salt=16 keep-set diverged from unsalted")
  }

  test("gated entry fails fast when conf drifts from the oracle's baked constants") {
    // dedup_semantic_kmeans' DuckDB oracle bakes targetClusterSize=200
    // and tau=0.3 into its generated SQL while the Spark side reads them
    // from conf — a non-default conf must be a clear error in the verify
    // path, never a silent hash mismatch (VERDICT r12 #2 / ADVICE r12 #4)
    def gated(): Unit = {
      SparkEntry.queries("dedup_semantic_kmeans")(spark, sf)
      ()
    }
    withConf("spark.graft.dedup.semantic.targetClusterSize" -> "100") {
      val e = intercept[IllegalArgumentException](gated())
      assert(e.getMessage.contains("bakes targetClusterSize=200"),
        s"drift message must name the baked constant, got: ${e.getMessage}")
      assert(e.getMessage.contains("targetClusterSize=100"),
        s"drift message must name the offending conf value, got: ${e.getMessage}")
    }
    withConf("spark.graft.dedup.semantic.tau" -> "0.42") {
      intercept[IllegalArgumentException](gated())
    }
    // defaults restored: the gate constructs (lazily) without error, and
    // the OPERATOR itself still honors a non-default conf — only the
    // oracle-gated entry is pinned to the baked constants
    gated()
    withConf("spark.graft.dedup.semantic.targetClusterSize" -> "100") {
      assert(Similarity.semanticDedupKmeansDerived(spark, sf).limit(1).count() >= 0L)
    }
  }

  test("gated entry fails fast on an off-spec embedding dimension (oracle bakes Dim=64)") {
    // a 32-dim corpus must not reach the hash compare: the oracle's
    // Lloyd update is unrolled over exactly 64 dims
    val tmp = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(spark, "semspec"), "dim32").toAbsolutePath
    try {
      import spark.implicits._
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select($"vec_id", expr("slice(embedding, 1, 32)").as("embedding"))
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries("dedup_semantic_kmeans")(spark, tmp.toString))
      assert(e.getMessage.contains("bakes Dim=64") &&
        e.getMessage.contains("32-dim"),
        s"dim-drift message must name both dims, got: ${e.getMessage}")
    } finally graft.util.Fs.deleteRecursively(tmp)
  }
}
