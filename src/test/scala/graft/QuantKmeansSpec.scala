package graft

import graft.operators.{Dedup, Similarity}

/** Quantized-integer k-means (`dedup_semantic_kmeans_exact`): the
  * DuckDB oracle hash-pins the full trainer (seeding, integer Lloyd,
  * re-quantization, ties) at three SFs; this spec pins the properties
  * the hash alone doesn't name — non-degeneracy, determinism, and the
  * keep-set invariant. */
class QuantKmeansSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("sim_pq_exact: deterministic, codes span multiple sub-centroids, ADC consistent with codes") {
    import spark.implicits._
    try {
      val a = Similarity.pqExact(spark, sf).collect().map(_.toString)
      val b = Similarity.pqExact(spark, sf).collect().map(_.toString)
      assert(a.nonEmpty && a.sameElements(b), "integer PQ twin is not deterministic")
      val rows = Similarity.pqExact(spark, sf)
        .select($"c0", $"c1", $"c2", $"c3", $"adc_q").collect()
      // a degenerate trainer would put every vector in sub-centroid 0
      (0 until 4).foreach { m =>
        val used = rows.map(_.getLong(m)).toSet
        assert(used.size >= 2, s"subspace $m collapsed to one code: $used")
        assert(used.forall(c => c >= 0 && c < 4), s"subspace $m code out of range")
      }
      // identical code words ⇒ identical ADC score (ADC is a pure
      // function of the codes through the query LUT)
      val byCode = rows.groupBy(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      byCode.foreach { case (code, rs) =>
        assert(rs.map(_.getLong(4)).toSet.size == 1,
          s"ADC not a pure function of code word $code")
      }
    } finally Dedup.unpersistIntermediates(spark)
  }

  test("non-degenerate (≥2 populated clusters), deterministic, kept rows have no kept lower-id neighbor ≥ τ") {
    import spark.implicits._
    try {
      val a = Similarity.quantizedKmeansAssignment(spark, sf, k = 4, iters = 3)
        .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
      assert(a.values.toSet.size >= 2,
        s"clustering collapsed to ${a.values.toSet.size} cluster(s)")
      val b = Similarity.quantizedKmeansAssignment(spark, sf, k = 4, iters = 3)
        .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
      assert(a == b, "trainer is not deterministic across runs")
      // keep-set invariant at fixture scale: brute-check every kept
      // same-cluster pair sits below τ
      val kept = Similarity.semanticDedupKmeansExact(spark, sf)
        .select($"vec_id").as[Long].collect().toSet
      val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .collect().toMap
      def cos(x: Array[Float], y: Array[Float]): Double = {
        var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < x.length) {
          d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
          ny += y(i).toDouble * y(i); i += 1
        }
        d / math.sqrt(nx * ny)
      }
      val keptByCluster = kept.toSeq.groupBy(a)
      val violations = for {
        (_, ids) <- keptByCluster.toSeq
        s = ids.sorted
        i <- s.indices; j <- (i + 1) until s.length
        if BigDecimal(cos(vecs(s(i)), vecs(s(j))))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal("0.3")
      } yield (s(i), s(j))
      assert(violations.isEmpty,
        s"kept same-cluster pairs at cosine ≥ τ: ${violations.take(5)}")
    } finally {
      Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
    }
  }

  test("dedup_semantic_kmeans: derived k matches the shared integer rule and the assignment uses all k clusters") {
    import spark.implicits._
    try {
      val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
      val kWant = Similarity.derivedSemanticK(n, 200)
      assert(kWant >= 2)
      // the keep-set can drop whole clusters only if every member has a
      // lower-id ≥ τ neighbor — at τ=0.3 the kept set spans clusters;
      // the ASSIGNMENT must span exactly [0, kWant)
      val assigned = Similarity.quantizedKmeansAssignment(spark, sf, k = 0, iters = 3)
        .select($"cluster").distinct().as[Long].collect().toSet
      assert(assigned.subsetOf((0L until kWant.toLong).toSet),
        s"assignment uses out-of-range clusters: $assigned (k=$kWant)")
      assert(assigned.size >= 2, s"derived-k training collapsed: $assigned")
      val a = Similarity.semanticDedupKmeansDerived(spark, sf).collect().map(_.toString)
      val b = Similarity.semanticDedupKmeansDerived(spark, sf).collect().map(_.toString)
      assert(a.nonEmpty && a.sameElements(b), "derived-k entry is not deterministic")
    } finally {
      Dedup.unpersistIntermediates(spark)
      spark.catalog.clearCache()
    }
  }
}
