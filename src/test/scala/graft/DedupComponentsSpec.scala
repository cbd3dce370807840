package graft

import graft.operators.Dedup

/** Pins the TRANSITIVE semantics of near-dup components: a chain
  * a~b~c where (a,c) is NOT itself a near-dup pair must still collapse
  * into one cluster — the property pair-based removal lacks and the
  * reason `dedup_components` exists. The chain is crafted so the
  * 3-gram Jaccards are a~b ≈ 0.71, b~c = 0.5 (both ≥ the 0.5 cut)
  * and a~c ≈ 0.33 (below it). */
class DedupComponentsSpec extends SparkSuite {

  test("a~b~c chain collapses into one component even though a~c is no pair") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc")
    try {
      Seq(
        (1L, "a b c d e f g h"),
        (2L, "a b c d e f g X"),
        (3L, "c d e f g X p q"),
        (10L, "totally unrelated words about completely other topics here now"),
        (11L, "totally unrelated words about completely other topics here too"))
        .toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")

      val pairs = Dedup.minhashLsh(spark, dir.toString).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)),
        s"chain edges must survive LSH banding, got $pairs")
      assert(!pairs.contains((1L, 3L)),
        "the chain ends must NOT be a direct pair — that's the point")

      val comp = Dedup.components(spark, dir.toString).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
      assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L,
        s"transitive chain must share component 1, got $comp")
      // the unrelated docs form their own cluster iff they paired up;
      // either way they never join component 1
      comp.filterKeys(k => k >= 10L).values.foreach(c => assert(c >= 10L))
    } finally {
      Dedup.unpersistIntermediates(spark)
      graft.util.Fs.deleteRecursively(dir)
    }
  }

  /** A 20-node path graph has diameter 19 — deeper than the old
    * maxIters=10 bound, which used to exit silently with a
    * partially-merged labeling (an undetected oracle-parity break).
    * Pins the new semantics: pointer-jumped hash-min iterates to
    * FIXPOINT, so the whole chain collapses to component 0 regardless
    * of depth, and log₂-convergence keeps the round count small. */
  test("incremental merge ≡ full recompute, including a batch doc bridging day-1 clusters") {
    import spark.implicits._
    val full = Dedup.components(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted
    Dedup.unpersistIntermediates(spark)
    val inc = Dedup.componentsIncremental(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted
    Dedup.unpersistIntermediates(spark)
    assert(full.nonEmpty && inc.sameElements(full),
      "day-2 star-edge merge drifted from the full recompute")

    // crafted bridge: two day-1 clusters that only a BATCH doc connects —
    // the merge path the sf corpus may not exercise. Sliding-window
    // geometry: doc 7 (batch lane) = w1..w10; cluster A docs carry
    // x x w1..w8, cluster B docs carry w3..w10 y y, so 3-shingle
    // Jaccards are J(A,7) = J(B,7) = 6/10 = 0.6 (pairs) while
    // J(A,B) = 4/12 ≈ 0.33 (not a pair) — day 1 leaves A and B
    // separate, and only the batch doc can fuse them.
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-inc")
    try {
      val w = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(' ')
      Seq(
        (1L, s"pre1 pre2 ${w.take(8).mkString(" ")}"),
        (2L, s"pre1 pre3 ${w.take(8).mkString(" ")}"),
        (21L, s"${w.drop(2).mkString(" ")} post1 post2"),
        (22L, s"${w.drop(2).mkString(" ")} post1 post3"),
        (7L, w.mkString(" ")),
        (40L, "completely different content sits far away from both families"))
        .toDF("doc_id", "text")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      val merged = Dedup.componentsIncremental(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      Dedup.unpersistIntermediates(spark)
      assert(Seq(1L, 2L, 7L, 21L, 22L).forall(merged.get(_).contains(1L)),
        s"batch bridge must fuse both day-1 clusters onto min id 1: $merged")
      val fullCrafted = Dedup.components(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      Dedup.unpersistIntermediates(spark)
      assert(merged == fullCrafted)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  /** The per-process persisted label store must be invisible to
    * consumers: first read builds + writes, later reads hit the parquet
    * artifact, and both equal the fresh closure bit-for-bit. */
  test("persisted label store ≡ fresh closure across repeat reads") {
    val fresh = Dedup.components(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted
    Dedup.unpersistIntermediates(spark)
    val first = Dedup.componentsFromStore(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted
    val second = Dedup.componentsFromStore(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted
    Dedup.unpersistIntermediates(spark)
    assert(fresh.nonEmpty && first.sameElements(fresh) && second.sameElements(fresh),
      "store labels drifted from the fresh closure")
  }

  test("20-deep chain converges to full closure (no silent partial merge)") {
    import spark.implicits._
    val chain = (0L until 19L).map(i => (i, i + 1))
    val edges = (chain ++ chain.map(_.swap) ++
      // a disjoint 2-cycle proves labels don't bleed across components
      Seq((100L, 101L), (101L, 100L))).toDF("src", "dst")
    try {
      val comp = Dedup.componentsOf(spark, edges).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
      (0L to 19L).foreach(n =>
        assert(comp(n) == 0L, s"chain node $n must reach component 0, got $comp"))
      assert(comp(100L) == 100L && comp(101L) == 100L)
    } finally Dedup.unpersistIntermediates(spark)
  }

  /** The safety valve must THROW rather than return an under-merged
    * labeling — partial propagation is silently wrong, an exception is
    * honestly wrong. */
  test("maxIters exhaustion throws instead of returning partial labels") {
    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    try {
      intercept[IllegalStateException] {
        Dedup.componentsOf(spark, edges, maxIters = 2).collect()
      }
    } finally Dedup.unpersistIntermediates(spark)
  }
}
