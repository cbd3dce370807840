package graft

import graft.operators.{Graph, TextAnalysis}

/** PageRank and inverted-index invariants the hash oracle can't express
  * as properties: mass conservation bounds, rank positivity, posting-cap
  * honoring — the checks that localize a bug when the hash gate merely
  * says "different". */
class GraphSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("pagerank: every node ranked, ranks positive, total mass ≤ 1") {
    val rows = Graph.pagerank(spark, sf).collect()
    assert(rows.length == 25) // all nations, including dangling ones
    val ranks = rows.map(_.getAs[Long]("rank_fp"))
    assert(ranks.forall(_ > 0)) // teleport base keeps every node alive
    // fixed-point mass: Σr ≤ Scale (dangling + integer-floor loss only
    // ever REMOVES mass; exceeding Scale would mean double-counting)
    assert(ranks.sum <= Graph.Scale)
    // and the loss is bounded: ≥ 60% of the mass must survive 5 rounds
    assert(ranks.sum > (Graph.Scale * 6) / 10,
      s"implausible mass loss: ${ranks.sum}")
    // output is rank-sorted
    val sorted = rows.map(_.getAs[Long]("rank_fp")).toSeq
    assert(sorted == sorted.sortBy(-_))
  }

  test("pagerank: deterministic across re-runs (integer fixed-point)") {
    val a = Graph.pagerank(spark, sf).collect().toSeq
    val b = Graph.pagerank(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("lpa: hand-computed communities on a triangle plus an oscillating pair") {
    import spark.implicits._
    // support ≥ 2 edges need each pair co-purchased in TWO orders; build
    // K3 on {1,2,3} and an isolated edge {10,11}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L))
    val li = edges.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((2L * i, u), (2L * i, v), (2L * i + 1, u), (2L * i + 1, v))
    }.toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("lpa")
    try {
      li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

      // hand-run of 4 sync min-tie rounds: K3 collapses to label 1 by
      // round 3; the pair {10,11} swaps labels each round (the documented
      // sync-LPA oscillation) and lands on identity after an even count
      val got = Graph.lpa(spark, dir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
                        (10L, 10L, 1L), (11L, 11L, 1L)))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("lpa: labels are node ids and never cross connected components") {
    import spark.implicits._
    val out = Graph.lpa(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.nonEmpty)
    // every community label is itself a node of the graph
    assert(out.values.toSet.subsetOf(out.keySet))
    // a node's label must be reachable from it (same component): check
    // via union-find over the re-derived gated edge set
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    val edges = li.as("a").join(li.as("b"), $"a.l_orderkey" === $"b.l_orderkey")
      .filter($"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .count().filter($"count" >= 2)
      .select($"u".as[Long], $"v".as[Long]).collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((u, v) <- edges) parent(find(u)) = find(v)
    assert(out.forall { case (node, lbl) => find(node) == find(lbl) })
  }

  test("nodeSim: per-edge neighbor Jaccard equals a naive set computation") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    val edges = li.as("a").join(li.as("b"), $"a.l_orderkey" === $"b.l_orderkey")
      .filter($"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .count().filter($"count" >= 2)
      .select($"u".as[Long], $"v".as[Long]).collect().toSet
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val naive = edges.map { case (u, v) =>
      val c = (adj(u) & adj(v)).size
      (u, v) -> (c.toLong, (adj(u) | adj(v)).size.toLong)
    }.toMap
    val rows = Graph.nodeSim(spark, sf).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == edges)
    assert(got.forall { case (k, c) => naive(k)._1 == c })
    // union identity deg(u)+deg(v)-common holds vs the true set union
    val gotJ = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(gotJ.forall { case (k, j) =>
      math.abs(j - naive(k)._1.toDouble / naive(k)._2) < 1e-4 })
  }

  test("bfs: fixed-round frontier equals a naive hop-bounded BFS") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    val edges = li.as("a").join(li.as("b"), $"a.l_orderkey" === $"b.l_orderkey")
      .filter($"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .count().filter($"count" >= 2)
      .select($"u".as[Long], $"v".as[Long]).collect()
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = spark.read.parquet(s"$sf/part.parquet")
      .filter($"p_size" === 50).select($"p_partkey".as[Long]).collect()
      .filter(adj.contains).toSet
    // naive frontier BFS bounded at BfsRounds hops
    val dist = scala.collection.mutable.Map(seeds.toSeq.map(_ -> 0L): _*)
    var frontier = seeds
    for (h <- 1L to Graph.BfsRounds) {
      frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
      frontier.foreach(n => dist(n) = h)
    }
    val got = Graph.bfs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == dist.toMap)
    assert(got.nonEmpty && got.values.exists(_ > 0),
      "fixture graph must reach beyond the seed set")
  }

  test("kcore: fixed-round peel equals a naive run-to-fixpoint peel") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    var edges = li.as("a").join(li.as("b"), $"a.l_orderkey" === $"b.l_orderkey")
      .filter($"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .count().filter($"count" >= 2)
      .select($"u".as[Long], $"v".as[Long]).collect().toSet
    // naive: peel until NOTHING changes (no round bound at all)
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap { case (u, v) => Seq(u, v) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val next = edges.filter { case (u, v) => deg(u) >= 3 && deg(v) >= 3 }
      changed = next != edges
      edges = next
    }
    val want = edges.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.kcore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
    assert(got.values.forall(_ >= 3)) // the defining 3-core property
  }

  test("triangles: degree-oriented counts match a naive id-ordered enumeration") {
    import spark.implicits._
    // re-derive the gated edge set and count triangles the obvious way
    // (u<v orientation) — the operator's degree orientation must find
    // the IDENTICAL per-node counts, proving orientation is cost-only
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    val edges = li.as("a").join(li.as("b"), $"a.l_orderkey" === $"b.l_orderkey")
      .filter($"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .count().filter($"count" >= 2)
      .select($"u".as[Long], $"v".as[Long]).collect()
    val adj = edges.toSet
    val naive = scala.collection.mutable.Map.empty[Long, Long]
    for ((a, b) <- adj; c <- adj.collect { case (`b`, x) => x }
         if adj.contains((a, c))) {
      Seq(a, b, c).foreach(n => naive(n) = naive.getOrElse(n, 0L) + 1L)
    }
    val got = Graph.triangles(spark, sf).collect()
      .map(r => r.getAs[Long]("part_id") -> r.getAs[Long]("n_triangles"))
      .toMap
    assert(got == naive.toMap)
    assert(got.nonEmpty, "fixture graph must close at least one triangle")
    // sanity: the count triples — Σ per-node counts = 3 × #triangles
    assert(got.values.sum % 3 == 0)
  }

  test("inverted index: df/tf consistent, postings capped, sorted, within df") {
    val rows = TextAnalysis.invertedIndex(spark, sf, cap = 20).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      val tf = r.getAs[Long]("tf_total")
      val postings = r.getAs[String]("postings").split(",").map(_.toLong).toSeq
      assert(tf >= df) // every posting contributes ≥ 1 occurrence
      assert(postings.length == math.min(df, 20L).toInt)
      assert(postings == postings.sorted)
    }
  }
}
