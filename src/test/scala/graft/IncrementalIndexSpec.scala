package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Persisted minhash index (r5 verdict #4): `writeIndex` +
  * `incrementalPairsFromIndex` must be HASH-IDENTICAL to the recompute
  * path (`incrementalPairs`) — both are deterministic functions of the
  * corpus. The `dedup_incremental_idx` query shares the recompute
  * oracle's SQL, so the driver gate re-proves this against DuckDB; this
  * spec pins it in-process plus the artifact shape. */
class IncrementalIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("persisted-index run ≡ recomputed run, row for row") {
    val viaIndex = Dedup.minhashIncrementalFromIndex(spark, sf)
      .collect().map(_.toString).sorted
    Dedup.unpersistIntermediates(spark)
    val recomputed = spark.read.parquet(s"$sf/documents.parquet")
    val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
    val direct = Dedup.incrementalPairs(spark,
        recomputed.filter(!isBatch), recomputed.filter(isBatch))
      .collect().map(_.toString).sorted
    Dedup.unpersistIntermediates(spark)
    assert(viaIndex.nonEmpty, "fixture corpus has batch-involving near-dups")
    assert(viaIndex.sameElements(direct),
      s"persisted-index drifted from recompute:\n idx=${viaIndex.mkString(";")}\n dir=${direct.mkString(";")}")
  }

  test("compaction commutes with construction: compacted ≡ fresh-from-survivors") {
    import spark.implicits._
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
    val idxDocs = all.filter(!isBatch)
    val retired = idxDocs.filter(pmod(col("doc_id"), lit(17)) === lit(5))
      .select(col("doc_id"))
    assert(retired.count() > 0, "fixture must actually retire something")
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(spark, "dedupidx"), "compact-spec").toAbsolutePath
    try {
      Dedup.writeIndex(spark, idxDocs, s"$base/day1")
      Dedup.compactIndex(spark, s"$base/day1", retired, s"$base/compacted")
      Dedup.writeIndex(spark,
        idxDocs.join(retired, Seq("doc_id"), "left_anti"), s"$base/fresh")
      // both relations byte-equal as SETS (layout keys match too, but
      // set equality is the correctness contract)
      for (rel <- Seq("bands", "sets")) {
        val a = spark.read.parquet(s"$base/compacted/$rel")
          .collect().map(_.toString).sorted
        val b = spark.read.parquet(s"$base/fresh/$rel")
          .collect().map(_.toString).sorted
        assert(a.nonEmpty && a.sameElements(b),
          s"$rel: compaction does not commute with construction")
      }
      // and the incremental run over either index agrees
      val batch = all.filter(isBatch)
      val viaCompacted = Dedup.incrementalPairsFromIndex(spark, s"$base/compacted", batch)
        .collect().map(_.toString).sorted
      Dedup.unpersistIntermediates(spark)
      val viaFresh = Dedup.incrementalPairsFromIndex(spark, s"$base/fresh", batch)
        .collect().map(_.toString).sorted
      Dedup.unpersistIntermediates(spark)
      assert(viaCompacted.sameElements(viaFresh))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("re-delivered batch ids ignore their stale index rows (no dup/self pairs)") {
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "idxoverlap").toAbsolutePath.toString
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
      val batch = docs.filter(isBatch)
      // the index is written WITH the batch docs included (yesterday's
      // run indexed them; today they are replayed)
      Dedup.writeIndex(spark, docs, idx)
      val replayed = Dedup.incrementalPairsFromIndex(spark, idx, batch)
        .collect().map(_.toString)
      Dedup.unpersistIntermediates(spark)
      // contract: batch wins — output equals the disjoint-index run
      val clean = Dedup.incrementalPairs(spark, docs.filter(!isBatch), batch)
        .collect().map(_.toString)
      Dedup.unpersistIntermediates(spark)
      assert(replayed.sorted.sameElements(clean.sorted),
        s"replayed ids changed the result:\n got=${replayed.sorted.mkString(";")}\n want=${clean.sorted.mkString(";")}")
      assert(replayed.length == replayed.distinct.length, "duplicate output rows")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
  }

  test("pushdown route ≡ semi-join fallback route, row for row") {
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "idxroute").toAbsolutePath.toString
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
      Dedup.writeIndex(spark, docs.filter(!isBatch), idx)
      // default cap → pushdown (fixture candidate count is far below 10k)
      val pushed = Dedup.incrementalPairsFromIndex(spark, idx, docs.filter(isBatch))
        .collect().map(_.toString).sorted
      Dedup.unpersistIntermediates(spark)
      // cap 0 → every non-empty candidate set overflows → fallback route
      val fellBack = withConf("spark.graft.dedup.index.pushdownMaxIds" -> "0") {
        Dedup.incrementalPairsFromIndex(spark, idx, docs.filter(isBatch))
          .collect().map(_.toString).sorted
      }
      Dedup.unpersistIntermediates(spark)
      assert(pushed.nonEmpty, "fixture corpus has batch-involving near-dups")
      assert(pushed.sameElements(fellBack),
        s"routes disagree:\n push=${pushed.mkString(";")}\n fall=${fellBack.mkString(";")}")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
  }

  test("sets files are doc_id-range-sorted: sorted within, disjoint across") {
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "idxsort").toAbsolutePath.toString
    try {
      val corpus = spark.read.parquet(s"$sf/documents.parquet")
      Dedup.writeIndex(spark, corpus, idx)
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(s"$idx/sets"))
        .iterator()
      val ranges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      while (parts.hasNext) {
        val p = parts.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          val ids = spark.read.parquet(p.toString)
            .select("doc_id").collect().map(_.getLong(0))
          if (ids.nonEmpty) {
            assert(ids.sameElements(ids.sorted),
              s"${p.getFileName}: doc_id not sorted within file")
            ranges += ((ids.head, ids.last))
          }
        }
      }
      assert(ranges.nonEmpty)
      val sorted = ranges.sortBy(_._1).toIndexedSeq
      sorted.indices.drop(1).foreach { i =>
        assert(sorted(i - 1)._2 < sorted(i)._1,
          s"file ranges overlap: ..${sorted(i - 1)._2} vs ${sorted(i)._1}..")
      }
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
  }

  test("index artifact: bands (4/doc) + sets (1/doc), join-ready schemas") {
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "idxspec").toAbsolutePath.toString
    try {
      val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(50)
      val n = corpus.count()
      Dedup.writeIndex(spark, corpus, idx)
      val bands = spark.read.parquet(s"$idx/bands")
      val sets = spark.read.parquet(s"$idx/sets")
      assert(bands.columns.sorted.toSeq == Seq("band", "band_hash", "doc_id"))
      assert(sets.columns.sorted.toSeq == Seq("doc_id", "n_sh", "sh_set"))
      // docs shorter than the shingle width drop out of BOTH relations
      // identically, so bands stay exactly 4× sets
      assert(sets.count() <= n)
      assert(bands.count() == 4 * sets.count())
      import org.apache.spark.sql.types._
      assert(sets.schema("sh_set").dataType.asInstanceOf[ArrayType]
        .elementType == LongType)
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
  }
}
