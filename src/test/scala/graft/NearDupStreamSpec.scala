package graft

import graft.queries.StreamQueries

/** Streaming near-dup filter: single-batch equality with the batch
  * "min lower id sharing an LSH bucket" rule is hash-checked by the
  * DuckDB oracle; this spec pins the CROSS-batch semantics (first-seen
  * owner wins — a later-arriving lower id is new content, not a dup of
  * the future) and determinism. */
class NearDupStreamSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("deterministic across repeated drains (on RocksDB state)") {
    val a = StreamQueries.streamNearDup(spark, sf).collect().map(_.toString).sorted
    // the drain ran on the RocksDB provider and reported its state
    // footprint: rows = live (band, band_hash) buckets, so 0 < rows ≤
    // 4 bands × docs — bucket-count-sized, never document-bytes-sized
    val st = StreamQueries.lastNearDupState
    assert(st.isDefined, "drain did not report state-operator progress")
    val (rows, bytes) = st.get
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows > 0 && rows <= 4 * nDocs, s"state rows $rows out of bucket bound")
    assert(bytes > 0)
    // provider conf is scoped to the drain — the batch session is restored
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
    val b = StreamQueries.streamNearDup(spark, sf).collect().map(_.toString).sorted
    assert(a.nonEmpty, "fixture corpus has near-dups; stream found none")
    assert(a.sameElements(b))
  }

  test("cross-batch: first-seen owner wins, late lower id reports nothing") {
    import spark.implicits._
    val dupText = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    def doc(id: Long) = (id, dupText, "en", "web", dupText.length.toLong)
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-batches")
    try {
      // batch 1: doc 5 arrives first and owns its buckets; batch 2: doc 3
      // (same text, LOWER id) then doc 9. maxFilesPerTrigger=1 forces the
      // two files into separate micro-batches in filename order.
      Seq(doc(5)).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir.resolve("b1").toString)
      Seq(doc(3), doc(9)).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir.resolve("b2").toString)
      val staged = java.nio.file.Files.createTempDirectory("graft-neardup-in")
      def cp(sub: String, as: String): Unit = {
        val src = java.nio.file.Files.list(dir.resolve(sub))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.copy(src, staged.resolve(as))
      }
      cp("b1", "part-0001.parquet")
      cp("b2", "part-0002.parquet")
      try {
        val schema = spark.read.parquet(staged.toString).schema
        val name = "neardup_xbatch_" + java.lang.Long.toHexString(
          java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
        // the REAL stateful core, one file per trigger (filename order) so
        // state carries across micro-batches
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
        val result = StreamQueries.nearDupDrain(spark, stream, name, Nil)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        // doc 5 arrived first → owner; doc 3 (lower id, later) becomes
        // the new owner silently; doc 9 then reports the CURRENT owner 3
        assert(result == Seq((9L, 3L)),
          s"cross-batch first-seen semantics drifted: $result")
      } finally graft.util.Fs.deleteRecursively(staged)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("TTL: an expired bucket RE-ADMITS content — new owner, no report") {
    import spark.implicits._
    val dupText = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    val t0 = 1000000L // seconds
    val h = 3600L     // 1 h horizon
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // filename-ordered micro-batches (maxFilesPerTrigger=1):
    //  b1: doc 3 owns its buckets at t0
    //  b2: unrelated doc advances the watermark past t0 + h
    //  b3: another unrelated doc — doc 3's idle buckets time out HERE
    //      (timeouts fire only for keys with no data in the batch)
    //  b4: doc 9 (same text) arrives to EMPTY state → new owner, silent
    //  b5: doc 11 (same text) reports near_dup_of = 9, NOT 3
    val batches = Seq(
      Seq((3L, dupText, ts(t0))),
      Seq((7L, "quick brown foxes jump over sleepy hounds daily", ts(t0 + 36000))),
      Seq((8L, "solar panels convert photons into usable electricity", ts(t0 + 36060))),
      Seq((9L, dupText, ts(t0 + 36120))),
      Seq((11L, dupText, ts(t0 + 36180))))
    val staged = java.nio.file.Files.createTempDirectory("graft-neardup-ttl")
    try {
      batches.zipWithIndex.foreach { case (rows, i) =>
        val tmp = java.nio.file.Files.createTempDirectory("graft-neardup-ttl-b")
        try {
          rows.toDF("doc_id", "text", "event_time")
            .coalesce(1).write.parquet(tmp.resolve("out").toString)
          val part = java.nio.file.Files.list(tmp.resolve("out"))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.copy(part, staged.resolve(f"part-$i%04d.parquet"))
        } finally graft.util.Fs.deleteRecursively(tmp)
      }
      val schema = spark.read.parquet(staged.toString).schema
      val name = "neardup_ttl_" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
      val result = StreamQueries.nearDupDrainTtl(
          spark, stream, name, horizonMs = h * 1000, deleteDirs = Nil)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(result == Seq((11L, 9L)),
        s"TTL re-admission semantics drifted: $result")
    } finally graft.util.Fs.deleteRecursively(staged)
  }

  test("TTL query twin: gate-shaped drain equals the NoTimeout filter") {
    val a = StreamQueries.streamNearDup(spark, sf)
      .collect().map(_.toString).sorted
    val b = StreamQueries.streamNearDupTtl(spark, sf)
      .collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b),
      "48h-horizon TTL drain must match the NoTimeout filter on a finite corpus")
  }

  test("TTL expiry query: expiry provably fires mid-drain") {
    // mid-corpus horizon (one batch width of the 8-batch replay): buckets
    // idle ≥ 2 batches expire, so (a) end-of-drain live state sits BELOW
    // the no-expiry bucket count, and (b) cross-epoch pairs vanish —
    // strictly fewer reported docs than the NoTimeout drain. The
    // semantics themselves are hash-gated by the DuckDB closed-form
    // oracle; this pins that the gate fixture actually exercises expiry.
    val noExpiry = StreamQueries.streamNearDup(spark, sf)
      .collect().map(_.toString).sorted
    val bucketsNoExpiry = StreamQueries.lastNearDupState.map(_._1).getOrElse(-1L)
    val expiry = StreamQueries.streamNearDupTtlExpiry(spark, sf)
      .collect().map(_.toString).sorted
    val liveAfterExpiry = StreamQueries.lastNearDupState.map(_._1).getOrElse(-1L)
    assert(expiry.nonEmpty, "expiry drain reported nothing")
    assert(expiry.length < noExpiry.length,
      s"no pair crossed an expired epoch: ${expiry.length} vs ${noExpiry.length}")
    assert(liveAfterExpiry > 0 && liveAfterExpiry < bucketsNoExpiry,
      s"no bucket expired: $liveAfterExpiry live vs $bucketsNoExpiry without TTL")
  }
}
