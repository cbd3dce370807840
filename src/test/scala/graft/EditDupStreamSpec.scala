package graft

import graft.queries.StreamQueries

/** The streaming edit-distance filter beyond its hash gate: cross-batch
  * first-seen ownership, the exact-verify behind the signature match
  * (a colliding non-match must NOT report), and determinism. */
class EditDupStreamSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("deterministic across repeated drains") {
    val a = StreamQueries.streamEditDup(spark, sf).collect().map(_.toString).sorted
    val b = StreamQueries.streamEditDup(spark, sf).collect().map(_.toString).sorted
    assert(a.nonEmpty, "the fixture name family is edit-dense; stream found nothing")
    assert(a.sameElements(b))
  }

  test("cross-batch: first-seen owner wins; exact verify blocks colliders") {
    import spark.implicits._
    def write(dir: java.nio.file.Path, as: String,
              rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("editdup-w")
      rows.toDF("c_custkey", "c_name").coalesce(1).write.parquet(tmp.resolve("t").toString)
      val src = java.nio.file.Files.list(tmp.resolve("t"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(src, dir.resolve(as))
      graft.util.Fs.deleteRecursively(tmp)
    }
    val staged = java.nio.file.Files.createTempDirectory("editdup-in")
    try {
      // batch 1: id 50 "carol" owns its signatures. batch 2: id 20 "carol"
      // (lower id, later) silently takes ownership; id 90 "carol" then
      // reports the CURRENT owner 20; id 95 "oracl" shares the deletion
      // signature "carl"? no — shares NO signature with carol within one
      // delete, but "caroll" (ed 1, insert) must hit, and "lorac"
      // (reversed, shares no signature) must not.
      write(staged, "part-0001.parquet", Seq((50L, "carol")))
      write(staged, "part-0002.parquet",
        Seq((20L, "carol"), (90L, "carol"), (95L, "caroll"), (99L, "lorac")))
      val schema = spark.read.parquet(staged.toString).schema
      val name = "editdup_xbatch_" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
      val result = StreamQueries.editDupDrain(spark, stream, name, Nil)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(result == Map(90L -> 20L, 95L -> 20L),
        s"cross-batch owner semantics drifted: $result")
    } finally graft.util.Fs.deleteRecursively(staged)
  }

  test("collider with shared signature but distance 2 never reports") {
    import spark.implicits._
    // "ab" and "ba" share deletion signatures "a" and "b" but are at
    // edit distance 2 — the exact verify must reject the pair
    val work = java.nio.file.Files.createTempDirectory("editdup-col")
    try {
      val clean = java.nio.file.Files.createDirectory(work.resolve("stream"))
      Seq((1L, "ab"), (2L, "ba")).toDF("c_custkey", "c_name")
        .coalesce(1).write.parquet(work.resolve("in").toString)
      val src = java.nio.file.Files.list(work.resolve("in"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(src, clean.resolve("part-0001.parquet"))
      val schema = spark.read.parquet(clean.toString).schema
      val name = "editdup_col_" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
      val stream = spark.readStream.schema(schema).parquet(clean.toString)
      val result = StreamQueries.editDupDrain(spark, stream, name, Nil).collect()
      assert(result.isEmpty, s"distance-2 collider leaked: ${result.mkString}")
    } finally graft.util.Fs.deleteRecursively(work)
  }

  test("TTL: an expired owner RE-ADMITS the name family — new owner, no report") {
    import spark.implicits._
    val t0 = 1000000L
    val h = 3600L // 1 h horizon
    def write(dir: java.nio.file.Path, as: String,
              rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("editdupttl-w")
      rows.toDF("c_custkey", "c_name", "sec")
        .selectExpr("c_custkey", "c_name", "timestamp_seconds(sec) AS event_time")
        .coalesce(1).write.parquet(tmp.resolve("t").toString)
      val src = java.nio.file.Files.list(tmp.resolve("t"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(src, dir.resolve(as))
      graft.util.Fs.deleteRecursively(tmp)
    }
    val staged = java.nio.file.Files.createTempDirectory("editdupttl-in")
    try {
      // b1: id 3 "carol" owns; b2: unrelated name advances the watermark
      // past t0 + h; b3: another unrelated name — carol's idle
      // signatures time out HERE (timeouts fire only for keys with no
      // data in the batch); b4: id 9 "carol" arrives to EMPTY state →
      // new owner, silent; b5: id 11 "caroll" reports dup_of = 9, NOT 3
      write(staged, "part-0000.parquet", Seq((3L, "carol", t0)))
      write(staged, "part-0001.parquet", Seq((7L, "zebra", t0 + 36000)))
      write(staged, "part-0002.parquet", Seq((8L, "quartz", t0 + 36060)))
      write(staged, "part-0003.parquet", Seq((9L, "carol", t0 + 36120)))
      write(staged, "part-0004.parquet", Seq((11L, "caroll", t0 + 36180)))
      val schema = spark.read.parquet(staged.toString).schema
      val name = "editdup_ttl_" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
      val result = StreamQueries.editDupDrainTtl(
          spark, stream, name, horizonMs = h * 1000, deleteDirs = Nil)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(result == Seq((11L, 9L)),
        s"TTL re-admission semantics drifted: $result")
    } finally graft.util.Fs.deleteRecursively(staged)
  }

  test("TTL query twin: gate-shaped drain equals the NoTimeout filter") {
    val a = StreamQueries.streamEditDup(spark, sf).collect().map(_.toString).sorted
    val b = StreamQueries.streamEditDupTtl(spark, sf).collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b),
      "corpus-outliving horizon must reproduce the NoTimeout filter")
  }

  test("lev: matches Spark's levenshtein on random strings") {
    import org.apache.spark.sql.functions.levenshtein
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val alpha = "abcde"
    val pairs = (1 to 200).map { _ =>
      def s(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(5))).mkString
      (s(1 + rnd.nextInt(10)), s(1 + rnd.nextInt(10)))
    }
    val sparkSide = pairs.toDF("a", "b")
      .select(levenshtein($"a", $"b")).collect().map(_.getInt(0))
    val ours = pairs.map { case (a, b) => StreamQueries.lev(a, b) }
    assert(sparkSide.toSeq == ours)
  }
}
