package graft

import org.apache.spark.sql.streaming.Trigger
import graft.queries.StreamQueries

/** Checkpoint-restart continuity for the streaming heavy-hitter state:
  * production streams restart, and the per-shard Misra-Gries summaries
  * (Kryo-serialized state) must come back — counts CONTINUE across the
  * restart instead of resetting, and a run that drains nothing new
  * re-emits nothing. Drives the real stateful core
  * ([[StreamQueries.hhSummaries]]) through three runs over one growing
  * file-source directory, all recovering from the same explicit
  * checkpoint on the RocksDB provider. */
class HeavyHittersRestartSpec extends SparkSuite {

  test("summary counts continue across stop → restart from checkpoint") {
    import spark.implicits._
    val staged = java.nio.file.Files.createTempDirectory("graft-hh-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hh-ckpt")
    var next = 0
    def stage(rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hh-rb")
      try {
        rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.parquet(tmp.resolve("out").toString)
        val part = java.nio.file.Files.list(tmp.resolve("out"))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.copy(part, staged.resolve(f"part-$next%04d.parquet"))
        next += 1
      } finally graft.util.Fs.deleteRecursively(tmp)
    }
    // one run = start from the shared checkpoint, drain whatever is NEW
    // (AvailableNow), stop; collect every shard emission via foreachBatch
    // (a memory sink cannot recover from a checkpoint)
    def run(): Seq[StreamQueries.ShardHHEmit] = StreamQueries.withRocksDbState(spark) {
      val emits = new java.util.concurrent.ConcurrentLinkedQueue[StreamQueries.ShardHHEmit]()
      val schema = spark.read.parquet(staged.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
      val q = StreamQueries.hhSummaries(spark, stream, m = 64, shards = 2)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamQueries.ShardHHEmit], _: Long) =>
          ds.collect().foreach(emits.add)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      emits.asScala.toSeq
    }
    def finalCount(emits: Seq[StreamQueries.ShardHHEmit], word: String): Long = {
      val last = emits.groupBy(_.shard).values.map(_.maxBy(_.n_seen))
      last.flatMap(e => e.words.zip(e.counts).filter(_._1 == word).map(_._2))
        .headOption.getOrElse(0L)
    }
    try {
      // run 1: "hot" appears 6 times across two files
      stage(Seq((1L, "hot hot cold"), (2L, "hot mild")))
      stage(Seq((3L, "hot hot hot breeze")))
      val r1 = run()
      assert(finalCount(r1, "hot") == 6L, s"run1 emitted: $r1")
      // run 2 (restart): 2 more "hot" — with state RESTORED the final
      // summary reads 8; had state been lost it would read 2
      stage(Seq((4L, "hot hot storm")))
      val r2 = run()
      assert(finalCount(r2, "hot") == 8L,
        s"state did not survive the restart: ${finalCount(r2, "hot")}")
      // the restart drain only saw file 3's tokens — its n_seen ledger
      // must CONTINUE the pre-stop total (9 tokens run 1 + 4 more),
      // split across shards
      assert(r2.map(_.n_seen).max <= 13L && r2.nonEmpty)
      // run 3 (second restart, nothing new): no batch, no emission —
      // nothing re-emits from restored state alone
      val r3 = run()
      assert(r3.isEmpty, s"restart with no new data re-emitted: $r3")
    } finally {
      graft.util.Fs.deleteRecursively(staged)
      graft.util.Fs.deleteRecursively(ckpt)
    }
  }
}
