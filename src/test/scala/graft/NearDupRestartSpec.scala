package graft

import org.apache.spark.sql.streaming.Trigger
import graft.queries.StreamQueries

/** Checkpoint-restart continuity for the RocksDB near-dup state:
  * production streams restart, and bucket OWNERSHIP must survive the
  * restart — a doc accepted before the stop must still own its buckets
  * after, nothing already emitted may re-emit, and the silent
  * first-seen ownership handover must persist across a FURTHER restart.
  * Drives the real stateful core ([[StreamQueries.nearDupHits]]) through
  * three runs over one growing file-source directory, all recovering
  * from the same explicit checkpoint on the RocksDB provider (the
  * gate drain's memory sink cannot recover from a checkpoint, so the
  * spec attaches a foreachBatch collector instead).
  */
class NearDupRestartSpec extends SparkSuite {

  test("owners survive stop → restart from checkpoint; no re-emission, handover persists") {
    import spark.implicits._
    val dupText = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    val staged = java.nio.file.Files.createTempDirectory("graft-neardup-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-neardup-ckpt")
    var next = 0
    def stage(rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-neardup-rb")
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
    // in the staged dir (AvailableNow), stop; RocksDB provider active
    def run(): Seq[(Long, Long)] = StreamQueries.withRocksDbState(spark) {
      val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val schema = spark.read.parquet(staged.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
      val q = StreamQueries.nearDupHits(spark, stream)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamQueries.NearDupHit], _: Long) =>
          ds.collect().foreach(h => hits.add((h.doc_id, h.near_dup_of)))
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      // the gate drain's fold: hits arrive once per shared BAND bucket;
      // a doc's answer is min(owner) over its bands
      hits.asScala.toSeq.groupBy(_._1)
        .map { case (id, hs) => (id, hs.map(_._2).min) }.toSeq.sorted
    }
    try {
      // run 1: doc 5 owns the dup buckets, doc 7 reports it
      stage(Seq((5L, dupText)))
      stage(Seq((7L, dupText)))
      assert(run() == Seq((7L, 5L)))
      // run 2 (restart): doc 9 alone — with state RESTORED it reports
      // owner 5; had state been lost, 9 would own fresh buckets and
      // report NOTHING. Then doc 3 (lower id) takes ownership silently.
      stage(Seq((9L, dupText)))
      stage(Seq((3L, dupText)))
      assert(run() == Seq((9L, 5L)),
        "restart lost RocksDB state: doc 9 did not see pre-restart owner 5")
      // run 3 (second restart): doc 11 must report the handed-over owner
      // 3 — pinning that the SILENT ownership flip also persisted
      stage(Seq((11L, dupText)))
      assert(run() == Seq((11L, 3L)),
        "ownership handover did not survive the second restart")
      // the checkpoint really is the RocksDB layout, not the HDFS-backed
      // default: provider writes under state/0/<part>/ with .zip/.changelog
      import scala.jdk.CollectionConverters._
      val stateFiles = java.nio.file.Files.walk(ckpt.resolve("state"))
        .iterator().asScala.map(_.getFileName.toString).toSeq
      assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
        s"checkpoint state dir does not look RocksDB-backed: $stateFiles")
    } finally {
      graft.util.Fs.deleteRecursively(staged)
      graft.util.Fs.deleteRecursively(ckpt)
    }
  }
}
