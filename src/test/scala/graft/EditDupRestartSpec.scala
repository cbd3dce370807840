package graft

import org.apache.spark.sql.streaming.Trigger
import graft.queries.StreamQueries

/** Checkpoint-restart continuity for the streaming edit-distance
  * filter's RocksDB state — the [[NearDupRestartSpec]] discipline for
  * the signature-owner family: ownership (BOTH the id and the owner's
  * NAME, which the exact verify needs) must survive a stop/restart,
  * nothing re-emits, and a silent lower-id handover persists across a
  * further restart. */
class EditDupRestartSpec extends SparkSuite {

  test("owner id AND name survive restart; handover persists; no re-emission") {
    import spark.implicits._
    val staged = java.nio.file.Files.createTempDirectory("graft-editdup-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-editdup-ckpt")
    var next = 0
    def stage(rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-editdup-rb")
      try {
        rows.toDF("c_custkey", "c_name")
          .coalesce(1).write.parquet(tmp.resolve("out").toString)
        val part = java.nio.file.Files.list(tmp.resolve("out"))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.copy(part, staged.resolve(f"part-$next%04d.parquet"))
        next += 1
      } finally graft.util.Fs.deleteRecursively(tmp)
    }
    def run(): Seq[(Long, Long)] = StreamQueries.withRocksDbState(spark) {
      val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val schema = spark.read.parquet(staged.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
      val q = StreamQueries.editDupHits(spark, stream)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamQueries.EditDupHit], _: Long) =>
          ds.collect().foreach(h => hits.add((h.doc_id, h.dup_of)))
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      hits.asScala.toSeq.groupBy(_._1)
        .map { case (id, hs) => (id, hs.map(_._2).min) }.toSeq.sorted
    }
    try {
      // run 1: 50 "carol" owns its signatures; 70 "carol" reports it
      stage(Seq((50L, "carol")))
      stage(Seq((70L, "carol")))
      assert(run() == Seq((70L, 50L)))
      // run 2 (restart): 90 "caroll" (distance 1 INSERTION) must verify
      // against the RESTORED owner name "carol" — a restart that kept
      // the id but lost the name would mis-verify and report nothing.
      // Then 20 "carol" silently takes ownership.
      stage(Seq((90L, "caroll")))
      stage(Seq((20L, "carol")))
      assert(run() == Seq((90L, 50L)),
        "restart lost owner state: 90 did not verify against pre-restart owner")
      // run 3 (second restart): 95 reports the handed-over owner 20
      stage(Seq((95L, "carol")))
      assert(run() == Seq((95L, 20L)),
        "silent lower-id handover did not survive the second restart")
    } finally {
      graft.util.Fs.deleteRecursively(staged)
      graft.util.Fs.deleteRecursively(ckpt)
    }
  }
}
