package graft

import org.apache.spark.sql.streaming.Trigger
import graft.queries.StreamQueries

/** `stream_corpus_pipeline` under stop → restart: the composed
  * curation pipeline is the query a continuous ingest actually leaves
  * running, so its day-2 contract is the same as the near-dup filter's
  * — the RocksDB bucket store must survive a checkpointed restart, and
  * the two STATELESS tiers in front (gate, capped-NB scoring) must
  * re-apply per batch without needing any recovered state of their
  * own. Cross-batch the ownership semantics are deliberately
  * first-seen, like [[NearDupStreamSpec]] pins for the filter: a
  * later-arriving LOWER id takes a bucket over (and, being its own
  * min(owner), is KEPT — it is new content vs what was already
  * accepted), while later higher ids report the standing owner and are
  * dropped. This spec pins that the filters also hold across restarts:
  * a gate-failing or model-negative document emits nothing and leaves
  * no bucket state behind in any run. */
class PipelineRestartSpec extends SparkSuite {

  // passes every tier: ≥10 tokens, mean length in [2,15], no
  // punctuation, en-stopword argmax, and 'hash' ≥ 4% of tokens so the
  // weak rule labels it 1 and a model trained on its kin scores it > 0
  private val keepText =
    "the hash and hash of hash to hash in hash table a hash is hash data"
  // same gate survival, zero 'hash' → the model scores it negative
  private val dropText =
    "the data and data of rows to rows in table a table is clean data"

  test("bucket state survives restart; stateless tiers filter identically in every run") {
    import spark.implicits._
    def doc(id: Long, t: String) = (id, t, "en", "web", t.length.toLong)

    // train the shipped model on a crafted corpus where 'hash'-dense
    // docs are the positive class (even ids train, both classes present)
    val trainDir = java.nio.file.Files.createTempDirectory("graft-pipe-train")
    val modelDir = java.nio.file.Files.createTempDirectory("graft-pipe-model")
    val staged = java.nio.file.Files.createTempDirectory("graft-pipe-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pipe-ckpt")
    var next = 0
    def stage(rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-pipe-rb")
      try {
        rows.map { case (id, t) => doc(id, t) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.parquet(tmp.resolve("out").toString)
        val part = java.nio.file.Files.list(tmp.resolve("out"))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.copy(part, staged.resolve(f"part-$next%04d.parquet"))
        next += 1
      } finally graft.util.Fs.deleteRecursively(tmp)
    }
    def run(): Seq[(Long, Long)] = StreamQueries.withRocksDbState(spark) {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val schema = spark.read.parquet(staged.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
      val q = StreamQueries.pipelineOwned(spark, stream, s"$modelDir/model")
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamQueries.PipeOwn], _: Long) =>
          ds.collect().foreach(o => out.add((o.doc_id, o.owner)))
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      // the gate drain's fold: a doc's answer is min(owner) over bands
      out.asScala.toSeq.groupBy(_._1)
        .map { case (id, os) => (id, os.map(_._2).min) }.toSeq.sorted
    }
    try {
      (0L to 9L).map { id =>
        doc(id, if (id % 3 == 0) keepText + " " + id else dropText + " " + id)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$trainDir/documents.parquet")
      graft.operators.Curation.writeNbModel(spark, trainDir.toString, s"$modelDir/model")

      // run 1: doc 5 passes every tier and owns its buckets (kept);
      // doc 4 — LOWER id — survives the gate but scores negative, so it
      // must emit nothing and grab no bucket despite arriving first
      stage(Seq((4L, dropText)))
      stage(Seq((5L, keepText)))
      assert(run() == Seq((5L, 5L)),
        "the model-negative lower id must not reach the bucket store")
      // run 2 (restart): doc 9, same surviving text — with state
      // RESTORED it reports pre-restart owner 5 (dropped); had state
      // been lost it would own fresh buckets and be kept
      stage(Seq((9L, keepText)))
      assert(run() == Seq((9L, 5L)),
        "restart lost RocksDB state: doc 9 did not see pre-restart owner 5")
      // run 3 (second restart): doc 3 takes ownership (lower id ⇒ its
      // own min(owner) ⇒ kept — first-seen semantics), and a
      // gate-failing doc alongside emits nothing
      stage(Seq((2L, "el la de que y en un corto")))
      stage(Seq((3L, keepText)))
      assert(run() == Seq((3L, 3L)),
        "later lower id must take ownership; gate-failing doc must emit nothing")
      // run 4: the handover persisted — doc 11 reports owner 3
      stage(Seq((11L, keepText)))
      assert(run() == Seq((11L, 3L)),
        "ownership handover did not survive the third restart")
    } finally {
      graft.util.Fs.deleteRecursively(staged)
      graft.util.Fs.deleteRecursively(ckpt)
      graft.util.Fs.deleteRecursively(trainDir)
      graft.util.Fs.deleteRecursively(modelDir)
    }
  }
}
