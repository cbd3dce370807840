package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pipeline.DicomPipeline

/** Event-driven ingest parity (SURVEY.md §2.5): the reference's "stream"
  * is one Lambda invocation per S3 `ObjectCreated` event
  * (`src/app.py:97-108`) — exactly Structured Streaming's file-source
  * semantics. `readStream.format("binaryFile")` discovers new objects
  * (its `path` column only: the source never reads their content);
  * `foreachBatch` opens them through the SAME per-object reader and
  * write the batch job uses. The checkpointed source log never
  * re-lists an object a committed batch took — an improvement over the
  * reference, which reprocesses re-uploaded objects (no idempotency
  * check, SURVEY §2.5). The sink is at-least-once, though: the batch
  * id is ignored and the write appends, so a batch replayed after a
  * crash between sink write and commit appends its rows twice.
  */
object DicomStream {

  /** Start the ingest stream. `Trigger.AvailableNow` drains everything
    * currently in `inputPath` then stops — per-object isolation like the
    * reference is available via `maxFilesPerTrigger=1`. */
  def start(spark: SparkSession, inputPath: String, outPath: String,
            errorPath: String, checkpoint: String,
            availableNow: Boolean = true,
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import org.apache.spark.sql.types._
    // streaming sources require an explicit schema; binaryFile's is fixed
    val binSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    var reader = spark.readStream.format("binaryFile").schema(binSchema)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val paths = reader.load(inputPath).select("path")
    var writer = paths.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        DicomPipeline.write(batch.sparkSession,
          DicomPipeline.extractFromPaths(batch, "local", "local"), outPath, Some(errorPath))
        ()
      }
    if (availableNow) writer = writer.trigger(Trigger.AvailableNow())
    writer.start()
  }
}
