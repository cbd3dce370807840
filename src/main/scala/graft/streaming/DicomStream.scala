package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pipeline.DicomPipeline

/** Event-driven ingest parity (SURVEY.md §2.5): the reference's "stream"
  * is one Lambda invocation per S3 `ObjectCreated` event
  * (`src/app.py:97-108`) — exactly Structured Streaming's file-source
  * semantics. [[objects]] discovers new objects through
  * `readStream.format("binaryFile")` (its `path` column only: the source
  * never reads their content); [[writeBatch]] opens each micro-batch's
  * objects through the SAME per-object reader and write the batch job
  * uses. [[start]] runs the two as a checkpointed query; the finite
  * drains of `graft.queries.StreamQueries` run them through their one
  * drain helper. The checkpointed source log never re-lists an object a
  * committed batch took — an improvement over the reference, which
  * reprocesses re-uploaded objects (no idempotency check, SURVEY §2.5).
  * The sink is at-least-once, though: the batch id is ignored and the
  * write appends, so a batch replayed after a crash between sink write
  * and commit appends its rows twice.
  */
object DicomStream {

  /** The paths of the objects arriving under `inputPath`, at most
    * `maxFilesPerTrigger` per micro-batch (1 gives the reference's
    * per-object isolation). */
  def objects(spark: SparkSession, inputPath: String,
              maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    // streaming sources require an explicit schema; binaryFile's is fixed
    val binSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    var reader = spark.readStream.format("binaryFile").schema(binSchema)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    reader.load(inputPath).select("path")
  }

  /** The sink of one micro-batch of [[objects]]: extract its objects and
    * append their rows to `outPath` and their errors to `errorPath`. */
  def writeBatch(outPath: String, errorPath: String)(batch: DataFrame, batchId: Long): Unit = {
    DicomPipeline.write(batch.sparkSession,
      DicomPipeline.extractFromPaths(batch, "local", "local"), outPath, Some(errorPath))
    ()
  }

  /** Start the ingest stream on `Trigger.AvailableNow`: it drains
    * everything currently in `inputPath`, then stops. */
  def start(spark: SparkSession, inputPath: String, outPath: String,
            errorPath: String, checkpoint: String,
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val sink: (DataFrame, Long) => Unit = writeBatch(outPath, errorPath)
    objects(spark, inputPath, maxFilesPerTrigger).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
