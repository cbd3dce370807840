package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import graft.queries.StreamQueries

/** The finite drain releases what it made, whether the drain succeeds or
  * fails: after it, no query is active, no `stream_*` memory-sink view
  * is left, and no new entry is left under the scratch root's `dicomq`.
  * One entry of each sink kind runs (memory, DICOM parquet,
  * `foreachBatch`), then the drain helper with a stream that throws. */
class StreamDrainSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def scratch: Set[String] = {
    val ls = Files.list(graft.util.Fs.scratchDir(spark, "dicomq"))
    try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  private def assertReleased(before: Set[String]): Unit = {
    assert(spark.streams.active.isEmpty, "a drained query is still active")
    val views = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("stream_"))
    assert(views.isEmpty, s"memory-sink views left: ${views.toSeq}")
    assert((scratch -- before).isEmpty, s"scratch left under dicomq: ${scratch -- before}")
  }

  private def releases(run: => Any): Unit = {
    val before = scratch
    run
    assertReleased(before)
  }

  test("a memory-sink drain releases its view, input and checkpoint") {
    releases(StreamQueries.streamDedup(spark, sf).collect())
  }

  test("a DICOM parquet-sink drain releases its staged objects and sink") {
    releases(StreamQueries.streamIngest(spark, sf).collect())
  }

  test("a foreachBatch drain releases its arrivals and index") {
    releases(StreamQueries.streamTextIndexRefresh(spark, sf).collect())
  }

  test("a drain whose stream throws releases everything too") {
    val before = scratch
    intercept[Exception] {
      StreamQueries.drain(spark, "boom") { d =>
        d.memory("append", d.input(sf, "documents.parquet")
          .select(when(col("doc_id") >= 0, raise_error(lit("boom"))).as("x")))
      }
    }
    assertReleased(before)
  }
}
