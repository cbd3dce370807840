package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dicom._
import graft.pipeline.DicomPipeline

/** Error-path robustness: corrupted inputs must fail CLEANLY into the
  * error channel (never crash the job, never emit partial rows) —
  * whole-object failure granularity like the reference's DLQ. */
class CorruptInputSpec extends AnyFunSuite {

  private def process(key: String, bytes: Array[Byte]) =
    DicomPipeline.processObject("b", "r", key, () => new java.io.ByteArrayInputStream(bytes))

  test("truncated element (length beyond EOF) → parse error") {
    val good = DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0060, "CS", "OT")))
    val truncated = good.dropRight(4)
    val r = process("trunc", truncated)
    assert(r.isLeft)
    assert(r.swap.toOption.get.stage == "parse")
  }

  test("garbage bytes → parse error with DICM message") {
    val r = process("junk", Array.fill[Byte](200)(0x5a))
    assert(r.swap.toOption.get.error.contains("DICM"))
  }

  test("bad DA value → transform error (whole object fails)") {
    val r = process("baddate", DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0020, "DA", "not-a-date"))))
    assert(r.isLeft)
    assert(r.swap.toOption.get.stage == "transform")
  }

  test("zip containing a non-DICOM member: member filtered, others kept") {
    val dcm = DicomWriter.file(Seq(DicomWriter.strElement(0x0008, 0x0060, "CS", "OT")))
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("good")); z.write(dcm); z.closeEntry()
    z.putNextEntry(new java.util.zip.ZipEntry("notdcm")); z.write("hello".getBytes); z.closeEntry()
    z.close()
    val r = process("mixed.zip", bos.toByteArray)
    assert(r.toOption.get.length == 1)
  }

  test("truncated gzip tar → expand error") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.queries.DicomQueries.Fixtures, "example.tar.gz"))
    val r = process("cut.tar.gz", bytes.take(100))
    assert(r.isLeft)
    val e = r.swap.toOption.get
    assert(e.stage == "expand" || e.stage == "transform")
  }

  test("odd 10MB-range truncation of a loose dcm still parses header-only") {
    // loose .dcm reads are capped; a file larger than the cap truncated
    // mid-pixel-data must still yield its metadata (header precedes pixels)
    val big = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.queries.DicomQueries.Fixtures, "example-0"))
    val r = process("example-0", big)
    assert(r.toOption.get.length == 1)
  }
}
