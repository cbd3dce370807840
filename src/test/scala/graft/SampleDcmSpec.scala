package graft

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The committed `sample_dcm/` set is what [[SampleDcm]] writes. Loose
  * objects and the uncompressed tar streams compare byte for byte; the
  * zip compares entry by entry, since deflate output may differ between
  * zlib builds while what it holds may not. */
class SampleDcmSpec extends AnyFunSuite {

  private val dir = Paths.get(graft.queries.DicomQueries.Fixtures)
  private def committed(name: String) = Files.readAllBytes(dir.resolve(name))

  private def zipEntries(bytes: Array[Byte]): Seq[(String, Seq[Byte])] = {
    val zi = new java.util.zip.ZipInputStream(new ByteArrayInputStream(bytes))
    try Iterator.continually(zi.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zi.readAllBytes().toSeq).toList
    finally zi.close()
  }

  private def decompressed(name: String, bytes: Array[Byte]): Array[Byte] = {
    val in = new ByteArrayInputStream(bytes)
    val s =
      if (name.endsWith(".bz2"))
        new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(in)
      else new java.util.zip.GZIPInputStream(in)
    try s.readAllBytes() finally s.close()
  }

  test("the committed fixture set is exactly the generator's output") {
    val generated = SampleDcm.objects
    import scala.jdk.CollectionConverters._
    val listed = Files.list(dir)
    val names = try listed.iterator().asScala.map(_.getFileName.toString).toSet
      finally listed.close()
    assert(names == generated.map(_._1).toSet)
    generated.foreach {
      case (name, bytes) if name.endsWith(".zip") =>
        assert(zipEntries(committed(name)) == zipEntries(bytes), name)
      case (name, bytes) if name.contains(".tar") =>
        assert(decompressed(name, committed(name)).sameElements(decompressed(name, bytes)), name)
      case (name, bytes) =>
        assert(committed(name).sameElements(bytes), name)
    }
  }
}
