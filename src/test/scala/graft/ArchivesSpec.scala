package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.ingest.Archives

/** Extension routing + archive expansion against the reference fixtures
  * (`src/s3wrapper.py` + `src/utils/utils.py` semantics). */
class ArchivesSpec extends AnyFunSuite {

  private val fixtures = graft.queries.DicomQueries.Fixtures
  private def read(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(s"$fixtures/$name"))

  test("splitext / eval_ext rules") {
    assert(Archives.evalExt("a/b/example-0") == ".dcm")       // no ext → default
    assert(Archives.evalExt("x.ZIP") == ".zip")               // lowered
    assert(Archives.evalExt("x.tar.gz") == ".gz")             // last ext wins
    assert(Archives.evalExt("weird.extension10") == ".dcm")   // ≥10 chars → default
    assert(Archives.evalExt(".hidden") == ".dcm")             // leading-dot only
    assert(Archives.evalExt("d/data.json") == ".json")
  }

  test("ignored extensions yield no entries, no error") {
    assert(Archives.expand("x.json", Array[Byte](1)) == Archives.Ignored)
    assert(Archives.expand("x.txt", Array[Byte](1)) == Archives.Ignored)
    assert(Archives.expand("x.csv", Array[Byte](1)) == Archives.Ignored)
  }

  test("loose .dcm: single basename entry, 10 MB range cap") {
    val big = new Array[Byte](12 * 1000 * 1000)
    val Archives.Entries(es) = Archives.expand("p/q/scan", big): @unchecked
    assert(es.map(_._1) == Seq("scan"))
    assert(es.head._2.length == Archives.DcmRangeBytes)
  }

  test("zip expansion: dirs/DICOMDIR filtered, DICM members kept") {
    val Archives.Entries(es) = Archives.expand("example.zip", read("example.zip")): @unchecked
    assert(es.map(_._1).sorted == Seq("example-1", "example-3"))
    assert(es.forall(e => graft.dicom.DicomParser.isDicom(e._2)))
  }

  test("tar expansion (auto-detected compression despite .tar name)") {
    val Archives.Entries(es) = Archives.expand("example.tar", read("example.tar")): @unchecked
    assert(es.map(_._1).sorted == Seq("example-4", "example-5"))
  }

  test("tar.gz expansion") {
    val Archives.Entries(es) = Archives.expand("example.tar.gz", read("example.tar.gz")): @unchecked
    assert(es.map(_._1).sorted == Seq("example-22", "example-31"))
  }

  test("tar.bz2 expansion") {
    val Archives.Entries(es) = Archives.expand("example.tar.bz2", read("example.tar.bz2")): @unchecked
    assert(es.map(_._1).sorted == Seq("example-24", "example-42"))
  }

  test("invalid zip raises") {
    intercept[Archives.InvalidArchiveException] {
      Archives.expand("bad.zip", "not a zip at all".getBytes)
    }
  }

  test("unsupported extension raises with reference message") {
    val e = intercept[Archives.UnsupportedExtensionException] {
      Archives.expand("x.rar", Array[Byte](1, 2))
    }
    assert(e.getMessage == ".rar file extension not supported")
  }
}
