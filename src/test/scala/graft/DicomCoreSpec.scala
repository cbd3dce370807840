package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.dicom._
import graft.dicom.VrConvert._

/** Pure-core tests: parser golden checks against the reference fixtures
  * (`sample_dcm/`, read-only) + VR conversion quirk pins
  * (SURVEY.md §1.3 effective semantics). */
class DicomCoreSpec extends AnyFunSuite {

  private val fixtures = graft.queries.DicomQueries.Fixtures
  private def read(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(s"$fixtures/$name"))

  private lazy val ex0 = DicomParser.parse(read("example-0"))
  private lazy val flat0 =
    Flatten.flatten(ex0, "bkt", "reg", "example-0", "example-0")

  test("DICM magic detection") {
    assert(DicomParser.isDicom(read("example-0")))
    assert(!DicomParser.isDicom(Array.emptyByteArray))
    assert(!DicomParser.isDicom(read("example.zip")))
  }

  test("transfer syntax and meta parsed") {
    assert(ex0.transferSyntax == "1.2.840.10008.1.2.1")
    assert(ex0.meta.exists(_.keyword == "MediaStorageSOPClassUID"))
  }

  test("parsing stops before pixel data (P6) and drops nothing else") {
    assert(!ex0.elements.exists(_.group == 0x7fe0))
    assert(ex0.elements.exists(_.keyword == "Modality"))
  }

  test("golden element values of example-0") {
    assert(flat0("Modality") == DStr("OT"))
    assert(flat0("ConversionType") == DStr("SYN"))
    assert(Set("M", "F").contains(flat0("PatientSex").asInstanceOf[DStr].s))
    assert(flat0("PatientID") == DStr("ID1"))
    assert(flat0("StudyTime") == DStr("120000"))
    assert(flat0("PhotometricInterpretation") == DStr("RGB"))
  }

  test("US → string via duplicate-key override (quirk pin)") {
    assert(flat0("SamplesPerPixel") == DStr("3"))
    assert(flat0("Rows") == DStr("979"))
    assert(flat0("Columns") == DStr("985"))
    assert(flat0("BitsAllocated") == DStr("8"))
    assert(flat0("LargestImagePixelValue") == DStr("255"))
  }

  test("IS/DS stay raw strings") {
    assert(flat0("SeriesNumber") == DStr("2"))
    assert(flat0("InstanceNumber") == DStr("1"))
  }

  test("multi-valued tags become lists via static dictionary VM") {
    assert(flat0("ImageType") == DStrList(Seq("ORIGINAL", "PRIMARY")))
    assert(flat0("PixelSpacing") == DStrList(Seq("1.0", "1.0")))
    // VM=1-n with a single observed value still wraps into a list
    assert(flat0("SpecificCharacterSet") == DStrList(Seq("ISO_IR 192")))
  }

  test("DA converts to date; StudyDate is one of the generator's choices") {
    val sd = flat0("StudyDate").asInstanceOf[DDate]
    val d = java.time.LocalDate.ofEpochDay(sd.epochDay)
    assert(d.isAfter(java.time.LocalDate.parse("1980-01-01")))
    assert(flat0("PatientBirthDate").isInstanceOf[DDate])
  }

  test("PN converts to 7-field struct") {
    val pn = flat0("PatientName").asInstanceOf[DPersonName]
    assert(pn.c.length == 7)
    assert(pn.c.head == "EMPTY") // FamilyName
    assert(pn.c(1) == "")        // GivenName
  }

  test("empty elements are skipped (ContentDate, AccessionNumber, ...)") {
    Seq("ContentDate", "AccessionNumber", "PatientOrientation", "Laterality",
        "ContentTime", "PatientPosition", "AcquisitionDateTime")
      .foreach(k => assert(!flat0.contains(k), k))
  }

  test("lineage columns injected; partition default NOT applied when StudyDate present") {
    assert(flat0("SOURCE_S3_BUCKET") == DStr("bkt"))
    assert(flat0("SOURCE_S3_REGION") == DStr("reg"))
    assert(flat0("SOURCE_S3_KEY") == DStr("example-0"))
    assert(flat0("SOURCE_S3_ARCHIVE_PATH") == DStr("example-0"))
  }

  test("partition default 1979-01-01 imputed when StudyDate absent (quirk pin)") {
    val noSd = ex0.copy(elements = ex0.elements.filterNot(_.keyword == "StudyDate"))
    val flat = Flatten.flatten(noSd, "b", "r", "k", "a")
    assert(flat("StudyDate") ==
      DDate(java.time.LocalDate.parse("1979-01-01").toEpochDay))
  }

  test("invalid file raises InvalidDicomException (DLQ semantics)") {
    intercept[DicomParser.InvalidDicomException] {
      DicomParser.parse(read("DICOMDIR"))
    }
    intercept[DicomParser.InvalidDicomException] {
      DicomParser.parse("garbage".getBytes)
    }
  }

  test("unknown VR is a hard failure (quirk pin)") {
    val e = DicomParser.DicomElement(0x0008, 0x0060, "ZZ", Array[Byte](65))
    intercept[VrConvert.UnknownVrException] {
      VrConvert.convert(e, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  test("personName component split") {
    assert(VrConvert.personName("Family^Given^Middle^Prefix^Suffix=Ideo=Phon") ==
      Seq("Family", "Given", "Ideo", "Middle", "Prefix", "Suffix", "Phon"))
    assert(VrConvert.personName("EMPTY") ==
      Seq("EMPTY", "", "", "", "", "", ""))
  }

  test("snake/camel case conversions (wrangler sanitize pins from FIXTURES.md)") {
    assert(Tags.snakeCase("SOPClassUID") == "sopclass_uid")
    assert(Tags.snakeCase("SOPInstanceUID") == "sopinstance_uid")
    assert(Tags.snakeCase("PatientBirthDate") == "patient_birth_date")
    assert(Tags.snakeCase("SOURCE_S3_BUCKET") == "source_s3_bucket")
    assert(Tags.snakeCase("StudyID") == "study_id")
    assert(Tags.snakeCase("SamplesPerPixel") == "samples_per_pixel")
    assert(Tags.camelCase("study_date") == "StudyDate")
  }
}
