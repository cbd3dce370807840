package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

/** Writes the DICOM fixture set `sample_dcm/` that the pipeline specs and
  * the DICOM driver queries read: two loose images, a zip, a gzip tar
  * named `.tar`, a `.tar.gz` and a `.tar.bz2` (two images each, plus an
  * empty `DICOMDIR` member), and an empty loose `DICOMDIR` — ten images
  * and one parse failure.
  *
  * A reconstruction of the reference's `generate_dcm.py` output: the
  * element set, values and layout facts FIXTURES.md §1 documents, with
  * every value the reference drew at random (UIDs, dates, sex, age,
  * birth date, colour) and every archive timestamp fixed here, so a
  * rerun writes the committed bytes again:
  *
  * {{{ sbt "Test/runMain graft.SampleDcm sample_dcm" }}}
  */
object SampleDcm {

  /** The random draws of one generated image. `colour` names a CSS/X11
    * colour; the pixel payload is 600×600 pixels of `rgb`. */
  private final case class Image(name: String, studyDate: String, sex: String,
                         age: String, birthDate: String,
                         colour: String, rgb: (Int, Int, Int))

  private val images: Seq[Image] = Seq(
    Image("example-0", "19990101", "F", "038Y", "19830428", "darkorange", (255, 140, 0)),
    Image("example-6", "19870403", "M", "052Y", "19690517", "sandybrown", (244, 164, 96)),
    Image("example-1", "19990101", "M", "045Y", "19760802", "lightcoral", (240, 128, 128)),
    Image("example-3", "19990101", "F", "061Y", "19600114", "seagreen", (46, 139, 87)),
    Image("example-4", "19870403", "F", "029Y", "19920611", "darkviolet", (148, 0, 211)),
    Image("example-5", "19990101", "M", "070Y", "19510923", "steelblue", (70, 130, 180)),
    Image("example-22", "19870403", "M", "033Y", "19880305", "dodgerblue", (30, 144, 255)),
    Image("example-31", "19990101", "F", "047Y", "19740719", "goldenrod", (218, 165, 32)),
    Image("example-24", "19990101", "M", "056Y", "19650228", "lightgreen", (144, 238, 144)),
    Image("example-42", "19870403", "F", "024Y", "19971030", "slategray", (112, 128, 144)))

  private def image(name: String): Image = images.find(_.name == name).get

  /** The archives: file name → members in write order. */
  private val archives: Seq[(String, Seq[String])] = Seq(
    "example.zip" -> Seq("example-1", "example-3", "DICOMDIR"),
    "example.tar" -> Seq("DICOMDIR", "example-4", "example-5"),
    "example.tar.gz" -> Seq("DICOMDIR", "example-22", "example-31"),
    "example.tar.bz2" -> Seq("DICOMDIR", "example-24", "example-42"))

  /** Secondary Capture Image Storage. */
  private val SopClass = "1.2.840.10008.5.1.4.1.1.7"

  /** A 64-character UID under the root `generate_dcm.py`'s pydicom
    * `generate_uid()` uses; the digits are SHA-256 of `seed`, not random. */
  private def uid(seed: String): String = {
    val root = "1.2.826.0.1.3680043.8.498."
    val digest = java.security.MessageDigest.getInstance("SHA-256").digest(seed.getBytes("UTF-8"))
    root + BigInt(1, digest).toString.take(64 - root.length)
  }

  /** One image: explicit VR little endian, elements in tag order, the
    * empty elements written with zero length. */
  private def dicom(i: Image): Array[Byte] = {
    import DicomWriter.{element, strElement, usElement}
    def s(g: Int, e: Int, vr: String, v: String) = strElement(g, e, vr, v)
    def empty(g: Int, e: Int, vr: String) = element(g, e, vr, Array.emptyByteArray)
    val sop = uid(s"${i.name}/sop")
    val (r, g, b) = i.rgb
    val pixels = Array.tabulate[Byte](600 * 600 * 3)(k => (k % 3 match {
      case 0 => r; case 1 => g; case _ => b }).toByte)
    val meta = Seq(
      element(0x0002, 0x0001, "OB", Array[Byte](0, 1)),
      s(0x0002, 0x0002, "UI", SopClass),
      s(0x0002, 0x0003, "UI", sop),
      s(0x0002, 0x0012, "UI", uid("implementation").take(32)),
      s(0x0002, 0x0013, "SH", "GRAFT_SAMPLE_DCM"))
    DicomWriter.file(Seq(
      s(0x0008, 0x0005, "CS", "ISO_IR 192"),
      s(0x0008, 0x0008, "CS", "ORIGINAL\\PRIMARY"),
      s(0x0008, 0x0016, "UI", SopClass),
      s(0x0008, 0x0018, "UI", sop),
      s(0x0008, 0x0020, "DA", i.studyDate),
      empty(0x0008, 0x0023, "DA"),  // ContentDate
      empty(0x0008, 0x002a, "DT"),  // AcquisitionDateTime
      s(0x0008, 0x0030, "TM", "120000"),
      empty(0x0008, 0x0033, "TM"),  // ContentTime
      empty(0x0008, 0x0050, "SH"),  // AccessionNumber
      s(0x0008, 0x0060, "CS", "OT"),
      s(0x0008, 0x0064, "CS", "SYN"),
      empty(0x0008, 0x0070, "LO"),  // Manufacturer
      empty(0x0008, 0x0080, "LO"),  // InstitutionName
      s(0x0008, 0x0090, "PN", "EMPTY"),
      empty(0x0008, 0x1030, "LO"),  // StudyDescription
      empty(0x0008, 0x103e, "LO"),  // SeriesDescription
      s(0x0010, 0x0010, "PN", "EMPTY"),
      s(0x0010, 0x0020, "LO", "ID1"),
      s(0x0010, 0x0030, "DA", i.birthDate),
      s(0x0010, 0x0040, "CS", i.sex),
      s(0x0010, 0x1010, "AS", i.age),
      empty(0x0018, 0x0015, "CS"),  // BodyPartExamined
      empty(0x0018, 0x5100, "CS"),  // PatientPosition
      s(0x0020, 0x000d, "UI", uid(s"${i.name}/study")),
      s(0x0020, 0x000e, "UI", uid(s"${i.name}/series")),
      s(0x0020, 0x0010, "SH", "1"),
      s(0x0020, 0x0011, "IS", "2"),
      s(0x0020, 0x0013, "IS", "1"),
      empty(0x0020, 0x0020, "CS"),  // PatientOrientation
      empty(0x0020, 0x0060, "CS"),  // Laterality
      s(0x0020, 0x4000, "LT", s"DCM with color ${i.colour}"),
      usElement(0x0028, 0x0002, 3),
      s(0x0028, 0x0004, "CS", "RGB"),
      usElement(0x0028, 0x0010, 979),
      usElement(0x0028, 0x0011, 985),
      s(0x0028, 0x0030, "DS", "1.0\\1.0"),
      usElement(0x0028, 0x0100, 8),
      usElement(0x0028, 0x0101, 8),
      usElement(0x0028, 0x0102, 7),
      usElement(0x0028, 0x0103, 0),
      usElement(0x0028, 0x0106, 0),
      usElement(0x0028, 0x0107, 255),
      element(0x7fe0, 0x0010, "OB", pixels)), meta = meta)
  }

  /** The bytes of a member or loose object: an image, or the empty
    * `DICOMDIR`. */
  private def member(name: String): Array[Byte] =
    if (name == "DICOMDIR") Array.emptyByteArray else dicom(image(name))

  /** Every archive entry's timestamp: 2021-06-01 12:00:00 (UTC for tar;
    * the zip's DOS time carries no zone). */
  private val Stamp = java.time.LocalDateTime.of(2021, 6, 1, 12, 0, 0)

  private def zip(members: Seq[String]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(bo)
    members.foreach { m =>
      val e = new java.util.zip.ZipEntry(m)
      e.setTimeLocal(Stamp)
      zo.putNextEntry(e); zo.write(member(m)); zo.closeEntry()
    }
    zo.close()
    bo.toByteArray
  }

  /** A POSIX (pax) tar with one extended header per entry — a fractional
    * mtime, as Python's `tarfile` writes — closed by two zero blocks and
    * not padded to a 10,240-byte record. */
  private def tar(members: Seq[String]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val to = new TarArchiveOutputStream(bo)
    to.setBigNumberMode(TarArchiveOutputStream.BIGNUMBER_POSIX)
    val mtime = FileTime.from(Stamp.toInstant(java.time.ZoneOffset.UTC).plusMillis(250))
    members.foreach { m =>
      val bytes = member(m)
      val e = new TarArchiveEntry(m)
      e.setSize(bytes.length.toLong)
      e.setMode(0x81a4) // regular file, 0644
      e.setIds(0, 0)
      e.setNames("", "")
      e.setLastModifiedTime(mtime)
      to.putArchiveEntry(e); to.write(bytes); to.closeArchiveEntry()
    }
    to.close()
    bo.toByteArray
  }

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val go = new java.util.zip.GZIPOutputStream(bo)
    go.write(bytes); go.close()
    bo.toByteArray
  }

  private def bzip2(bytes: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val zo = new BZip2CompressorOutputStream(bo)
    zo.write(bytes); zo.close()
    bo.toByteArray
  }

  /** File name → bytes of all seven objects. */
  def objects: Seq[(String, Array[Byte])] =
    Seq("example-0", "example-6", "DICOMDIR").map(n => n -> member(n)) ++
      archives.map { case (name, members) =>
        name -> (name match {
          case n if n.endsWith(".zip") => zip(members)
          case n if n.endsWith(".bz2") => bzip2(tar(members))
          case _ => gzip(tar(members)) // example.tar is gzip-compressed too
        })
      }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.headOption.getOrElse("sample_dcm"))
    Files.createDirectories(dir)
    objects.foreach { case (name, bytes) =>
      Files.write(dir.resolve(name), bytes)
      println(f"$name%-16s ${bytes.length}%,10d B")
    }
  }
}
