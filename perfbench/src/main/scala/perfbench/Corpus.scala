package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}

/** Seeded, deterministic DICOM corpus generator plus the ground truth
  * the correctness gate checks against.
  *
  * Every object's bytes are a function of (seed, object index) only, so
  * the same seed gives byte-identical corpora whatever the thread count.
  * The truth is computed from the generator's own model of each image,
  * never by reading the program's output. */
object Corpus {

  /** Size and mix of one corpus. */
  final case class Shape(
      looseImages: Int,      // loose `.dcm` objects, one image each
      loosePixelBytes: Int,  // pixel payload per loose image
      days: Int,             // study dates are spread over this many days
      sidecars: Int,         // ignored `.json` objects
      archives: Int,         // zip and tar.gz objects, alternating
      membersPerArchive: Int,
      memberPixelBytes: Int,
      oversized: Int,        // loose `.dcm` objects above the 10 MB range cap
      oversizedBytes: Int)

  /** One image as the generator wrote it: the facts the queries ask for. */
  final case class Image(sop: String, patientId: String, family: String, given: String,
                         studyDate: LocalDate, modality: String, kernels: Seq[String])

  final case class QueryCase(kind: String, sql: String, answer: Vector[String])

  final case class Truth(
      objects: Int,
      images: IndexedSeq[Image],
      objectsWithImages: Int,
      ignored: Int,
      errorsByStage: Map[String, Int],
      columns: Set[String],
      scanBytes: Long,        // bytes of every object (a full-object scan reads these)
      headerBytes: Long,      // bytes up to each written image's pixel-data tag
      archiveMembers: Int,    // every archive member, kept or not
      membersDropped: Int,    // members the archive filter must drop
      dates: Int)

  val BaseDate: LocalDate = LocalDate.of(2024, 1, 1)
  val Table = "dicom_db.dicom_metadata"
  val ErrorsTable = "dicom_db.dicom_errors"

  private val Modalities = Vector("CT", "MR", "US", "CR", "DX", "MG")
  private val Kernels = Vector("STANDARD", "BONE", "LUNG", "SOFT", "DETAIL")
  private val Families = Vector("Adams", "Baker", "Clark", "Davis", "Evans", "Frank",
    "Ghosh", "Hill", "Ito", "Jones", "King", "Lopez", "Moore", "Nagy", "Ortiz",
    "Patel", "Quinn", "Rossi", "Smith", "Tanaka", "Ueda", "Vega", "Wong", "Xu",
    "Young", "Zhang")
  private val Givens = Vector("Alex", "Bo", "Cara", "Dev", "Eli", "Fay", "Gus",
    "Hana", "Ivan", "Jo", "Kai", "Lea", "Max", "Nia", "Omar", "Pia")
  private val BodyParts = Vector("HEAD", "CHEST", "ABDOMEN", "PELVIS", "KNEE")
  private val SopClass = "1.2.840.10008.5.1.4.1.1.2"
  private val ArchiveTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Column names every written image carries: the snake_case form of
    * each header keyword the generator writes, plus the lineage columns. */
  val Columns: Set[String] = Set(
    "specific_character_set", "image_type", "sopclass_uid", "sopinstance_uid",
    "study_date", "series_date", "content_date", "study_time", "accession_number",
    "modality", "manufacturer", "institution_name", "referring_physician_name",
    "study_description", "series_description", "procedure_code_sequence",
    "patient_name", "patient_id", "patient_birth_date", "patient_sex", "patient_age",
    "patient_size", "patient_weight", "body_part_examined", "slice_thickness", "kvp",
    "software_versions", "patient_position", "focal_spots", "convolution_kernel",
    "study_instance_uid", "series_instance_uid", "study_id", "series_number",
    "instance_number", "image_position_patient", "image_orientation_patient",
    "samples_per_pixel", "photometric_interpretation", "rows", "columns",
    "pixel_spacing", "bits_allocated", "bits_stored", "high_bit",
    "pixel_representation", "window_center", "window_width",
    "source_s3_bucket", "source_s3_region", "source_s3_key", "source_s3_archive_path")

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL + i)

  private def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.size))

  private def dec(r: SplittableRandom, lo: Double, hi: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, lo + r.nextDouble() * (hi - lo))

  /** The image model for image `i`. Archive members share their
    * archive's patient and date, like the series of one study. */
  private def image(seed: Long, i: Int, patients: Int, days: Int,
                    study: Option[(Int, Int)]): Image = {
    val r = rng(seed, 1, i)
    val (patient, day) = study.getOrElse((r.nextInt(patients), r.nextInt(days)))
    val nKernels = 1 + r.nextInt(2)
    val kernels = (0 until nKernels).map(_ => pick(r, Kernels)).distinct
    Image(
      sop = s"2.25.${java.lang.Long.toUnsignedString(seed)}.$i",
      patientId = f"PID$patient%06d",
      family = Families(patient % Families.size),
      given = Givens((patient / Families.size) % Givens.size),
      studyDate = BaseDate.plusDays(day.toLong),
      modality = pick(r, Modalities),
      kernels = kernels)
  }

  private def da(d: LocalDate): String = "%04d%02d%02d".format(d.getYear, d.getMonthValue, d.getDayOfMonth)

  /** Pixel bytes that deflate by roughly 3x: a gradient with two bits of
    * seeded noise per byte (never all-zero, never incompressible). */
  private def pixels(seed: Long, i: Int, n: Int): Array[Byte] = {
    val r = rng(seed, 2, i)
    val out = new Array[Byte](n)
    var j = 0
    var bits = 0L
    while (j < n) {
      if ((j & 31) == 0) bits = r.nextLong()
      out(j) = (((j >> 6) & 0xfc) | ((bits >>> ((j & 31) * 2)) & 3L).toInt).toByte
      j += 1
    }
    out
  }

  /** Encode one image; returns (file bytes, header bytes up to and
    * including the pixel-data tag). `contentDate` overrides the valid
    * date, which is how the transform-stage error case is seeded. */
  def encode(seed: Long, i: Int, img: Image, pixelBytes: Int,
             contentDate: Option[String] = None): (Array[Byte], Int) = {
    val r = rng(seed, 3, i)
    val ds = new ByteArrayOutputStream(pixelBytes + 2048)
    import DicomBytes._
    str(ds, 0x0008, 0x0005, "CS", "ISO_IR 100")
    strs(ds, 0x0008, 0x0008, "CS", Seq("ORIGINAL", "PRIMARY", if (r.nextBoolean()) "AXIAL" else "LOCALIZER"))
    str(ds, 0x0008, 0x0016, "UI", SopClass)
    str(ds, 0x0008, 0x0018, "UI", img.sop)
    str(ds, 0x0008, 0x0020, "DA", da(img.studyDate))
    str(ds, 0x0008, 0x0021, "DA", da(img.studyDate))
    str(ds, 0x0008, 0x0023, "DA", contentDate.getOrElse(da(img.studyDate)))
    str(ds, 0x0008, 0x0030, "TM", "%02d%02d%02d".format(r.nextInt(24), r.nextInt(60), r.nextInt(60)))
    str(ds, 0x0008, 0x0050, "SH", f"ACC${r.nextInt(1000000)}%06d")
    str(ds, 0x0008, 0x0060, "CS", img.modality)
    str(ds, 0x0008, 0x0070, "LO", "Graft Medical")
    str(ds, 0x0008, 0x0080, "LO", "General Hospital")
    str(ds, 0x0008, 0x0090, "PN", s"${pick(r, Families)}^${pick(r, Givens)}^^Dr")
    str(ds, 0x0008, 0x1030, "LO", s"${img.modality} study")
    sq(ds, 0x0008, 0x1032, Seq {
      val item = new ByteArrayOutputStream()
      str(item, 0x0008, 0x0100, "SH", f"P${r.nextInt(1000)}%03d")
      str(item, 0x0008, 0x0102, "SH", "LOCAL")
      str(item, 0x0008, 0x0104, "LO", s"${img.modality} procedure")
      item.toByteArray
    })
    str(ds, 0x0008, 0x103e, "LO", s"Series ${r.nextInt(20)}")
    str(ds, 0x0010, 0x0010, "PN", s"${img.family}^${img.given}")
    str(ds, 0x0010, 0x0020, "LO", img.patientId)
    str(ds, 0x0010, 0x0030, "DA", da(LocalDate.of(1940 + r.nextInt(60), 1 + r.nextInt(12), 1 + r.nextInt(28))))
    str(ds, 0x0010, 0x0040, "CS", if (r.nextBoolean()) "F" else "M")
    str(ds, 0x0010, 0x1010, "AS", f"${20 + r.nextInt(70)}%03dY")
    str(ds, 0x0010, 0x1020, "DS", dec(r, 1.4, 2.0))
    str(ds, 0x0010, 0x1030, "DS", dec(r, 40, 120))
    str(ds, 0x0018, 0x0015, "CS", pick(r, BodyParts))
    str(ds, 0x0018, 0x0050, "DS", dec(r, 0.5, 5))
    str(ds, 0x0018, 0x0060, "DS", dec(r, 80, 140))
    strs(ds, 0x0018, 0x1020, "LO", Seq("4.1", s"build${r.nextInt(100)}"))
    strs(ds, 0x0018, 0x1190, "DS", Seq(dec(r, 0.5, 1), dec(r, 1, 2)))
    strs(ds, 0x0018, 0x1210, "SH", img.kernels)
    str(ds, 0x0018, 0x5100, "CS", "HFS")
    str(ds, 0x0020, 0x000d, "UI", s"2.25.${img.patientId.drop(3).toInt}.${img.studyDate.toEpochDay}")
    str(ds, 0x0020, 0x000e, "UI", s"2.25.${img.patientId.drop(3).toInt}.${img.studyDate.toEpochDay}.${r.nextInt(20)}")
    str(ds, 0x0020, 0x0010, "SH", s"S${r.nextInt(10000)}")
    str(ds, 0x0020, 0x0011, "IS", (1 + r.nextInt(20)).toString)
    str(ds, 0x0020, 0x0013, "IS", (1 + i % 500).toString)
    strs(ds, 0x0020, 0x0032, "DS", Seq(dec(r, -200, 200), dec(r, -200, 200), dec(r, -200, 200)))
    strs(ds, 0x0020, 0x0037, "DS", Seq("1", "0", "0", "0", "1", "0"))
    us(ds, 0x0028, 0x0002, 1)
    str(ds, 0x0028, 0x0004, "CS", "MONOCHROME2")
    val side = math.max(1, math.sqrt(pixelBytes / 2.0).toInt)
    us(ds, 0x0028, 0x0010, side)
    us(ds, 0x0028, 0x0011, math.max(1, pixelBytes / 2 / side))
    strs(ds, 0x0028, 0x0030, "DS", Seq("0.5", "0.5"))
    us(ds, 0x0028, 0x0100, 16)
    us(ds, 0x0028, 0x0101, 12)
    us(ds, 0x0028, 0x0102, 11)
    us(ds, 0x0028, 0x0103, 0)
    strs(ds, 0x0028, 0x1050, "DS", Seq("40", "400"))
    strs(ds, 0x0028, 0x1051, "DS", Seq("400", "1500"))
    val headerInDataSet = ds.size()
    element(ds, 0x7fe0, 0x0010, "OW", pixels(seed, i, pixelBytes))
    val bytes = DicomBytes.file(SopClass, img.sop, ds.toByteArray)
    (bytes, bytes.length - (ds.size() - headerInDataSet) + 4)
  }

  private def zip(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val zo = new ZipOutputStream(bo)
    members.foreach { case (name, b) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(ArchiveTime)
      zo.putNextEntry(e); zo.write(b); zo.closeEntry()
    }
    zo.close()
    bo.toByteArray
  }

  private def tarGz(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val to = new TarArchiveOutputStream(new GZIPOutputStream(bo))
    members.foreach { case (name, b) =>
      val e = new TarArchiveEntry(name)
      e.setSize(b.length.toLong)
      e.setModTime(java.nio.file.attribute.FileTime.from(
        ArchiveTime.toEpochSecond(java.time.ZoneOffset.UTC), java.util.concurrent.TimeUnit.SECONDS))
      e.setUserName(""); e.setGroupName(""); e.setIds(0, 0); e.setMode(0x81a4)
      to.putArchiveEntry(e); to.write(b); to.closeArchiveEntry()
    }
    to.close()
    bo.toByteArray
  }

  /** What one object is; its bytes are produced by [[bytesOf]]. */
  private sealed trait Obj { def path: String }
  private final case class Loose(path: String, i: Int, img: Image, pixelBytes: Int) extends Obj
  private final case class Archive(path: String, first: Int, imgs: Seq[Image], tar: Boolean) extends Obj
  private final case class Sidecar(path: String, i: Int) extends Obj
  private final case class Bad(path: String, stage: String) extends Obj

  /** (bytes, header bytes of the images this object yields). */
  private def bytesOf(seed: Long, shape: Shape, o: Obj): (Array[Byte], Long) = o match {
    case Loose(_, i, img, px) =>
      val (b, h) = encode(seed, i, img, px); (b, h.toLong)
    case Archive(_, first, imgs, tar) =>
      val kept = imgs.zipWithIndex.map { case (img, j) =>
        val (b, h) = encode(seed, first + j, img, shape.memberPixelBytes)
        (f"series/img-$j%03d.dcm", b, h)
      }
      // one member the archive filter must drop: by name or by magic
      val dropped =
        if (first % 2 == 0) "DICOMDIR" -> kept.head._2
        else "notes.txt" -> "not a DICOM object".getBytes("US-ASCII")
      val members = kept.map(k => k._1 -> k._2) :+ dropped
      ((if (tar) tarGz(members) else zip(members)), kept.map(_._3.toLong).sum)
    case Sidecar(_, i) =>
      (s"""{"object": $i, "note": "sidecar metadata, ignored by the job"}""".getBytes("UTF-8"), 0L)
    case Bad(_, "route") =>
      ("unsupported object body".getBytes("US-ASCII"), 0L)
    case Bad(_, "expand") =>
      val img = image(seed, -1, 1, 1, None)
      val z = zip(Seq("member.dcm" -> encode(seed, -1, img, 2048)._1))
      (java.util.Arrays.copyOf(z, z.length / 2), 0L) // cut inside the member's data
    case Bad(_, "parse") =>
      val b = encode(seed, -2, image(seed, -2, 1, 1, None), 256)._1
      b(131) = 'X' // "DICM" → "DICX"
      (b, 0L)
    case Bad(_, _) => // transform: a DA value that is not a date
      (encode(seed, -3, image(seed, -3, 1, 1, None), 256, Some("20241341"))._1, 0L)
  }

  /** Lay out the objects of a corpus: a pure function of (seed, shape). */
  private def plan(seed: Long, shape: Shape): (Vector[Obj], IndexedSeq[Image]) = {
    val nImages = shape.looseImages + shape.archives * shape.membersPerArchive + shape.oversized
    val patients = math.max(1, nImages / 4)
    val objs = Vector.newBuilder[Obj]
    val imgs = Vector.newBuilder[Image]
    var i = 0
    (0 until shape.looseImages).foreach { k =>
      val img = image(seed, i, patients, shape.days, None)
      objs += Loose(f"loose/d${k % 16}%02d/img-$i%06d.dcm", i, img, shape.loosePixelBytes)
      imgs += img; i += 1
    }
    val r = rng(seed, 4, 0)
    // archives take the study dates in turn, so every seed writes the same
    // partitions and the output layout does not vary with the seed
    (0 until shape.archives).foreach { a =>
      val study = Some((r.nextInt(patients), a % shape.days))
      val members = (0 until shape.membersPerArchive).map(j => image(seed, i + j, patients, shape.days, study))
      objs += Archive(f"archives/study-$a%04d.${if (a % 2 == 1) "tar.gz" else "zip"}", i, members, a % 2 == 1)
      imgs ++= members; i += shape.membersPerArchive
    }
    (0 until shape.oversized).foreach { k =>
      val img = image(seed, i, patients, shape.days, Some((r.nextInt(patients), k % shape.days)))
      objs += Loose(f"large/img-$i%06d.dcm", i, img, shape.oversizedBytes)
      imgs += img; i += 1
    }
    (0 until shape.sidecars).foreach(k => objs += Sidecar(f"loose/d${k % 16}%02d/img-$k%06d.json", k))
    Seq("route" -> "bad/object.bin", "expand" -> "bad/truncated.zip",
        "parse" -> "bad/no-magic.dcm", "transform" -> "bad/bad-date.dcm")
      .foreach { case (stage, p) => objs += Bad(p, stage) }
    (objs.result(), imgs.result())
  }

  /** Write the corpus under `dir/objects` and its truth to `dir/truth.json`,
    * on at most `threads` threads. */
  def generate(dir: Path, shape: Shape, seed: Long, threads: Int): Truth = {
    val (objs, imgs) = plan(seed, shape)
    val root = dir.resolve("objects")
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    val results =
      try {
        val tasks = new java.util.ArrayList[Callable[(Long, Long)]]()
        objs.foreach { o =>
          tasks.add { () =>
            val (b, header) = bytesOf(seed, shape, o)
            val p = root.resolve(o.path)
            Files.createDirectories(p.getParent)
            Files.write(p, b)
            (b.length.toLong, header)
          }
        }
        val fs = pool.invokeAll(tasks)
        (0 until fs.size).map(k => fs.get(k).get())
      } finally pool.shutdown()
    val truth = Truth(
      objects = objs.size,
      images = imgs,
      objectsWithImages = objs.count { case _: Loose | _: Archive => true; case _ => false },
      ignored = shape.sidecars,
      errorsByStage = Map("route" -> 1, "expand" -> 1, "parse" -> 1, "transform" -> 1),
      columns = Columns,
      scanBytes = results.map(_._1).sum,
      headerBytes = results.map(_._2).sum,
      archiveMembers = shape.archives * (shape.membersPerArchive + 1),
      membersDropped = shape.archives,
      dates = imgs.map(_.studyDate).distinct.size)
    truth
  }

  /** A seeded list of Athena-style queries over the registered tables,
    * each with its answer computed from the generator's model. Rows are
    * rendered as `|`-joined values and sorted, as [[Queries.canonical]]
    * renders Spark's result. */
  def queries(truth: Truth, days: Int, seed: Long, n: Int): Vector[QueryCase] = {
    val r = rng(seed, 5, 0)
    val imgs = truth.images
    def day(d: Int) = BaseDate.plusDays(d.toLong)
    def counts(xs: Seq[String]) =
      xs.groupBy(identity).map { case (k, v) => s"$k|${v.size}" }.toVector.sorted
    Vector.tabulate(n) { q =>
      q % 7 match {
        case 0 =>
          val a = day(r.nextInt(days)); val b = a.plusDays(r.nextInt(60).toLong)
          QueryCase("date_range",
            s"SELECT count(*) FROM $Table WHERE study_date BETWEEN DATE'$a' AND DATE'$b'",
            Vector(imgs.count(i => !i.studyDate.isBefore(a) && !i.studyDate.isAfter(b)).toString))
        case 1 =>
          val a = day(r.nextInt(days))
          QueryCase("by_modality",
            s"SELECT modality, count(*) FROM $Table WHERE study_date >= DATE'$a' GROUP BY modality",
            counts(imgs.filter(!_.studyDate.isBefore(a)).map(_.modality)))
        case 2 =>
          val p = imgs(r.nextInt(imgs.size)).patientId
          QueryCase("patient_lookup",
            s"SELECT sopinstance_uid FROM $Table WHERE patient_id = '$p'",
            imgs.filter(_.patientId == p).map(_.sop).sorted.toVector)
        case 3 =>
          val img = imgs(r.nextInt(imgs.size))
          QueryCase("sop_lookup",
            s"SELECT patient_id, study_date FROM $Table WHERE sopinstance_uid = '${img.sop}'",
            Vector(s"${img.patientId}|${img.studyDate}"))
        case 4 =>
          val m = pick(r, Modalities)
          val a = day(r.nextInt(days)); val b = a.plusDays(6)
          QueryCase("name_struct",
            s"SELECT DISTINCT patient_name.family_name FROM $Table " +
              s"WHERE modality = '$m' AND study_date BETWEEN DATE'$a' AND DATE'$b'",
            imgs.filter(i => i.modality == m && !i.studyDate.isBefore(a) && !i.studyDate.isAfter(b))
              .map(_.family).distinct.sorted.toVector)
        case 5 =>
          val m = pick(r, Modalities)
          QueryCase("array_explode",
            s"SELECT k, count(*) FROM $Table LATERAL VIEW explode(convolution_kernel) x AS k " +
              s"WHERE modality = '$m' GROUP BY k",
            counts(imgs.filter(_.modality == m).flatMap(_.kernels)))
        case _ =>
          QueryCase("errors_by_stage",
            s"SELECT stage, count(*) FROM $ErrorsTable GROUP BY stage",
            truth.errorsByStage.map { case (k, v) => s"$k|$v" }.toVector.sorted)
      }
    }
  }

  /** The truth as JSON, next to the corpus, for a reader checking a run. */
  def writeTruth(dir: Path, truth: Truth, queries: Seq[QueryCase]): Unit = {
    val j = Json.obj(
      "objects" -> truth.objects,
      "images" -> truth.images.size,
      "objects_with_images" -> truth.objectsWithImages,
      "ignored_sidecars" -> truth.ignored,
      "errors_by_stage" -> Json.obj(truth.errorsByStage.toSeq.sorted.map { case (k, v) => k -> (v: Any) }: _*),
      "columns" -> truth.columns.toSeq.sorted,
      "scan_bytes" -> truth.scanBytes,
      "header_bytes" -> truth.headerBytes,
      "archive_members" -> truth.archiveMembers,
      "members_dropped" -> truth.membersDropped,
      "study_dates" -> truth.dates,
      "queries" -> queries.map(q => Json.obj("kind" -> q.kind, "sql" -> q.sql, "answer" -> q.answer)))
    Files.write(dir.resolve("truth.json"), j.getBytes("UTF-8"))
  }
}
