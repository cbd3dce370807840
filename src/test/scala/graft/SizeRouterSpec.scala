package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.pipeline.DicomPipeline

/** S11 — size-based compute router, re-expressed as a scan strategy:
  * small objects ride the packed binaryFile scan, oversized objects take
  * a dedicated one-object-per-task STREAMED route (ranged read for
  * `.dcm`, entry-streaming for archives). The contract under test is
  * ROUTE INVARIANCE: what is computed never depends on which route ran.
  */
class SizeRouterSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("size-router-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixtures = graft.queries.DicomQueries.Fixtures

  /** Canonical (rows, errors) snapshot of an extract run. */
  private def snapshot(maxInline: Option[Long]): (Seq[String], Seq[(String, String)]) = {
    maxInline match {
      case Some(v) => spark.conf.set("spark.graft.route.maxInlineBytes", v.toString)
      case None => spark.conf.unset("spark.graft.route.maxInlineBytes")
    }
    try {
      val ex = DicomPipeline.extract(spark, fixtures, "bkt", "reg")
      val rows = ex.rows.collect()
        .map(_.values.toSeq.sortBy(_._1).mkString("|")).sorted.toSeq
      val errs = ex.errors.collect()
        .map(e => (e.source_s3_key.split('/').last, e.stage)).sorted.toSeq
      (rows, errs)
    } finally spark.conf.unset("spark.graft.route.maxInlineBytes")
  }

  test("route invariance: all-streamed equals all-packed, rows and errors") {
    val packed = snapshot(None) // default 500 MB: every fixture is small
    // 1-byte threshold: every non-empty fixture is "oversized" and takes
    // the streamed route — loose .dcm via ranged read, zip/tar/tgz/tbz2
    // via entry-streaming; the empty DICOMDIR still errors via its own
    // channel
    val streamed = snapshot(Some(1L))
    assert(packed._1.nonEmpty)
    assert(streamed._1 == packed._1, "streamed route changed extracted rows")
    assert(streamed._2 == packed._2, "streamed route changed the error channel")
    // sanity on the fixture mix this invariance actually exercised
    assert(packed._1.size == 10)
    assert(packed._2 == Seq(("DICOMDIR", "parse")))
  }

  test("packed scan excludes oversized objects via a pushed length filter") {
    // the exact scan shape extract() builds — the filter must reach the
    // binaryFile source (files above the cap are skipped, not read)
    val df = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(fixtures)
      .filter(col("length") <= 1L)
      .select("path", "content")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThanOrEqual(length,1)"),
      s"length filter not pushed to the binaryFile scan:\n$plan")
    // and it actually prunes: only the empty DICOMDIR survives ≤ 1 byte
    // (zero-length files produce no scan splits, so the packed side reads
    // NOTHING here)
    assert(df.count() == 0)
  }

  test("hidden files are invisible to BOTH routes (packed parity)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-router-hidden")
    try {
      val visible = DicomWriter.file(Seq(
        DicomWriter.strElement(0x0008, 0x0060, "CS", "CT")))
      Files.write(dir.resolve("ok.dcm"), visible)
      // Spark's InMemoryFileIndex excludes _/.-prefixed paths from the
      // packed scan; the router's walk must apply the SAME rule, or an
      // oversized hidden leftover produces rows only below the threshold
      Files.write(dir.resolve("_leftover.dcm"), visible)
      Files.write(dir.resolve(".hidden.dcm"), visible)
      spark.conf.set("spark.graft.route.maxInlineBytes", "1")
      try {
        val ex = DicomPipeline.extract(spark, dir.toString, "bkt", "reg")
        val keys = ex.rows.collect()
          .flatMap(_.values.get(graft.dicom.Flatten.LineageKey).map(_.toString)) ++
          ex.errors.collect().map(_.source_s3_key)
        assert(keys.nonEmpty && keys.forall(_.contains("ok.dcm")),
          s"hidden files leaked into the streamed route: ${keys.mkString(", ")}")
      } finally spark.conf.unset("spark.graft.route.maxInlineBytes")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  /** A zip broken twice: a good member, then a member cut off mid-element
    * (DICM magic intact, so it is kept and fails at parse), then a third
    * member whose compressed data — and the container with it — ends
    * halfway. */
  private def doublyCorruptZip(): Array[Byte] = {
    val good = DicomWriter.file(Seq(DicomWriter.strElement(0x0008, 0x0060, "CS", "CT")))
    val px = Array.tabulate(16 * 1024)(j => ((j * 7919) % 251).toByte)
    val third = DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0060, "CS", "MR"),
      DicomWriter.element(0x7fe0, 0x0010, "OB", px)))
    val bo = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(bo)
    Seq("good.dcm" -> good, "cut.dcm" -> good.dropRight(4)).foreach { case (n, b) =>
      zo.putNextEntry(new java.util.zip.ZipEntry(n)); zo.write(b); zo.closeEntry()
    }
    zo.flush()
    val thirdStart = bo.size()
    zo.putNextEntry(new java.util.zip.ZipEntry("third.dcm")); zo.write(third); zo.closeEntry()
    zo.flush()
    val thirdEnd = bo.size()
    zo.close()
    bo.toByteArray.take((thirdStart + thirdEnd) / 2)
  }

  test("streamed route taxonomy: corrupt oversized archive errors as expand") {
    val dir = java.nio.file.Files.createTempDirectory("graft-router-bad")
    try {
      // bad.zip is corrupt from its first bytes: expand on both routes.
      // broken-twice.zip fails at its second member, before the container
      // break: both routes must stop at that first failure and agree.
      java.nio.file.Files.write(dir.resolve("bad.zip"), Array.fill[Byte](64)('x'.toByte))
      java.nio.file.Files.write(dir.resolve("broken-twice.zip"), doublyCorruptZip())
      def stages(maxInline: Option[Long]): Map[String, String] = {
        maxInline.foreach(v => spark.conf.set("spark.graft.route.maxInlineBytes", v.toString))
        try {
          val ex = DicomPipeline.extract(spark, dir.toString, "bkt", "reg")
          assert(ex.rows.isEmpty(), "a failing object must contribute no rows")
          ex.errors.collect().map(e => e.source_s3_key.split('/').last -> e.stage).toMap
        } finally spark.conf.unset("spark.graft.route.maxInlineBytes")
      }
      val packed = stages(None)
      val streamed = stages(Some(1L))
      assert(streamed == packed, "the two routes disagree on the error stage")
      assert(packed == Map("bad.zip" -> "expand", "broken-twice.zip" -> "parse"))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("oversized .dcm streams the ranged header read, not the whole file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-router-dcm")
    try {
      // valid header + a pixel payload pushing the file well past the
      // 10 MB range cap: the streamed route must still parse the header
      // (stop-before-pixels never needs the tail)
      val big = DicomWriter.file(Seq(
        DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"),
        DicomWriter.usElement(0x0028, 0x0010, 8),
        DicomWriter.usElement(0x0028, 0x0011, 8),
        DicomWriter.element(0x7fe0, 0x0010, "OB", new Array[Byte](12 * 1024 * 1024))))
      java.nio.file.Files.write(dir.resolve("big.dcm"), big)
      val key = dir.resolve("big.dcm").toUri.toString
      val stored = DicomPipeline.fsOpener(key, spark.sparkContext.hadoopConfiguration)
      var bytesRead = 0L
      val counted = () => new java.io.FilterInputStream(stored()) {
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          val n = super.read(b, off, len)
          if (n > 0) bytesRead += n
          n
        }
      }
      val res = DicomPipeline.processObject("bkt", "reg", key, counted)
      assert(res.isRight, s"streamed big .dcm failed: $res")
      assert(bytesRead == graft.ingest.Archives.DcmRangeBytes,
        s"read $bytesRead bytes of a ${big.length}-byte object")
      val rows = res.toOption.get
      assert(rows.size == 1)
      assert(rows.head.values.get("Modality").map(_.toString).exists(_.contains("CT")),
        s"keys: ${rows.head.values.keys.toSeq.sorted}")
      // route invariance for the ranged read too
      val full = DicomPipeline.processObject(
        "bkt", "reg", key, () => new java.io.ByteArrayInputStream(big))
      assert(full.toOption.get.map(_.values.toSeq.sortBy(_._1).mkString("|")) ==
        rows.map(_.values.toSeq.sortBy(_._1).mkString("|")))
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
