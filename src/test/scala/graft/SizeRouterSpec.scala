package graft

import graft.pipeline.DicomPipeline

/** S11 — size-based compute router, re-expressed as task packing: the
  * listed objects are packed largest-first under Spark's split size, so
  * small objects share a task and an object larger than the split size
  * runs alone; every task opens its objects itself (ranged read for
  * `.dcm`, entry-streaming for archives). The contract under test is
  * ROUTE INVARIANCE: what is computed never depends on how objects were
  * packed into tasks.
  */
class SizeRouterSpec extends SparkSuite {

  private val fixtures = graft.queries.DicomQueries.Fixtures

  /** The split-size setting at `bytes`. */
  private def split(bytes: Long): (String, String) =
    "spark.sql.files.maxPartitionBytes" -> bytes.toString

  /** Canonical (rows, errors) snapshot of an extract run under `conf`. */
  private def snapshot(conf: (String, String)*): (Seq[String], Seq[(String, String)]) =
    withConf(conf: _*) {
      val ex = DicomPipeline.extract(spark, fixtures, "bkt", "reg")
      val rows = ex.rows.collect()
        .map(_.values.toSeq.sortBy(_._1).mkString("|")).sorted.toSeq
      val errs = ex.errors.collect()
        .map(e => (e.source_s3_key.split('/').last, e.stage)).sorted.toSeq
      (rows, errs)
    }

  test("route invariance: all-streamed equals all-packed, rows and errors") {
    val packed = snapshot() // default split: fixtures share tasks
    // 1-byte split: every fixture is larger than the split and runs
    // alone in its task — loose .dcm via ranged read, zip/tar/tgz/tbz2
    // via entry-streaming, the empty DICOMDIR to the errors channel
    val streamed = snapshot(split(1))
    assert(packed._1.nonEmpty)
    assert(streamed._1 == packed._1, "one object per task changed extracted rows")
    assert(streamed._2 == packed._2, "one object per task changed the error channel")
    // sanity on the fixture mix this invariance actually exercised
    assert(packed._1.size == 10)
    assert(packed._2 == Seq(("DICOMDIR", "parse")))
  }

  test("hidden files are invisible to BOTH routes (packed parity)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-router-hidden")
    try {
      val visible = DicomWriter.file(Seq(
        DicomWriter.strElement(0x0008, 0x0060, "CS", "CT")))
      Files.write(dir.resolve("ok.dcm"), visible)
      // Spark's InMemoryFileIndex excludes _/.-prefixed paths from a
      // file scan; the walk must apply the SAME rule, or a hidden
      // leftover produces rows
      Files.write(dir.resolve("_leftover.dcm"), visible)
      Files.write(dir.resolve(".hidden.dcm"), visible)
      val ex = DicomPipeline.extract(spark, dir.toString, "bkt", "reg")
      val keys = ex.rows.collect()
        .flatMap(_.values.get(graft.dicom.Flatten.LineageKey).map(_.toString)) ++
        ex.errors.collect().map(_.source_s3_key)
      assert(keys.nonEmpty && keys.forall(_.contains("ok.dcm")),
        s"hidden files leaked into the extraction: ${keys.mkString(", ")}")
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
      // bad.zip is corrupt from its first bytes: expand in both layouts.
      // broken-twice.zip fails at its second member, before the container
      // break: both layouts must stop at that first failure and agree.
      java.nio.file.Files.write(dir.resolve("bad.zip"), Array.fill[Byte](64)('x'.toByte))
      java.nio.file.Files.write(dir.resolve("broken-twice.zip"), doublyCorruptZip())
      def stages(conf: (String, String)*): Map[String, String] = withConf(conf: _*) {
        val ex = DicomPipeline.extract(spark, dir.toString, "bkt", "reg")
        assert(ex.rows.isEmpty(), "a failing object must contribute no rows")
        ex.errors.collect().map(e => e.source_s3_key.split('/').last -> e.stage).toMap
      }
      val packed = stages()
      val streamed = stages(split(1))
      assert(streamed == packed, "the two layouts disagree on the error stage")
      assert(packed == Map("bad.zip" -> "expand", "broken-twice.zip" -> "parse"))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("oversized .dcm streams the ranged header read, not the whole file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-router-dcm")
    try {
      // valid header + a pixel payload pushing the file well past the
      // 10 MB range cap: the stored-object read must still parse the header
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
      assert(res.isRight, s"big .dcm failed: $res")
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

  test("an object larger than the split size runs alone in its task") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-router-alone")
    try {
      (0 until 6).foreach { i =>
        Files.write(dir.resolve(s"small-$i.dcm"), DicomWriter.file(Seq(
          DicomWriter.strElement(0x0010, 0x0020, "LO", s"P$i"))))
      }
      Files.write(dir.resolve("big.dcm"), DicomWriter.file(Seq(
        DicomWriter.strElement(0x0010, 0x0020, "LO", "BIG"),
        DicomWriter.element(0x7fe0, 0x0010, "OB", new Array[Byte](256 * 1024)))))
      // a 64 KB split and a 1-byte open cost: the small objects fit
      // one task together, the big one fits none
      val tasks = withConf(split(64L * 1024), "spark.sql.files.openCostInBytes" -> "1") {
        DicomPipeline.extract(spark, dir.toString, "bkt", "reg").outcomes.map {
          case Right(rs) => rs.head.values(graft.dicom.Flatten.LineageKey).toString
          case Left(e) => e.source_s3_key
        }.glom().collect().map(_.map(_.split('/').last.takeWhile(_ != ')')).toSet)
      }
      assert(tasks.contains(Set("big.dcm")), s"big.dcm shared a task: ${tasks.toSeq}")
      assert(tasks.flatten.toSet.size == 7)
      assert(tasks.exists(_.size > 1), s"small objects were not packed: ${tasks.toSeq}")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("extract plans as many tasks as a binaryFile scan of the same directory") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-router-tasks")
    try {
      // no zero-length files: a binaryFile scan plans none for them
      (0 until 40).foreach { i =>
        Files.write(dir.resolve(f"obj-$i%02d.dcm"), new Array[Byte](500 + (i * 7919 % 40) * 1000))
      }
      (0 until 3).foreach(i => Files.write(dir.resolve(s"large-$i.zip"), new Array[Byte](200 * 1024)))
      def both(): (Int, Int) = (
        DicomPipeline.extract(spark, dir.toString, "bkt", "reg").outcomes.getNumPartitions,
        spark.read.format("binaryFile").option("recursiveFileLookup", "true")
          .load(dir.toString).rdd.getNumPartitions)
      val default = both()
      assert(default._1 == default._2, s"default split: (extract, binaryFile) = $default")
      // a split small enough that the layout is many tasks of varied size
      val small = withConf(split(64L * 1024), "spark.sql.files.openCostInBytes" -> "1024")(both())
      assert(small._1 == small._2, s"64 KB split: (extract, binaryFile) = $small")
      assert(small._1 > default._1)
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
