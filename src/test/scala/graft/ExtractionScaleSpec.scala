package graft

/** CI-sized pins for the two extraction-path scale defects the r5
  * rehearsal found and fixed (r5 verdict #6) — they previously held by
  * code shape alone:
  *
  *  1. driver listing must stay on the plain-status walk
  *     (`listStatusIterator`): the located variant forks `ls -ld` per
  *     file on the local filesystem (~4 ms/fork → 37 s at 9.5k objects,
  *     ~12 h at 10M). Pinned as a source-shape guard — a timing assert
  *     would be flaky, and the defect IS the API choice. The write side
  *     has the twin defect (a forked `chmod` per file, `.crc` file and
  *     directory), pinned the same way: every DICOM write passes the
  *     fork-free writer options.
  *  2. the dynamic partition write must not explode into
  *     files-per-(task × date): a ~500-object run (enough write tasks to
  *     cross the rebalance threshold) must land EXACTLY one file per
  *     study_date partition.
  *  3. the batch frames are built from Catalyst rows: a row encoder's
  *     serializer is generated per task, which cost more than the
  *     extraction itself (BENCH_NOTES.md). A source-shape guard too.
  *  4. every DICOM fixture read resolves through `DicomQueries.Fixtures`
  *     (the committed `sample_dcm/`), never a path of its own.
  *  5. the Hadoop configuration reaches tasks as one broadcast, never
  *     as a copy serialized into each task. A source-shape guard too.
  */
class ExtractionScaleSpec extends SparkSuite {

  test("walkFiles keeps the fork-free status walk") {
    def source(file: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/main/scala/graft/$file")), "UTF-8")
        .linesIterator.map(_.replaceFirst("//.*$", "")) // the Scaladoc/comments
        .mkString("\n")                                 // NAME the banned API
    val banned = Seq("listFiles(", "listLocatedStatus", "LocatedFileStatus")
    // walkFiles is the shared walk (extract, manifestOf and the dicom
    // source all ride it); it ends where extract begins
    val pipeline = source("pipeline/DicomPipeline.scala")
    val from = pipeline.indexOf("def walkFiles")
    val walk = pipeline.substring(from, pipeline.indexOf("def extract(", from))
    assert(walk.contains("listStatusIterator"),
      "walkFiles no longer uses the plain status walk")
    banned.foreach { bad =>
      assert(!walk.contains(bad),
        s"walkFiles reintroduced the forking located-status API: $bad")
    }
    // the format("dicom") source lists through walkFiles, never on its own
    val dataSource = source("sources/DicomDataSource.scala")
    assert(dataSource.contains("DicomPipeline.walkFiles"),
      "the dicom source no longer lists through the pipeline's walk")
    banned.foreach { bad =>
      assert(!dataSource.contains(bad),
        s"the dicom source reintroduced the forking located-status API: $bad")
    }
  }

  /** The code of a `src/main/scala` file, without its comments. */
  private def code(file: String): String =
    codeAt(java.nio.file.Paths.get(s"src/main/scala/$file"))

  private def codeAt(path: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      .linesIterator.map(_.replaceFirst("//.*$", ""))
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/*") }
      .mkString("\n")

  test("DICOM fixture paths come from DicomQueries.Fixtures alone") {
    // the set is committed at sample_dcm/: a spec-local path to it, or a
    // path into the reference's own checkout, reads files that a checkout
    // may not hold. Only the definition and the generator name the
    // directory; comments may still cite the reference's files.
    val checkout = ("/" + "reference" + "(/|\")").r // split so this file does not match itself
    val owners = Set("src/main/scala/graft/queries/DicomQueries.scala",
                     "src/test/scala/graft/SampleDcm.scala")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val hits = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toString).filter(_.endsWith(".scala")).filter { f =>
        val c = codeAt(java.nio.file.Paths.get(f))
        checkout.findFirstIn(c).isDefined || (c.contains("sample_" + "dcm") && !owners(f))
      }.toList.sorted
    } finally walk.close()
    assert(hits.isEmpty, s"fixture paths outside DicomQueries.Fixtures: ${hits.mkString(", ")}")
  }

  test("every DicomPipeline and compactPartition write passes the fork-free options") {
    // the write-side twin of the listing guard: a write on the stock
    // local filesystem forks a `chmod` per file, .crc file and directory
    val catalog = code("graft/pipeline/Catalog.scala")
    val compact = catalog.substring(catalog.indexOf("def compactPartition"),
      catalog.indexOf("def analyze"))
    Seq("DicomPipeline.scala" -> code("graft/pipeline/DicomPipeline.scala"),
        "Catalog.compactPartition" -> compact).foreach { case (name, src) =>
      val writes = """\.write\b""".r.findAllIn(src).size
      val forkFree = """\.write\s*\.options\(\s*(graft\.util\.)?ForkFreeLocalFileSystem\.WriteOptions\s*\)"""
        .r.findAllIn(src).size
      assert(writes > 0 && forkFree == writes,
        s"$name: ${writes - forkFree} of $writes writes lack ForkFreeLocalFileSystem.WriteOptions")
    }
  }

  test("DICOM rows and errors become frames as Catalyst rows, never through a row encoder") {
    // createDataFrame over external Rows (or case classes) runs the row
    // encoder, whose ~60-column serializer every task generates anew
    Seq("pipeline/DicomPipeline.scala", "sources/DicomDataSource.scala",
        "queries/DicomQueries.scala").foreach { f =>
      val src = code(s"graft/$f")
      assert(!src.contains("Row.fromSeq"), s"$f builds external Rows")
      // the one allowed call: manifestOf's (path, length) pairs
      val creates = """createDataFrame\([^)]*\)""".r.findAllIn(src).toSeq
      assert(creates.forall(_ == "createDataFrame(files)"), s"$f: ${creates.mkString(", ")}")
    }
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val shims = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toString.stripPrefix("src/main/scala/"))
        .filter(f => f.endsWith(".scala") && code(f).contains("internalCreateDataFrame")).toList
    } finally walk.close()
    assert(shims == List("org/apache/spark/sql/GraftFrames.scala"))
  }

  test("the Hadoop configuration reaches tasks only as a broadcast") {
    // a SerializableHadoopConf captured in a closure or a reader factory
    // is serialized into every task; a broadcast ships once per executor
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sites = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toString.stripPrefix("src/main/scala/"))
        .filter(_.endsWith(".scala")).toList.flatMap { f =>
          val src = code(f)
          val all = "new SerializableHadoopConf\\(".r.findAllIn(src).size
          val broadcast = "broadcast\\(\\s*new SerializableHadoopConf\\(".r.findAllIn(src).size
          if (all == 0) Nil else List((f, all, broadcast))
        }
    } finally walk.close()
    assert(sites.nonEmpty, "no SerializableHadoopConf is built under src/main")
    val captured = sites.collect { case (f, all, broadcast) if all != broadcast =>
      s"$f: ${all - broadcast} of $all"
    }
    assert(captured.isEmpty, s"not built as a broadcast argument: ${captured.mkString("; ")}")
  }

  private def dcm(i: Int): Array[Byte] = DicomWriter.file(Seq(
    DicomWriter.strElement(0x0008, 0x0020, "DA", f"202403${i % 12 + 1}%02d"),
    DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"),
    DicomWriter.strElement(0x0020, 0x000d, "UI", s"1.2.3.$i"),
    DicomWriter.strElement(0x0020, 0x0013, "IS", i.toString)))

  test("500-object write lands one file per study_date partition") {
    val scratch = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "exscale")
    val input = scratch.resolve("in"); val out = scratch.resolve("out")
    java.nio.file.Files.createDirectories(input)
    try {
      (0 until 480).foreach { i =>
        java.nio.file.Files.write(input.resolve(f"obj-$i%04d.dcm"), dcm(i))
      }
      (0 until 20).foreach { z =>
        val bo = new java.io.ByteArrayOutputStream()
        val zo = new java.util.zip.ZipOutputStream(bo)
        (0 until 3).foreach { j =>
          zo.putNextEntry(new java.util.zip.ZipEntry(s"m$j.dcm"))
          zo.write(dcm(480 + z * 3 + j)); zo.closeEntry()
        }
        zo.close()
        java.nio.file.Files.write(input.resolve(f"arch-$z%03d.zip"), bo.toByteArray)
      }
      val (_, errDf) = graft.pipeline.DicomPipeline.run(
        spark, input.toString, out.toString, bucket = "spec", region = "local")
      assert(errDf.isEmpty)
      assert(spark.read.parquet(out.toString).count() == 540)
      import scala.jdk.CollectionConverters._
      val partitions = java.nio.file.Files.list(out).iterator().asScala
        .count(_.getFileName.toString.startsWith("study_date="))
      val files = java.nio.file.Files.walk(out).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
      assert(partitions == 12, s"expected 12 date partitions, got $partitions")
      assert(files == partitions,
        s"small-file explosion returned: $files files across $partitions partitions")
    } finally graft.util.Fs.deleteRecursively(scratch)
  }
}
