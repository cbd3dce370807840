package graft

import graft.pipeline.DicomPipeline

/** Manifest-driven batch entry point (the 10M+-object path): task
  * layout and content reads are driven by a (path, length) inventory, the
  * driver never lists the store. The contract under test is ROUTE PARITY
  * — the manifest route must reproduce the listed route's rows AND errors
  * byte-for-byte on the same corpus, across all three task layouts
  * (small objects packed, zero-length objects, objects above
  * `spark.sql.files.maxPartitionBytes` alone in their task).
  */
class ManifestSpec extends SparkSuite {

  private def smallDcm(i: Int): Array[Byte] = DicomWriter.file(Seq(
    DicomWriter.strElement(0x0008, 0x0020, "DA", f"202401${i % 28 + 1}%02d"),
    DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"),
    DicomWriter.strElement(0x0010, 0x0020, "LO", f"M$i%04d"),
    DicomWriter.strElement(0x0020, 0x000d, "UI", s"9.8.7.$i")))

  /** Canonical (rows, errors) snapshot of an Extracted. */
  private def snapshot(ex: DicomPipeline.Extracted): (Seq[String], Seq[(String, String)]) = (
    ex.rows.collect().map(_.values.toSeq.sortBy(_._1).mkString("|")).sorted.toSeq,
    ex.errors.collect().map(e => (e.source_s3_key.split('/').last, e.stage)).sorted.toSeq)

  test("manifest route ≡ listed route with all three routes live") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-manifest")
    try {
      (0 until 4).foreach(i => Files.write(dir.resolve(f"loose-$i.dcm"), smallDcm(i)))
      val nested = Files.createDirectory(dir.resolve("nested"))
      Files.write(nested.resolve("deep.dcm"), smallDcm(40))
      // the "oversized" object: a zip of two members, alone in its task
      // under a split size between the loose size and the zip size
      val bo = new java.io.ByteArrayOutputStream()
      val zo = new java.util.zip.ZipOutputStream(bo)
      (0 until 2).foreach { j =>
        zo.putNextEntry(new java.util.zip.ZipEntry(s"m$j.dcm"))
        zo.write(smallDcm(50 + j)); zo.closeEntry()
      }
      zo.close()
      Files.write(dir.resolve("big.zip"), bo.toByteArray)
      Files.write(dir.resolve("DICOMDIR"), Array.emptyByteArray) // error channel
      // hidden at both levels: a hidden file, and a visible-named file
      // under a hidden dir — InMemoryFileIndex sees neither
      Files.write(dir.resolve(".hidden.dcm"), smallDcm(60))
      val hid = Files.createDirectory(dir.resolve("_work"))
      Files.write(hid.resolve("visible-name.dcm"), smallDcm(61))

      val loose = Files.size(dir.resolve("loose-0.dcm"))
      val zip = Files.size(dir.resolve("big.zip"))
      assert(loose < zip, "fixture geometry: zip must exceed a loose file")
      withConf("spark.sql.files.maxPartitionBytes" -> ((loose + zip) / 2).toString) {
        val listed = snapshot(DicomPipeline.extract(spark, dir.toString, "bkt", "reg"))
        val manifest = DicomPipeline.manifestOf(spark, dir.toString)
        val viaManifest = snapshot(
          DicomPipeline.extractFromManifest(spark, manifest, "bkt", "reg"))
        assert(listed._1.size == 7, s"expected 7 images, got ${listed._1.size}")
        assert(listed._2 == Seq(("DICOMDIR", "parse")))
        assert(viaManifest._1 == listed._1, "manifest route changed extracted rows")
        assert(viaManifest._2 == listed._2, "manifest route changed the error channel")
      }
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("manifest route ≡ listed route on the reference fixture set") {
    val fixtures = graft.queries.DicomQueries.Fixtures
    val listed = snapshot(DicomPipeline.extract(spark, fixtures, "bkt", "reg"))
    val viaManifest = snapshot(DicomPipeline.extractFromManifest(
      spark, DicomPipeline.manifestOf(spark, fixtures), "bkt", "reg"))
    assert(listed._1.size == 10)
    assert(viaManifest == listed)
  }

  test("day-2 delta: anti-join re-extracts exactly the new + changed objects") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("graft-manifest-delta")
    try {
      (0 until 6).foreach(i => Files.write(dir.resolve(f"obj-$i.dcm"), smallDcm(i)))
      val manifest = DicomPipeline.manifestOf(spark, dir.toString)
      // yesterday processed objects 0-3; today objects 4, 5 are new and
      // object 1's recorded length drifted (content change analog)
      val processed = manifest
        .filter(!col("path").endsWith("obj-4.dcm") && !col("path").endsWith("obj-5.dcm"))
        .withColumn("length",
          org.apache.spark.sql.functions.when(
            col("path").endsWith("obj-1.dcm"), col("length") + lit(1L))
            .otherwise(col("length")))
      val delta = DicomPipeline.manifestDelta(manifest, processed)
      val deltaPaths = delta.collect().map(_.getString(0).split('/').last).sorted.toSeq
      assert(deltaPaths == Seq("obj-1.dcm", "obj-4.dcm", "obj-5.dcm"),
        s"delta must be exactly new+changed: $deltaPaths")
      // byte-parity: extracting the delta manifest ≡ extracting a corpus
      // holding ONLY those objects
      val viaDelta = snapshot(
        DicomPipeline.extractFromManifest(spark, delta, "bkt", "reg"))
      val only = Files.createTempDirectory("graft-manifest-delta-only")
      try {
        Seq(1, 4, 5).foreach(i => Files.copy(
          dir.resolve(f"obj-$i.dcm"), only.resolve(f"obj-$i.dcm")))
        val direct = DicomPipeline.extract(spark, only.toString, "bkt", "reg")
        // paths differ between the two corpora roots — compare values
        // minus the path-bearing lineage keys
        def strip(ss: Seq[String]) = ss.map(_.split('|').filterNot(
          _.contains("SOURCE_S3_KEY")).mkString("|"))
        assert(strip(viaDelta._1) == strip(snapshot(direct)._1),
          "delta extraction diverged from extracting only the delta objects")
      } finally graft.util.Fs.deleteRecursively(only)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("explicitly inventoried hidden basenames stay invisible") {
    import spark.implicits._
    // the paths need not even exist: if the filter failed, the read
    // inside the task would surface as a transform-stage error
    val manifest = Seq(
      ("/no/such/_SUCCESS", 10L), ("/no/such/.part-0.dcm", 10L),
      ("/no/such/_temporary/x.dcm", 10L)).toDF("path", "length")
    val ex = DicomPipeline.extractFromManifest(spark, manifest, "bkt", "reg")
    assert(ex.rows.isEmpty() && ex.errors.isEmpty(),
      "hidden-basename manifest rows must be dropped before any read")
  }
}
