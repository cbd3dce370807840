package graft

/** DataSource V2 `format("dicom")`: schema inference, reading, column
  * pruning pushdown, permissive error handling. */
class DicomSourceSpec extends SparkSuite {

  private val fixtures = graft.queries.DicomQueries.Fixtures

  private lazy val df = spark.read.format("dicom").load(fixtures)

  test("short name registration + schema inference") {
    val cols = df.columns.toSet
    assert(cols.contains("modality"))
    assert(cols.contains("study_date"))
    assert(cols.contains("source_s3_archive_path"))
    assert(!cols.contains("accession_number")) // empty everywhere → absent
    import org.apache.spark.sql.types._
    assert(df.schema("study_date").dataType == DateType)
    assert(df.schema("image_type").dataType == ArrayType(StringType))
  }

  test("reads all 10 images; bad objects skipped permissively") {
    assert(df.count() == 10)
    assert(df.select("modality").distinct().collect().map(_.getString(0)).toSeq == Seq("OT"))
  }

  test("required-column pushdown reaches the scan") {
    val pruned = df.select("modality", "patient_sex")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("DicomScan"))
    assert(scan.contains("columns=[modality,patient_sex]") ||
           scan.contains("modality"))
    assert(pruned.count() == 10)
  }

  test("SQL over the source via temp view") {
    df.createOrReplaceTempView("dicom_src")
    val n = spark.sql(
      "SELECT count(*) FROM dicom_src WHERE patient_sex = 'F'").head.getLong(0)
    assert(n > 0 && n < 10)
  }

  test("file packing bounds partitions by cumulative size") {
    import graft.sources.DicomSourceUtil.packPartitions
    val files = (0 until 10).map(i => (s"f$i", 100L))
    // 250-byte cap → 2 files per partition
    val packed = packPartitions(files, 250L)
    assert(packed.length == 5)
    assert(packed.forall(_.length == 2))
    assert(packed.flatten.sorted == files.map(_._1).sorted)
    // a file larger than the cap still gets its own partition
    val withBig = packPartitions(Seq(("big", 1000L), ("s1", 10L), ("s2", 10L)), 100L)
    assert(withBig.exists(_ == Seq("big")))
    assert(withBig.flatten.length == 3)
    // empty files cost a slot, never loop forever
    assert(packPartitions(Seq(("e1", 0L), ("e2", 0L)), 1L).flatten.length == 2)
  }

  test("the source lists like the pipeline: hidden paths are invisible to every read") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-source-hidden")
    try {
      // SOPClassUID and ScanOptions sort one way as keywords and the
      // other as snake_case names: the column-order probe
      val dcm = DicomWriter.file(Seq(
        DicomWriter.strElement(0x0008, 0x0016, "UI", "1.2.840.10008.5.1.4.1.1.2"),
        DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"),
        DicomWriter.strElement(0x0018, 0x0022, "CS", "HELICAL_CT")))
      Files.write(dir.resolve("ok.dcm"), dcm)
      Files.createDirectories(dir.resolve("_temporary"))
      Files.write(dir.resolve("_temporary/t.dcm"), dcm)
      Files.createDirectories(dir.resolve(".hidden"))
      Files.write(dir.resolve(".hidden/h.dcm"), dcm)
      // not DICOM: a strict read would abort on it if it were listed
      Files.write(dir.resolve(".DS_Store"), "Bud1 desktop services".getBytes("UTF-8"))
      val pipeline = graft.pipeline.DicomPipeline.extract(spark, dir.toString, "bkt", "reg")
      val source = spark.read.format("dicom").load(dir.toString)
      val strict = spark.read.format("dicom").option("failOnError", "true").load(dir.toString)
      assert((pipeline.rows.count(), source.count(), strict.count()) == ((1L, 1L, 1L)))
      assert(source.columns.toSeq ==
        graft.pipeline.DicomPipeline.toDataFrame(spark, pipeline.rows).columns.toSeq,
        "format(\"dicom\") and the ETL table disagree on column order")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("every read lists exactly what a binaryFile scan lists") {
    import java.nio.file.Files
    import graft.pipeline.DicomPipeline
    val dir = Files.createTempDirectory("graft-source-listing")
    try {
      val dcm = DicomWriter.file(Seq(DicomWriter.strElement(0x0008, 0x0060, "CS", "CT")))
      // a partition-style `_x=1` dir is visible; an in-flight `._COPYING_`
      // upload and a `_metadata` file are not
      Files.write(dir.resolve("a.dcm"), dcm)
      Files.write(dir.resolve("b.dcm._COPYING_"), dcm)
      Files.createDirectories(dir.resolve("_x=1"))
      Files.write(dir.resolve("_x=1/c.dcm"), dcm)
      Files.write(dir.resolve("_metadata"), dcm)
      val listed = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
        .load(dir.toString).select("path").collect().map(_.getString(0)).toSet
      assert(listed.map(_.split('/').last) == Set("a.dcm", "c.dcm"))
      // every visible object yields rows or an error, so its key is seen
      def keys(ex: DicomPipeline.Extracted): Set[String] =
        ex.rows.collect().flatMap(_.values.get(graft.dicom.Flatten.LineageKey))
          .map { case graft.dicom.VrConvert.DStr(k) => k; case v => v.toString }.toSet ++
          ex.errors.collect().map(_.source_s3_key)
      val manifest = DicomPipeline.manifestOf(spark, dir.toString)
      assert(manifest.collect().map(_.getString(0)).toSet == listed, "manifestOf")
      assert(keys(DicomPipeline.extract(spark, dir.toString, "bkt", "reg")) == listed, "extract")
      assert(keys(DicomPipeline.extractFromManifest(spark, manifest, "bkt", "reg")) == listed,
        "extractFromManifest")
      val source = spark.read.format("dicom").option("failOnError", "true").load(dir.toString)
      assert(source.select("source_s3_key").collect().map(_.getString(0)).toSet == listed,
        "format(\"dicom\")")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("a missing input path fails every read, naming the path") {
    import graft.pipeline.DicomPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-source-missing")
    try {
      val missing = dir.resolve("no-such-input").toString
      def failure(read: => Any): String = {
        val e = intercept[Exception](read)
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString(" / ")
      }
      Seq(
        "extract" -> failure(DicomPipeline.extract(spark, missing, "bkt", "reg")),
        "manifestOf" -> failure(DicomPipeline.manifestOf(spark, missing)),
        "format(\"dicom\")" -> failure(spark.read.format("dicom").load(missing).count())
      ).foreach { case (surface, msg) =>
        assert(msg.contains("no-such-input"), s"$surface: $msg")
      }
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("small read uses few partitions, not one per file") {
    assert(df.rdd.getNumPartitions <= 2) // 7 objects, ~2 MB total, 128 MB cap
  }

  test("spark.sql.files.maxPartitionBytes sizes the read: at 1 byte each object plans alone") {
    val objects = graft.pipeline.DicomPipeline.walkFiles(
      spark.sparkContext.hadoopConfiguration, fixtures).size
    withConf("spark.sql.files.maxPartitionBytes" -> "1") {
      assert(spark.read.format("dicom").load(fixtures).rdd.getNumPartitions == objects)
    }
  }

  test("multi-path load reads all paths (paths JSON option)") {
    val two = spark.read.format("dicom")
      .load(s"$fixtures/example-0", s"$fixtures/example-6")
    assert(two.count() == 2)
  }

  test("failOnError surfaces parse failures") {
    val strict = spark.read.format("dicom")
      .option("failOnError", "true").load(fixtures)
    val e = intercept[Exception] { strict.count() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("DICM")))
  }

  test("recursive listing: nested dirs match the pipeline's extraction") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("dicom-nested")
    Files.createDirectories(tmp.resolve("a/b"))
    Files.copy(Paths.get(s"$fixtures/example-0"), tmp.resolve("a/example-0"))
    Files.copy(Paths.get(s"$fixtures/example-6"), tmp.resolve("a/b/example-6"))
    val v2 = spark.read.format("dicom").load(tmp.toString)
    val pipeRows = graft.pipeline.DicomPipeline
      .extract(spark, tmp.toString).rows.count()
    assert(v2.count() == pipeRows)
    assert(v2.count() == 2)
  }

  test("pruned read skips conversion of unreferenced corrupt columns") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("dicom-pruned")
    Files.write(tmp.resolve("corrupt.dcm"), DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"),       // Modality
      DicomWriter.strElement(0x0008, 0x0021, "DA", "NOTADATE")  // SeriesDate: unparsable
    )))
    val schema = StructType(Seq(
      StructField("modality", StringType), StructField("series_date", DateType)))
    val strict = spark.read.format("dicom").schema(schema)
      .option("failOnError", "true").load(tmp.toString)
    // referencing the corrupt column converts it → the image fails
    intercept[Exception] { strict.select("series_date").collect() }
    // pruning it away means its converter NEVER runs → the read succeeds
    assert(strict.select("modality").collect().map(_.getString(0)).toSeq == Seq("CT"))
  }

  test("schema inference: the read infers from the bounded sample") {
    import graft.sources.DicomSourceUtil
    val conf = spark.sparkContext.hadoopConfiguration
    val sampled = DicomSourceUtil.inferSchema(Seq(fixtures), conf)
    assert(sampled == df.schema) // the read path infers the same sample
    val one = DicomSourceUtil.inferSchema(Seq(fixtures), conf, sampleFiles = 1)
    assert(one.fieldNames.nonEmpty)
    assert(one.fieldNames.toSet.subsetOf(sampled.fieldNames.toSet))
  }
}
