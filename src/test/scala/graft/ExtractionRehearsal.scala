package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Extraction-path scale rehearsal: push ~9.5k synthetic DICOM objects
  * (loose files + zip archives) through the REAL pipeline entry point
  * (listing → per-task object reads → route → expand → parse → flatten
  * → finalize → partitioned snappy write) and record throughput, task-time skew, and
  * output-file counts. This is the reference's whole job
  * (`src/app.py:97-189`) at ~1000× its per-invocation object count —
  * the evidence that the driver listing, task granularity, and dynamic
  * partition write hold up when the corpus is files-heavy, which is the
  * regime the SQL-side sf rehearsal cannot exercise.
  *
  * Test scope because fixture generation rides [[DicomWriter]].
  * Run: sbt "Test/runMain graft.ExtractionRehearsal"
  * Output: one JSON line + target/extraction_rehearsal.json
  */
object ExtractionRehearsal {

  private val Modalities = Array("CT", "MR", "US", "CR", "DX")

  /** One synthetic ~4 KB DICOM object; geometry consistent so the pixel
    * decode path sees a valid native raster. */
  private def dcmBytes(i: Int): Array[Byte] = {
    val w = 32; val h = 24
    val px = Array.tabulate(w * h)(j => ((i * 31 + j * 7) % 251).toByte)
    DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0020, "DA", f"202402${i % 28 + 1}%02d"),
      DicomWriter.strElement(0x0008, 0x0060, "CS", Modalities(i % Modalities.length)),
      DicomWriter.strElement(0x0010, 0x0010, "PN", s"Family$i^Given$i"),
      DicomWriter.strElement(0x0010, 0x0020, "LO", f"P$i%06d"),
      DicomWriter.strElement(0x0020, 0x000d, "UI", s"1.2.3.$i"),
      DicomWriter.usElement(0x0028, 0x0002, 1),
      DicomWriter.usElement(0x0028, 0x0010, h),
      DicomWriter.usElement(0x0028, 0x0011, w),
      DicomWriter.usElement(0x0028, 0x0100, 8),
      DicomWriter.element(0x7fe0, 0x0010, "OB", px)))
  }

  def main(args: Array[String]): Unit = {
    val nLoose = sys.env.getOrElse("SPARK_GRAFT_REH_LOOSE", "8000").toInt
    val nZips = sys.env.getOrElse("SPARK_GRAFT_REH_ZIPS", "500").toInt
    val perZip = 3
    val spark = graft.util.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    val scratch = graft.util.Fs.scratchDir(spark, "extraction_rehearsal")
    val input = scratch.resolve("input")
    val out = scratch.resolve("out")
    val err = scratch.resolve("err")
    val phased = scratch.resolve("out_phased")
    Seq(input, out, err, phased).foreach(graft.util.Fs.deleteRecursively)
    java.nio.file.Files.createDirectories(input)

    // --- generate: nLoose loose .dcm + nZips zip archives of perZip each,
    // on a small thread pool (driver-side, one-time fixture cost) ---
    val tGen0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
      (0 until nLoose).foreach { i =>
        tasks.add(() => {
          java.nio.file.Files.write(input.resolve(f"loose-$i%05d.dcm"), dcmBytes(i))
          ()
        })
      }
      (0 until nZips).foreach { z =>
        tasks.add(() => {
          val bo = new java.io.ByteArrayOutputStream()
          val zo = new java.util.zip.ZipOutputStream(bo)
          (0 until perZip).foreach { j =>
            zo.putNextEntry(new java.util.zip.ZipEntry(f"member-$j.dcm"))
            zo.write(dcmBytes(nLoose + z * perZip + j))
            zo.closeEntry()
          }
          zo.close()
          java.nio.file.Files.write(input.resolve(f"archive-$z%04d.zip"), bo.toByteArray)
          ()
        })
      }
      pool.invokeAll(tasks).forEach(_.get())
    } finally pool.shutdown()
    val genSec = (System.nanoTime() - tGen0) / 1e9

    val nObjects = nLoose + nZips
    val nImages = nLoose + nZips * perZip

    // --- task-time stats for skew evidence ---
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) durations.add(t.taskInfo.duration)
    })

    // driver listing cost in isolation: the walk extract() plans on
    val tList0 = System.nanoTime()
    val listed = graft.pipeline.DicomPipeline.walkFiles(
      spark.sparkContext.hadoopConfiguration, input.toString).size.toLong
    val listSec = (System.nanoTime() - tList0) / 1e9

    // phase breakdown first (same entry points run() composes), then the
    // headline single-shot run() on a fresh output dir
    def phase[A](label: String)(f: => A): (A, Double) = {
      val t = System.nanoTime(); val r = f
      val sec = (System.nanoTime() - t) / 1e9
      System.err.println(f"[rehearsal] $label%-22s $sec%.2f s")
      (r, sec)
    }
    val (ex0, consSec) = phase("extract() construction") {
      graft.pipeline.DicomPipeline.extract(
        spark, input.toString, "rehearsal", "local")
    }
    val (ex, exSec) = phase("extract+persist") {
      ex0.rows.count(); ex0
    }
    val (_, wrSec) = phase("finalize + write") {
      graft.pipeline.DicomPipeline.write(spark, ex, phased.toString, None)
    }
    graft.util.Fs.deleteRecursively(out)

    // ——— manifest route (the 10M+-object entry point) at the same scale:
    // inventory build is a ONE-TIME walk (production reads an existing
    // inventory parquet instead); "construction" is the listing-free
    // driver cost — two scalar aggregates over the manifest scan decide
    // the whole task layout, so it stays flat as object count grows,
    // where the listed route's construction embeds the serial driver
    // walk. Parity with the listed route is
    // asserted at rehearsal scale, not just fixture scale.
    val manifestPq = scratch.resolve("manifest").toString
    val (_, invSec) = phase("manifest inventory walk") {
      graft.pipeline.DicomPipeline.manifestOf(spark, input.toString)
        .write.mode("overwrite").parquet(manifestPq)
    }
    val (mex, mConsSec) = phase("manifest construction") {
      graft.pipeline.DicomPipeline.extractFromManifest(
        spark, spark.read.parquet(manifestPq), "rehearsal", "local")
    }
    val (mImages, mExSec) = phase("manifest extract") { mex.rows.count() }
    val mErrs = mex.errors.count()
    require(mImages == nImages && mErrs == 0,
      s"manifest route parity broke at scale: $mImages/$nImages images, $mErrs errors")

    // ——— day-2 delta: yesterday's processed log covers all but ~1k
    // objects; today's run must pay driver AND task cost proportional
    // to the delta, not the corpus (the anti-join is metadata-only).
    // The listed route re-extracts everything by construction — this
    // phase is the incrementality the event-driven reference gets free.
    import org.apache.spark.sql.functions.{abs, col, hash, pmod}
    val manifestDf = spark.read.parquet(manifestPq)
    val isDelta = pmod(abs(hash(col("path"))), org.apache.spark.sql.functions.lit(9)) === 0
    val processedLog = manifestDf.filter(!isDelta)
    val (dex, dConsSec) = phase("delta construction (anti-join + layout)") {
      graft.pipeline.DicomPipeline.extractFromManifest(
        spark, graft.pipeline.DicomPipeline.manifestDelta(manifestDf, processedLog),
        "rehearsal", "local")
    }
    val (dImages, dExSec) = phase("delta extract") { dex.rows.count() }
    val nDeltaObjects = manifestDf.filter(isDelta).count()
    require(dImages > 0 && dImages < mImages / 4,
      s"delta should be a small fraction of the corpus: $dImages vs $mImages")

    val t0 = System.nanoTime()
    val (df, errDf) = graft.pipeline.DicomPipeline.run(
      spark, input.toString, out.toString, Some(err.toString),
      bucket = "rehearsal", region = "local")
    val rows = spark.read.parquet(out.toString).count()
    val wall = (System.nanoTime() - t0) / 1e9
    val nErr = errDf.count()

    import scala.jdk.CollectionConverters._
    val outFiles = java.nio.file.Files.walk(out).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    val partitions = java.nio.file.Files.list(out).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("study_date="))
    val ds = durations.asScala.map(_.toDouble).toArray.sorted
    def pct(q: Double) = if (ds.isEmpty) 0.0 else ds(((ds.length - 1) * q).toInt)

    def fmt(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val json =
      s"""{"metric":"extraction_rehearsal","objects":$nObjects,"images":$nImages,""" +
      s""""rows_written":$rows,"errors":$nErr,"gen_sec":${fmt(genSec)},""" +
      s""""list_sec":${fmt(listSec)},"listed":$listed,"wall_sec":${fmt(wall)},""" +
      s""""list_construct_sec":${fmt(consSec)},"manifest_inventory_sec":${fmt(invSec)},""" +
      s""""manifest_construct_sec":${fmt(mConsSec)},"manifest_extract_sec":${fmt(mExSec)},""" +
      s""""delta_objects":$nDeltaObjects,"delta_images":$dImages,""" +
      s""""delta_construct_sec":${fmt(dConsSec)},"delta_extract_sec":${fmt(dExSec)},""" +
      s""""objects_per_sec":${fmt(nObjects / wall)},"images_per_sec":${fmt(nImages / wall)},""" +
      s""""extract_sec":${fmt(exSec)},"finalize_write_sec":${fmt(wrSec)},""" +
      s""""out_files":$outFiles,"out_partitions":$partitions,""" +
      s""""task_ms_p50":${fmt(pct(0.5))},"task_ms_p95":${fmt(pct(0.95))},"task_ms_max":${fmt(pct(1.0))},"n_tasks":${ds.length}}"""
    println(json)

    // ——— ARCHIVE-DOMINATED corpus (the reference's real workload shape:
    // zips of many members, src/s3wrapper.py:95-124) at two scales —
    // members/sec when EXPANSION, not loose-file handling, is the cost.
    // Also the oversized one-object-per-task route on the same archives
    // (maxInline forced below archive size): its wall is the streamed
    // entry-by-entry fold whose no-accumulation memory contract
    // StreamedExpansionSpec pins with weak references.
    def archiveArm(nArch: Int, perArch: Int): (Double, Double) = {
      val aDir = scratch.resolve(s"arch_$nArch")
      graft.util.Fs.deleteRecursively(aDir)
      java.nio.file.Files.createDirectories(aDir)
      val p2 = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val ts = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
        (0 until nArch).foreach { z =>
          ts.add(() => {
            val bo = new java.io.ByteArrayOutputStream()
            val zo = new java.util.zip.ZipOutputStream(bo)
            (0 until perArch).foreach { j =>
              zo.putNextEntry(new java.util.zip.ZipEntry(f"member-$j%03d.dcm"))
              zo.write(dcmBytes(z * perArch + j))
              zo.closeEntry()
            }
            zo.close()
            java.nio.file.Files.write(aDir.resolve(f"archive-$z%05d.zip"), bo.toByteArray)
            ()
          })
        }
        p2.invokeAll(ts).forEach(_.get())
      } finally p2.shutdown()
      val nMembers = nArch.toLong * perArch
      val tp0 = System.nanoTime()
      val exA = graft.pipeline.DicomPipeline.extract(spark, aDir.toString, "rehearsal", "local")
      val gotPacked = exA.rows.count()
      val packedSec = (System.nanoTime() - tp0) / 1e9
      require(gotPacked == nMembers && exA.errors.count() == 0,
        s"archive arm parity: $gotPacked/$nMembers members")
      // same corpus one archive per task: a split size below every
      // archive's length gives each its own task
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      val ts0 = System.nanoTime()
      val exS = try {
        val e = graft.pipeline.DicomPipeline.extract(spark, aDir.toString, "rehearsal", "local")
        require(e.rows.count() == nMembers && e.errors.count() == 0,
          "streamed-route archive parity broke")
        e
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
      val streamedSec = (System.nanoTime() - ts0) / 1e9
      System.err.println(
        f"[rehearsal] archives $nArch%5d x $perArch: packed ${fmt(packedSec)}s " +
          f"(${fmt(nMembers / packedSec)} members/s), one-task-per-archive streamed " +
          f"${fmt(streamedSec)}s (${fmt(nMembers / streamedSec)} members/s)")
      graft.util.Fs.deleteRecursively(aDir)
      (packedSec, streamedSec)
    }
    val (aP1, aS1) = archiveArm(200, 50)
    val (aP2, aS2) = archiveArm(1000, 50)
    val archJson =
      s""","archives":{"arm_200x50":{"packed_sec":${fmt(aP1)},"streamed_sec":${fmt(aS1)},"members":10000},""" +
      s""""arm_1000x50":{"packed_sec":${fmt(aP2)},"streamed_sec":${fmt(aS2)},"members":50000}}"""
    val fullJson = json.dropRight(1) + archJson + "}"

    val outPath = java.nio.file.Paths.get("target", "extraction_rehearsal.json").toAbsolutePath
    java.nio.file.Files.write(outPath,
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
