package graft

import graft.pipeline.DicomPipeline

/** Volume shakeout: the pipeline over hundreds of generated DICOM
  * objects (50× the fixture count) — parallel parse across partitions,
  * dynamic schema union across heterogeneous files, partitioned write,
  * error channel proportions. */
class VolumeSpec extends SparkSuite {

  test("500 generated objects: rows, schema union, partitions, errors") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "volume").toAbsolutePath
    val dates = Seq("19990101", "19870403", "20210101")
    (0 until 500).foreach { i =>
      val elems = Seq(
        DicomWriter.strElement(0x0008, 0x0020, "DA", dates(i % 3)),
        DicomWriter.strElement(0x0008, 0x0060, "CS", if (i % 2 == 0) "CT" else "MR"),
        DicomWriter.strElement(0x0010, 0x0020, "LO", s"P$i")) ++
        // heterogeneous: every 5th file carries an extra tag → schema union
        (if (i % 5 == 0) Seq(DicomWriter.strElement(0x0008, 0x0070, "LO", "ACME")) else Nil)
      java.nio.file.Files.write(dir.resolve(f"img$i%04d"), DicomWriter.file(elems))
    }
    // plus 20 corrupt objects → error channel
    (0 until 20).foreach { i =>
      java.nio.file.Files.write(dir.resolve(f"bad$i%02d"), Array.fill[Byte](150)(7))
    }
    val t0 = System.nanoTime()
    val out = s"$dir/out"
    val (df, errs) = DicomPipeline.run(spark, dir.toString, s"$out/data",
      errorPath = Some(s"$out/errors"))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(df.count() == 500)
    assert(errs.count() == 20)
    assert(df.columns.contains("manufacturer")) // union includes the sparse tag
    val back = spark.read.parquet(s"$out/data")
    assert(back.count() == 500)
    assert(back.select("study_date").distinct().count() == 3)
    // 100-per-partition distribution sanity
    val perDate = back.groupBy("study_date").count().collect().map(_.getLong(1))
    assert(perDate.sorted.toSeq == Seq(166L, 167L, 167L))
    info(f"520 objects end-to-end in $secs%.1f s (${520 / secs}%.0f obj/s)")
  }
}
