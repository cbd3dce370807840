package graft

/** Wide-schema extraction rehearsal: the PS3.6 dictionary makes outputs
  * of hundreds-to-thousands of DISTINCT TAG COLUMNS reachable, but the
  * observed-schema finalize + drop-all-null + crawler-merge path
  * (`DicomPipeline.toDataFrame`, `Catalog.crawl`) had only ever seen
  * ~36 columns. This pushes synthetic corpora of 120/300/600 distinct
  * tags (drawn from the real dictionary across groups) through the FULL
  * pipeline — two half-overlapping batches per width so the crawler's
  * CombineCompatibleSchemas analog merges genuinely heterogeneous
  * parquet footers (reference anchor:
  * `/root/reference/deploy/serverless.yml:466-479`) — and records how
  * finalize/write/crawl cost scales with column count.
  *
  * Test scope because fixture generation rides [[DicomWriter]].
  * Run: sbt "Test/runMain graft.WideSchemaRehearsal"
  * Output: one JSON line + target/wide_schema_rehearsal.json
  */
object WideSchemaRehearsal {

  /** Single-valued short-form string VRs the fixture writer can emit and
    * every engine layer converts: keeps the candidate pool to tags whose
    * VALUE synthesis is trivial while still spanning the dictionary's
    * groups. */
  private val SimpleVrs =
    Set("CS", "LO", "SH", "ST", "LT", "AE", "AS", "UI", "IS", "DS", "DA", "TM", "PN")

  private def valueFor(vr: String, i: Int): String = vr match {
    case "DA" => f"202402${i % 28 + 1}%02d"
    case "TM" => f"${i % 24}%02d${i % 60}%02d00"
    case "IS" => (i % 1000).toString
    case "DS" => s"${i % 100}.${i % 10}"
    case "UI" => s"1.2.840.99.$i"
    case "PN" => s"Fam$i^Giv$i"
    case "AS" => f"${i % 100}%03dY"
    case _    => s"v$i"
  }

  /** The candidate tag pool: even public groups, keyworded, VM=1, simple
    * string VR — deterministically ordered, naturally spanning groups
    * (0008 study/series, 0010 patient, 0018 acquisition, 0020 relations,
    * RT/SR/ophthalmic groups, ...). */
  private[graft] def candidates(n: Int): Seq[(Int, Int, graft.dicom.Tags.TagInfo)] = {
    val all = graft.dicom.Tags.dict.toSeq
      .filter { case (k, t) =>
        val group = k >>> 16
        group % 2 == 0 && group >= 0x0008 && group < 0x7f00 &&
          t.keyword.nonEmpty && t.vmMax == 1 && SimpleVrs.contains(t.vr)
      }
      .sortBy(_._1)
    // round-robin across groups so any prefix spans the dictionary's
    // families (study, patient, acquisition, RT, SR, ...) instead of
    // exhausting group 0008 first
    val byGroup = all.groupBy(_._1 >>> 16).toSeq.sortBy(_._1).map(_._2)
    val maxLen = byGroup.map(_.size).max
    (0 until maxLen).flatMap(i => byGroup.flatMap(_.lift(i)))
      .take(n)
      .map { case (k, t) => (k >>> 16, k & 0xffff, t) }
  }

  /** One object carrying `perObj` tags from a rotating window over
    * `pool`, plus the partition date. */
  private[graft] def wideDcm(pool: Seq[(Int, Int, graft.dicom.Tags.TagInfo)],
                             i: Int, perObj: Int): Array[Byte] = {
    val start = (i * 37) % pool.size
    val window = (0 until math.min(perObj, pool.size))
      .map(j => pool((start + j) % pool.size))
    val els = window.map { case (g, e, t) =>
      DicomWriter.strElement(g, e, t.vr, valueFor(t.vr, i))
    }
    // stable partition column + an identity tag, whatever the window
    DicomWriter.file(
      DicomWriter.strElement(0x0008, 0x0020, "DA", f"202403${i % 12 + 1}%02d") +:
      DicomWriter.strElement(0x0020, 0x000d, "UI", s"1.2.3.$i") +: els)
  }

  def main(args: Array[String]): Unit = {
    val nObjects = sys.env.getOrElse("SPARK_GRAFT_WIDE_OBJECTS", "1200").toInt
    val perObj = 60
    val widths = Seq(120, 300, 600)
    val spark = graft.util.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    def fmt(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def timed[A](f: => A): (A, Double) = {
      val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
    }

    val rows = widths.map { width =>
      val pool = candidates(width)
      require(pool.size == width, s"dictionary pool too small for $width")
      val scratch = graft.util.Fs.scratchDir(spark, "wide_schema")
      val input = scratch.resolve(s"in_$width")
      val out = scratch.resolve(s"out_$width")
      Seq(input, out).foreach(graft.util.Fs.deleteRecursively)
      java.nio.file.Files.createDirectories(input)
      // two half-overlapping pools → two batch schemas → a real merge:
      // batch A sees candidates [0, 60% of W), batch B [40% of W, W)
      val poolA = pool.take(width * 3 / 5)
      val poolB = pool.drop(width * 2 / 5)
      (0 until nObjects).foreach { i =>
        val p = if (i < nObjects / 2) poolA else poolB
        java.nio.file.Files.write(input.resolve(f"obj-$i%05d.dcm"),
          wideDcm(p, i, perObj))
      }
      // batch A then batch B, appending into one partitioned table
      def runBatch(lo: Int, hi: Int): Double = {
        val half = scratch.resolve(s"half_$width")
        graft.util.Fs.deleteRecursively(half)
        java.nio.file.Files.createDirectories(half)
        (lo until hi).foreach { i =>
          java.nio.file.Files.createSymbolicLink(
            half.resolve(f"obj-$i%05d.dcm"), input.resolve(f"obj-$i%05d.dcm"))
        }
        val (_, sec) = timed(graft.pipeline.DicomPipeline.run(
          spark, half.toString, out.toString, None, "wide", "local"))
        sec
      }
      val runASec = runBatch(0, nObjects / 2)
      val runBSec = runBatch(nObjects / 2, nObjects)
      // isolated finalize timing at full width (the driver-side
      // observed-key collection + row materialization under test)
      val ex = graft.pipeline.DicomPipeline.extract(spark, input.toString, "wide", "local")
      val (df, finalizeSec) = timed {
        val d = graft.pipeline.DicomPipeline.toDataFrame(spark, ex)
        d.count(); d
      }
      val nCols = df.columns.length
      // crawler merge over the two heterogeneous batch schemas
      val table = s"wide_$width"
      val (merged, crawlSec) = timed(
        graft.pipeline.Catalog.crawl(spark, out.toString, "dicom_db", table))
      val mergedCols = merged.columns.length
      val tableRows = spark.table(s"dicom_db.$table").count()
      spark.sql(s"DROP TABLE IF EXISTS dicom_db.$table")
      require(tableRows == nObjects, s"crawled table lost rows: $tableRows/$nObjects")
      System.err.println(
        f"[rehearsal] width $width%4d: $nCols cols observed, $mergedCols merged, " +
        f"finalize ${fmt(finalizeSec)}s, runs ${fmt(runASec)}+${fmt(runBSec)}s, crawl ${fmt(crawlSec)}s")
      Seq(input, out).foreach(graft.util.Fs.deleteRecursively)
      (width, nCols, mergedCols, finalizeSec, runASec + runBSec, crawlSec, tableRows)
    }

    val json = rows.map { case (w, c, mc, fin, run, crawl, n) =>
      s""""$w":{"cols":$c,"merged_cols":$mc,"finalize_sec":${fmt(fin)},"run_sec":${fmt(run)},"crawl_sec":${fmt(crawl)},"rows":$n}"""
    }.mkString(
      s"""{"metric":"wide_schema_rehearsal","objects_per_width":$nObjects,"tags_per_object":$perObj,"widths":{""",
      ",", "}}")
    println(json)
    val outPath = java.nio.file.Paths.get("target", "wide_schema_rehearsal.json")
    java.nio.file.Files.write(outPath,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
