package graft

/** EXTRACTION DECADE — the extraction tier at the sf10 convention
  * (VERDICT r12 #5): ~10× ExtractionRehearsal's corpus through the
  * MANIFEST entry point (the 10M+-object route — the driver never
  * lists; the inventory is produced by the generator itself, which is
  * exactly how object-store inventories exist in production), answering
  * three questions with recorded numbers:
  *
  *  1. per-object extraction cost FLAT in object count — the same run
  *     measures a 1/10th subset and the full decade corpus and compares
  *     sec/object (JIT warmed before both);
  *  2. driver memory O(1) in object count — the manifest route's only
  *     driver-side materialization is two scalar aggregates sizing the
  *     task layout (`DicomPipeline.extractFromManifest`), so used heap
  *     after the decade extraction must not scale with the corpus:
  *     recorded before/after, gated against a fixed budget far below
  *     what any per-object driver state would cost (120k objects × even
  *     100 bytes of driver state would blow it);
  *  3. day-2 delta cost ∝ delta at the decade — the discriminating gate
  *     is CORPUS-SIZE INVARIANCE (the synthetic per-object cost is so
  *     low that a fixed ~2 s job constant dominates any ratio gate):
  *     the same ~1k-object delta extracted against the full manifest
  *     and against a 10× smaller one must cost the same, because the
  *     anti-join is metadata-only and only object work scales.
  *
  * Test scope because fixture generation rides [[DicomWriter]].
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ExtractionDecade"
  * Output: one JSON line + target/sf10_rehearsal_extract.json
  * (the extraction tier's section at the decade, next to
  * target/sf10_rehearsal.json's dedup/retrieval sections). */
object ExtractionDecade {

  private val Modalities = Array("CT", "MR", "US", "CR", "DX")

  /** Synthetic image i. Most metadata is seeded by the COUPLE index
    * g = i - (i % 2): images 2g and 2g+1 share every funnel-text token
    * except the trailing SOPInstanceUID, making each couple a true
    * near-duplicate pair (10-token text, 8 shingles, the single
    * differing trailing token kills 1 → Jaccard 7/9 ≈ 0.78 ≥ 0.5) while
    * every cross-couple pair differs in patient/name/date tokens and
    * stays far below threshold — so the decade funnel's banded probe has
    * real work (couples straddling the standing/delta split) without
    * bucket blow-up (bucket size stays 2). */
  private def dcmBytes(i: Int): Array[Byte] = {
    val w = 32; val h = 24
    val g = i - (i % 2)
    val px = Array.tabulate(w * h)(j => ((i * 31 + j * 7) % 251).toByte)
    DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0008, "CS", "ORIGINAL\\PRIMARY"),
      DicomWriter.strElement(0x0008, 0x0018, "UI", s"1.2.3.$i"),
      DicomWriter.strElement(0x0008, 0x0020, "DA", f"202402${g % 28 + 1}%02d"),
      DicomWriter.strElement(0x0008, 0x0060, "CS", Modalities(g % Modalities.length)),
      DicomWriter.strElement(0x0008, 0x0064, "CS", "WSD"),
      DicomWriter.strElement(0x0010, 0x0010, "PN", s"Family$g^Given$g"),
      DicomWriter.strElement(0x0010, 0x0020, "LO", f"P$g%06d"),
      DicomWriter.strElement(0x0010, 0x0040, "CS", Seq("M", "F", "O")(g % 3)),
      DicomWriter.strElement(0x0020, 0x000d, "UI", s"1.9.$g"),
      DicomWriter.strElement(0x0020, 0x0011, "IS", (g % 9 + 1).toString),
      DicomWriter.usElement(0x0028, 0x0002, 1),
      DicomWriter.strElement(0x0028, 0x0004, "CS", "MONOCHROME2"),
      DicomWriter.usElement(0x0028, 0x0010, h),
      DicomWriter.usElement(0x0028, 0x0011, w),
      DicomWriter.strElement(0x0028, 0x0030, "DS", "0.5\\0.5"),
      DicomWriter.usElement(0x0028, 0x0100, 8),
      DicomWriter.element(0x7fe0, 0x0010, "OB", px)))
  }

  private def usedHeapMB(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val nLoose = sys.env.getOrElse("SPARK_GRAFT_DECADE_LOOSE", "100000").toInt
    val nZips = sys.env.getOrElse("SPARK_GRAFT_DECADE_ZIPS", "5000").toInt
    val perZip = 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSession(cpus)
    import spark.implicits._

    // Wall-clock/heap gates are DEFERRED (ADVICE r13): every recorded
    // number lands in the JSON artifact FIRST, then the gates evaluate —
    // a loaded box still yields the artifact (with the failure printed)
    // instead of dying mid-run with nothing written. The thresholds stay
    // generous tripwires, and this main stays OUT of scripts/ci.sh by
    // design (it is a manually-run artifact generator).
    val gateFails = scala.collection.mutable.ArrayBuffer[String]()
    def gate(cond: Boolean, msg: => String): Unit = if (!cond) gateFails += msg

    val scratch = graft.util.Fs.scratchDir(spark, "extraction_decade")
    val input = scratch.resolve("input")
    graft.util.Fs.deleteRecursively(input)
    java.nio.file.Files.createDirectories(input)

    // --- generate corpus + its inventory IN ONE PASS (no listing ever:
    // the writer knows every path and length, like a store inventory) ---
    System.err.println(s"[decade] generating $nLoose loose + $nZips zips ...")
    val tGen0 = System.nanoTime()
    val inventory = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
      (0 until nLoose).foreach { i =>
        tasks.add(() => {
          val bytes = dcmBytes(i)
          val p = input.resolve(f"loose-$i%06d.dcm")
          java.nio.file.Files.write(p, bytes)
          inventory.add((p.toUri.toString.stripSuffix("/"), bytes.length.toLong))
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
          val p = input.resolve(f"archive-$z%05d.zip")
          java.nio.file.Files.write(p, bo.toByteArray)
          inventory.add((p.toUri.toString.stripSuffix("/"), bo.size().toLong))
          ()
        })
      }
      pool.invokeAll(tasks).forEach(_.get())
    } finally pool.shutdown()
    val genSec = (System.nanoTime() - tGen0) / 1e9
    import scala.jdk.CollectionConverters._
    val invRows = inventory.asScala.toSeq
    val nObjects = invRows.size
    val nImages = nLoose + nZips * perZip
    require(nObjects == nLoose + nZips, s"inventory incomplete: $nObjects")
    val manifestPq = scratch.resolve("manifest").toString
    invRows.toDF("path", "length").repartition(4)
      .write.mode("overwrite").parquet(manifestPq)
    System.err.println(f"[decade] generated $nObjects objects in $genSec%.1f s")

    def fmt(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val manifest = spark.read.parquet(manifestPq)

    def extractCount(m: org.apache.spark.sql.DataFrame): Long =
      graft.pipeline.DicomPipeline.extractFromManifest(
        spark, m, "decade", "local").rows.count()

    // JIT warm-up on a sliver, then the 1/10 subset, then the decade —
    // per-object flatness is subset-vs-decade on equal-warmth code
    import org.apache.spark.sql.functions.{abs, col, hash, lit, pmod}
    extractCount(manifest.filter(pmod(abs(hash(col("path"))), lit(100)) === 7))
    val subsetSel = pmod(abs(hash(col("path"))), lit(10)) === 3
    val nSubset = manifest.filter(subsetSel).count()
    val tSub0 = System.nanoTime()
    val subImages = extractCount(manifest.filter(subsetSel))
    val subSec = (System.nanoTime() - tSub0) / 1e9

    val heapBeforeMB = usedHeapMB()
    val tFull0 = System.nanoTime()
    val fullImages = extractCount(manifest)
    val fullSec = (System.nanoTime() - tFull0) / 1e9
    val heapAfterMB = usedHeapMB()
    require(fullImages == nImages,
      s"decade manifest extraction parity broke: $fullImages/$nImages images")

    val subPerObjMs = subSec * 1000 / nSubset
    val fullPerObjMs = fullSec * 1000 / nObjects
    System.err.println(
      f"[decade] subset  $nSubset%7d objects  ${fmt(subSec)}s  (${fmt(subPerObjMs)} ms/obj)")
    System.err.println(
      f"[decade] decade  $nObjects%7d objects  ${fmt(fullSec)}s  (${fmt(fullPerObjMs)} ms/obj, " +
        f"${fmt(nObjects / fullSec)} obj/s, ${fmt(nImages / fullSec)} img/s)")
    System.err.println(
      f"[decade] driver heap ${fmt(heapBeforeMB)} -> ${fmt(heapAfterMB)} MB")
    gate(fullPerObjMs < 2.0 * subPerObjMs,
      f"per-object cost not flat: $subPerObjMs%.3f ms/obj at 1/10 vs " +
        f"$fullPerObjMs%.3f ms/obj at the decade")
    // O(1)-in-objects driver: allow a fixed budget (GC slack + plan
    // state), far below any per-object accumulation signature
    gate(heapAfterMB - heapBeforeMB < 512,
      f"driver heap grew ${heapAfterMB - heapBeforeMB}%.0f MB over the decade extraction")

    // --- day-2 delta at the decade: ~1% new objects. The synthetic
    // objects are so cheap (0.03 ms/obj above) that a fixed per-run job
    // constant (~2 s of scheduling + the metadata anti-join) dominates
    // ANY ratio against the 3-4 s full extraction — so the gate that
    // actually discriminates O(delta) from O(corpus) is CORPUS-SIZE
    // INVARIANCE: extracting the SAME ~1k-object delta against the full
    // 105k-row manifest and against a 10× smaller one must cost the
    // same (the anti-join is metadata-only; only object work scales).
    val isDelta = pmod(abs(hash(col("path"))), lit(100)) === 0
    val nDelta = manifest.filter(isDelta).count()
    def timeDelta(corpus: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val processed = corpus.filter(!isDelta)
      val t0 = System.nanoTime()
      val imgs = extractCount(
        graft.pipeline.DicomPipeline.manifestDelta(corpus, processed))
      (imgs, (System.nanoTime() - t0) / 1e9)
    }
    val (deltaImages, deltaSec) = timeDelta(manifest)
    val smallCorpus = manifest.filter(subsetSel || isDelta)
    val nSmall = smallCorpus.count()
    val (deltaImagesSmall, deltaSecSmall) = timeDelta(smallCorpus)
    System.err.println(
      f"[decade] delta   $nDelta%7d objects  vs $nObjects%7d-manifest ${fmt(deltaSec)}s, " +
        f"vs $nSmall%7d-manifest ${fmt(deltaSecSmall)}s " +
        f"(${fmt(deltaSec * 1000 / nDelta)} ms/obj incl. anti-join)")
    require(deltaImages > 0 && deltaImages == deltaImagesSmall &&
      nDelta < nObjects / 50,
      s"delta construction drifted: $nDelta of $nObjects, " +
        s"$deltaImages vs $deltaImagesSmall images")
    // corpus-size invariance: a 10× manifest may only move the delta run
    // by noise (0.5× + 1 s grace), never by anything corpus-shaped
    gate(deltaSec < 1.5 * deltaSecSmall + 1.0,
      f"delta cost scaled with the corpus, not the delta: " +
        f"$deltaSec%.2f s vs $deltaSecSmall%.2f s on a 10x smaller manifest")
    // NO delta-vs-full ratio gate on purpose: at 0.02-0.03 ms/obj the
    // whole 105k-object extraction costs ~2 s — the same order as one
    // run's fixed job constant — so delta/full ratios measure scheduling
    // constants, not scaling. The invariance gate above plus the
    // per-object flatness gate carry the scale claim; real corpora pay
    // real per-object costs and the constant vanishes into them.

    // --- day-2 FUNNEL delta at the decade (VERDICT r13 #2): run the
    // ACTUAL delta-funnel stages (broadcast hash semi-join + banded
    // index probe, via the persisted standing relations the
    // dicom_corpus_funnel_delta_idx entry reads) with the same ~1%
    // delta against the full standing corpus AND a 10× smaller one.
    // The claim "bytes ∝ corpus hashes/bands, never standing text"
    // (PLANS.md) becomes a measured corpus-size-INVARIANCE gate — the
    // r13-lesson shape — instead of a plan argument. Day-1 build cost
    // (extract + persist hashes + band/set index) is recorded,
    // un-gated: it is the amortized morning-job artifact.
    import graft.queries.DicomQueries
    val changedSel = pmod(abs(hash(col("path"))), lit(1000)) === 1
    // delta manifest = the hash-new 1% plus a ~0.1% re-delivered slice of
    // the standing corpus (the changed-object story: their docs must
    // exact-dup away against the persisted hash relation)
    val deltaManifest = manifest.filter(isDelta || (changedSel && !isDelta))
    def flatOf(m: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      DicomQueries.flatProjection(spark,
        graft.pipeline.DicomPipeline.toDataFrame(spark,
          graft.pipeline.DicomPipeline.extractFromManifest(
            spark, m, "decade", "local")))
    val funnelScratch = scratch.resolve("funnelstd")
    graft.util.Fs.deleteRecursively(funnelScratch)
    def buildStanding(m: org.apache.spark.sql.DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      DicomQueries.persistStandingFunnel(spark, flatOf(m), s"$funnelScratch/$tag")
      (System.nanoTime() - t0) / 1e9
    }
    val buildDecadeSec = buildStanding(manifest.filter(!isDelta), "decade")
    val buildSmallSec = buildStanding(
      manifest.filter(subsetSel && !isDelta), "small")
    val nSmallStanding = manifest.filter(subsetSel && !isDelta).count()
    def runFunnel(tag: String): (Array[org.apache.spark.sql.Row], Double) = {
      spark.catalog.clearCache()
      graft.operators.Dedup.unpersistIntermediates(spark)
      val t0 = System.nanoTime()
      val rows = DicomQueries.funnelDeltaFromPersisted(
        spark, s"$funnelScratch/$tag", flatOf(deltaManifest)).collect()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    runFunnel("small") // JIT/codegen warm pass — both measured runs start equally warm
    val (fRowsSmall, fSecSmall) = runFunnel("small")
    val (fRows, fSec) = runFunnel("decade")
    val fDup = fRows.count(_.getAs[Long]("is_dup") == 1L)
    val fNear = fRows.count(_.getAs[Long]("is_neardup") == 1L)
    System.err.println(
      f"[decade] funnel  ${fRows.length}%7d delta docs vs ${nObjects - nDelta}%7d-object standing " +
        f"${fmt(fSec)}s, vs $nSmallStanding%7d-object standing ${fmt(fSecSmall)}s " +
        f"(day-1 builds ${fmt(buildDecadeSec)}s / ${fmt(buildSmallSec)}s; " +
        f"$fDup dups, $fNear near-dups)")
    require(fRows.length == fRowsSmall.length && fRows.nonEmpty,
      s"funnel delta row count drifted between standings: " +
        s"${fRows.length} vs ${fRowsSmall.length}")
    require(fDup > 0 && fNear > 0,
      s"decade funnel stages vacuous: $fDup dups, $fNear near-dups")
    // the same invariance shape as extraction: a 10× standing corpus may
    // move the MORNING JOB (delta extract + hash semi-join + band probe)
    // only by noise — nothing in it may be standing-text-shaped
    gate(fSec < 1.5 * fSecSmall + 1.0,
      f"funnel delta cost scaled with the standing corpus: " +
        f"$fSec%.2f s vs $fSecSmall%.2f s on a 10x smaller standing")

    val json =
      s"""{"metric":"sf10_rehearsal_extract","extract10":{""" +
      s""""objects":$nObjects,"images":$nImages,"gen_sec":${fmt(genSec)},""" +
      s""""subset_objects":$nSubset,"subset_sec":${fmt(subSec)},""" +
      s""""subset_ms_per_obj":${fmt(subPerObjMs)},""" +
      s""""decade_sec":${fmt(fullSec)},"decade_ms_per_obj":${fmt(fullPerObjMs)},""" +
      s""""objects_per_sec":${fmt(nObjects / fullSec)},""" +
      s""""images_per_sec":${fmt(nImages / fullSec)},""" +
      s""""driver_heap_before_mb":${fmt(heapBeforeMB)},""" +
      s""""driver_heap_after_mb":${fmt(heapAfterMB)},""" +
      s""""delta_objects":$nDelta,"delta_images":$deltaImages,""" +
      s""""delta_sec":${fmt(deltaSec)},""" +
      s""""delta_sec_vs_small_manifest":${fmt(deltaSecSmall)},""" +
      s""""small_manifest_objects":$nSmall},""" +
      s""""funnel_delta10":{""" +
      s""""standing_objects":${nObjects - nDelta},""" +
      s""""small_standing_objects":$nSmallStanding,""" +
      s""""day1_build_sec":${fmt(buildDecadeSec)},""" +
      s""""day1_build_small_sec":${fmt(buildSmallSec)},""" +
      s""""delta_docs":${fRows.length},"n_dup":$fDup,"n_neardup":$fNear,""" +
      s""""delta_funnel_sec":${fmt(fSec)},""" +
      s""""delta_funnel_sec_vs_small_standing":${fmt(fSecSmall)}}}"""
    println(json)
    val outPath = java.nio.file.Paths.get("target", "sf10_rehearsal_extract.json")
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.util.Fs.deleteRecursively(input)
    graft.util.Fs.deleteRecursively(funnelScratch)
    // the artifact is on disk — NOW evaluate the deferred wall-clock/heap
    // gates (ADVICE r13: a loaded box yields the artifact + the failure,
    // never an artifact-less death mid-run)
    require(gateFails.isEmpty,
      s"decade gates failed (artifact written):\n  ${gateFails.mkString("\n  ")}")
    spark.stop()
  }
}
