package graft

import graft.ingest.Archives

/** The per-object reader's memory contract, on every route: archive
  * members stream through the extraction fold ONE AT A TIME, and the
  * expander retains no reference to a delivered member — peak task
  * memory is the current member plus what the fold keeps, never the
  * member-byte sum. Pinned here with weak references (a buffering
  * implementation keeps every member strongly reachable until the
  * archive ends, so old refs could not clear mid-fold), plus
  * member-semantics parity between the visitor and the collecting
  * `expand`. */
class StreamedExpansionSpec extends SparkSuite {

  /** A valid ~`size`-byte DICOM member (DICM magic so keepMember
    * accepts it). */
  private def member(i: Int, size: Int): Array[Byte] = {
    val px = Array.tabulate(size)(j => ((i * 31 + j * 7) % 251).toByte)
    DicomWriter.file(Seq(
      DicomWriter.strElement(0x0010, 0x0020, "LO", f"P$i%06d"),
      DicomWriter.element(0x7fe0, 0x0010, "OB", px)))
  }

  private def zipOf(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(bo)
    members.foreach { case (n, b) =>
      zo.putNextEntry(new java.util.zip.ZipEntry(n))
      zo.write(b)
      zo.closeEntry()
    }
    zo.close()
    bo.toByteArray
  }

  private def tarGzOf(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val go = new org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream(bo)
    val to = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(go)
    members.foreach { case (n, b) =>
      val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(n)
      e.setSize(b.length.toLong)
      to.putArchiveEntry(e)
      to.write(b)
      to.closeArchiveEntry()
    }
    to.close()
    bo.toByteArray
  }

  test("streaming fold ≡ buffering expansion, member for member (zip and tar.gz)") {
    val members = (0 until 7).map(i => (f"m-$i.dcm", member(i, 4096)))
    for ((key, bytes) <- Seq("a.zip" -> zipOf(members), "a.tar.gz" -> tarGzOf(members))) {
      val buffered = Archives.expand(key, bytes) match {
        case Archives.Entries(es) => es.map { case (n, b) => (n, b.toSeq) }
        case other => fail(s"unexpected expansion $other")
      }
      val streamed = Vector.newBuilder[(String, Seq[Byte])]
      Archives.members(key, () => new java.io.ByteArrayInputStream(bytes)) { (n, b) =>
        streamed += n -> b.toSeq
      }
      assert(streamed.result() == buffered, s"$key member drift between routes")
    }
  }

  test("no member accumulation: bytes delivered earlier become collectable mid-fold") {
    // 24 members x 256 KiB: a buffering expander holds ~6 MiB of member
    // bytes until the archive ends; the streaming fold must let members
    // older than the in-flight one be garbage collected WHILE later
    // members are still being read
    val n = 24
    val members = (0 until n).map(i => (f"m-$i%02d.dcm", member(i, 256 * 1024)))
    val archive = tarGzOf(members)
    val refs = scala.collection.mutable.ArrayBuffer[java.lang.ref.WeakReference[Array[Byte]]]()
    var minAliveObserved = Int.MaxValue
    val names = Vector.newBuilder[String]
    // fed from memory, as the packed scan feeds it: the contract holds
    // for every route, not only the oversized one
    val archiveIn = () => new java.io.ByteArrayInputStream(archive)
    Archives.members("big.tar.gz", archiveIn) { (name, bytes) =>
      refs += new java.lang.ref.WeakReference(bytes)
      if (refs.length % 8 == 0) {
        // try to clear everything but the member in hand; retry a few
        // times — weak refs clear on any collection of their referent
        var attempts = 0
        def alive = refs.dropRight(1).count(_.get() != null)
        while (alive > 2 && attempts < 5) { System.gc(); Thread.sleep(20); attempts += 1 }
        minAliveObserved = math.min(minAliveObserved, alive)
      }
      names += name
    }
    assert(names.result().size == n)
    assert(minAliveObserved <= 2,
      s"delivered members stayed reachable mid-fold ($minAliveObserved alive of ${refs.length}) " +
        "— the expander is accumulating the archive")
  }

  test("oversized archive routes one-object-per-task and parses members as they stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft-oversized")
    try {
      val members = (0 until 50).map(i => (f"scan-$i%02d.dcm", member(i, 64 * 1024)))
      java.nio.file.Files.write(dir.resolve("big.zip"), zipOf(members))
      // a small loose file shares no task with the archive
      java.nio.file.Files.write(dir.resolve("loose.dcm"), member(99, 4096))
      withConf("spark.sql.files.maxPartitionBytes" -> (128 * 1024).toString) {
        val ex = graft.pipeline.DicomPipeline.extract(spark, dir.toString, "t", "l")
        assert(ex.rows.count() == 51L, "50 streamed members + 1 loose object")
        assert(ex.errors.count() == 0L)
      }
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
