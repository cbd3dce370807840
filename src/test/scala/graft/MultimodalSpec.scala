package graft

import graft.operators.Multimodal

/** Multimodal binary-column operators over the reference fixtures:
  * real DICOM header decode, stub geometry for non-DICOM, frame-sample
  * explode shape, pseudo-embedding compatibility with the ANN path. */
class MultimodalSpec extends SparkSuite {

  private val fixtures = graft.queries.DicomQueries.Fixtures

  test("media type sniffed from magic bytes, not extension") {
    val types = Multimodal.loadAssets(spark, fixtures)
      .select("path", "media_type").collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1))).toMap
    assert(types("example-0") == "application/dicom")
    assert(types("example.zip") == "application/zip")
    assert(types("example.tar") == "application/gzip") // .tar is really gz!
    assert(types("example.tar.bz2") == "application/x-bzip2")
  }

  test("DICOM decode reads true header geometry") {
    val d = Multimodal.decodeMeta(spark, fixtures).collect()
      .map(r => r.getAs[String]("path") -> r).toMap
    val ex0 = d("example-0")
    assert(ex0.getAs[String]("decoder") == "dicom-header")
    assert(ex0.getAs[Int]("width") == 985)
    assert(ex0.getAs[Int]("height") == 979)
    assert(ex0.getAs[Int]("channels") == 3)
    assert(ex0.getAs[Int]("bits") == 8)
    // archives get REAL container metadata, not stub geometry
    val zip = d("example.zip")
    assert(zip.getAs[String]("decoder") == "zip-eocd")
    assert(zip.getAs[Int]("n_frames") == 3) // central-dir entry count
    assert(zip.getAs[Long]("payload_bytes") == 2162134L) // Σ uncompressed sizes
    val gz = d("example.tar") // really gzip
    assert(gz.getAs[String]("decoder") == "gzip-trailer")
    assert(gz.getAs[Long]("payload_bytes") == 2168320L) // ISIZE
    // opaque compression keeps the documented deterministic stub
    assert(d("example.tar.bz2").getAs[String]("decoder") == "stub")
  }

  test("image/container headers decode from real bytes") {
    import Multimodal.{decodeOne, sniffMediaType}
    // 3×2 RGB PNG IHDR (signature + IHDR chunk only — enough for geometry)
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 3, 0, 0, 0, 2, 8, 2, 0, 0, 0).map(_.toByte)
    assert(sniffMediaType(png) == "image/png")
    val p = decodeOne("p.png", "image/png", png)
    assert((p.width, p.height, p.channels, p.bits, p.decoder) == ((3, 2, 3, 8, "png-ihdr")))
    // JPEG: SOI + APP0(len 4) + SOF0 5×4, 3 components
    val jpg = Array[Int](0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0, 0,
      0xff, 0xc0, 0x00, 0x0b, 8, 0, 4, 0, 5, 3, 0, 0, 0).map(_.toByte)
    assert(sniffMediaType(jpg) == "image/jpeg")
    val j = decodeOne("j.jpg", "image/jpeg", jpg)
    assert((j.width, j.height, j.channels, j.bits, j.decoder) == ((5, 4, 3, 8, "jpeg-sof")))
    // GIF89a 7×6
    val gif = "GIF89a".getBytes ++ Array[Int](7, 0, 6, 0, 0x70, 0, 0).map(_.toByte)
    assert(sniffMediaType(gif) == "image/gif")
    val g = decodeOne("g.gif", "image/gif", gif)
    assert((g.width, g.height, g.decoder) == ((7, 6, "gif-lsd")))
    // TAR: one 600-byte file entry, ustar magic
    val tar = new Array[Byte](512 * 3)
    "f.bin".getBytes.copyToArray(tar, 0)
    "0000001130".getBytes.copyToArray(tar, 124) // 600 in octal
    tar(156) = '0'
    "ustar".getBytes.copyToArray(tar, 257)
    assert(sniffMediaType(tar) == "application/x-tar")
    val t = decodeOne("t.tar", "application/x-tar", tar)
    assert((t.n_frames, t.payload_bytes, t.decoder) == ((1, 600L, "tar-headers")))
  }

  test("resize scales to max side while keeping aspect") {
    val r = Multimodal.resizeMeta(spark, Seq(fixtures), maxSide = 256).collect()
      .map(x => x.getAs[String]("path") -> x).toMap
    val ex0 = r("example-0")
    assert(ex0.getAs[Int]("out_width") == 256) // width 985 is the long side
    assert(ex0.getAs[Int]("out_height") == 255)
    // the fixtures are native explicit-VR LE, so pixel bytes are READ —
    // but their header (985×979×3) disagrees with the payload (exactly
    // 600×600×3 bytes), so no raster is invented: the checksum is over
    // the RAW payload, labeled with its own provenance
    assert(ex0.getAs[String]("decoder") == "dicom-pixels-raw")
    assert(ex0.getAs[String]("pixel_md5") == "aa37fb20fbc51421e2bb246c2d0c5359")
    assert(r("example-6").getAs[String]("pixel_md5") == "77818889241c9b98029017e05a391531")
  }

  test("DICOM native-syntax pixel decode: consistent raster resamples with checksum") {
    import java.nio.file.{Files, Paths}
    val w = 20; val h = 12
    val rgbPx = Array.tabulate(w * h * 3)(i => ((i * 7) % 251).toByte)
    val rgb = DicomWriter.file(Seq(
      DicomWriter.usElement(0x0028, 0x0002, 3),   // SamplesPerPixel
      DicomWriter.usElement(0x0028, 0x0006, 0),   // PlanarConfiguration
      DicomWriter.usElement(0x0028, 0x0010, h),   // Rows
      DicomWriter.usElement(0x0028, 0x0011, w),   // Columns
      DicomWriter.usElement(0x0028, 0x0100, 8),   // BitsAllocated
      DicomWriter.element(0x7fe0, 0x0010, "OB", rgbPx)))
    val gw = 16; val gh = 8
    val greyVals = Array.tabulate(gw * gh)(i => (i * 513) % 4096)
    val greyPx = new Array[Byte](gw * gh * 2)
    greyVals.zipWithIndex.foreach { case (v, i) =>
      greyPx(2 * i) = (v & 0xff).toByte; greyPx(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val grey = DicomWriter.file(Seq(
      DicomWriter.usElement(0x0028, 0x0002, 1),
      DicomWriter.usElement(0x0028, 0x0010, gh),
      DicomWriter.usElement(0x0028, 0x0011, gw),
      DicomWriter.usElement(0x0028, 0x0100, 16),
      DicomWriter.element(0x7fe0, 0x0010, "OW", greyPx)))
    val dir = Files.createTempDirectory("graft-dcm-px")
    Files.write(dir.resolve("rgb.dcm"), rgb)
    Files.write(dir.resolve("grey.dcm"), grey)
    try {
      // maxSide above both dims ⇒ identity scale ⇒ the output BGR raster
      // is exactly the input pixels channel-swapped — ground truth is
      // computable here without touching the operator's internals
      val r = Multimodal.resizeMeta(spark, Seq(dir.toString), maxSide = 64).collect()
        .map(x => x.getAs[String]("path") -> x).toMap
      val rr = r("rgb.dcm")
      assert(rr.getAs[String]("decoder") == "dicom-pixels")
      assert(rr.getAs[Int]("width") == w && rr.getAs[Int]("height") == h)
      assert(rr.getAs[Int]("out_width") == w && rr.getAs[Int]("out_height") == h)
      val bgr = Array.tabulate(w * h * 3) { j =>
        val pix = j / 3; val c = j % 3
        rgbPx(pix * 3 + (2 - c))
      }
      val rgbTruth = java.security.MessageDigest.getInstance("MD5")
        .digest(bgr).map("%02x".format(_)).mkString
      assert(rr.getAs[String]("pixel_md5") == rgbTruth)
      // 16-bit mono: min–max windowed to 8-bit grey, replicated to BGR
      val gr = r("grey.dcm")
      assert(gr.getAs[String]("decoder") == "dicom-pixels")
      val (lo, hi) = (greyVals.min, greyVals.max)
      val span = math.max(1, hi - lo)
      val greyBgr = new Array[Byte](gw * gh * 3)
      greyVals.zipWithIndex.foreach { case (v, i) =>
        val g8 = ((v - lo) * 255 / span).toByte
        greyBgr(3 * i) = g8; greyBgr(3 * i + 1) = g8; greyBgr(3 * i + 2) = g8
      }
      val greyTruth = java.security.MessageDigest.getInstance("MD5")
        .digest(greyBgr).map("%02x".format(_)).mkString
      assert(gr.getAs[String]("pixel_md5") == greyTruth)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("consistent-but-unsupported DICOM layout labels dicom-pixels-unsupported") {
    import java.nio.file.Files
    val w = 10; val h = 6
    // planar RGB (PlanarConfiguration=1): payload length matches the
    // header exactly, but the layout is outside the decoded set — the
    // raw checksum must carry the "unsupported" label, not "raw"
    val px = Array.tabulate(w * h * 3)(i => (i % 251).toByte)
    val planar = DicomWriter.file(Seq(
      DicomWriter.usElement(0x0028, 0x0002, 3),
      DicomWriter.usElement(0x0028, 0x0006, 1), // planar
      DicomWriter.usElement(0x0028, 0x0010, h),
      DicomWriter.usElement(0x0028, 0x0011, w),
      DicomWriter.usElement(0x0028, 0x0100, 8),
      DicomWriter.element(0x7fe0, 0x0010, "OB", px)))
    val dir = Files.createTempDirectory("graft-dcm-planar")
    Files.write(dir.resolve("planar.dcm"), planar)
    try {
      val r = Multimodal.resizeMeta(spark, Seq(dir.toString), maxSide = 64).collect()
      assert(r.length == 1)
      assert(r(0).getAs[String]("decoder") == "dicom-pixels-unsupported")
      val truth = java.security.MessageDigest.getInstance("MD5")
        .digest(px).map("%02x".format(_)).mkString
      assert(r(0).getAs[String]("pixel_md5") == truth)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("truncated DICOM pixel element degrades to the header path, not a crash") {
    import java.nio.file.Files
    val w = 20; val h = 12
    val rgbPx = Array.tabulate(w * h * 3)(i => ((i * 7) % 251).toByte)
    val full = DicomWriter.file(Seq(
      DicomWriter.usElement(0x0028, 0x0002, 3),
      DicomWriter.usElement(0x0028, 0x0006, 0),
      DicomWriter.usElement(0x0028, 0x0010, h),
      DicomWriter.usElement(0x0028, 0x0011, w),
      DicomWriter.usElement(0x0028, 0x0100, 8),
      DicomWriter.element(0x7fe0, 0x0010, "OB", rgbPx)))
    // chop mid-pixel-element: declared length now exceeds remaining bytes
    val truncated = full.take(full.length - rgbPx.length / 2)
    val dir = Files.createTempDirectory("graft-dcm-trunc")
    Files.write(dir.resolve("trunc.dcm"), truncated)
    try {
      val r = Multimodal.resizeMeta(spark, Seq(dir.toString), maxSide = 64).collect()
      assert(r.length == 1)
      // pixel read fails (length exceeds remaining) → dicomResize returns
      // None → the header-geometry fallback row, no pixel checksum
      assert(r(0).getAs[String]("decoder") == "dicom-header")
      assert(r(0).getAs[String]("pixel_md5") == null)
      assert(r(0).getAs[Int]("width") == w)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("real ImageIO pixel resample: dims + checksum match ground truth") {
    val imgDir = Multimodal.ensureImageFixtures()
    val r = Multimodal.resizeMeta(spark, Seq(imgDir), maxSide = 100).collect()
      .map(x => x.getAs[String]("path") -> x).toMap
    assert(Seq("gradient.png", "gradient.jpg", "gradient.gif", "gradient.bmp")
      .forall(p => r(p).getAs[String]("decoder") == "imageio"))
    // ground truth computed here, independently of the operator: decode the
    // PNG fixture with ImageIO, bilinear-resample through Graphics2D onto a
    // 3-byte-BGR canvas, md5 the raster
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(imgDir, "gradient.png"))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == 320 && img.getHeight == 200)
    val (ow, oh) = (100, math.ceil(200 * 100.0 / 320).toInt) // 100×63
    val out = new java.awt.image.BufferedImage(
      ow, oh, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, ow, oh, null)
    g.dispose()
    val raster = out.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    val truth = java.security.MessageDigest.getInstance("MD5")
      .digest(raster).map("%02x".format(_)).mkString
    val png = r("gradient.png")
    assert(png.getAs[Int]("out_width") == 100)
    assert(png.getAs[Int]("out_height") == 63)
    assert(png.getAs[String]("pixel_md5") == truth)
    // small image is not upscaled
    val gif = r("gradient.gif")
    assert(gif.getAs[Int]("out_width") == 64 && gif.getAs[Int]("out_height") == 40)
  }

  test("WAV audio: real RIFF fmt/data geometry, no codec") {
    import Multimodal.{decodeOne, sniffMediaType}
    val dir = Multimodal.ensureImageFixtures()
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "tone.wav"))
    assert(sniffMediaType(bytes) == "audio/wav")
    val d = decodeOne("tone.wav", "audio/wav", bytes)
    assert(d.decoder == "wav-fmt")
    assert(d.width == 8000)      // sample rate (modality-generic schema)
    assert(d.channels == 1 && d.bits == 16)
    assert(d.n_frames == 800)    // 0.1 s at 8 kHz
    assert(d.payload_bytes == 1600L) // 800 frames × 2 bytes
    // truncated header degrades to stub like every other format
    assert(decodeOne("t.wav", "audio/wav", bytes.take(12)).decoder == "stub")
  }

  test("truncated containers degrade to stub instead of throwing") {
    import Multimodal.{decodeOne, sniffMediaType}
    // PNG sniff passes on 8 bytes but IHDR decode would read index 25
    val pngHead = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    assert(sniffMediaType(pngHead) == "image/png")
    assert(decodeOne("t.png", "image/png", pngHead).decoder == "stub")
    // gzip sniff passes on 2 bytes but the ISIZE trailer reads length-4
    val gzHead = Array[Int](0x1f, 0x8b).map(_.toByte)
    assert(decodeOne("t.gz", "application/gzip", gzHead).decoder == "stub")
    // GIF sniff passes on 6 bytes but the LSD reads index 10
    val gifHead = "GIF89a".getBytes
    assert(decodeOne("t.gif", "image/gif", gifHead).decoder == "stub")
  }

  test("JPEG marker walk survives 0xff fill-byte padding and stops at SOS") {
    import Multimodal.decodeOne
    // SOI + [0xff fill bytes] + SOF0 (5×4, 3 components): the pad bytes
    // must be skipped, not parsed as a marker with a bogus length
    val padded = Array[Int](0xff, 0xd8, 0xff, 0xff, 0xff,
      0xc0, 0x00, 0x0b, 8, 0, 4, 0, 5, 3, 0, 0, 0).map(_.toByte)
    val j = decodeOne("p.jpg", "image/jpeg", padded)
    assert((j.width, j.height, j.channels, j.decoder) == ((5, 4, 3, "jpeg-sof")))
    // SOS before any SOF: the walk must stop (entropy-coded data follows),
    // falling back to the stub rather than scanning garbage
    val sosFirst = Array[Int](0xff, 0xd8, 0xff, 0xda, 0x00, 0x02,
      0x12, 0x34, 0xff, 0xc0, 0x00, 0x0b, 8, 0, 4, 0, 5, 3, 0, 0, 0).map(_.toByte)
    assert(decodeOne("s.jpg", "image/jpeg", sosFirst).decoder == "stub")
  }

  test("frame sampling explodes deterministic (frame, offset) rows") {
    val f = Multimodal.frameSample(spark, fixtures, step = 5)
    val rows = f.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("frame_idx") % 5 == 0))
    assert(rows.forall(_.getAs[Long]("byte_offset") >= 0))
    assert(f.columns.contains("frame_md5"))
  }

  test("frame sampling: EVERY frame of a multi-frame RLE decodes, " +
       "checksum-identical to the native multi-frame twin") {
    import java.nio.file.Files
    val w = 8; val h = 4
    // three DISTINCT frames so per-frame identity is actually probing
    // frame alignment, not just repeating frame 1
    val framePx = (0 until 3).map(f =>
      Array.tabulate(w * h)(i => ((f * 41 + i * 3) % 251).toByte))
    val rle = DicomWriter.file(
      (rleHeader(1, h, w, 8) :+
        DicomWriter.strElement(0x0028, 0x0008, "IS", "3")) :+
        DicomWriter.encapsulatedPixels(
          framePx.map(p => rleFrame(Seq(literalPackBits(p))))),
      transferSyntax = RleTs)
    val native = DicomWriter.file(
      (rleHeader(1, h, w, 8) :+
        DicomWriter.strElement(0x0028, 0x0008, "IS", "3")) :+
        DicomWriter.element(0x7fe0, 0x0010, "OB", framePx.toArray.flatten))
    val dir = Files.createTempDirectory("graft-dcm-multiframe")
    Files.write(dir.resolve("rle.dcm"), rle)
    Files.write(dir.resolve("native.dcm"), native)
    try {
      val rows = Multimodal.frameSample(spark, dir.toString, step = 1).collect()
        .map(r => (r.getAs[String]("path"), r.getAs[Int]("frame_idx")) ->
          r.getAs[String]("frame_md5")).toMap
      // one checksummed row per frame, both syntaxes
      (0 until 3).foreach { i =>
        assert(rows(("rle.dcm", i)) != null, s"RLE frame $i not decoded")
        assert(rows(("rle.dcm", i)) == rows(("native.dcm", i)),
          s"frame $i diverged between RLE and native twins")
      }
      // distinct frames must not collapse to one checksum
      assert(Set(rows(("rle.dcm", 0)), rows(("rle.dcm", 1)),
                 rows(("rle.dcm", 2))).size == 3)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("assetNeighbors: k neighbors per asset through the bucketed path") {
    val imgDir = Multimodal.ensureImageFixtures()
    val rows = Multimodal.assetNeighbors(spark, Seq(fixtures, imgDir), k = 3).collect()
    // 13 assets (6 dicom-dir fixtures + 7 generated fixtures, incl. the
    // JPEG-baseline and RLE DICOMs) × top-3 each: the LSH default
    // geometry (8 tables × 2 bits) must recall enough candidates that
    // every asset still fills its k slots
    assert(rows.length == 39)
    val byPath = rows.groupBy(_.getAs[String]("path"))
    assert(byPath.size == 13)
    byPath.values.foreach { g =>
      assert(g.map(_.getAs[Long]("rank")).sorted.sameElements(Array(1L, 2L, 3L)))
    }
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cos_sim"); c >= -1.0001 && c <= 1.0001
    })
    graft.operators.Dedup.unpersistIntermediates(spark)
  }

  test("pseudo-embeddings are unit-norm 64-dim float arrays") {
    val e = Multimodal.pseudoEmbed(spark, fixtures).collect()
    assert(e.length == 6) // 7 fixtures − empty DICOMDIR (no scan split)
    val vec = e.head.getAs[scala.collection.Seq[Float]]("embedding")
    assert(vec.length == 64)
    val norm = math.sqrt(vec.map(v => v.toDouble * v).sum)
    assert(math.abs(norm - 1.0) < 1e-4)
  }

  test("JPEG-baseline encapsulated DICOM decodes via ImageIO as dicom-pixels") {
    import java.nio.file.Files
    val w = 20; val h = 12
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((x * 11 + y * 5) % 256 << 16) |
          ((x * 3 + y * 7) % 256 << 8) | ((x + y * 13) % 256))
        x += 1
      }
      y += 1
    }
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jb)
    val jpeg = jb.toByteArray
    def dcmFor(ts: String, rows: Int) = DicomWriter.file(Seq(
      DicomWriter.usElement(0x0028, 0x0002, 3),   // SamplesPerPixel
      DicomWriter.usElement(0x0028, 0x0010, rows),
      DicomWriter.usElement(0x0028, 0x0011, w),
      DicomWriter.usElement(0x0028, 0x0100, 8),
      DicomWriter.encapsulatedPixels(Seq(jpeg))), transferSyntax = ts)
    val dir = Files.createTempDirectory("graft-dcm-jpeg")
    Files.write(dir.resolve("jpeg.dcm"), dcmFor("1.2.840.10008.1.2.4.50", h))
    // same fragment stream under a codec we cannot decode (JPEG 2000)
    Files.write(dir.resolve("j2k.dcm"), dcmFor("1.2.840.10008.1.2.4.90", h))
    // header geometry that DISAGREES with the decoded JPEG
    Files.write(dir.resolve("mismatch.dcm"), dcmFor("1.2.840.10008.1.2.4.50", h + 1))
    try {
      // independently-computed truth: decode the same (even-padded)
      // fragment bytes with ImageIO and draw onto a BGR canvas at
      // identity scale — never through the operator's internals
      val padded = if (jpeg.length % 2 == 0) jpeg else jpeg :+ 0.toByte
      val truthImg = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(padded))
      val canvas = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val g = canvas.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(truthImg, 0, 0, w, h, null)
      g.dispose()
      val truth = java.security.MessageDigest.getInstance("MD5")
        .digest(canvas.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData)
        .map("%02x".format(_)).mkString
      val rawMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(padded).map("%02x".format(_)).mkString

      val r = Multimodal.resizeMeta(spark, Seq(dir.toString), maxSide = 64)
        .collect().map(x => x.getAs[String]("path") -> x).toMap
      val ok = r("jpeg.dcm")
      assert(ok.getAs[String]("decoder") == "dicom-pixels")
      assert(ok.getAs[Int]("width") == w && ok.getAs[Int]("height") == h)
      assert(ok.getAs[String]("pixel_md5") == truth)

      val j2k = r("j2k.dcm")
      assert(j2k.getAs[String]("decoder") == "dicom-pixels-unsupported")
      assert(j2k.getAs[String]("pixel_md5") == rawMd5)

      val mm = r("mismatch.dcm")
      assert(mm.getAs[String]("decoder") == "dicom-pixels-raw")
      assert(mm.getAs[Int]("height") == h + 1) // header geometry kept
      assert(mm.getAs[String]("pixel_md5") == rawMd5)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("generated gradient-jpeg.dcm fixture decodes in the registered query path") {
    val dir = Multimodal.ensureImageFixtures()
    val r = Multimodal.resizeMeta(spark, Seq(dir)).collect()
      .map(x => x.getAs[String]("path") -> x).toMap
    val row = r("gradient-jpeg.dcm")
    assert(row.getAs[String]("decoder") == "dicom-pixels")
    assert(row.getAs[Int]("width") == 48 && row.getAs[Int]("height") == 32)
    assert(row.getAs[String]("pixel_md5") != null)
  }

  // --- RLE Lossless (1.2.840.10008.1.2.5): pure-JVM PackBits decode ---

  /** Independent mini-encoders for the RLE tests — deliberately NOT the
    * operator's (or the fixture writer's) code, so an encode/decode bug
    * can't cancel itself out. */
  private def rleFrame(segs: Seq[Array[Byte]]): Array[Byte] = {
    val hdr = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.putInt(segs.length)
    segs.foldLeft(64L) { (off, s) => hdr.putInt(off.toInt); off + s.length }
    hdr.array() ++ segs.toArray.flatten
  }

  /** Literal-only PackBits: chunks of ≤128 literal bytes — trivially a
    * valid stream, exercises the literal-run decode branch. */
  private def literalPackBits(seg: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < seg.length) {
      val n = math.min(128, seg.length - i)
      out.write(n - 1); out.write(seg, i, n); i += n
    }
    if (out.size % 2 == 1) out.write(-128)
    out.toByteArray
  }

  /** Run-emitting PackBits: every run ≥ 2 becomes a replicate run, every
    * isolated byte a 1-byte literal — exercises the replicate branch and
    * the -128 pad no-op. */
  private def runPackBits(seg: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < seg.length) {
      var run = 1
      while (i + run < seg.length && run < 128 && seg(i + run) == seg(i)) run += 1
      if (run >= 2) { out.write(1 - run); out.write(seg(i)); i += run }
      else { out.write(0); out.write(seg(i)); i += 1 }
    }
    if (out.size % 2 == 1) out.write(-128)
    out.toByteArray
  }

  private def rleHeader(spp: Int, rows: Int, cols: Int, bits: Int) = Seq(
    DicomWriter.usElement(0x0028, 0x0002, spp),
    DicomWriter.usElement(0x0028, 0x0010, rows),
    DicomWriter.usElement(0x0028, 0x0011, cols),
    DicomWriter.usElement(0x0028, 0x0100, bits))

  private val RleTs = "1.2.840.10008.1.2.5"

  test("RLE Lossless RGB decodes checksum-identical to the native syntax") {
    import java.nio.file.Files
    val w = 20; val h = 12
    val rgbPx = Array.tabulate(w * h * 3)(i => ((i * 7) % 251).toByte)
    val planes = Seq(0, 1, 2).map(c => Array.tabulate(w * h)(i => rgbPx(3 * i + c)))
    val native = DicomWriter.file(
      rleHeader(3, h, w, 8) ++ Seq(
        DicomWriter.usElement(0x0028, 0x0006, 0), // PlanarConfiguration
        DicomWriter.element(0x7fe0, 0x0010, "OB", rgbPx)))
    val rle = DicomWriter.file(
      rleHeader(3, h, w, 8) :+ DicomWriter.encapsulatedPixels(
        Seq(rleFrame(planes.map(literalPackBits)))),
      transferSyntax = RleTs)
    val dir = Files.createTempDirectory("graft-dcm-rle-rgb")
    Files.write(dir.resolve("native.dcm"), native)
    Files.write(dir.resolve("rle.dcm"), rle)
    try {
      val r = Multimodal.resizeMeta(spark, Seq(dir.toString), maxSide = 64)
        .collect().map(x => x.getAs[String]("path") -> x).toMap
      val (n, e) = (r("native.dcm"), r("rle.dcm"))
      assert(n.getAs[String]("decoder") == "dicom-pixels")
      assert(e.getAs[String]("decoder") == "dicom-pixels")
      assert(e.getAs[Int]("width") == w && e.getAs[Int]("height") == h)
      // same pixels in ⇒ same checksum out, across transfer syntaxes
      assert(n.getAs[String]("pixel_md5") == e.getAs[String]("pixel_md5"))
      assert(n.getAs[String]("pixel_md5") != null)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("RLE Lossless 16-bit mono with replicate runs matches native") {
    import java.nio.file.Files
    val w = 16; val h = 8
    // plateaus of 16 equal values force replicate runs in both planes
    val vals = Array.tabulate(w * h)(i => (i / 16) * 600)
    val lePx = new Array[Byte](w * h * 2)
    vals.zipWithIndex.foreach { case (v, i) =>
      lePx(2 * i) = (v & 0xff).toByte; lePx(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val msb = vals.map(v => ((v >> 8) & 0xff).toByte)
    val lsb = vals.map(v => (v & 0xff).toByte)
    val native = DicomWriter.file(
      rleHeader(1, h, w, 16) :+ DicomWriter.element(0x7fe0, 0x0010, "OW", lePx))
    // DICOM RLE 16-bit segments: most-significant byte plane first
    val rle = DicomWriter.file(
      rleHeader(1, h, w, 16) :+ DicomWriter.encapsulatedPixels(
        Seq(rleFrame(Seq(runPackBits(msb), runPackBits(lsb))))),
      transferSyntax = RleTs)
    val dir = Files.createTempDirectory("graft-dcm-rle-mono")
    Files.write(dir.resolve("native.dcm"), native)
    Files.write(dir.resolve("rle.dcm"), rle)
    try {
      val r = Multimodal.resizeMeta(spark, Seq(dir.toString), maxSide = 64)
        .collect().map(x => x.getAs[String]("path") -> x).toMap
      val (n, e) = (r("native.dcm"), r("rle.dcm"))
      assert(n.getAs[String]("decoder") == "dicom-pixels")
      assert(e.getAs[String]("decoder") == "dicom-pixels")
      assert(n.getAs[String]("pixel_md5") == e.getAs[String]("pixel_md5"))
      assert(n.getAs[String]("pixel_md5") != null)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("RLE failure modes keep the honest provenance labels") {
    import java.nio.file.Files
    val w = 8; val h = 4
    val seg = Array.tabulate(w * h)(i => (i * 3).toByte)
    val goodFrame = rleFrame(Seq(literalPackBits(seg)))
    // decodes cleanly but header claims one more row → header/payload
    // disagreement, exactly the native-syntax "raw" case
    val mismatch = DicomWriter.file(
      rleHeader(1, h + 1, w, 8) :+
        DicomWriter.encapsulatedPixels(Seq(goodFrame)),
      transferSyntax = RleTs)
    // structurally broken stream: literal run of 128 with no data behind
    val truncated = DicomWriter.file(
      rleHeader(1, h, w, 8) :+ DicomWriter.encapsulatedPixels(
        Seq(rleFrame(Seq(Array[Byte](0x7f, 0x00))))),
      transferSyntax = RleTs)
    // multi-frame: one fragment per frame (PS3.5 A.4.2) → FRAME 1
    // decodes, same convention as the native multi-frame path
    val multiframe = DicomWriter.file(
      (rleHeader(1, h, w, 8) :+
        DicomWriter.strElement(0x0028, 0x0008, "IS", "2")) :+
        DicomWriter.encapsulatedPixels(Seq(goodFrame, goodFrame)),
      transferSyntax = RleTs)
    // single-frame twin of the same frame bytes — frame-1 checksums match
    val singleframe = DicomWriter.file(
      rleHeader(1, h, w, 8) :+
        DicomWriter.encapsulatedPixels(Seq(goodFrame)),
      transferSyntax = RleTs)
    // declared frames disagree with the fragment count → malformed
    val fragMismatch = DicomWriter.file(
      (rleHeader(1, h, w, 8) :+
        DicomWriter.strElement(0x0028, 0x0008, "IS", "3")) :+
        DicomWriter.encapsulatedPixels(Seq(goodFrame, goodFrame)),
      transferSyntax = RleTs)
    val dir = Files.createTempDirectory("graft-dcm-rle-bad")
    Files.write(dir.resolve("mismatch.dcm"), mismatch)
    Files.write(dir.resolve("truncated.dcm"), truncated)
    Files.write(dir.resolve("multiframe.dcm"), multiframe)
    Files.write(dir.resolve("singleframe.dcm"), singleframe)
    Files.write(dir.resolve("fragmismatch.dcm"), fragMismatch)
    try {
      val r = Multimodal.resizeMeta(spark, Seq(dir.toString), maxSide = 64)
        .collect().map(x => x.getAs[String]("path") -> x).toMap
      assert(r("mismatch.dcm").getAs[String]("decoder") == "dicom-pixels-raw")
      assert(r("mismatch.dcm").getAs[Int]("height") == h + 1) // header kept
      assert(r("truncated.dcm").getAs[String]("decoder") == "dicom-pixels-unsupported")
      assert(r("multiframe.dcm").getAs[String]("decoder") == "dicom-pixels")
      assert(r("multiframe.dcm").getAs[String]("pixel_md5") ==
        r("singleframe.dcm").getAs[String]("pixel_md5"),
        "multi-frame frame-1 raster must equal the single-frame twin")
      assert(r("fragmismatch.dcm").getAs[String]("decoder") == "dicom-pixels-unsupported")
      // the raw fragment bytes are still checksummed either way
      assert(r("mismatch.dcm").getAs[String]("pixel_md5") != null)
      assert(r("truncated.dcm").getAs[String]("pixel_md5") != null)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("generated gradient-rle.dcm fixture matches a native twin of the same gradient") {
    import java.nio.file.Files
    val dir = Multimodal.ensureImageFixtures()
    val (w, h) = (48, 32)
    // native-syntax twin of the fixture's gradient, built independently
    val rgbPx = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        rgbPx(3 * i) = ((x * 7 + y * 3) % 256).toByte
        rgbPx(3 * i + 1) = ((x * 5 + y * 11) % 256).toByte
        rgbPx(3 * i + 2) = ((x * 13 + y) % 256).toByte
        x += 1
      }
      y += 1
    }
    val native = DicomWriter.file(
      rleHeader(3, h, w, 8) ++ Seq(
        DicomWriter.usElement(0x0028, 0x0006, 0),
        DicomWriter.element(0x7fe0, 0x0010, "OB", rgbPx)))
    val ndir = Files.createTempDirectory("graft-dcm-rle-twin")
    Files.write(ndir.resolve("twin.dcm"), native)
    try {
      val r = Multimodal.resizeMeta(spark, Seq(dir, ndir.toString)).collect()
        .map(x => x.getAs[String]("path") -> x).toMap
      val row = r("gradient-rle.dcm")
      assert(row.getAs[String]("decoder") == "dicom-pixels")
      assert(row.getAs[Int]("width") == w && row.getAs[Int]("height") == h)
      // the fixture's run-capable encoder and the operator's decoder meet
      // at the same raster the native path produces
      assert(row.getAs[String]("pixel_md5") == r("twin.dcm").getAs[String]("pixel_md5"))
    } finally graft.util.Fs.deleteRecursively(ndir)
  }
}
