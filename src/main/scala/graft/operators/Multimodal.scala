package graft.operators

import graft.functions.GraftFunctions.dot
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.dicom.{DicomParser, Tags}

/** Multimodal columns for the training-data pipeline: image/audio/video
  * as opaque `binary` columns with typed metadata, plus decode /
  * feature-extract / resize / frame-sample operators.
  *
  * The Spark-side plumbing — schemas, batched per-partition execution
  * (the JVM analog of `mapInPandas` batch shape), partitioning, operator
  * signatures — is real and tested. Geometry decode reads REAL container
  * bytes wherever the format carries it codec-free: DICOM header tags,
  * PNG IHDR, JPEG SOF, GIF/BMP headers, ZIP central directory, gzip
  * ISIZE, TAR headers. Pixel decode + resampling is REAL for every
  * format the JDK's `javax.imageio` ships a codec for (PNG/JPEG/GIF/BMP):
  * [[resample]] decodes the actual pixels and bilinear-resamples them via
  * `Graphics2D`, emitting a checksum of the output raster. Only formats
  * with no JDK codec (DICOM pixel data, bz2 payloads) keep the
  * deterministic, clearly-labeled stub. The `decoder` column always names
  * the source, so downstream consumers can filter on provenance.
  *
  * Scale design: every operator is a narrow per-partition pass over the
  * asset table (no shuffle); frame sampling is the explode/UDTF shape;
  * pseudo-embeddings feed straight into [[Similarity]]'s ANN path, making
  * the full multimodal → embed → index pipeline runnable end-to-end.
  */
object Multimodal {

  final case class AssetMeta(
      path: String, length: Long, media_type: String, digest: String)

  final case class DecodedAsset(
      path: String, media_type: String, width: Int, height: Int,
      channels: Int, bits: Int, n_frames: Int, decoder: String,
      payload_bytes: Long)

  /** Load one or more directories of binaries as the asset table: opaque
    * content + typed metadata (media type sniffed from magic bytes, not
    * extension). */
  def loadAssets(s: SparkSession, dirs: Seq[String]): DataFrame = {
    s.read.format("binaryFile").load(dirs: _*)
      .select(col("path"), col("length"), col("content"))
      .withColumn("media_type", mediaTypeUdf(col("content")))
      .withColumn("digest", md5(col("content")))
  }

  def loadAssets(s: SparkSession, dir: String): DataFrame =
    loadAssets(s, Seq(dir))

  /** Magic-byte media-type sniff (never trusts the extension). */
  def sniffMediaType(content: Array[Byte]): String = {
    def at(i: Int): Int = content(i) & 0xff
    if (content == null || content.isEmpty) "empty"
    else if (DicomParser.isDicom(content)) "application/dicom"
    else if (content.length >= 8 && at(0) == 0x89 && content(1) == 'P' &&
             content(2) == 'N' && content(3) == 'G') "image/png"
    else if (content.length >= 3 && at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) "image/jpeg"
    else if (content.length >= 6 && content.startsWith("GIF8".getBytes)) "image/gif"
    else if (content.length >= 30 && content(0) == 'B' && content(1) == 'M') "image/bmp"
    else if (content.length >= 12 && content(0) == 'R' && content(1) == 'I' &&
             content(2) == 'F' && content(3) == 'F' && content(8) == 'W' &&
             content(9) == 'A' && content(10) == 'V' && content(11) == 'E') "audio/wav"
    else if (content.length >= 2 && content(0) == 'P' && content(1) == 'K') "application/zip"
    else if (content.length >= 2 && at(0) == 0x1f && at(1) == 0x8b) "application/gzip"
    else if (content.length >= 3 && content(0) == 'B' && content(1) == 'Z' && content(2) == 'h') "application/x-bzip2"
    else if (content.length >= 262 && content(257) == 'u' && content(258) == 's' &&
             content(259) == 't' && content(260) == 'a' && content(261) == 'r') "application/x-tar"
    else "application/octet-stream"
  }

  private val mediaTypeUdf = udf(sniffMediaType _)

  // --- byte-order helpers for the container parsers ---
  private def be16(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL)) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** Decode ONE asset's geometry from REAL container bytes wherever the
    * format carries it without a codec: DICOM header tags, PNG IHDR,
    * JPEG SOF, GIF screen descriptor, BMP DIB, ZIP end-of-central-
    * directory (+ central-dir walk for payload size), gzip ISIZE trailer,
    * TAR header walk. Only formats whose geometry genuinely needs a pixel
    * codec (and the opaque-compression bz2) fall back to the
    * deterministic md5 stub — `decoder` always names the source. */
  /** First integer value of a header element by keyword (0 when absent). */
  private def dicomShort(kw: String, parsed: DicomParser.DicomFile): Int =
    parsed.elements.find(_.keyword == kw)
      .flatMap(e => graft.dicom.VrConvert.rawStrings(e, parsed.charset).headOption)
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(0)

  def decodeOne(path: String, mediaType: String, content: Array[Byte]): DecodedAsset = {
    def asset(w: Int, h: Int, ch: Int, bits: Int, frames: Int,
              dec: String, payload: Long): DecodedAsset =
      DecodedAsset(path, mediaType, w, h, ch, bits, frames, dec, payload)
    // The sniff thresholds are smaller than the deepest offset each branch
    // reads (e.g. PNG sniffs on 8 bytes but IHDR decode reads index 25), so
    // a truncated container must degrade to the stub, not kill the task.
    scala.util.Try(mediaType match {
      case "application/dicom" =>
        val parsed = DicomParser.parse(content)
        val (w, h) = (dicomShort("Columns", parsed), dicomShort("Rows", parsed))
        val ch = math.max(1, dicomShort("SamplesPerPixel", parsed))
        val bits = math.max(8, dicomShort("BitsAllocated", parsed))
        val frames = math.max(1, dicomShort("NumberOfFrames", parsed))
        asset(w, h, ch, bits, frames, "dicom-header",
          w.toLong * h * ch * (bits / 8) * frames)
      case "image/png" =>
        // 8-byte signature, IHDR length+type, then W/H (BE), bit depth,
        // color type (channels: grey 1, rgb 3, palette 1, grey+a 2, rgba 4)
        val ch = (content(25) & 0xff) match {
          case 2 => 3; case 4 => 2; case 6 => 4; case _ => 1
        }
        val (w, h, bits) = (be32(content, 16), be32(content, 20), content(24) & 0xff)
        asset(w, h, ch, bits, 1, "png-ihdr", w.toLong * h * ch * math.max(1, bits / 8))
      case "image/jpeg" =>
        // Walk markers to the first SOFn (C0-CF minus C4/C8/CC). Encoders
        // may pad with 0xff fill bytes before a marker — skip runs of them
        // rather than treating a fill byte as a marker — and the walk must
        // stop at SOS (entropy-coded data follows, raw 0xff bytes are not
        // markers there) or EOI.
        var i = 2
        var out: Option[DecodedAsset] = None
        var halt = false
        while (!halt && out.isEmpty && i + 1 < content.length) {
          if ((content(i) & 0xff) != 0xff) halt = true
          else {
            var mp = i + 1 // marker position; skip 0xff fill-byte padding
            while (mp < content.length && (content(mp) & 0xff) == 0xff) mp += 1
            if (mp >= content.length) halt = true
            else {
              val m = content(mp) & 0xff
              if (m == 0xda || m == 0xd9) halt = true // SOS / EOI: no SOF seen
              else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
                if (mp + 8 < content.length) {
                  val (bits, h, w, ch) = (content(mp + 3) & 0xff,
                    be16(content, mp + 4), be16(content, mp + 6), content(mp + 8) & 0xff)
                  out = Some(asset(w, h, ch, bits, 1, "jpeg-sof",
                    w.toLong * h * ch * math.max(1, bits / 8)))
                } else halt = true
              } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i = mp + 1 // standalone
              else if (mp + 2 < content.length) i = mp + 1 + be16(content, mp + 1)
              else halt = true
            }
          }
        }
        out.getOrElse(stubOf(path, mediaType, content))
      case "image/gif" =>
        val (w, h) = (le16(content, 6), le16(content, 8))
        val bits = ((content(10) & 0x70) >> 4) + 1 // color resolution field
        asset(w, h, 3, bits, 1, "gif-lsd", w.toLong * h * 3)
      case "image/bmp" =>
        val w = le32(content, 18).toInt
        val h = math.abs(le32(content, 22).toInt)
        val bpp = le16(content, 28)
        asset(w, h, if (bpp >= 24) 3 else 1, math.min(bpp, 8), 1, "bmp-dib",
          w.toLong * h * bpp / 8)
      case "audio/wav" =>
        // RIFF chunk walk: "fmt " carries channels/sample-rate/bit-depth,
        // "data" carries the payload; n_frames = sample frames
        // (dataSize / blockAlign) — real audio geometry, no codec needed
        var off = 12
        var ch = 0; var bits = 0; var blockAlign = 1; var sampleRate = 0
        var dataSize = 0L
        while (off + 8 <= content.length) {
          val id = new String(content, off, 4, "US-ASCII")
          val sz = le32(content, off + 4)
          // a corrupt size field (larger than what remains, or one whose
          // Int truncation would go negative) must END the walk — advancing
          // by it could leave `off` unchanged and hang the task forever,
          // which the surrounding Try cannot catch
          if (sz > content.length - off - 8) off = content.length
          else {
            if (id == "fmt " && off + 24 <= content.length) {
              ch = le16(content, off + 10)
              sampleRate = le32(content, off + 12).toInt
              blockAlign = math.max(1, le16(content, off + 20))
              bits = le16(content, off + 22)
            } else if (id == "data") dataSize = sz
            off += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
          }
        }
        if (ch == 0) stubOf(path, mediaType, content)
        // the schema is modality-generic: for audio, width carries the
        // sample rate, n_frames the sample-frame count
        else asset(sampleRate, 0, ch, bits,
          math.max(1, (dataSize / blockAlign).toInt), "wav-fmt", dataSize)
      case "application/zip" =>
        // EOCD record scanned from the tail; entry count is REAL metadata,
        // payload from the central-directory walk (uncompressed sizes)
        var i = content.length - 22
        while (i >= 0 && !(content(i) == 'P' && content(i + 1) == 'K' &&
                (content(i + 2) & 0xff) == 0x05 && (content(i + 3) & 0xff) == 0x06)) i -= 1
        if (i < 0) stubOf(path, mediaType, content)
        else {
          val entries = le16(content, i + 10)
          var cd = le32(content, i + 16).toInt
          var payload = 0L
          while (cd >= 0 && cd + 46 <= content.length &&
                 content(cd) == 'P' && content(cd + 1) == 'K' &&
                 (content(cd + 2) & 0xff) == 0x01 && (content(cd + 3) & 0xff) == 0x02) {
            payload += le32(content, cd + 24)
            cd += 46 + le16(content, cd + 28) + le16(content, cd + 30) + le16(content, cd + 32)
          }
          asset(0, 0, 0, 0, entries, "zip-eocd", payload)
        }
      case "application/gzip" =>
        // ISIZE trailer: uncompressed payload size mod 2^32
        asset(0, 0, 0, 0, 1, "gzip-trailer", le32(content, content.length - 4))
      case "application/x-tar" =>
        // walk 512-byte headers: octal size field, round payload to blocks
        var off = 0
        var entries = 0
        var payload = 0L
        while (off + 512 <= content.length && content(off) != 0) {
          val sizeStr = new String(content, off + 124, 12).trim.takeWhile(_ != '\u0000')
          val size = scala.util.Try(java.lang.Long.parseLong(sizeStr.trim, 8)).getOrElse(0L)
          val typeflag = content(off + 156)
          if (typeflag == '0' || typeflag == 0) { entries += 1; payload += size }
          off += 512 + (((size + 511) / 512) * 512).toInt
        }
        asset(0, 0, 0, 0, math.max(1, entries), "tar-headers", payload)
      case _ => stubOf(path, mediaType, content)
    }).toOption
      // corrupt containers can also decode to NONSENSE without throwing
      // (e.g. a random 4-byte IHDR width reads as a negative int) —
      // negative geometry is as corrupt as an exception
      .filter(d => d.width >= 0 && d.height >= 0 && d.channels >= 0 &&
        d.bits >= 0 && d.n_frames >= 0 && d.payload_bytes >= 0)
      .getOrElse(stubOf(path, mediaType, content))
  }

  /** Deterministic md5-derived stub geometry — the documented fallback for
    * formats whose geometry requires an actual pixel codec. */
  private def stubOf(path: String, mediaType: String, content: Array[Byte]): DecodedAsset = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(content)
    def b(i: Int): Int = d(i) & 0xff
    DecodedAsset(path, mediaType,
      width = 64 + (b(0) << 4), height = 64 + (b(1) << 4),
      channels = 1 + b(2) % 3, bits = 8 << (b(3) % 2),
      n_frames = 1 + b(4) % 30, decoder = "stub", payload_bytes = content.length.toLong)
  }

  /** Batched decode: one pass per partition over (path, media_type,
    * content) — the mapInPandas-shaped operator. */
  def decodeMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    loadAssets(s, dir)
      .select($"path", $"media_type", $"content").as[(String, String, Array[Byte])]
      .mapPartitions(_.map { case (p, m, c) => decodeOne(p, m, c) })
      .toDF()
      .withColumn("path", element_at(split($"path", "/"), -1))
      .orderBy($"path")
  }

  final case class ResizedAsset(
      path: String, media_type: String, width: Int, height: Int,
      out_width: Int, out_height: Int, est_bytes: Long, decoder: String,
      pixel_md5: Option[String])

  /** REAL pixel decode + bilinear resample via the JDK's `javax.imageio`
    * (PNG/JPEG/GIF/BMP codecs ship with the JVM — no added dependency).
    * Returns (inW, inH, outW, outH, md5 of the resampled 3-byte-BGR
    * raster), or None when no JDK codec claims the bytes. The output
    * raster is a fixed `TYPE_3BYTE_BGR` canvas drawn through `Graphics2D`
    * with an explicit BILINEAR hint, so the checksum is deterministic for
    * a given JVM — the provenance a downstream pipeline can verify. */
  def resample(content: Array[Byte], maxSide: Int): Option[(Int, Int, Int, Int, String)] =
    scala.util.Try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      if (img == null) None
      else {
        val (ow, oh, sum) = resampleImage(img, maxSide)
        Some((img.getWidth, img.getHeight, ow, oh, sum))
      }
    }.toOption.flatten

  /** The shared bilinear Graphics2D core: scale `img` to fit `maxSide`,
    * draw onto a fixed 3-byte-BGR canvas, md5 the output raster. Both the
    * ImageIO path and the DICOM pixel path produce their checksums here,
    * so "same pixels in" ⇒ "same checksum out" across container formats. */
  private def resampleImage(
      img: java.awt.image.BufferedImage, maxSide: Int): (Int, Int, String) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val scale =
      if (math.max(w, h) <= maxSide) 1.0 else maxSide.toDouble / math.max(w, h)
    val ow = math.max(1, math.ceil(w * scale).toInt)
    val oh = math.max(1, math.ceil(h * scale).toInt)
    val out = new java.awt.image.BufferedImage(
      ow, oh, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, ow, oh, null)
    g.dispose()
    val raster = out.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    val d = java.security.MessageDigest.getInstance("MD5").digest(raster)
    (ow, oh, d.map("%02x".format(_)).mkString)
  }

  /** REAL DICOM pixel decode for NATIVE (uncompressed) transfer
    * syntaxes: parse with `readPixels = true`, build a raster from the
    * raw (7FE0,0010) bytes, and resample through the SAME Graphics2D
    * core as the ImageIO formats. Supported layouts: 8-bit interleaved
    * RGB (PlanarConfiguration 0) and 8/16-bit single-sample grayscale
    * (16-bit windowed to 8 by min–max normalization — deterministic, no
    * modality LUT). Returns None for non-DICOM bytes, encapsulated
    * (compressed) pixel data, and parse failures.
    *
    * When the header geometry and the payload DISAGREE (the reference's
    * own fixtures declare 985×979×3 but carry exactly 600×600×3 bytes —
    * `sample_dcm/example-0`), no raster is invented: the row keeps the
    * header geometry and `pixel_md5` checksums the RAW payload instead,
    * labeled `decoder = "dicom-pixels-raw"`. A CONSISTENT payload whose
    * layout is merely outside the decoded set (planar RGB, 12/32-bit
    * allocation, 2-sample) gets the same raw checksum under
    * `"dicom-pixels-unsupported"` — the two causes stay distinguishable
    * downstream. */
  private[operators] def dicomResize(
      path: String, mediaType: String, content: Array[Byte],
      maxSide: Int): Option[ResizedAsset] =
    scala.util.Try {
      val parsed = DicomParser.parse(content, readPixels = true)
      parsed.pixels.flatMap { px =>
        if (parsed.pixelsEncapsulated)
          encapsulatedResize(path, mediaType, parsed, px, maxSide)
        else {
        val w = dicomShort("Columns", parsed)
        val h = dicomShort("Rows", parsed)
        val ch = math.max(1, dicomShort("SamplesPerPixel", parsed))
        val bits = math.max(8, dicomShort("BitsAllocated", parsed))
        val planar = dicomShort("PlanarConfiguration", parsed)
        val frameBytes = w.toLong * h * ch * (bits / 8)
        val decodable = w > 0 && h > 0 && px.length >= frameBytes && frameBytes > 0 &&
          ((ch == 3 && bits == 8 && planar == 0) || (ch == 1 && (bits == 8 || bits == 16)))
        if (decodable) {
          val img = rasterFromInterleaved(w, h, ch, bits, px)
          val (ow, oh, sum) = resampleImage(img, maxSide)
          Some(ResizedAsset(path, mediaType, w, h, ow, oh,
            ow.toLong * oh * 3, "dicom-pixels", Some(sum)))
        } else if (w > 0 && h > 0) {
          val scale = if (math.max(w, h) <= maxSide) 1.0
                      else maxSide.toDouble / math.max(w, h)
          val ow = math.ceil(w * scale).toInt
          val oh = math.ceil(h * scale).toInt
          val d = java.security.MessageDigest.getInstance("MD5").digest(px)
          // two honest labels: the real pixel bytes were read either way,
          // but "raw" means header and payload DISAGREE (no raster can be
          // trusted), while "unsupported" means the layout is consistent
          // yet outside the decoded set (planar RGB, 12/32-bit, 2-sample)
          val label =
            if (px.length < frameBytes) "dicom-pixels-raw" else "dicom-pixels-unsupported"
          Some(ResizedAsset(path, mediaType, w, h, ow, oh,
            ow.toLong * oh * ch * math.max(1, bits / 8), label,
            Some(d.map("%02x".format(_)).mkString)))
        } else None
        }
      }
    }.toOption.flatten

  /** Build a BufferedImage from NATIVE interleaved DICOM pixel bytes —
    * 8-bit interleaved RGB or 8/16-bit single-sample grayscale (16-bit
    * windowed to 8 by min–max normalization — deterministic, LUT-free).
    * The 3-byte-BGR buffer is filled directly (same bytes setRGB would
    * produce, without a per-pixel ColorModel round-trip). Shared by the
    * native-syntax and RLE decode paths so "same pixels in ⇒ same
    * checksum out" holds across transfer syntaxes too. Caller has
    * validated layout and length. */
  private def rasterFromInterleaved(
      w: Int, h: Int, ch: Int, bits: Int,
      px: Array[Byte]): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    if (ch == 3) {
      var i = 0
      while (i < w * h) {
        buf(3 * i) = px(3 * i + 2)     // B
        buf(3 * i + 1) = px(3 * i + 1) // G
        buf(3 * i + 2) = px(3 * i)     // R
        i += 1
      }
    } else {
      val grey = new Array[Int](w * h)
      if (bits == 8) { var i = 0; while (i < w * h) { grey(i) = px(i) & 0xff; i += 1 } }
      else {
        // 16-bit mono: values arrive LE; window the frame's min..max
        val v = new Array[Int](w * h)
        var i = 0
        while (i < w * h) { v(i) = (px(2 * i) & 0xff) | ((px(2 * i + 1) & 0xff) << 8); i += 1 }
        val (lo, hi) = (v.min, v.max)
        val span = math.max(1, hi - lo)
        i = 0
        while (i < w * h) { grey(i) = (v(i) - lo) * 255 / span; i += 1 }
      }
      var i = 0
      while (i < w * h) {
        val g8 = grey(i).toByte
        buf(3 * i) = g8; buf(3 * i + 1) = g8; buf(3 * i + 2) = g8
        i += 1
      }
    }
    img
  }

  /** JPEG-baseline (1.2.840.10008.1.2.4.50) transfer syntax UID — the
    * most common compressed syntax and the one the JDK can decode
    * natively (ImageIO's JPEG reader works on the raw fragment stream).
    * Cited behavior: the reference never decodes pixels at all
    * (`stop_before_pixels=True`, src/app.py:75) — this is extension
    * surface with honest provenance labels. */
  private val JpegBaselineTs = "1.2.840.10008.1.2.4.50"

  /** RLE Lossless (1.2.840.10008.1.2.5) transfer syntax UID — the one
    * compressed syntax decodable in pure JVM code (PS3.5 annex G is a
    * PackBits variant), so no codec library is needed. */
  private val RleLosslessTs = "1.2.840.10008.1.2.5"

  /** One PackBits byte stream (PS3.5 G.3.1): control byte n in [0,127]
    * copies the next n+1 literal bytes; n in [-127,-1] repeats the next
    * byte 1-n times; -128 is a no-op (the recommended pad byte). Returns
    * None for a stream whose final run is truncated. */
  private def packBitsDecode(
      data: Array[Byte], from: Int, until: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(until - from)
    var i = from
    while (i < until) {
      val n = data(i); i += 1
      if (n >= 0) {
        val cnt = n + 1
        if (i + cnt > until) return None
        out.write(data, i, cnt); i += cnt
      } else if (n != -128) {
        if (i >= until) return None
        val b = data(i); i += 1
        var k = 1 - n
        while (k > 0) { out.write(b); k -= 1 }
      }
    }
    Some(out.toByteArray)
  }

  /** Decode one RLE frame (PS3.5 annex G): a 64-byte header of uint32 LE
    * values — segment count then up to 15 segment offsets (relative to
    * frame start, first always 64) — followed by one PackBits stream per
    * segment. Returns the decoded byte segments, or None on a malformed
    * header or truncated stream. */
  private def rleSegments(px: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (px.length < 64) return None
    def u32(i: Int): Long =
      (px(i) & 0xffL) | ((px(i + 1) & 0xffL) << 8) |
        ((px(i + 2) & 0xffL) << 16) | ((px(i + 3) & 0xffL) << 24)
    val nSeg = u32(0)
    if (nSeg < 1 || nSeg > 15) return None
    val bounds = Array.tabulate(nSeg.toInt)(i => u32(4 * (i + 1))) :+ px.length.toLong
    if (bounds(0) != 64 ||
        bounds.sliding(2).exists(p => p(0) > p(1) || p(1) > px.length)) return None
    val segs = (0 until nSeg.toInt)
      .map(i => packBitsDecode(px, bounds(i).toInt, bounds(i + 1).toInt))
    if (segs.forall(_.isDefined)) Some(segs.map(_.get)) else None
  }

  /** RLE segments → interleaved native layout, when the segment count and
    * decoded sizes AGREE with the header geometry. DICOM RLE segments are
    * byte planes: 1 ⇒ 8-bit mono; 2 ⇒ 16-bit mono (MSB plane then LSB
    * plane — re-interleaved LE for the shared raster core); 3 ⇒ 8-bit
    * R,G,B planes. Left is `true` when the streams decoded cleanly but
    * the sizes/layout disagree with the header (the "raw" provenance),
    * `false` when the frame is structurally undecodable. */
  /** RLE segments → interleaved NATIVE-layout bytes (the exact bytes an
    * uncompressed twin would carry), shared by the raster path and the
    * per-frame checksum path so "same pixels ⇒ same bytes ⇒ same
    * checksum" holds between RLE and native multi-frame twins. */
  private def rleInterleaved(
      w: Int, h: Int, ch: Int, bits: Int,
      px: Array[Byte]): Either[Boolean, Array[Byte]] =
    rleSegments(px) match {
      case None => Left(false)
      case Some(segs) =>
        val n = w * h
        val fits = segs.forall(_.length == n)
        (segs.length, ch, bits) match {
          case (3, 3, 8) if fits =>
            val inter = new Array[Byte](3 * n)
            var i = 0
            while (i < n) {
              inter(3 * i) = segs(0)(i)
              inter(3 * i + 1) = segs(1)(i)
              inter(3 * i + 2) = segs(2)(i)
              i += 1
            }
            Right(inter)
          case (1, 1, 8) if fits =>
            Right(segs(0))
          case (2, 1, 16) if fits =>
            val inter = new Array[Byte](2 * n)
            var i = 0
            while (i < n) {
              inter(2 * i) = segs(1)(i)     // LSB plane
              inter(2 * i + 1) = segs(0)(i) // MSB plane
              i += 1
            }
            Right(inter)
          case _ => Left(true) // well-formed streams, header disagrees
        }
    }

  private def rleRaster(
      w: Int, h: Int, ch: Int, bits: Int,
      px: Array[Byte]): Either[Boolean, java.awt.image.BufferedImage] =
    rleInterleaved(w, h, ch, bits, px)
      .map(inter => rasterFromInterleaved(w, h, ch, bits, inter))

  /** Encapsulated (compressed) pixel decode. JPEG-baseline fragments go
    * through ImageIO, RLE Lossless through the pure-JVM PackBits decoder
    * — both feed the shared Graphics2D resample core, so the checksum
    * contract matches every other decoded format. The decoded geometry
    * must AGREE with the header (Rows/Columns); disagreement keeps the
    * header geometry and checksums the raw fragment bytes as
    * `dicom-pixels-raw`, exactly like the native-syntax mismatch case.
    * Any other codec (or a fragment stream the decoder rejects) reports
    * `dicom-pixels-unsupported` with the raw-fragment checksum. */
  private def encapsulatedResize(
      path: String, mediaType: String, parsed: DicomParser.DicomFile,
      px: Array[Byte], maxSide: Int): Option[ResizedAsset] = {
    val w = dicomShort("Columns", parsed)
    val h = dicomShort("Rows", parsed)
    val ch = math.max(1, dicomShort("SamplesPerPixel", parsed))
    val bits = math.max(8, dicomShort("BitsAllocated", parsed))
    val frames = dicomShort("NumberOfFrames", parsed)
    // (decoded image, decoded-but-header-disagrees) — the boolean keeps
    // the "raw" vs "unsupported" provenance split of the native path
    val (decoded, mismatch): (Option[java.awt.image.BufferedImage], Boolean) =
      if (parsed.transferSyntax == JpegBaselineTs)
        scala.util.Try(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(px))).toOption.flatMap(Option(_)) match {
          case Some(img) if img.getWidth == w && img.getHeight == h => (Some(img), false)
          case Some(_) => (None, true)
          case None => (None, false)
        }
      // RLE encodes one FRAME per fragment (PS3.5 A.4.2); the parser now
      // preserves fragment boundaries, so multi-frame decodes FRAME 1 —
      // the same convention as the native multi-frame path (which
      // rasterizes the first frameBytes of the payload). A fragment
      // count that disagrees with the declared frame count is a
      // malformed stream → honestly unsupported.
      else if (parsed.transferSyntax == RleLosslessTs && w > 0 && h > 0 &&
               parsed.pixelFragmentLengths.length == math.max(1, frames)) {
        val frame0 =
          if (parsed.pixelFragmentLengths.length == 1) px
          else java.util.Arrays.copyOfRange(px, 0, parsed.pixelFragmentLengths.head)
        rleRaster(w, h, ch, bits, frame0) match {
          case Right(img) => (Some(img), false)
          case Left(m) => (None, m)
        }
      }
      else (None, false)
    decoded match {
      case Some(img) =>
        val (ow, oh, sum) = resampleImage(img, maxSide)
        Some(ResizedAsset(path, mediaType, w, h, ow, oh,
          ow.toLong * oh * 3, "dicom-pixels", Some(sum)))
      case None if w > 0 && h > 0 =>
        val scale = if (math.max(w, h) <= maxSide) 1.0
                    else maxSide.toDouble / math.max(w, h)
        val ow = math.ceil(w * scale).toInt
        val oh = math.ceil(h * scale).toInt
        val d = java.security.MessageDigest.getInstance("MD5").digest(px)
        val label =
          if (mismatch) "dicom-pixels-raw" // decoded but header disagrees
          else "dicom-pixels-unsupported"
        Some(ResizedAsset(path, mediaType, w, h, ow, oh,
          ow.toLong * oh * ch * math.max(1, bits / 8), label,
          Some(d.map("%02x".format(_)).mkString)))
      case _ => None
    }
  }

  /** Resize: REAL pixel resample (ImageIO + Graphics2D, checksummed) for
    * every JDK-decodable format; REAL raster decode for native-syntax
    * DICOM via [[dicomResize]]; geometry-only scaling from the container
    * header for the rest.
    * `decoder` says which path produced each row; `pixel_md5` is non-null
    * exactly when actual pixel bytes were read. One narrow per-partition
    * pass, no shuffle. */
  def resizeMeta(s: SparkSession, dirs: Seq[String], maxSide: Int = 256): DataFrame = {
    import s.implicits._
    loadAssets(s, dirs)
      .select($"path", $"media_type", $"content").as[(String, String, Array[Byte])]
      .mapPartitions(_.map { case (p, m, c) =>
        resample(c, maxSide).map { case (w, h, ow, oh, sum) =>
          ResizedAsset(p, m, w, h, ow, oh, ow.toLong * oh * 3, "imageio", Some(sum))
        }.orElse {
          if (m == "application/dicom") dicomResize(p, m, c, maxSide) else None
        }.getOrElse {
            val d = decodeOne(p, m, c)
            val scale = if (math.max(d.width, d.height) <= maxSide) 1.0
                        else maxSide.toDouble / math.max(d.width, d.height)
            val ow = math.ceil(d.width * scale).toInt
            val oh = math.ceil(d.height * scale).toInt
            ResizedAsset(p, m, d.width, d.height, ow, oh,
              ow.toLong * oh * d.channels * math.max(1, d.bits / 8), d.decoder, None)
        }
      })
      .toDF()
      .withColumn("path", element_at(split($"path", "/"), -1))
      .orderBy($"path")
  }

  def resizeMeta(s: SparkSession, dir: String): DataFrame =
    resizeMeta(s, Seq(dir))

  /** Deterministic PNG/JPEG/GIF/BMP fixture images (gradient pixels,
    * fixed dimensions), written once via `ImageIO.write` so the real
    * codec paths are exercised end-to-end without shipping binaries in
    * the repo. Returns the fixture directory. */
  def ensureImageFixtures(): String = synchronized {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // names derive from the one installer list below — the completeness
    // guard and the writers can never drift apart
    val imageDims = Seq(("gradient.png", 320, 200, "png"), ("gradient.jpg", 300, 180, "jpg"),
      ("gradient.gif", 64, 40, "gif"), ("gradient.bmp", 90, 60, "bmp"))
    val names = imageDims.map(_._1) ++
      Seq("tone.wav", "gradient-jpeg.dcm", "gradient-rle.dcm")
    val dir = Paths.get(sys.props("java.io.tmpdir"), "graft-image-fixtures")
    // completeness guard on the FILES, not the directory: a crash (or a
    // concurrent process racing this one — `synchronized` is JVM-local)
    // must never leave a half-populated dir that reads as done forever
    if (!names.forall(n => Files.exists(dir.resolve(n)))) {
      def gradient(w: Int, h: Int): java.awt.image.BufferedImage = {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y,
              ((x * 7 + y * 3) % 256 << 16) | ((x * 5 + y * 11) % 256 << 8) |
                ((x * 13 + y) % 256))
            x += 1
          }
          y += 1
        }
        img
      }
      // write to a process-unique staging dir, then move each file into
      // place atomically; losing the move race to another process is fine
      // (the content is deterministic — identical bytes), so any move
      // failure with the target present is benign. Staging always cleans
      // up, even when a write throws (disk full).
      val stage = Files.createTempDirectory("graft-image-fixtures-stage")
      try {
        Files.createDirectories(dir)
        def install(n: String)(write: java.io.File => Unit): Unit = {
          val tmp = stage.resolve(n)
          write(tmp.toFile)
          try Files.move(tmp, dir.resolve(n), StandardCopyOption.ATOMIC_MOVE)
          catch {
            case scala.util.control.NonFatal(e) =>
              if (!Files.exists(dir.resolve(n))) throw e
          }
        }
        imageDims.foreach { case (n, w, h, fmt) =>
          install(n)(f => javax.imageio.ImageIO.write(gradient(w, h), fmt, f))
        }
        // deterministic 0.1 s 440 Hz sine, 16-bit mono 8 kHz — the JDK's
        // javax.sound.sampled writes a real RIFF/WAVE container
        install("tone.wav") { f =>
          val rate = 8000
          val n = rate / 10
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val v = (math.sin(2 * math.Pi * 440 * i / rate) * 12000).toInt
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          javax.sound.sampled.AudioSystem.write(
            ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, f)
        }
        // minimal explicit-VR encapsulated-DICOM writer shared by the
        // compressed-syntax fixtures below
        def le(n: Int) = java.nio.ByteBuffer.allocate(n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def us(g: Int, e: Int, v: Int): Array[Byte] = {
          val b = le(10); b.putShort(g.toShort).putShort(e.toShort)
          b.put('U'.toByte).put('S'.toByte).putShort(2).putShort(v.toShort)
          b.array()
        }
        def ui(g: Int, e: Int, s0: String): Array[Byte] = {
          val v0 = s0.getBytes("US-ASCII")
          val v = if (v0.length % 2 == 0) v0 else v0 :+ 0.toByte
          val b = le(8 + v.length); b.putShort(g.toShort).putShort(e.toShort)
          b.put('U'.toByte).put('I'.toByte).putShort(v.length.toShort)
          b.put(v); b.array()
        }
        def encapsulatedDicom(ts0: String, w: Int, h: Int, spp: Int,
                              frag0: Array[Byte]): Array[Byte] = {
          val frag = if (frag0.length % 2 == 0) frag0 else frag0 :+ 0.toByte
          val out = new java.io.ByteArrayOutputStream()
          out.write(new Array[Byte](128)); out.write("DICM".getBytes)
          val ts = ui(0x0002, 0x0010, ts0)
          out.write(le(12).putShort(0x0002.toShort).putShort(0x0000.toShort)
            .put('U'.toByte).put('L'.toByte).putShort(4)
            .putInt(ts.length).array())
          out.write(ts)
          out.write(us(0x0028, 0x0002, spp)) // SamplesPerPixel
          out.write(us(0x0028, 0x0010, h))   // Rows
          out.write(us(0x0028, 0x0011, w))   // Columns
          out.write(us(0x0028, 0x0100, 8))   // BitsAllocated
          // (7FE0,0010) OB undefined length: BOT item + 1 fragment + delim
          out.write(le(12).putShort(0x7fe0.toShort).putShort(0x0010.toShort)
            .put('O'.toByte).put('B'.toByte).putShort(0).putInt(0xffffffff).array())
          out.write(le(8).putShort(0xfffe.toShort).putShort(0xe000.toShort)
            .putInt(0).array())
          out.write(le(8).putShort(0xfffe.toShort).putShort(0xe000.toShort)
            .putInt(frag.length).array())
          out.write(frag)
          out.write(le(8).putShort(0xfffe.toShort).putShort(0xe0dd.toShort)
            .putInt(0).array())
          out.toByteArray
        }
        // JPEG-baseline encapsulated DICOM: the deterministic gradient,
        // ImageIO-encoded to JPEG and wrapped under transfer syntax
        // 1.2.840.10008.1.2.4.50 — exercises the encapsulated
        // fragment-stream decode end-to-end
        install("gradient-jpeg.dcm") { f =>
          val (w, h) = (48, 32)
          val jb = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(gradient(w, h), "jpg", jb)
          java.nio.file.Files.write(f.toPath,
            encapsulatedDicom("1.2.840.10008.1.2.4.50", w, h, 3, jb.toByteArray))
        }
        // RLE Lossless encapsulated DICOM: the SAME gradient pixels as
        // R,G,B byte planes, PackBits-encoded (runs ≥ 2 → replicate run,
        // else literal run, -128 pad) under a 64-byte offset header —
        // transfer syntax 1.2.840.10008.1.2.5, the pure-JVM decode path
        install("gradient-rle.dcm") { f =>
          val (w, h) = (48, 32)
          def packBits(seg: Array[Byte]): Array[Byte] = {
            val out = new java.io.ByteArrayOutputStream()
            var i = 0
            while (i < seg.length) {
              var run = 1
              while (i + run < seg.length && run < 128 && seg(i + run) == seg(i)) run += 1
              if (run >= 2) { out.write(1 - run); out.write(seg(i)); i += run }
              else {
                var lit = 1
                while (i + lit < seg.length && lit < 128 &&
                       !(i + lit + 1 < seg.length && seg(i + lit) == seg(i + lit + 1))) lit += 1
                out.write(lit - 1); out.write(seg, i, lit); i += lit
              }
            }
            if (out.size % 2 == 1) out.write(-128) // even pad, decoder no-op
            out.toByteArray
          }
          // byte planes in R,G,B order from the same formula gradient()
          // paints — the cross-syntax checksum pin in MultimodalSpec
          // depends on this equality
          val planes = Seq(
            Array.tabulate(w * h)(i => ((i % w) * 7 + (i / w) * 3).toByte),
            Array.tabulate(w * h)(i => ((i % w) * 5 + (i / w) * 11).toByte),
            Array.tabulate(w * h)(i => ((i % w) * 13 + (i / w)).toByte))
          val encoded = planes.map(packBits)
          val hdr = le(64)
          hdr.putInt(encoded.length)
          encoded.foldLeft(64L) { (off, e) => hdr.putInt(off.toInt); off + e.length }
          val frame = hdr.array() ++ encoded.flatten
          java.nio.file.Files.write(f.toPath,
            encapsulatedDicom("1.2.840.10008.1.2.5", w, h, 3, frame))
        }
      } finally graft.util.Fs.deleteRecursively(stage)
    }
    dir.toAbsolutePath.toString
  }

  /** Per-frame md5 of the DECODED interleaved native-layout pixel bytes
    * of EVERY frame of a DICOM object — native multi-frame (payload
    * sliced at frameBytes boundaries) and RLE Lossless (one fragment per
    * frame, PS3.5 A.4.2; each fragment PackBits-decoded and
    * re-interleaved). Because both paths checksum the same native
    * layout, a native twin and an RLE twin of the same pixels produce
    * IDENTICAL per-frame checksums (cross-pinned in MultimodalSpec).
    * Frames whose layout is outside the decoded set (planar RGB,
    * 12/32-bit), undecodable, or size-inconsistent simply have no entry
    * — the caller emits null, never an invented raster. */
  private[operators] def dicomFrameChecksums(parsed: DicomParser.DicomFile): Map[Int, String] =
    scala.util.Try {
      parsed.pixels match {
        case None => Map.empty[Int, String]
        case Some(px) =>
          val w = dicomShort("Columns", parsed)
          val h = dicomShort("Rows", parsed)
          val ch = math.max(1, dicomShort("SamplesPerPixel", parsed))
          val bits = math.max(8, dicomShort("BitsAllocated", parsed))
          val planar = dicomShort("PlanarConfiguration", parsed)
          val frames = math.max(1, dicomShort("NumberOfFrames", parsed))
          val frameBytes = w.toLong * h * ch * (bits / 8)
          val supported = w > 0 && h > 0 && frameBytes > 0 &&
            ((ch == 3 && bits == 8 && planar == 0) ||
             (ch == 1 && (bits == 8 || bits == 16)))
          def hex(b: Array[Byte]): String =
            java.security.MessageDigest.getInstance("MD5").digest(b)
              .map("%02x".format(_)).mkString
          if (!supported) Map.empty[Int, String]
          else if (parsed.pixelsEncapsulated) {
            if (parsed.transferSyntax == RleLosslessTs &&
                parsed.pixelFragmentLengths.length == frames) {
              val offs = parsed.pixelFragmentLengths.scanLeft(0)(_ + _)
              (0 until frames).flatMap { i =>
                val frag = java.util.Arrays.copyOfRange(px, offs(i), offs(i + 1))
                rleInterleaved(w, h, ch, bits, frag).toOption.map(b => i -> hex(b))
              }.toMap
            } else Map.empty[Int, String] // other codecs stay honest-unsupported
          } else if (px.length >= frameBytes * frames) {
            (0 until frames).map { i =>
              i -> hex(java.util.Arrays.copyOfRange(
                px, (i * frameBytes).toInt, ((i + 1) * frameBytes).toInt))
            }.toMap
          } else Map.empty[Int, String]
      }
    }.getOrElse(Map.empty[Int, String])

  /** Frame sampling (video-shaped UDTF): every `step`-th frame index with
    * its byte offset into the (conceptual) frame buffer — plus, for
    * DICOM assets, the REAL per-frame checksum of the decoded frame
    * ([[dicomFrameChecksums]]; null where no honest decode exists).
    * Single pass over the binaries: metadata and frame checksums come
    * from the same `mapPartitions`. */
  def frameSample(s: SparkSession, dir: String, step: Int = 5): DataFrame = {
    import s.implicits._
    loadAssets(s, dir)
      .select($"path", $"media_type", $"content").as[(String, String, Array[Byte])]
      .mapPartitions(_.map { case (p, m, c) =>
        // one parse serves both metadata and frame checksums; a DICOM
        // that fails the pixel-bearing parse degrades through decodeOne
        // exactly like before (its header-only parse falls back to the
        // stub in the same cases)
        val (meta, sums) =
          if (m == "application/dicom")
            scala.util.Try(DicomParser.parse(c, readPixels = true)).toOption match {
              case Some(parsed) =>
                val w = dicomShort("Columns", parsed)
                val h = dicomShort("Rows", parsed)
                val ch = math.max(1, dicomShort("SamplesPerPixel", parsed))
                val bits = math.max(8, dicomShort("BitsAllocated", parsed))
                val frames = math.max(1, dicomShort("NumberOfFrames", parsed))
                // same negative-geometry guard as decodeOne: a parsable
                // DICOM declaring a negative dimension (signed-VR quirk)
                // degrades to the deterministic stub, not negative rows
                if (w >= 0 && h >= 0)
                  (DecodedAsset(p, m, w, h, ch, bits, frames, "dicom-header",
                    w.toLong * h * ch * (bits / 8) * frames),
                   dicomFrameChecksums(parsed))
                else (decodeOne(p, m, c), Map.empty[Int, String])
              case None => (decodeOne(p, m, c), Map.empty[Int, String])
            }
          else (decodeOne(p, m, c), Map.empty[Int, String])
        (meta.path, meta.width, meta.height, meta.channels, meta.bits,
          meta.n_frames, sums)
      })
      .toDF("path", "width", "height", "channels", "bits", "n_frames", "frame_md5s")
      .withColumn("path", element_at(split($"path", "/"), -1))
      .withColumn("frame_idx",
        explode(sequence(lit(0), $"n_frames" - 1, lit(step))))
      .withColumn("byte_offset",
        $"frame_idx".cast("long") * $"width" * $"height" * $"channels" * ($"bits" / 8).cast("long"))
      .withColumn("frame_md5", element_at($"frame_md5s", $"frame_idx"))
      .select($"path", $"frame_idx", $"byte_offset", $"frame_md5")
      .orderBy($"path", $"frame_idx")
  }

  def pseudoEmbed(s: SparkSession, dir: String): DataFrame =
    pseudoEmbed(s, Seq(dir))

  /** Feature-extract stub: deterministic 64-dim pseudo-embedding from the
    * content digest (md5-seeded, unit-normalized) — schema-compatible
    * with the real `embeddings` table so the ANN path composes. */
  def pseudoEmbed(s: SparkSession, dirs: Seq[String]): DataFrame = {
    import s.implicits._
    loadAssets(s, dirs)
      .select($"path", $"digest").as[(String, String)]
      .mapPartitions(_.map { case (p, digest) =>
        val vec = Array.tabulate(64) { j =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$digest:$j".getBytes("UTF-8"))
          (((h(0) & 0xff) << 8 | (h(1) & 0xff)).toFloat / 65535f) - 0.5f
        }
        val nrm = math.sqrt(vec.map(v => v.toDouble * v).sum).toFloat
        (p, vec.map(_ / nrm))
      })
      .toDF("path", "embedding")
      .withColumn("path", element_at(split($"path", "/"), -1))
      .orderBy($"path")
  }

  /** Multimodal → embedding → similarity, composed end-to-end: embed
    * every asset ([[pseudoEmbed]]) and rank each asset's top-k nearest
    * LSH-bucket neighbors by cosine — the full "ingest binaries, index
    * them, find related content" chain in one operator, in the SAME
    * shape it would run at corpus scale:
    *
    *  - the embedded frame is `cache()`d (released with the shared
    *    [[Dedup.unpersistIntermediates]] registry), never collected —
    *    the binary-load + md5-embed subtree runs once, not per join side;
    *  - candidates come from [[Similarity.lshBucketedPairs]] keyed on
    *    `path` — the pair join is an equi-join on (table, bucket), Σn_b²
    *    candidates, never an all-pairs product;
    *  - per-asset top-k is a window rank Spark executes with
    *    WindowGroupLimit map-side pruning (plan pinned in
    *    PlanQualitySpec).
    *
    * Geometry: `spark.graft.mm.lsh.{tables,bits}` (default 8×2). The
    * default favors recall — pseudo-embeddings are near-orthogonal, so a
    * pair survives ≥1 of 8 two-bit tables w.p. ~1-(3/4)^8 ≈ 0.90 — which
    * is what a top-k pin over a fixture-sized corpus needs; a 10⁹-asset
    * corpus turns bits up (smaller buckets) exactly as the
    * [[Similarity]] dials document. */
  def assetNeighbors(s: SparkSession, dirs: Seq[String], k: Int = 3): DataFrame = {
    import s.implicits._
    val embedded = Dedup.tracked(pseudoEmbed(s, dirs)
      .select($"path", $"embedding",
        sqrt(dot($"embedding", $"embedding")).as("nrm")))
    val tables = s.conf.get("spark.graft.mm.lsh.tables", "8").toInt
    val bits = s.conf.get("spark.graft.mm.lsh.bits", "2").toInt
    // tracked too: the symmetric union references the candidate relation
    // twice — uncached, the whole bucket-join subtree would run per side
    val cand = Dedup.tracked(Similarity.lshBucketedPairs(
      embedded, "path", tables, bits, scale = 6, minSim = None))
    Similarity.topKNeighbors(s, cand, "id_a", "id_b", "path", k)
  }

  /** [[pseudoEmbed]] with the raw `array<float>` serialized for external
    * harnesses: a rounded L2 norm plus a JSON dump of the rounded vector.
    * (Raw arrays are unhashable in pandas-based row checks; the JSON form
    * is deterministic and sortable.) Compose with [[Similarity]] via
    * [[pseudoEmbed]] directly — this variant is the reporting surface. */
  def pseudoEmbedFlat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pseudoEmbed(s, dir)
      .select($"path",
        round(sqrt(aggregate($"embedding", lit(0.0d),
          (acc, v) => acc + v.cast("double") * v.cast("double"))), 6).as("norm"),
        to_json(transform($"embedding",
          v => round(v.cast("double"), 6))).as("embedding_json"))
      .orderBy($"path")
  }

  /** 64-bit DIFFERENCE HASH (dHash) of an image: bilinear-downsample to
    * a 9×8 grayscale canvas, then bit i = "pixel right of me is
    * brighter" over the 8×8 adjacent-column comparisons. The standard
    * cheap perceptual fingerprint: stable under rescaling, re-encoding
    * (PNG↔BMP↔JPEG) and mild noise, far for structurally different
    * images. Deterministic for a given JVM (same Graphics2D bilinear
    * core as [[resample]]); None when no JDK codec claims the bytes. */
  def dHash(content: Array[Byte]): Option[Long] =
    scala.util.Try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(
          9, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, 9, 8, null)
        g.dispose()
        val d = out.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        var h = 0L
        var bit = 0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if ((d(y * 9 + x + 1) & 0xff) > (d(y * 9 + x) & 0xff))
              h |= (1L << bit)
            bit += 1
            x += 1
          }
          y += 1
        }
        Some(h)
      }
    }.toOption.flatten

  /** Deterministic fixtures for the perceptual-hash family: one SMOOTH
    * low-frequency gradient rendered at two scales and three container
    * formats (re-encode + rescale must land within the Hamming
    * threshold), a lightly-perturbed copy (mild noise must too), and the
    * INVERTED gradient (structurally different — must stay far). Smooth
    * content is the point: the modular high-frequency pattern the other
    * image fixtures use aliases under downsampling, which is exactly the
    * instability dHash does not promise to survive. */
  def ensurePhashFixtures(): String = synchronized {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val names = Seq("smooth-a.png", "smooth-a.bmp", "smooth-small.png",
      "smooth-noisy.png", "inverted.png")
    // versioned dir name: bump the suffix whenever smooth() or the
    // fixture list changes, else existence-gated caching silently reuses
    // stale images (the ScaleRehearsal marker-drift lesson)
    val dir = Paths.get(sys.props("java.io.tmpdir"), "graft-phash-fixtures-v1")
    if (!names.forall(n => Files.exists(dir.resolve(n)))) {
      def smooth(w: Int, h: Int, invert: Boolean, noise: Boolean) = {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val gx = x * 255 / (w - 1)
            val r = if (invert) 255 - gx else gx
            val gch = y * 255 / (h - 1)
            val b = (gx + gch) / 2
            // deterministic ±8 perturbation on a sparse pixel lattice
            val dn = if (noise && (x * 31 + y * 17) % 97 == 0) 8 else 0
            img.setRGB(x, y,
              (math.min(255, r + dn) << 16) | (math.min(255, gch + dn) << 8) |
                math.min(255, b + dn))
            x += 1
          }
          y += 1
        }
        img
      }
      val stage = Files.createTempDirectory("graft-phash-stage")
      try {
        Files.createDirectories(dir)
        def install(n: String, img: java.awt.image.BufferedImage, fmt: String): Unit = {
          val tmp = stage.resolve(n)
          javax.imageio.ImageIO.write(img, fmt, tmp.toFile)
          try Files.move(tmp, dir.resolve(n), StandardCopyOption.ATOMIC_MOVE)
          catch {
            case scala.util.control.NonFatal(e) =>
              if (!Files.exists(dir.resolve(n))) throw e
          }
        }
        val a = smooth(240, 180, invert = false, noise = false)
        install("smooth-a.png", a, "png")
        install("smooth-a.bmp", a, "bmp")
        install("smooth-small.png", smooth(120, 90, invert = false, noise = false), "png")
        install("smooth-noisy.png", smooth(240, 180, invert = false, noise = true), "png")
        install("inverted.png", smooth(240, 180, invert = true, noise = false), "png")
      } finally {
        import scala.jdk.CollectionConverters._
        Files.walk(stage).iterator().asScala.toSeq.reverse
          .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
      }
    }
    dir.toString
  }

  /** PERCEPTUAL-HASH IMAGE NEAR-DUP — the multimodal twin of the
    * minhash/simhash text family: dHash every decodable image, find
    * pairs within Hamming distance ≤ 6 via an 8-band LSH join (8 bits
    * per band; by pigeonhole 6 differing bits leave ≥ 2 of 8 bands
    * intact, so banding is LOSSLESS at the threshold — the same
    * no-recall-dial discipline as the text joins), then verify with the
    * exact codegen'd `bit_count(a XOR b)`.
    *
    * Scale shapes: the hash is 8 bytes per asset regardless of image
    * size; candidates = Σ_band-value df² — output-bound, the decode cost
    * is one narrow scan. Rows-only (the hash embeds JVM ImageIO decode —
    * no SQL oracle can reproduce it); PhashSpec pins the semantics:
    * re-encode (PNG↔BMP) at distance 0, rescale and mild noise within
    * the threshold, the inverted image excluded. */
  def phashNearDup(s: SparkSession, dirs: Seq[String], maxDist: Int = 6): DataFrame = {
    import s.implicits._
    // pigeonhole over 8 bands of 8 bits: d differing bits can break at
    // most d bands, so a shared band is guaranteed only while d < 8 —
    // beyond that the join would silently drop true pairs, breaking the
    // documented no-recall-dial contract. Refuse rather than under-recall.
    require(maxDist >= 0 && maxDist < 8,
      s"8-band LSH is lossless only for maxDist in [0, 7], got $maxDist")
    val hashUdf = udf((content: Array[Byte]) => dHash(content))
    val hashed = Dedup.tracked(
      loadAssets(s, dirs)
        .select($"path", hashUdf($"content").as("h"))
        .filter($"h".isNotNull))

    val bands = hashed.select($"path",
        posexplode(expr("transform(sequence(0, 7), " +
          "i -> (shiftright(h, i * 8) & 255))")).as(Seq("band", "bits")))
    // pairs sharing several bands dedup BEFORE the verify touches them
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bits" === $"b.bits" &&
        $"a.path" < $"b.path")
      .select($"a.path".as("path_a"), $"b.path".as("path_b"))
      .distinct()
    cand
      .join(hashed.select($"path".as("path_a"), $"h".as("ha")), "path_a")
      .join(hashed.select($"path".as("path_b"), $"h".as("hb")), "path_b")
      .select($"path_a", $"path_b",
        bit_count($"ha".bitwiseXOR($"hb")).cast("long").as("hamming"))
      .filter($"hamming" <= maxDist)
      .orderBy($"path_a", $"path_b")
  }
}
