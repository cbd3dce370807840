package graft.ingest

import java.io.{ByteArrayInputStream, InputStream}
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream}
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream
import org.apache.commons.compress.compressors.xz.XZCompressorInputStream
import graft.dicom.DicomParser

/** Extension routing + archive expansion, reproducing
  * `s3wrapper.eval_ext/set_file_ext/get` (`src/s3wrapper.py:38-44,76-127`)
  * and the member filters in `src/utils/utils.py:6-58`:
  *
  *  - extension = `os.path.splitext` of the key; empty or ≥10 chars →
  *    default `.dcm`;
  *  - `.json/.txt/.csv` → ignored ("No file found" success, no error);
  *  - `.dcm` → single member, FIRST 10,000,001 BYTES ONLY (the ranged-GET
  *    cap, `src/s3wrapper.py:55-63`; `Range: bytes=0-10000000` is
  *    inclusive);
  *  - `.zip` → entries that are files, don't contain "DICOMDIR"
  *    (case-insensitive), and carry the DICM magic at offset 128;
  *  - `.tar/.gz/.bz2/.xz` → same filters; compression is detected from
  *    MAGIC BYTES (like `tarfile.open('r')`), so a mislabeled extension
  *    still expands;
  *  - anything else → error ("<ext> file extension not supported").
  */
object Archives {

  val IgnoreExts: Set[String] = Set(".json", ".txt", ".csv")
  val DcmRangeBytes: Int = 10000001
  val DefaultExt = ".dcm"

  sealed trait Expansion
  /** Ignored extension — "No file found" success. */
  case object Ignored extends Expansion
  /** (archive member name or basename) → bytes. */
  final case class Entries(entries: Seq[(String, Array[Byte])]) extends Expansion

  final class UnsupportedExtensionException(ext: String)
    extends RuntimeException(s"$ext file extension not supported")
  final class InvalidArchiveException(msg: String) extends RuntimeException(msg)

  /** `os.path.splitext`-equivalent extension of the key's basename
    * (leading-dot-only names have no extension). */
  def splitExt(key: String): String = {
    val base = key.substring(key.lastIndexOf('/') + 1)
    val idx = base.lastIndexOf('.')
    if (idx <= 0) "" else base.substring(idx)
  }

  /** `set_file_ext` rule: non-empty and < 10 chars → lowered ext, else
    * the default `.dcm`. */
  def evalExt(key: String): String = {
    val ext = splitExt(key)
    if (ext.nonEmpty && ext.length < 10) ext.toLowerCase else DefaultExt
  }

  private def basename(key: String): String =
    key.substring(key.lastIndexOf('/') + 1)

  /** The in-memory form of [[members]]: collects every kept member of
    * `content`. */
  def expand(key: String, content: Array[Byte]): Expansion =
    if (IgnoreExts.contains(evalExt(key))) Ignored
    else {
      val out = Vector.newBuilder[(String, Array[Byte])]
      members(key, () => new ByteArrayInputStream(content))((n, b) => out += n -> b)
      Entries(out.result())
    }

  /** THE routing decision for one object, and its expansion: every
    * reader goes through here — `DicomPipeline.readObjects` (`extract`,
    * the manifest route and streaming micro-batches) and the
    * `format("dicom")` reader, both through `DicomPipeline.processObject`,
    * and [[expand]].
    *
    *  - ignored extensions never call `open`;
    *  - `.dcm` yields its basename and at most [[DcmRangeBytes]] — the
    *    ranged GET: an opener over storage is read no further;
    *  - zip/tar* pass each kept member to `f` as soon as it is read and
    *    keep no reference to it, so peak memory is the current member
    *    plus whatever `f` retains — never the container, never the
    *    member-byte sum (StreamedExpansionSpec's weak-reference test);
    *  - anything else throws [[UnsupportedExtensionException]] without
    *    opening the object.
    *
    * A broken container throws [[InvalidArchiveException]] when the
    * visit reaches the break, after the members before it went to `f`. */
  def members(key: String, open: () => InputStream)(f: (String, Array[Byte]) => Unit): Unit =
    evalExt(key) match {
      case ext if IgnoreExts.contains(ext) => ()
      case ".dcm" =>
        val in = open()
        val head = try readAll(in, DcmRangeBytes) finally in.close()
        f(basename(key), head)
      case ".zip" => visitZip(key, open())(f)
      case ".tar" | ".gz" | ".bz2" | ".xz" => visitTar(key, open())(f)
      case other => throw new UnsupportedExtensionException(other)
    }

  /** First `n` bytes without consuming them (mark/reset). */
  private def sniff(in: java.io.BufferedInputStream, n: Int): Array[Byte] = {
    in.mark(n)
    val b = new Array[Byte](n)
    var off = 0
    var r = in.read(b, off, n - off)
    while (r > 0) {
      off += r
      r = if (off < n) in.read(b, off, n - off) else -1
    }
    in.reset()
    java.util.Arrays.copyOf(b, off)
  }

  /** Archive member filter (`src/utils/utils.py:6-48`): regular files
    * only, no "DICOMDIR" in the name, DICM magic present. */
  private def keepMember(name: String, bytes: Array[Byte]): Boolean =
    !name.toUpperCase.contains("DICOMDIR") && DicomParser.isDicom(bytes)

  private def visitZip(key: String, in0: InputStream)(
      f: (String, Array[Byte]) => Unit): Unit = {
    val in = new java.io.BufferedInputStream(in0)
    // sniff can throw on a broken storage stream: close + map to the
    // expand-stage taxonomy, never leak the FS handle
    val magic =
      try sniff(in, 4)
      catch {
        case e: java.io.IOException =>
          in.close()
          throw new InvalidArchiveException(s"Invalid ZipFile $key: ${e.getMessage}")
      }
    if (magic.length < 4 || magic(0) != 'P' || magic(1) != 'K') {
      in.close()
      throw new InvalidArchiveException(s"Invalid ZipFile $key")
    }
    val zin = new java.util.zip.ZipInputStream(in)
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) {
          val bytes = readAll(zin)
          if (keepMember(entry.getName, bytes)) f(entry.getName, bytes)
        }
        entry = zin.getNextEntry
      }
    } catch {
      case e: java.io.IOException => // ZipException included: corrupt past magic
        throw new InvalidArchiveException(s"Invalid ZipFile $key: ${e.getMessage}")
    } finally zin.close()
  }

  /** tar / tar.gz / tar.bz2 / tar.xz — compression chosen by magic bytes
    * (tarfile.open('r') auto-detect semantics). */
  private def visitTar(key: String, in0: InputStream)(
      f: (String, Array[Byte]) => Unit): Unit = {
    val raw = new java.io.BufferedInputStream(in0)
    // sniff AND the decompressor constructors eagerly read the stream
    // and can throw on corrupt bytes — close + map to the expand-stage
    // taxonomy (not a leaked FS handle surfacing as stage=transform)
    val tin =
      try {
        val magic = sniff(raw, 6)
        val decompressed: InputStream =
          if (magic.length >= 2 && (magic(0) & 0xff) == 0x1f && (magic(1) & 0xff) == 0x8b)
            new GzipCompressorInputStream(raw, true)
          else if (magic.length >= 3 && magic(0) == 'B' && magic(1) == 'Z' && magic(2) == 'h')
            new BZip2CompressorInputStream(raw, true)
          else if (magic.length >= 6 && (magic(0) & 0xff) == 0xfd && magic(1) == '7' &&
                   magic(2) == 'z' && magic(3) == 'X' && magic(4) == 'Z' && magic(5) == 0)
            new XZCompressorInputStream(raw)
          else raw
        new TarArchiveInputStream(decompressed)
      } catch {
        case e: java.io.IOException =>
          raw.close()
          throw new InvalidArchiveException(s"Invalid TarFile $key: ${e.getMessage}")
      }
    try {
      var entry: TarArchiveEntry = tin.getNextEntry
      if (entry == null)
        throw new InvalidArchiveException(s"Invalid TarFile $key")
      while (entry != null) {
        if (entry.isFile) {
          val bytes = readAll(tin)
          if (keepMember(entry.getName, bytes)) f(entry.getName, bytes)
        }
        entry = tin.getNextEntry
      }
    } catch {
      case e: java.io.IOException =>
        throw new InvalidArchiveException(s"Invalid TarFile $key: ${e.getMessage}")
    } finally tin.close()
  }

  /** The stream's bytes, at most `cap` of them. */
  private def readAll(in: InputStream, cap: Int = Int.MaxValue): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    var n = 0
    while (n >= 0 && out.size < cap) {
      n = in.read(buf, 0, math.min(buf.length, cap - out.size))
      if (n > 0) out.write(buf, 0, n)
    }
    out.toByteArray
  }
}
