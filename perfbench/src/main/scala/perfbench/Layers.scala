package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.dicom.{DicomParser, Flatten}
import graft.ingest.Archives

/** Single-threaded pass over a generated corpus through the public
  * functions of `graft.ingest` and `graft.dicom` — the per-layer numbers
  * for those layers, and the single-threaded baseline for the job. */
object Layers {

  final case class Pass(objects: Int, readBytes: Long, expandS: Double, expandedBytes: Long,
                        members: Int, archiveMembers: Int, parseS: Double, images: Int,
                        elements: Long, flattenS: Double, values: Long,
                        routeErrors: Int, expandErrors: Int, parseErrors: Int, transformErrors: Int)

  private def countElements(es: Seq[DicomParser.DicomElement]): Long =
    es.foldLeft(0L)((n, e) => n + 1 + e.items.map(countElements).sum)

  /** Every regular file under `root`, in path order. */
  def objects(root: Path): Seq[Path] = {
    val w = Files.walk(root)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
    finally w.close()
  }

  /** One pass; every call into a layer is a span of `tracer`. An object
    * stops at its first failure, as in the job, and counts as one error
    * of that stage. */
  def pass(root: Path, tracer: Tracer): Pass = {
    var read = 0L; var expandNs = 0L; var expanded = 0L; var members = 0; var archiveMembers = 0
    var parseNs = 0L; var images = 0; var elements = 0L; var flattenNs = 0L; var values = 0L
    var route = 0; var expand = 0; var parse = 0; var transform = 0
    def timed[A](name: String)(f: => A): (A, Long) = {
      val t = System.nanoTime()
      val a = tracer.span(name)(f)
      (a, System.nanoTime() - t)
    }
    val files = objects(root)
    files.foreach { p =>
      val key = p.toUri.toString
      val bytes = Files.readAllBytes(p)
      read += bytes.length
      val exp =
        try {
          val (e, ns) = timed("ingest.expand")(Archives.expand(key, bytes))
          expandNs += ns
          Some(e)
        } catch {
          case _: Archives.UnsupportedExtensionException => route += 1; None
          case _: Archives.InvalidArchiveException => expand += 1; None
        }
      exp.foreach {
        case Archives.Ignored => ()
        case Archives.Entries(entries) =>
          members += entries.size
          if (Archives.evalExt(key) != ".dcm") archiveMembers += entries.size
          expanded += entries.map(_._2.length.toLong).sum
          val it = entries.iterator
          var failed = false
          while (!failed && it.hasNext) {
            val (name, b) = it.next()
            try {
              val (file, ns) = timed("dicom.parse")(DicomParser.parse(b))
              parseNs += ns; images += 1
              elements += countElements(file.elements)
              try {
                val (row, fns) = timed("dicom.flatten")(Flatten.flatten(file, "bench", "local", key, name))
                flattenNs += fns; values += row.size
              } catch { case scala.util.control.NonFatal(_) => transform += 1; failed = true }
            } catch { case _: DicomParser.InvalidDicomException => parse += 1; failed = true }
          }
      }
    }
    Pass(files.size, read, expandNs / 1e9, expanded, members, archiveMembers, parseNs / 1e9,
      images, elements, flattenNs / 1e9, values, route, expand, parse, transform)
  }
}
