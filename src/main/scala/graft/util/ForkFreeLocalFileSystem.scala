package graft.util

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem with a permission call that never forks.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * runs a forked `chmod` for every file, `.crc` file and directory a
  * write creates (several ms each): the one task of a 30-partition DICOM
  * write ran about twice its CPU time. This raw layer sets the same
  * already-umasked bits through `java.nio` instead, and defers to Hadoop
  * only for a sticky bit (no POSIX-view equivalent) or a file store
  * without a POSIX view.
  *
  * Installed per write through [[WriteOptions]]: Spark copies writer
  * options into the job's Hadoop conf, which the driver committer and
  * every task read, so it works in any session. Other schemes never read
  * `fs.file.impl`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (permission.getStickyBit || view == null) super.setPermission(p, permission)
      else view.setPermissions(posix(permission.toShort))
    }
  }

  /** The low nine mode bits as a POSIX permission set (the enum runs
    * owner read … others execute, i.e. bit 8 down to bit 0). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(p)
    }
    set
  }

  /** Writer options installing this filesystem for one write. The cache
    * is disabled because Hadoop caches `file:` instances by scheme and
    * user, not by conf: a cached stock instance would win otherwise. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
