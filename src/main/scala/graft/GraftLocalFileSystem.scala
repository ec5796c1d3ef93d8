package graft

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, setting permissions in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission` runs
  * `chmod` as a child process, and Hadoop calls it for every file, `.crc`
  * companion and directory a write creates: about 88 processes per
  * `etl_merge` job, each with its own stderr-reader thread. This class sets
  * the same mode bits through `java.nio.file.Files`, so outputs, `.crc`
  * files and permissions are what the stock class produces. Modes NIO
  * cannot express (the sticky bit) and stores without POSIX attributes
  * still go through the stock `chmod`.
  *
  * [[GraftSession.configure]] registers it as `fs.file.impl`.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  /** The raw (unchecksummed) layer: every create, mkdir and chmod of the
    * local filesystem sets its mode through [[setPermission]].
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if ((mode & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
      else view.setPermissions(posix(mode))
    }
  }

  /** `PosixFilePermission` is declared owner-read first, others-execute
    * last: ordinal i is mode bit 8 - i.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p))
    set
  }
}
