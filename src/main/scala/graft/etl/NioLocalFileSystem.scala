package graft.etl

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem `Load` writes through. Without native
  * `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file, `.crc` file and directory a write creates; this
  * one sets the same POSIX mode in-process. Sticky-bit modes, which
  * `java.nio` cannot set, and file stores without a POSIX view keep
  * Hadoop's own path.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Writer options that route one write's `file:` paths here. The cache
    * must be bypassed: it is keyed by scheme, not by configuration, and
    * would hand back the default instance.
    */
  val WriterOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}
