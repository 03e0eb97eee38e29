package graft.runtime

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with an in-process `setPermission`.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and it is called for every data file, every `.crc` file
  * and every new directory a write creates: a daily run of small partitioned
  * models started ~2,400 `chmod` processes. This class sets the same nine
  * mode bits through `java.nio.file.Files.setPosixFilePermissions` and
  * defers to Hadoop's own method only where NIO cannot express the change (a
  * sticky bit, or a file store without POSIX attributes). The checksum layer
  * is Hadoop's, so `.crc` files are still written and verified.
  *
  * [[Dialect.apply]] installs it as `fs.file.impl` when a session is built;
  * Hadoop caches one `FileSystem` per scheme for the life of the JVM, so a
  * session built without that hook keeps Hadoop's forking default.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
          Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
            .map(_.SYMBOL).mkString))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
