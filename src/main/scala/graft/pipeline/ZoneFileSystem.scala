package graft.pipeline

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` FileSystem of local lakehouse zones: Hadoop's checksummed
  * `LocalFileSystem` over a raw layer that sets permission bits in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process for every file, `.crc` file and directory a write
  * creates. `Raw` applies the same POSIX bits with
  * `Files.setPosixFilePermissions`, and defers to the stock method when
  * native IO is loaded, when the sticky bit is requested (no POSIX view can
  * express it) or when the platform has no POSIX attribute view.
  */
class ZoneFileSystem extends LocalFileSystem(new ZoneFileSystem.Raw)

object ZoneFileSystem {

  private val posixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private[pipeline] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit || !posixView)
        super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(permission))
  }

  /** The rwx bits of `permission` (owner, group, others — the order of
    * `PosixFilePermission.values`, high bit first).
    */
  private def posixBits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = permission.toShort
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (0x100 >> i)) != 0) out.add(p)
    }
    out
  }

  /** Makes `file:` paths resolve to this class under `hc`. A local
    * FileSystem cached before the registration is closed, which evicts only
    * its own cache entry; other schemes' FileSystems are left alone.
    */
  private[pipeline] def register(hc: Configuration): Unit = {
    hc.set("fs.file.impl", classOf[ZoneFileSystem].getName)
    val cached = FileSystem.getLocal(hc)
    if (!cached.isInstanceOf[ZoneFileSystem]) cached.close()
  }
}
