package graft

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system with a chmod that forks no
  * process. Without its native library, `RawLocalFileSystem` applies the
  * permission of every file (`.crc` included) and new directory it
  * creates by running `chmod` in a child process; here the same mode bits
  * are set in-process. Everything else is Hadoop's own code, so files,
  * checksums and modes are those `LocalFileSystem` writes. Wired for
  * every service session by [[Sessions.LocalFs]].
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` with `setPermission` as `Files.setPosixFilePermissions`
    * of the same rwx bits. A mode with bits beyond rwx (the sticky bit) or
    * a platform without POSIX permissions keeps Hadoop's own path.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!Posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission lists owner r,w,x, group r,w,x, others r,w,x:
        // mode bits 8 down to 0
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        ()
      }
    }
  }
}
