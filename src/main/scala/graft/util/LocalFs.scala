package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` FileSystem: Hadoop's checksummed
  * `LocalFileSystem` over a raw local file system that sets permissions
  * in process. Without `libhadoop`, `RawLocalFileSystem.setPermission`
  * forks `chmod` (plus a stderr-reader thread) for every directory a
  * write creates and every file it opens: the committer's job and task
  * directories, each part file, its `.crc` and `_SUCCESS`: eight or nine
  * forks for a one-task parquet or CSV write. Here the same nine mode bits
  * go through `Files.setPosixFilePermissions` (POSIX hosts only).
  * Hadoop's own path stays where chmod(2) with nine bits would not do
  * what it does: a sticky bit, which NIO cannot set, and a directory
  * carrying setuid or setgid, which `chmod 0750 dir` keeps and chmod(2)
  * clears (a directory made under a shared-group `g+s` directory
  * inherits setgid, and files later written in it take that group). A
  * missing path throws an `IOException` either way. Registered as
  * `fs.file.impl` by `Sessions`. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      if (permission.getStickyBit || isSetIdDir(mode)) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posix(permission.toShort))
    }
  }

  /** `st_mode` is a directory (type field 0170000 is 0040000) with
    * setuid or setgid (06000) set. */
  private def isSetIdDir(mode: Int): Boolean = (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0

  /** The nine rwx bits of `mode`; `PosixFilePermission` lists them from
    * owner read (0400) down to others execute (0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) out.add(b))
    out
  }
}
