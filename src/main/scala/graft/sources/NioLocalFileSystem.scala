package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every engine session: Hadoop's checksummed
  * [[LocalFileSystem]] over a raw filesystem that sets permissions
  * without starting a process.
  *
  * Why: without the native libhadoop, `RawLocalFileSystem.setPermission`
  * forks `chmod`, and the raw filesystem calls it on every file create
  * and every `mkdir` (with the umask applied), so each parquet part file
  * costs two forks, one for the data and one for its `.crc`. Registered
  * by [[graft.GraftSession.SessionConf]]; see [[graft.GraftSession]] for
  * the fork counts this removes. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[RawLocalFileSystem]] whose `setPermission` sets plain rwx bits with
  * one `chmod` system call (`Files.setPosixFilePermissions`). A mode with
  * any other bit (sticky) and a filesystem without POSIX attributes take
  * the stock path, so the resulting permissions are the stock ones in
  * every case. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(mode))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
  }
}

object NioRawLocalFileSystem {
  // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE, i.e.
  // mode bits 8 down to 0
  private val bits = PosixFilePermission.values().toSeq.zipWithIndex
    .map { case (perm, i) => (1 << (8 - i)) -> perm }

  /** The permission set of the rwx bits of `mode`. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (bit, perm) => if ((mode & bit) != 0) set.add(perm) }
    set
  }
}
