package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per file.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` on every file
  * create and mkdir, and `readlink` on every `getFileLinkStatus`, which
  * `FileContext.rename` calls twice. Every checkpoint log, state delta,
  * parquet part and index file pays those forks. Here the permission bits
  * are set through `java.nio` and a path that is not a symlink gets its
  * plain file status; a sticky bit, a non-POSIX store and a real symlink
  * still take Hadoop's own path. Files, modes and statuses are the same.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // PosixFilePermission lists owner rwx, group rwx, others rwx: bits 8 to 0
      val bits = new java.util.HashSet[PosixFilePermission]()
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object LocalFs {

  /** `fs.file.impl`: the FileSystem API, with Hadoop's `.crc` checksums. */
  class FileSystemImpl extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: the FileContext API, with Hadoop's
    * `.crc` checksums; what Hadoop's own `local.LocalFs` is over [[LocalFs]].
    */
  class FileContextImpl(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(uri, conf))

  /** Hadoop's `local.RawLocalFs` (its constructors are package-private) over
    * [[LocalFs]]: the same server defaults, which fix the `.crc` chunk size,
    * and the same permissive path-name rule.
    */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
