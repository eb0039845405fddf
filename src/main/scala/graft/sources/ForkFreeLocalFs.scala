package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its two forking calls done in
  * the JVM. Without the native `libhadoop`, the stock class runs a
  * `chmod` process for every `setPermission` (each create and mkdir
  * with a permission) and a `readlink` process for every
  * `getFileLinkStatus` (which `FileContext.rename` calls for source,
  * target and their `.crc` twins). A sticky mode and a file system
  * without POSIX attributes keep the stock path, as does a path that
  * really is a symlink. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {
  // without the sticky bit, `FsPermission.toString` is the nine-letter
  // `rwxr-x---` form that `PosixFilePermissions.fromString` reads
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  // the stock code hands `new File(f.toString)` to `readlink` and, when
  // that prints nothing, returns `getFileStatus(f)`
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file:` FileContext of a graft session
  * (`fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs` — checksums
  * over the raw local file system — with `ForkFreeLocalFileSystem`
  * underneath. The overrides are those of Hadoop's `RawLocalFs`, whose
  * constructors are package-private. The one-argument `open`, which
  * Spark's checkpoint file manager calls, is checksummed like the
  * two-argument one: Hadoop's `FilterFs` would hand it to the raw file
  * system, past the checker. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(uri, new ForkFreeLocalFileSystem, conf, "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}
