package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without process forks.
  *
  * Without libhadoop (the usual case for a pip/tarball Spark), stock
  * [[RawLocalFileSystem]] forks `chmod` on every file it creates (each
  * parquet part, its `.crc`, `_SUCCESS`, checkpoint temp files) and
  * forks `readlink` on every `getFileLinkStatus`, which each
  * `FileContext` rename calls 2–4 times (streaming offsets and commit
  * logs). This subclass does both through `java.nio.file`, and keeps
  * Hadoop's own code where NIO cannot express the same thing: a sticky
  * bit, and real symlinks. Results are the same: same POSIX modes, same
  * statuses, same exceptions for missing paths.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  /** Not a symlink (or missing): exactly what Hadoop returns once
    * `readlink` comes back empty, i.e. `getFileStatus`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: checksummed [[LocalFileSystem]] over the fork-free raw one. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext`, and so
  * Structured Streaming's checkpoint manager, uses): Hadoop's `LocalFs`
  * over the fork-free raw filesystem. */
class GraftLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (package-private constructors) over
  * [[GraftRawLocalFileSystem]]. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
  FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
  FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
