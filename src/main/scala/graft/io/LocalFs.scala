package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without child processes.
  *
  * Without the native libhadoop, `RawLocalFileSystem` runs `chmod` for
  * every `setPermission` (each create and mkdir) and `readlink` for every
  * `getFileLinkStatus` (each `FileContext.rename`). Spark's checkpoint
  * log, state store and parquet writer do both several times per
  * micro-batch, so each batch starts dozens of processes. This class
  * makes the same calls through `java.nio.file`:
  *   - `setPermission` sets the same mode bits; a sticky bit (which NIO
  *     cannot set) or a non-POSIX filesystem falls back to `chmod`;
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus`, which is what the `readlink` path returns for
  *     it too; symlinks still go through `super`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      // a plain FsPermission of the mode: subclasses (create modes)
      // print more than the nine rwx symbols
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(
          new FsPermission(permission.toShort).toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `fs.file.impl`: the checksummed local `FileSystem` over
  * [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` face, which
  * Spark's checkpoint and state-store file managers use. Hadoop's
  * `LocalFs` with [[NioRawLocalFileSystem]] underneath.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with its three
  * overrides.
  */
private[io] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
