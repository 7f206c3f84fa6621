package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without process forks.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` in
  * `setPermission` (on every file it creates and every directory it
  * makes) and `readlink` in `getFileLinkStatus` (twice per `FileContext`
  * rename, so on every streaming checkpoint commit). This subclass does
  * both in process:
  *   - a mode within 0777 is set with `Files.setPosixFilePermissions`;
  *     a mode with sticky, setuid or setgid bits takes Hadoop's path;
  *   - a path that is not a symlink reports its `getFileStatus` as its
  *     link status, which is what Hadoop returns for it too; a symlink
  *     takes Hadoop's path.
  *
  * `core-site.xml` (in this project's resources, so every Hadoop
  * `Configuration` loads it) registers the checksummed wrappers below as
  * `fs.file.impl` and `fs.AbstractFileSystem.file.impl`; a session's
  * `spark.hadoop.fs.file.impl` still overrides the first. The setting
  * lives there, not on the session, because Hadoop caches one `file:`
  * `FileSystem` per JVM and keys the cache by scheme, not by
  * configuration.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the
  * fork-free raw filesystem (`FileSystem.getLocal` still returns a
  * `LocalFileSystem`). */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side (streaming
  * checkpoints): Hadoop's `LocalFs`, a `ChecksumFs` over `RawLocalFs`,
  * with the fork-free raw filesystem underneath. Like `LocalFs` it binds
  * `file:///` whatever URI it is handed. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  /** Hadoop's `RawLocalFs`, delegating to the fork-free raw filesystem. */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
