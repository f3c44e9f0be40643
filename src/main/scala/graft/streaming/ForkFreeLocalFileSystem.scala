package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its two per-call process forks.
  *
  * Without the native libhadoop, the stock class shells out for two
  * operations the streaming write path makes on every file:
  *  - `setPermission` forks `chmod` — once per `create` and per `mkdirs`
  *    directory;
  *  - `getFileLinkStatus` forks `readlink` — on every FileContext
  *    `rename`/`exists`, i.e. every checkpoint log entry and state-store
  *    delta commit.
  * Each fork costs 1.0–1.4 ms on the calling thread (single-threaded loop,
  * 4-vCPU VM) against 0.004–0.01 ms here; a `stream_sync` benchmark pass
  * made ~1,390 of them. Both overrides keep the stock results:
  *  - the mode is set through `java.nio` (same bits, same symlink
  *    following as `chmod`); a sticky-bit mode or a file store without a
  *    POSIX view falls back to the stock fork;
  *  - a path that is not a symlink gets `getFileStatus`, which is what the
  *    stock class returns for it (it passes the qualified `file:/…` string
  *    to `readlink`, which always answers empty); a real symlink still goes
  *    through the stock code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      // without the sticky bit, FsPermission prints the `rwxr-x---` form
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (`.crc` sidecars)
  * over [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext view — Hadoop's
  * `ChecksumFs` over [[ForkFreeRawLocalFileSystem]], as the stock `LocalFs`
  * is over `RawLocalFileSystem` — so the checkpoint manager keeps its
  * FileContext atomic rename and its `.crc` sidecars.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Stock `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]]: the same delegate, the same overrides.
  */
private[streaming] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object ForkFreeLocalFileSystem {

  /** The Hadoop keys that route `file://` through the fork-free classes
    * for a session whose file I/O takes its Hadoop conf from the SQL conf.
    * `disable.cache` is part of it: Hadoop caches one `file://` FileSystem
    * per JVM (keyed by scheme and user, not by conf), so once the stock
    * instance is cached the impl key alone is never read.
    */
  val confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
