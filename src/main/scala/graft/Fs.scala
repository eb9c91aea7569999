package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Shared local-filesystem helpers (scratch cleanup, memo staleness
  * keys) — one guarded implementation instead of per-file copies. */
object Fs {

  /** Recursive delete; missing or unlistable directories tolerated. */
  def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rmRf)
    f.delete()
  }

  /** Cheap content fingerprint (file names + sizes + mtimes) of
    * `dir/<table>.parquet` — keys caches that must go stale when the
    * table is regenerated in place. Unlistable subdirs contribute
    * nothing rather than NPE. */
  def tableFingerprint(dir: String, table: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(dir, s"$table.parquet")
    if (!root.exists()) "absent"
    else walk(root).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(",")
  }
}

/** Hadoop's raw local filesystem without its shell fallbacks. Without
  * `libhadoop`, stock `RawLocalFileSystem` forks `chmod` for every
  * `setPermission` (every `mkdirs` and `create`) and `readlink` for every
  * `getFileLinkStatus` (every `FileContext.rename`): thousands of
  * processes per streaming query, from checkpoint, state-store and sink
  * commits. Here both go through `java.nio`; the two cases nio cannot
  * express (a sticky bit, a real symlink) still take the stock path.
  * Registered for the `file:` scheme by `Engine.configure`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  /** For a non-link the stock answer is `getFileStatus(f)` — and for a
    * `file:`-qualified path it is that even for a link, because the stock
    * code hands `readlink` the literal `file:/…` string. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free
  * raw filesystem. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Mirror of Hadoop's `RawLocalFs` (whose constructors are package-
  * private) delegating to the fork-free raw filesystem. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
  FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
  FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1 // no default port for file:///
  @deprecated("mirrors RawLocalFs", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  // local filesystems validate names differently; leave it to the OS
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` (what `FileContext` — streaming
  * checkpoints and state stores — resolves): the checksummed `LocalFs`
  * shape over the fork-free delegate. Like `LocalFs`, it ignores the URI. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(conf))
