package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without process forks.
  *
  * Without the native `libhadoop`, Hadoop 3.4's `RawLocalFileSystem`
  * forks a `chmod` for every file, `.crc` file and directory a write
  * creates, and a `readlink` on every `getFileLinkStatus` — which every
  * `FileContext` call of a streaming checkpoint or state store makes,
  * on the string of a `file:` URI that never exists as a local path.
  * One `dedup_cold` pass forked about 156 processes (sq2's checkpoint
  * and state files), one serde round trip 128.
  *
  * Two overrides remove them and answer exactly as the stock class:
  *  - `setPermission` sets the nine rwx bits through NIO; only a mode
  *    with another bit (setuid, setgid, sticky) still goes to the stock
  *    `chmod`.
  *  - `getFileLinkStatus` is `getFileStatus` when the literal path
  *    string is not a symbolic link — the stock `readlink` of such a
  *    path prints nothing and the stock answer is that same
  *    `getFileStatus`. A real link at that path goes to the stock code.
  *
  * Checksums (`.crc` files) are kept: both wrappers below are the stock
  * checksumming ones. [[LocalFs.conf]] registers them for the
  * `FileSystem` and the `FileContext` (`AbstractFileSystem`) paths. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~LocalFs.RwxBits) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the stock checksumming `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `FileContext` twin of Hadoop's `RawLocalFs`: the same delegate
  * over [[GraftRawLocalFileSystem]], with `RawLocalFs`'s overrides
  * (its deprecated no-argument `getServerDefaults` aside, which neither
  * `ChecksumFs` nor `FileContext` calls). */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the stock checksumming
  * `ChecksumFs` over [[GraftRawLocalFs]] — the path streaming
  * checkpoints and state stores take. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

object LocalFs {

  private[sources] val RwxBits = 0x1ff

  /** The session keys that route `file:` through the classes above. */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  private val bits = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)

  /** The POSIX permission set of a mode's nine rwx bits. */
  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (bit, p) => if ((mode & bit) != 0) set.add(p) }
    set
  }
}
