package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.{EnumSet => JEnumSet, Set => JSet}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local filesystem without process spawns.
 *
 * Without the `libhadoop` native library, [[RawLocalFileSystem]] runs
 * `chmod` for every file create and mkdir and `readlink` for every
 * `getFileLinkStatus`; a `FileContext` rename checks the data file and
 * its `.crc` twice each. Every offset/commit log entry, state-store
 * delta and parquet commit therefore forked about five processes on
 * the micro-batch's critical path. This subclass does both through
 * `java.nio` and keeps Hadoop's results:
 *
 *  - `setPermission` is `Files.setPosixFilePermissions` (a plain
 *    `chmod(2)`, following links as `chmod(1)` does). A mode with bits
 *    above 0777 (sticky) or a filesystem with no POSIX view takes the
 *    inherited shell path.
 *  - `getFileLinkStatus` of a path that is not a symbolic link is
 *    `getFileStatus`, exactly what Hadoop builds once `readlink` prints
 *    nothing; links (and dangling links) take the inherited path.
 *
 * Checksums are kept: the wrappers below are Hadoop's own
 * [[LocalFileSystem]] and [[ChecksumFs]], which still write `.crc`
 * sidecars and verify them wherever Hadoop's local filesystem does,
 * and [[ForkFreeLocalFs]] also verifies the one-argument `open`.
 */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~ForkFreeRawLocalFileSystem.RwxBits) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeRawLocalFileSystem.posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val RwxBits = 0x1ff // 0777

  /** The nine rwx bits of `mode` as a set. `PosixFilePermission`'s
    * declaration order is OWNER_READ (0400) down to OTHERS_EXECUTE (01). */
  private def posix(mode: Int): JSet[PosixFilePermission] = {
    val set = JEnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed [[LocalFileSystem]] over the
  * fork-free raw filesystem (what `FileSystem.get(file:///)` returns). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `AbstractFileSystem` twin of Hadoop's `RawLocalFs` (whose
  * constructors are package-private) over the fork-free raw filesystem. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's [[ChecksumFs]] over
  * [[ForkFreeRawLocalFs]], as `LocalFs` is over `RawLocalFs`. This is
  * what `FileContext` (streaming checkpoints, state stores) uses.
  *
  * `FileContext.open(path)`, which Spark's checkpoint file manager
  * calls, reaches the one-argument `open`; Hadoop's `FilterFs` sends
  * that straight to the raw filesystem, skipping the checksum. Here it
  * takes the verifying overload, so a corrupt log entry fails its read. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
