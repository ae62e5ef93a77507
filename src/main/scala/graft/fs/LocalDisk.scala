package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem graft binds in the sessions it builds.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks a process
  * for two calls on every write path:
  *   - `setPermission` runs `chmod`, and every file create and mkdir calls
  *     it (parquet part files, `.crc` files, committer dirs, store metadata);
  *   - `getFileLinkStatus` runs `readlink`, and `FileContext.rename` calls
  *     it on source and destination (stream checkpoint logs, metadata
  *     objects).
  * Each is a process start where one syscall does. The raw FS here makes
  * the same two calls through `java.nio`; everything else, checksums
  * included, is Hadoop's.
  */
object LocalDisk {

  /** Spark confs that bind `file:` to these classes, for both the
    * `FileSystem` and the `FileContext` API. Hadoop caches a `FileSystem`
    * per scheme and user, not per conf, so they work only when set before
    * the JVM first creates a `file:` FS: at session build time.
    */
  val sparkConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  private val bits = PosixFilePermission.values() // owner rwx, group rwx, others rwx

  /** The POSIX permission set of the low 9 bits of `mode`. */
  private[fs] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach { i => if ((mode & (1 << (8 - i))) != 0) s.add(bits(i)) }
    s
  }
}

/** `RawLocalFileSystem` without the forks of [[LocalDisk]]. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 permission bits set with `chmod(2)` through `java.nio`. A mode
    * with the sticky bit takes Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalDisk.posix(mode))
  }

  /** A path that is not a symlink has the link status of its file status,
    * which is what Hadoop returns after its `readlink` finds no link; only
    * a symlink takes Hadoop's path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's checksummed `LocalFileSystem` over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `FileContext`'s raw local FS over [[GraftRawLocalFileSystem]]: what
  * Hadoop's `RawLocalFs` is over `RawLocalFileSystem`.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s checksummed local FS (Hadoop's `LocalFs`) over
  * [[GraftRawLocalFs]]. Like Hadoop's, it is rooted at `file:///` whatever
  * `uri` names; `FileContext` builds it by reflection on this constructor.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
