package graft.sources

import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-file process forks.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod`
  * for every file and directory it creates, and `getFileLinkStatus`
  * runs `readlink` on `Path.toString`. FileContext's rename calls the
  * latter on source and destination, for each file and its `.crc`
  * sidecar, so every offset/commit log entry, metadata file and
  * state-store delta of a stream costs several forks of about 4 ms
  * each; on a qualified path the string is `file:/…`, which readlink
  * cannot resolve, so it always answers nothing.
  *
  * Here a plain rwx mode is set through java.nio, and a path that is
  * not a symlink gets its `getFileStatus`, which is what Hadoop returns
  * for it. The sticky bit, real symlinks, a file store without POSIX
  * attributes and a missing path go to Hadoop's own code. Bytes, file
  * names, `.crc` sidecars and the rename on close are Hadoop's. */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    val path = pathToFile(p).toPath
    val done = (mode & ~0x1ff) == 0 && !Files.isSymbolicLink(path) &&
      (try { Files.setPosixFilePermissions(path, LocalFs.rwx(mode)); true }
       catch { case _: UnsupportedOperationException | _: NoSuchFileException => false })
    if (!done) super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {
  /** `PosixFilePermission` lists OWNER_READ … OTHERS_EXECUTE, mode bit
    * 8 down to bit 0. */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    (0 to 8).foreach(i => if ((mode >> i & 1) == 1) set.add(PosixFilePermission.values()(8 - i)))
    set
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[LocalFs]]. */
  class Checksummed extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`, what FileContext (Spark's
    * checkpoint file manager) opens for `file:`: Hadoop's
    * `fs.local.LocalFs`, a ChecksumFs over `fs.local.RawLocalFs`, with
    * [[LocalFs]] as the delegate. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(uri, conf))

  /** `fs.local.RawLocalFs` (whose constructors are package-private),
    * override for override. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  val ContextKey = "fs.AbstractFileSystem.file.impl"

  /** The Hadoop keys that install it. `GraftSession` sets both (with
    * the `spark.hadoop.` prefix); `SparkEntry.streamSession` sets
    * [[ContextKey]] on its session, since FileContext instances are not
    * cached and a stream checkpoints through FileContext even when
    * another builder made the SparkContext. */
  val conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[Checksummed].getName,
    ContextKey -> classOf[Context].getName)
}
