package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two per-file child processes
  * replaced by `java.nio` calls.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` runs `chmod` as a
  * child process for every file and directory it creates (`setPermission`
  * after `create`/`mkdirs`), and `readlink` for every `getFileLinkStatus`,
  * which `FileContext.rename` calls on both ends. A parquet write creates
  * a directory tree, data files and their `.crc` files, so one
  * `Pipeline.runStock` ran about 46 forks. Everything else, `.crc`
  * checksums included, is Hadoop's own code. Only the `file:` scheme is
  * affected; HDFS and the object stores never fork.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits Hadoop's `chmod` would set. The sticky bit has no
    * `java.nio` form, so it and a store without a POSIX view go through
    * Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(permission)): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** Hadoop answers a path that is not a symlink with its `getFileStatus`,
    * after a `readlink` that prints nothing; only a real link needs that
    * `readlink`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  // `PosixFilePermission.values` runs OWNER_READ … OTHERS_EXECUTE, the
  // order of the mode bits 0400 … 0001
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((p.toShort & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}

/** `LocalFileSystem` (checksummed, the `fs.file.impl` default) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` that `FileContext` uses for `file:`, as
  * Hadoop's `RawLocalFs` but over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed [[NioRawLocalFs]], as Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
