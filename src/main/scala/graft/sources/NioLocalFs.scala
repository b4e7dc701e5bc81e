package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `LocalFs` (the `FileContext` binding of the `file` scheme:
  * `ChecksumFs` over a raw local filesystem, so `.crc` files stay) with
  * two calls that do not fork. Without libhadoop, Hadoop's
  * `RawLocalFileSystem` shells out to `chmod` for every file and
  * directory it creates with a permission, and to `readlink` for every
  * `getFileLinkStatus` — two per rename, and every atomic checkpoint
  * write ends in a rename. A streaming drain's offset, commit and
  * metadata logs and its RocksDB changelog files go through
  * `FileContext`, at about 2 ms per fork (SCALE.md, 2026-10-20).
  * Selected per session with `fs.AbstractFileSystem.file.impl`, which
  * Hadoop instantiates through this (URI, Configuration) constructor for
  * every `FileContext`: the binding never outlives the conf that names
  * it. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.RawFs(conf))

object NioLocalFs {
  /** The conf that binds the `file` scheme's `FileContext` to this class. */
  val conf: (String, String) =
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName

  /** Hadoop's `RawLocalFs` (whose constructors are package-private) over
    * [[NioRawLocalFileSystem]]. */
  private class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `RawLocalFileSystem` with the two forking calls done through
    * `java.nio.file`. */
  private[sources] class NioRawLocalFileSystem extends RawLocalFileSystem {
    /** rwx bits through `Files.setPosixFilePermissions`; sticky and other
      * bits beyond 0777 keep Hadoop's path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
    }

    /** A plain file or directory's link status is its status; only a real
      * symlink takes Hadoop's `readlink` path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: ordinal i is mode bit 8 - i
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((bits & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }
}
