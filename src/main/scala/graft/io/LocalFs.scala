package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without child processes. Without native
  * Hadoop IO, stock `RawLocalFileSystem` starts `chmod` for every
  * directory or file it creates and `readlink` for every link status
  * (FileContext's rename asks four per file), a few ms each. This one
  * does both through NIO and is stock Hadoop otherwise: same files, same
  * `.crc` sidecars, same mode bits. `core-site.xml` binds the two
  * wrappers below to the `file` scheme. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** The mode `chmod` leaves for the four-digit octal mode stock Hadoop
    * passes it: the sticky bit is set, a directory keeps its setuid and
    * setgid bits, a file loses them. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView) super.setPermission(p, permission)
    else {
      val f = pathToFile(p).toPath
      val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val kept = if ((mode & FileType) == Directory) mode & SetIds else 0
      Files.setAttribute(f, "unix:mode", Int.box(kept | (permission.toShort & Bits)))
    }

  /** Stock Hadoop runs `readlink` first; only a real symlink needs it. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object NioRawLocalFileSystem {
  val unixView: Boolean = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // st_mode masks (octal 0170000, 0040000, 06000 and 01777)
  val FileType = 0xF000
  val Directory = 0x4000
  val SetIds = 0xC00
  val Bits = 0x3FF
}

/** For `FileSystem` users: the parquet writers, the output committer. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  /** No rename onto an existing file, as HDFS. Unbound, `file:` resolves
    * through the service loader to the hive-exec jar Spark ships, whose
    * `ProxyLocalFileSystem` refuses it this way; the binding keeps that. */
  override def rename(src: Path, dst: Path): Boolean = {
    val target = pathToFile(dst)
    !(target.exists && !target.isDirectory) && super.rename(src, dst)
  }
}

/** For `FileContext` users: Spark's offset and commit logs, checkpoint
  * metadata, state-store files. Stock `LocalFs` over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Stock `RawLocalFs`, whose constructor cannot take another file system:
  * the same delegation and the same four overrides. */
private class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
