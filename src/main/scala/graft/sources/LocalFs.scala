package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process per call. Without
  * libhadoop's native IO, `RawLocalFileSystem` starts a `chmod` process
  * for every file or directory it creates and a `readlink` process for
  * both sides of every rename: ~100 per drain, most of them one after
  * another on the checkpoint and sink-log commit path. This one makes the
  * same calls in-process through java.nio; what java.nio cannot express
  * (a sticky bit, a filesystem without POSIX permissions, a real symlink)
  * still takes Hadoop's own path. [[graft.Sessions.confs]] registers the
  * two wrappers below for `file:`; `LocalFsSpec` holds them to the stock
  * classes' results. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  // Hadoop's own (deprecated, the default) status path hands
  // `new File(f.toString)` to `readlink` and, unless that names a symlink,
  // returns `getFileStatus(f)`. A qualified `file:` path names a relative
  // file that never exists, so it is never a link there either
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem`, as Hadoop's
  * `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, which `FileContext` (and so
  * Spark's checkpoint file manager) renames through: Hadoop's `LocalFs`
  * over [[NioRawLocalFileSystem]]. Like `LocalFs`, it ignores the URI it
  * is given; the local filesystem is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they take; the OS decides
  override def isValidName(src: String): Boolean = true
}
