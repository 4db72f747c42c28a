package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its child processes. Without
  * native libhadoop, the stock class runs `chmod` for every permission
  * it sets (reached from `mkdirs` and `create`) and `readlink` for every
  * link-status lookup (FileContext's rename makes several); see
  * [[Confs.localFileSystem]] for the measured cost. Both calls here go
  * through NIO instead and fall back to the stock code for the cases NIO
  * cannot express: a mode beyond the nine rwx bits, a file store with no
  * POSIX view, and real symlinks. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort // FsCreateModes' toString is not a mode string
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 8 .. 0
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The FileSystem-API `file` scheme (`fs.file.impl`): checksummed, like
  * Hadoop's own `LocalFileSystem`, over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** FileContext's raw view of [[GraftRawLocalFileSystem]]; restates
  * Hadoop's `RawLocalFs`, whose constructor is package-private and
  * hard-wires the stock file system. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // as RawLocalFs: the OS, not Hadoop, decides what a valid local name is
  override def isValidName(src: String): Boolean = true
}

/** The FileContext-API `file` scheme (`fs.AbstractFileSystem.file.impl`),
  * which Spark's checkpoint and state-store writes use: checksummed, like
  * Hadoop's own `LocalFs`, over [[GraftRawLocalFs]]. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
