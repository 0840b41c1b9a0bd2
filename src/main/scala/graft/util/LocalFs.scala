package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem, except that `setPermission` is one
  * `Files.setPosixFilePermissions` call. Without native IO (Spark ships no
  * `libhadoop`), Hadoop forks a `chmod` process for every file, `.crc`
  * sidecar and directory it creates with a mode; the syscall sets the same
  * bits. The POSIX view holds only the rwx bits, so a sticky bit, or a
  * store without that view, still goes through Hadoop's own chmod. */
class RawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) chmodFallback(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
    catch { case _: UnsupportedOperationException => chmodFallback(p, permission) }

  /** Hadoop's own `setPermission`: a forked `chmod` without native IO. */
  protected def chmodFallback(p: Path, permission: FsPermission): Unit =
    super.setPermission(p, permission)
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] over
  * [[RawLocalFs]]: `fs.file.impl` of every session ([[graft.GraftSession.tune]]). */
class LocalFs extends LocalFileSystem(new RawLocalFs)

/** The checksummed `file:` FileContext filesystem over [[RawLocalFs]]:
  * `fs.AbstractFileSystem.file.impl` of every session, which Spark's
  * streaming checkpoint logs write through. */
class LocalAbstractFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalAbstractFs(uri, conf))

/** Hadoop's `local.RawLocalFs` (whose constructors are package-private)
  * over [[RawLocalFs]]. */
class RawLocalAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFs, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept: the OS decides
  override def isValidName(src: String): Boolean = true
}
