package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem without forked shells. Without libhadoop,
  * Hadoop's [[RawLocalFileSystem]] runs `chmod` for every file and
  * directory it creates with a permission, and `readlink` for every
  * link-status probe (FileContext's rename-over of each checkpoint
  * offset/commit log entry takes four). A fork costs milliseconds, so
  * these were most of a relay trigger and a per-file cost of every
  * parquet write. Both calls have a `java.nio` equivalent:
  *
  *  - `setPermission` uses `Files.setPosixFilePermissions`. Permissions
  *    nio cannot express (the sticky bit) and non-POSIX file stores
  *    still go through the parent.
  *  - `getFileLinkStatus` answers `getFileStatus` unless the path IS a
  *    symlink — exactly the parent's answer, whose readlink found no
  *    link. Real symlinks still go through the parent.
  *
  * Bound to `file:` for both Hadoop APIs by `core-site.xml` on the
  * classpath: [[NioLocalFileSystem]] for `fs.file.impl` (FileSystem) and
  * [[NioLocalFs]] for `fs.AbstractFileSystem.file.impl` (FileContext,
  * which streaming checkpoints and state stores use).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(bits))
      catch {
        case e: NoSuchFileException =>
          val fnf = new FileNotFoundException(s"File $p does not exist")
          fnf.initCause(e)
          throw fnf
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** rwxrwxrwx bits → nio set; `PosixFilePermission.values` runs from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001). */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (0x100 >> i)) != 0) s.add(perm)
    }
    s
  }
}

/** `fs.file.impl`: the checksummed local FileSystem over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksums
  * over the raw local AbstractFileSystem) over [[NioRawLocalFs]]. Like
  * `LocalFs`, it ignores the URI it is constructed with. */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
