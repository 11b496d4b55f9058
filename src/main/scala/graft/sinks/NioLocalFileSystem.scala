package graft.sinks

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem over [[NioLocalFileSystem.Raw]].
  * [[graft.Engine.session]] binds it as `fs.file.impl`.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` is one `chmod(2)` through
    * `java.nio`. Without libhadoop, the stock one forks a `chmod` process
    * on every create and mkdirs. The nine permission bits are the same as
    * stock; a sticky bit, which NIO cannot express, and a file with no
    * POSIX view go to the stock call.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (permission.getStickyBit || view == null) super.setPermission(p, permission)
      // rebuilt from the mode bits stock chmod is given: a FsCreateModes
      // prints its masked and unmasked modes, not `rwxr-x---`
      else view.setPermissions(
        PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))
    }
  }
}

/** The `FileContext` twin of [[NioLocalFileSystem]]: Hadoop's stock
  * `LocalFs` (a checksummed `RawLocalFs`) over [[NioLocalFileSystem.Raw]].
  * [[graft.Engine.session]] binds it as `fs.AbstractFileSystem.file.impl`,
  * which Spark's streaming checkpoint log resolves. Like the stock class
  * it serves `file:///` whatever URI it is built for.
  */
final class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {

  /** Stock `RawLocalFs`, whose constructors are package-private, over
    * [[NioLocalFileSystem.Raw]].
    */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioLocalFileSystem.Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in the overridden method", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
