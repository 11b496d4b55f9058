package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
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
