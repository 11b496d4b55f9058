package graft

import java.io.{File, OutputStream}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A `file:` filesystem that records every directory it makes, file it
  * creates and rename it runs, driver- and task-side alike (a local
  * master runs tasks in the test JVM). Bound per test with `fs.file.impl`
  * and `fs.file.impl.disable.cache`.
  */
class RecordingLocalFileSystem extends LocalFileSystem(new RecordingLocalFileSystem.Raw)

object RecordingLocalFileSystem {
  /** `mkdir <path>`, `create <path>` or `rename <from> <to>`, in order. */
  val events = new ConcurrentLinkedQueue[String]

  final class Raw extends RawLocalFileSystem {
    override protected def mkOneDirWithMode(p: Path, p2f: File, permission: FsPermission): Boolean = {
      events.add(s"mkdir ${p.toUri.getPath}")
      super.mkOneDirWithMode(p, p2f, permission)
    }

    override protected def createOutputStreamWithMode(f: Path, append: Boolean,
        permission: FsPermission): OutputStream = {
      events.add(s"create ${f.toUri.getPath}")
      super.createOutputStreamWithMode(f, append, permission)
    }

    override def rename(src: Path, dst: Path): Boolean = {
      events.add(s"rename ${src.toUri.getPath} ${dst.toUri.getPath}")
      super.rename(src, dst)
    }
  }
}
