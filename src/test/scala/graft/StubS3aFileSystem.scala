package graft

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only stand-in for the `s3a://` scheme (the sandbox has no
  * network and no hadoop-aws bundle): delegates every operation to a
  * [[RawLocalFileSystem]], mapping `s3a://<bucket>/<key>` to the local
  * path `/<key>` on the way in and re-qualifying returned paths with
  * the bucket authority on the way out. Statuses are rebuilt eagerly
  * (length/permission/times materialized while the path is still
  * file-schemed) because the raw local status loads permissions lazily
  * via `java.io.File(uri)`, which rejects non-file schemes.
  *
  * Registered per-test via `fs.s3a.impl`, this drives the collector's
  * REAL code paths — `Deploy.archiveRoot`'s bare-bucket → `s3a://`
  * mapping, `Archive.pathFor` key fan-out, `ArchiveTail`'s existence
  * probes, the extract tasks' triple reads, the sink's FS-agnostic side
  * files, and the live stores' (`LivePipeline`, `LiveIndex`,
  * `LiveVectors`) listings, markers, renames and tombstone shelf — all
  * resolved through `Engine.fileSystem` — through an s3a-schemed URI
  * end to end. Production swaps in the real `S3AFileSystem` purely by
  * classpath + credentials (MIGRATION.md's config recipe); none of the
  * code under test changes.
  */
class StubS3aFileSystem extends FileSystem {
  private val local = new RawLocalFileSystem
  private var stubUri: URI = URI.create("s3a:///")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    stubUri = URI.create(s"s3a://${name.getAuthority}")
    local.initialize(URI.create("file:///"), conf)
  }

  override def getScheme: String = "s3a"
  override def getUri: URI = stubUri

  private def toLocal(f: Path): Path = new Path("file", null, f.toUri.getPath)
  private def fromLocal(f: Path): Path =
    new Path("s3a", stubUri.getAuthority, f.toUri.getPath)
  private def st(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
      s.getGroup, fromLocal(s.getPath))

  override def open(f: Path, bufferSize: Int) = local.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable) =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  override def append(f: Path, bufferSize: Int, progress: Progressable) =
    local.append(toLocal(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean =
    local.rename(toLocal(src), toLocal(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(st)
  override def setWorkingDirectory(dir: Path): Unit =
    local.setWorkingDirectory(toLocal(dir))
  override def getWorkingDirectory: Path = fromLocal(local.getWorkingDirectory)
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus = st(local.getFileStatus(toLocal(f)))
}
