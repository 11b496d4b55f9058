package graft

import java.nio.file.{Files, Path}

/** Layout snapshots for the file sink's specs. */
object FileTree {

  /** A random UUID, as in Spark's part-file names. */
  val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** Relative path → (bytes, `unix:mode`) of every file and directory
    * under `root`, the root included; the random part-file UUIDs are
    * masked out of the names.
    */
  def tree(root: Path): Map[String, (Seq[Byte], Int)] = {
    val uuid = Uuid.r
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.map { p =>
        uuid.replaceAllIn(root.relativize(p).toString, "<uuid>") ->
          ((if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq,
            Files.getAttribute(p, "unix:mode").asInstanceOf[Int]))
      }.toMap
    } finally walk.close()
  }
}
