package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** History-archive source: the reference's S3 layout and offset model
  * (SURVEY.md §2.1 S1-S5) over Hadoop FileSystem paths.
  *
  * Layout: `<root>/<cat>/XX/YY/ZZ/<cat>-<hexseq>.xdr.gz` where
  * `hexseq` is the 8-hex-digit checkpoint sequence (stride 64) and
  * XX/YY/ZZ are its first three nibble pairs (python/main.py:76-105).
  *
  * Scale: gunzip and decode run on the executors, never on the driver;
  * sequence math is driver-side planning only. Extraction reads a
  * checkpoint's whole triple in one task ([[graft.Engine.extract]]),
  * since its three files are small and joined to each other: the task
  * opens them through [[readGunzipped]], as the live store's document
  * source ([[graft.streaming.LivePipeline.fromArchive]]) does for a
  * batch's `transactions` files.
  */
object Archive {

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  def gunzip(b: Array[Byte]): Array[Byte] = gunzip(new ByteArrayInputStream(b))

  private def gunzip(raw: InputStream): Array[Byte] = {
    val in = new GZIPInputStream(raw, 65536)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** 8-hex-digit file sequence (python/main.py:222-227). */
  def seqString(seq: Long): String = f"$seq%08x"

  /** Checkpoint sequences end at multiples of 64 minus 1 (validated
    * `(seq+1) % 64 == 0`, python/build_database.py:24-27).
    */
  def isCheckpoint(seq: Long): Boolean = (seq + 1) % 64 == 0

  /** Next archive file = current + 64 (python/main.py:205-228). */
  def nextSeq(seq: Long): Long = seq + 64

  /** Nibble-pair directory fan-out (python/main.py:82-86). */
  def pathFor(root: String, category: String, seq: Long): String = {
    val s = seqString(seq)
    s"$root/$category/${s.substring(0, 2)}/${s.substring(2, 4)}/${s.substring(4, 6)}/$category-$s.xdr.gz"
  }

  /** A checkpoint's file categories, in the order of [[triple]]. */
  val Categories: Seq[String] = Seq("transactions", "ledger", "results")

  /** Checkpoint `seq`'s three files: transactions, ledger, results. */
  def triple(root: String, seq: Long): Seq[String] = Categories.map(pathFor(root, _, seq))

  /** The category of an archive file path: its name up to the first `-`
    * ("transactions", "ledger" or "results").
    */
  def category(path: String): String = fileName(path).takeWhile(_ != '-')

  /** The hex sequence an archive file's name carries after its category
    * (`ledger-0000003f.xdr.gz` → `0000003f`).
    */
  def hexSeq(path: String): String =
    fileName(path).dropWhile(_ != '-').drop(1).takeWhile(_ != '.')

  private def fileName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** The gunzipped bytes of the archive file at `path`, opened through
    * `conf`: the task-side read of [[graft.Engine.extract]] and
    * [[graft.streaming.LivePipeline.fromArchive]].
    */
  def readGunzipped(path: String, conf: Configuration): Array[Byte] = {
    val p = new HPath(path)
    val in = p.getFileSystem(conf).open(p)
    try gunzip(in) finally in.close()
  }

  /** A checkpoint is readable once all three of its files exist; every
    * ingest runner stops at the first checkpoint that is not.
    */
  def available(fs: FileSystem, root: String, seq: Long): Boolean =
    triple(root, seq).forall(p => fs.exists(new HPath(p)))
}
