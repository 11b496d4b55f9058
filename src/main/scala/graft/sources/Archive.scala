package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import graft.pipeline.{LedgerEntry, TxHistoryEntry, TxResultEntry}
import graft.xdr.Stellar

/** History-archive source: the reference's S3 layout and offset model
  * (SURVEY.md §2.1 S1-S5) on top of Spark's binaryFile source.
  *
  * Layout: `<root>/<cat>/XX/YY/ZZ/<cat>-<hexseq>.xdr.gz` where
  * `hexseq` is the 8-hex-digit checkpoint sequence (stride 64) and
  * XX/YY/ZZ are its first three nibble pairs (python/main.py:76-105).
  *
  * Scale: gunzip and decode run on the executors, never on the driver;
  * sequence math is driver-side planning only. The category readers
  * below read one input split per archive file; an ingest runner reads
  * a checkpoint's whole triple in one task instead
  * ([[graft.Engine.extract]]), since its three files are small and
  * joined to each other.
  */
object Archive {

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(b))
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

  /** Checkpoint `seq`'s three files: transactions, ledger, results. */
  def triple(root: String, seq: Long): Seq[String] =
    Seq("transactions", "ledger", "results").map(pathFor(root, _, seq))

  /** The category of an archive file path: its name up to the first `-`
    * ("transactions", "ledger" or "results").
    */
  def category(path: String): String =
    path.substring(path.lastIndexOf('/') + 1).takeWhile(_ != '-')

  /** A checkpoint is readable once all three of its files exist; every
    * ingest runner stops at the first checkpoint that is not.
    */
  def available(fs: FileSystem, root: String, seq: Long): Boolean =
    triple(root, seq).forall(p => fs.exists(new HPath(p)))

  private def binary(spark: SparkSession, paths: Seq[String]): Dataset[Array[Byte]] = {
    implicit val enc = Encoders.BINARY
    spark.read.format("binaryFile").load(paths: _*)
      .select(col("content")).as[Array[Byte]]
  }

  /** Decoded `ledger-*` category over the given archive files. */
  def ledgers(spark: SparkSession, paths: Seq[String]): Dataset[LedgerEntry] = {
    implicit val enc = Encoders.product[LedgerEntry]
    binary(spark, paths).mapPartitions(_.flatMap(b => Stellar.decodeLedgerEntries(gunzip(b))))
  }

  /** Decoded `transactions-*` category (hashes with the network id). */
  def transactions(spark: SparkSession, paths: Seq[String], passphrase: String): Dataset[TxHistoryEntry] = {
    implicit val enc = Encoders.product[TxHistoryEntry]
    binary(spark, paths).mapPartitions(_.flatMap(b => Stellar.decodeTxEntries(gunzip(b), passphrase)))
  }

  /** Decoded `results-*` category. */
  def results(spark: SparkSession, paths: Seq[String]): Dataset[TxResultEntry] = {
    implicit val enc = Encoders.product[TxResultEntry]
    binary(spark, paths).mapPartitions(_.flatMap(b => Stellar.decodeResultEntries(gunzip(b))))
  }
}
