package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkConf
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import graft.pipeline.{Extract, ExtractConfig, Schemas}
import graft.sinks.CheckpointSink
import graft.sources.Archive
import graft.streaming.ArchiveTail
import graft.xdr.Stellar

/** User-facing facade: everything a user of the reference service runs
  * today, as one object (SURVEY.md §3 entry points).
  *
  * {{{
  *   val spark = Engine.session("local[8]")
  *   // Q0: collect — backfill everything available, then tail
  *   Engine.collect(spark, root, passphrase, ExtractConfig(issuer), sink)
  *   // Q1/Q2: serve from the collected layout
  *   graft.pipeline.Serve.paymentsBySource(collected, source, limit = 20)
  *   graft.pipeline.Serve.txByHash(collected, hash)
  * }}}
  */
object Engine {

  /** The one session builder: this engine's functions and optimizer
    * rules plus the settings every main, gate and spec runs under.
    *
    * Each setting, `master` and `shufflePartitions` included, is a
    * default: a key the JVM's SparkConf already carries (spark-submit's
    * `--master`/`--conf`, a `-Dspark.*` property) keeps its preset value.
    * A rule is switched off per session with Spark's own
    * `spark.sql.optimizer.excludedRules=<rule class>`.
    *
    * `spark.hadoop.fs.file.impl` defaults to [[graft.sinks.NioLocalFileSystem]]
    * and `spark.hadoop.fs.AbstractFileSystem.file.impl` to its
    * `FileContext` twin [[graft.sinks.NioLocalFs]]: without libhadoop the
    * stock classes fork a `chmod` process per local create and mkdirs,
    * 13 per file-sink checkpoint commit and 9 per streaming query's
    * checkpoint log. The bindings reach every `file:` FileSystem and
    * FileContext that Hadoop builds from the session's conf. Hadoop
    * caches FileSystems by scheme and user, not by conf, so a `file:`
    * FileSystem the JVM built before the session keeps its class for as
    * long as it stays cached.
    */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val conf = new SparkConf()
    Seq(
      "spark.master" -> master,
      "spark.app.name" -> "historycollectorspark",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      // the streaming stores fold into 64 `bucket=` dirs, which is past
      // the default 32-path cutover to DISTRIBUTED file listing — a
      // whole Spark job (~0.25 s locally) just to list 64 directories,
      // paid per store read per probe. Keep fold-sized listings
      // driver-side; on a high-latency object store with much wider
      // layouts, lower this back (MIGRATION.md).
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
      // keep small batches' pushed In(key) filters as real or-chains at
      // parquet (beyond the threshold Spark collapses In to a min/max
      // range — useless against uniform hash keys); the probes cap
      // their key pushdown at this value, so the two stay in step
      "spark.sql.parquet.pushdown.inFilterThreshold" -> "1024",
      "spark.hadoop.fs.file.impl" -> classOf[graft.sinks.NioLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sinks.NioLocalFs].getName
    ).foreach { case (k, v) => conf.setIfMissing(k, v) }
    val s = SparkSession.builder().config(conf).getOrCreate()
    // the one registration point: getOrCreate can hand back a session
    // built without the extension, and every operator relies on this
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** The one FileSystem resolution for every store, sink and archive
    * probe: `path`'s scheme resolved through the session's Hadoop conf,
    * so a binding made with `spark.conf.set` or `spark.hadoop.*` (S3A
    * credentials, endpoints, a test filesystem) reaches the driver-side
    * listings, markers and renames as it reaches Spark's own reads and
    * writes. The conf is a copy of the shared one with session keys
    * overlaid, so keys written into `sparkContext.hadoopConfiguration`
    * reach it too.
    */
  def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  /** Q0 ingest: drain every available checkpoint, then tail with the
    * reference's bounded polling retry. Returns checkpoints committed.
    */
  def collect(
      spark: SparkSession,
      archiveRoot: String,
      passphrase: String,
      cfg: ExtractConfig,
      sink: CheckpointSink,
      firstSeq: Long = 0x3fL,
      tailIterations: Int = 0): Int = {
    val tail = new ArchiveTail(spark, archiveRoot, passphrase, cfg, sink, firstSeq)
    val backfilled = tail.runOnce()
    backfilled + (if (tailIterations > 0) tail.run(tailIterations) else 0)
  }

  /** Extraction over explicit archive files (no sink/offsets), grouped
    * into whole checkpoint triples by category and hex sequence and read
    * by the per-checkpoint body below. The reference joins within one
    * downloaded triple (python/main.py:108-123), so a sequence that
    * lacks a file, or has two of one category, throws an
    * `IllegalArgumentException` naming it.
    */
  def extract(
      spark: SparkSession,
      txPaths: Seq[String],
      ledgerPaths: Seq[String],
      resultPaths: Seq[String],
      passphrase: String,
      cfg: ExtractConfig): DataFrame = {
    val triples = (txPaths ++ ledgerPaths ++ resultPaths).groupBy(Archive.hexSeq).toSeq
      .sortBy(_._1).map { case (hex, files) =>
        val byCategory = files.groupBy(Archive.category)
        Archive.Categories.map(c => byCategory.getOrElse(c, Nil) match {
          case Seq(path) => path
          case found => throw new IllegalArgumentException(
            s"checkpoint $hex needs one $c file, got ${found.size}: ${files.mkString(", ")}")
        })
      }
    extract(spark, triples, hadoopConf(spark), passphrase, cfg)
  }

  /** Extraction over checkpoint `seq` of the archive at `root`, read by
    * the per-checkpoint body below.
    */
  def extract(spark: SparkSession, root: String, seq: Long, passphrase: String,
      cfg: ExtractConfig): DataFrame =
    extract(spark, Seq(Archive.triple(root, seq)), hadoopConf(spark), passphrase, cfg)

  /** The session's Hadoop conf, broadcast once for task-side reads. */
  private[graft] def hadoopConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** The one extract body: one task per checkpoint triple (transactions,
    * ledger, results paths). Each task opens its three files through
    * `conf`, gunzips and decodes them, and joins them in memory
    * ([[Extract.checkpointRows]]), so a caller's sink runs one Spark job
    * over a flat plan of [[graft.pipeline.Schemas.operations]] rows, with
    * no file listing or scan to plan on the driver. A missing file fails
    * the task with `FileNotFoundException`. [[ArchiveTail]] broadcasts
    * `conf` once per tail; the public overloads once per call.
    */
  private[graft] def extract(spark: SparkSession, triples: Seq[Seq[String]],
      conf: Broadcast[SerializableConfiguration], passphrase: String,
      cfg: ExtractConfig): DataFrame = {
    val rows = spark.sparkContext.parallelize(triples, math.max(1, triples.size)).flatMap {
      case Seq(tx, ledger, results) =>
        def read(path: String) = Archive.readGunzipped(path, conf.value.value)
        Extract.checkpointRows(
          Stellar.decodeTxEntries(read(tx), passphrase),
          Stellar.decodeLedgerEntries(read(ledger)),
          Stellar.decodeResultEntries(read(results)),
          cfg)
    }
    spark.createDataFrame(rows, Schemas.operations)
  }
}
