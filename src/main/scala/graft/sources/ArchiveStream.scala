package graft.sources

import java.util
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.Engine

/** Custom Structured Streaming source for the history archive
  * (SURVEY.md §7.5 "sequenced micro-batch source"): the offset IS the
  * reference's 8-hex checkpoint sequence, advancing in strides of 64
  * (python/main.py:205-228), so Spark's offset log replaces `lastfile`
  * natively and restarts resume exactly-once.
  *
  * The source carries offsets only: each emitted row is the `seq` of
  * one available checkpoint, and its reader opens no file.
  * [[ArchiveStreamRunner]] commits each one through
  * [[graft.streaming.ArchiveTail.commit]], which reads the triple
  * through [[graft.Engine.extract]]: one task that opens, gunzips,
  * decodes and joins it on an executor, through the session Hadoop conf
  * the runner's tail broadcast when it was built.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.ArchiveStreamProvider")
  *     .option("root", root).option("firstSeq", "63")
  *     .option("maxPerBatch", "128").load()
  * }}}
  */
object ArchiveStreamTable {
  val Schema: StructType = StructType(Seq(StructField("seq", LongType, nullable = false)))
}

class ArchiveStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ArchiveStreamTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ArchiveStreamTable(properties)
}

class ArchiveStreamTable(props: util.Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"archive(${props.get("root")})"
  override def schema(): StructType = ArchiveStreamTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = ArchiveStreamTable.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val root = options.get("root")
        new ArchiveMicroBatchStream(
          Engine.fileSystem(SparkSession.active, new HPath(root)),
          root,
          Option(options.get("firstSeq")).map(_.toLong).getOrElse(0x3fL),
          Option(options.get("maxPerBatch")).map(_.toInt).getOrElse(64))
      }
    }
}

/** Offset = highest checkpoint sequence already committed (exclusive
  * start of the next batch); JSON form is the decimal sequence.
  */
case class SeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

class ArchiveMicroBatchStream(fs: FileSystem, root: String, firstSeq: Long, maxPerBatch: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  require(Archive.isCheckpoint(firstSeq), s"firstSeq $firstSeq must satisfy (seq+1)%64==0")

  private def available(seq: Long): Boolean = Archive.available(fs, root, seq)

  /** Before the first checkpoint: one stride below it (exclusive). */
  override def initialOffset(): Offset = SeqOffset(firstSeq - 64)

  override def latestOffset(): Offset = {
    // walk forward from nothing-committed-yet; Spark passes progress via
    // planInputPartitions(start,...), so track the scan frontier lazily:
    // we only need "highest available", bounded per batch for pacing.
    var last = lastSeen
    var n = 0
    while (n < maxPerBatch && available(Archive.nextSeq(last)) &&
        availableNowCap.forall(Archive.nextSeq(last) <= _)) {
      last = Archive.nextSeq(last); n += 1
    }
    lastSeen = last
    SeqOffset(last)
  }
  // frontier cache: starts at initial; latestOffset only moves forward,
  // matching the strictly-ordered archive contract.
  @volatile private var lastSeen: Long = firstSeq - 64

  // ── Trigger.AvailableNow (proper multi-batch drain): snapshot the
  //    highest currently-available checkpoint; subsequent batches are
  //    paced by maxPerBatch but never read past the snapshot, so the
  //    query stops at exactly the data that existed at start.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    var last = lastSeen
    while (available(Archive.nextSeq(last))) last = Archive.nextSeq(last)
    availableNowCap = Some(last)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerBatch.toLong)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].seq
    if (s > lastSeen) lastSeen = s
    latestOffset()
  }

  override def reportLatestOffset(): Offset = SeqOffset(lastSeen)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Array(SeqRange(start.asInstanceOf[SeqOffset].seq, end.asInstanceOf[SeqOffset].seq))

  override def createReaderFactory(): PartitionReaderFactory = ArchiveReaderFactory

  override def deserializeOffset(json: String): Offset = {
    val o = SeqOffset(json.trim.toLong)
    if (o.seq > lastSeen) lastSeen = o.seq // restart: resume frontier
    o
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One micro-batch's checkpoints: the sequences in `(after, upTo]`. */
case class SeqRange(after: Long, upTo: Long) extends InputPartition

/** Emits the batch's sequences; it never opens an archive file. */
object ArchiveReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = partition.asInstanceOf[SeqRange]
    new PartitionReader[InternalRow] {
      private var seq = r.after
      override def next(): Boolean = { seq = Archive.nextSeq(seq); seq <= r.upTo }
      override def get(): InternalRow = InternalRow(seq)
      override def close(): Unit = ()
    }
  }
}

/** Driver for the custom source: per micro-batch, only the batch's
  * checkpoint sequences reach the driver (a handful of longs); each is
  * committed, in sequence order, by [[graft.streaming.ArchiveTail.commit]]
  * — the collector's own commit step: one executor task reads, decodes
  * and joins the checkpoint, and the sink saves it (replays are
  * idempotent per seq; Spark's offset log provides resume). The run's
  * tail is built before the query starts, so its constructor's sink
  * probe (K6) fails a misconfigured sink before any batch. With the
  * file sink each checkpoint costs one Spark job, its write.
  */
object ArchiveStreamRunner {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import graft.pipeline.ExtractConfig
  import graft.sinks.CheckpointSink
  import graft.streaming.ArchiveTail

  private[graft] def stream(spark: SparkSession, root: String, firstSeq: Long): DataFrame =
    spark.readStream
      .format("graft.sources.ArchiveStreamProvider")
      .option("root", root)
      .option("firstSeq", firstSeq.toString)
      .load()

  private def start(spark: SparkSession, root: String, passphrase: String, cfg: ExtractConfig,
      sink: CheckpointSink, checkpointDir: String, firstSeq: Long,
      trigger: Trigger): StreamingQuery = {
    val tail = new ArchiveTail(spark, root, passphrase, cfg, sink, firstSeq)
    // commit, not processOne: a sequence the source offered whose files
    // are gone must fail the batch, not be skipped past in the offset log
    stream(spark, root, firstSeq).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, _: Long) =>
        batch.select("seq").as[Long](Encoders.scalaLong).collect().sorted.foreach(tail.commit))
      .start()
  }

  def runAvailableNow(
      spark: SparkSession,
      root: String,
      passphrase: String,
      cfg: ExtractConfig,
      sink: CheckpointSink,
      checkpointDir: String,
      firstSeq: Long = 0x3fL): Unit =
    start(spark, root, passphrase, cfg, sink, checkpointDir, firstSeq, Trigger.AvailableNow())
      .awaitTermination()

  /** Live tail on the DSv2 source (the reference's continuous main loop,
    * python/main.py:254-309, as a ProcessingTime streaming query): polls
    * the archive every `intervalMs`, each micro-batch draining whatever
    * new checkpoints `latestOffset` finds. Returns the running query —
    * the caller owns its lifecycle (`stop()`/`awaitTermination`); Spark's
    * offset log + the sink's committed-sequence check give the same
    * exactly-once resume as the AvailableNow path.
    */
  def runProcessingTime(
      spark: SparkSession,
      root: String,
      passphrase: String,
      cfg: ExtractConfig,
      sink: CheckpointSink,
      checkpointDir: String,
      firstSeq: Long = 0x3fL,
      intervalMs: Long = 1000L): StreamingQuery =
    start(spark, root, passphrase, cfg, sink, checkpointDir, firstSeq,
      Trigger.ProcessingTime(intervalMs))
}
