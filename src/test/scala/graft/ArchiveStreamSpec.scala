package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._
import graft.sinks.PartitionedFileSink
import graft.sources.{Archive, ArchiveStreamRunner}
import graft.xdr.{Stellar, StellarWriter}

/** Drives the custom DSv2 MicroBatchStream source end-to-end: offsets are
  * checkpoint sequences, restarts resume from Spark's offset log.
  */
class ArchiveStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Passphrase = "Test Net"
  private def addr(seed: Int): String =
    Stellar.strkeyEncode(Array.tabulate(32)(i => ((seed * 31 + i) & 0xff).toByte))
  private val issuer = addr(1)
  private val cfg = ExtractConfig(assetIssuer = issuer)

  private def writeCheckpoint(root: String, seq: Long, memo: Option[String] = None): Unit = {
    val op = Operation(Nil, OpBody(1, Some(PaymentOp(
      Asset(Some(AssetAlphaNum4("KIN", Ed25519(issuer)))), Ed25519(addr(3)), 1000000.0 + seq)), None))
    val txe = TxHistoryEntry(seq, TxSet(Seq(TxWithHash("", TxCore(memo, 100, Ed25519(addr(2)), Seq(op))))))
    val txGz = Archive.gzip(StellarWriter.encodeTxEntry(txe))
    val hash = Stellar.decodeTxEntries(Archive.gunzip(txGz), Passphrase).head.txSet.txs.head.hash
    val res = TxResultEntry(TxResultSet(Seq(TxResultPair(hash, TxResultOuter(100,
      TxResultInner("txSUCCESS", Some(Seq(OpResult(OpResultTr(Some("PAYMENT_SUCCESS"), None))))))))))
    def put(cat: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(Archive.pathFor(root, cat, seq))
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("transactions", txGz)
    put("ledger", Archive.gzip(StellarWriter.encodeLedgerEntry(
      LedgerEntry(LedgerHeader(seq, ScpValue(1600000000L + seq))))))
    put("results", Archive.gzip(StellarWriter.encodeResultEntry(res, seq)))
  }

  test("custom source feeds the transactional JDBC sink exactly-once") {
    val archive = Files.createTempDirectory("graft-stream-jdbc").toString
    val ckpt = Files.createTempDirectory("graft-stream-jdbc-ckpt").toString
    writeCheckpoint(archive, 0x3fL)
    val db = new FakeDb
    val sink = new graft.sinks.JdbcSink(() => db.connection(), graft.sinks.JdbcLayout.Unified)
    ArchiveStreamRunner.runAvailableNow(spark, archive, Passphrase, cfg, sink, ckpt)
    assert(db.ops.size === 1)
    assert(db.lastfile === Some("0000003f"))
    // replay the whole stream from a fresh offset log: the sink's
    // committed-sequence check makes it a no-op
    val ckpt2 = Files.createTempDirectory("graft-stream-jdbc-ckpt2").toString
    ArchiveStreamRunner.runAvailableNow(spark, archive, Passphrase, cfg, sink, ckpt2)
    assert(db.ops.size === 1)
  }

  test("the streaming runner probes its sink before the query starts (K6)") {
    val archive = Files.createTempDirectory("graft-stream-probe").toString
    val ckpt = Files.createTempDirectory("graft-stream-probe-ckpt").toString
    writeCheckpoint(archive, 0x3fL)
    val db = new FakeDb
    db.failBatch = true
    val sink = new graft.sinks.JdbcSink(() => db.connection(), graft.sinks.JdbcLayout.Unified)
    intercept[IllegalStateException](
      ArchiveStreamRunner.runAvailableNow(spark, archive, Passphrase, cfg, sink, ckpt))
    assert(db.ops.isEmpty)
    assert(db.lastfile === None)
    assert(Option(Paths.get(ckpt, "offsets").toFile.list()).forall(_.isEmpty))
  }

  test("AvailableNow drains multiple paced micro-batches under the start snapshot") {
    val archive = Files.createTempDirectory("graft-stream-paced").toString
    val out = Files.createTempDirectory("graft-stream-paced-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-paced-ckpt").toString
    writeCheckpoint(archive, 0x3fL)
    writeCheckpoint(archive, 0x7fL)
    writeCheckpoint(archive, 0xbfL)
    writeCheckpoint(archive, 0x13fL) // past a gap: 0xff is missing

    val sink = new PartitionedFileSink(out)
    // maxPerBatch=1 → the drain needs three micro-batches; the
    // SupportsTriggerAvailableNow snapshot lets the query run them all
    // and stop exactly at the data that existed at start.
    val stream = spark.readStream
      .format("graft.sources.ArchiveStreamProvider")
      .option("root", archive)
      .option("firstSeq", 0x3fL.toString)
      .option("maxPerBatch", "1")
      .load()
    val batchSizes = scala.collection.mutable.Buffer.empty[Long]
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val seqs = batch.select("seq").collect().map(_.getLong(0)).sorted
        batchSizes.synchronized { batchSizes += seqs.length.toLong }
        seqs.foreach(seq => sink.save(
          batch.sparkSession.emptyDataFrame.limit(0), seq)) // marker-only commit
        ()
      }
      .start()
    q.awaitTermination()
    assert(batchSizes.toSeq === Seq(1L, 1L, 1L)) // paced: one checkpoint per batch
    // a gap stops the drain: only contiguous checkpoints are offered
    assert(sink.completed === Seq("0000003f", "0000007f", "000000bf"))
  }

  test("ProcessingTime tail picks up a checkpoint appended mid-stream") {
    val archive = Files.createTempDirectory("graft-stream-live").toString
    val out = Files.createTempDirectory("graft-stream-live-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-live-ckpt").toString
    writeCheckpoint(archive, 0x3fL)

    val sink = new PartitionedFileSink(out)
    val q = ArchiveStreamRunner.runProcessingTime(
      spark, archive, Passphrase, cfg, sink, ckpt, intervalMs = 50L)
    try {
      def waitFor(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime() < deadline) {
          q.processAllAvailable()
          Thread.sleep(50)
        }
        assert(cond, "condition not reached within timeout")
      }
      waitFor(sink.lastSequence.contains(0x3fL))
      // a checkpoint lands while the query is live: the next poll's
      // latestOffset advances and the tail ingests it
      writeCheckpoint(archive, 0x7fL)
      waitFor(sink.lastSequence.contains(0x7fL))
      assert(sink.completed === Seq("0000003f", "0000007f"))
      assert(spark.read.option("header", "false").csv(s"$out/ledgers").count() === 2)
    } finally q.stop()
  }

  test("custom MicroBatchStream source: seq offsets, AvailableNow drain, restart resume") {
    val archive = Files.createTempDirectory("graft-stream-arch").toString
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    writeCheckpoint(archive, 0x3fL)
    writeCheckpoint(archive, 0x7fL)

    val sink = new PartitionedFileSink(out)
    ArchiveStreamRunner.runAvailableNow(spark, archive, Passphrase, cfg, sink, ckpt)
    assert(sink.lastSequence === Some(0x7fL))
    assert(sink.completed === Seq("0000003f", "0000007f"))
    val rows1 = spark.read.option("header", "false").csv(s"$out/ledgers").count()
    assert(rows1 === 2)

    // restart with a new checkpoint available: Spark's offset log resumes
    // past the two already-committed sequences
    writeCheckpoint(archive, 0xbfL)
    ArchiveStreamRunner.runAvailableNow(spark, archive, Passphrase, cfg, sink, ckpt)
    assert(sink.lastSequence === Some(0xbfL))
    assert(sink.completed === Seq("0000003f", "0000007f", "000000bf"))
    assert(spark.read.option("header", "false").csv(s"$out/ledgers").count() === 3)
  }

  test("the streaming runner and the collector commit identical output") {
    val archive = Files.createTempDirectory("graft-stream-parity").toString
    writeCheckpoint(archive, 0x3fL, memo = Some("first"))
    writeCheckpoint(archive, 0x7fL)
    writeCheckpoint(archive, 0xbfL, memo = Some("third"))
    val streamed = Files.createTempDirectory("graft-parity-stream").toString
    val collected = Files.createTempDirectory("graft-parity-collect").toString
    val streamSink = new PartitionedFileSink(streamed)
    val collectSink = new PartitionedFileSink(collected)
    ArchiveStreamRunner.runAvailableNow(spark, archive, Passphrase, cfg, streamSink,
      Files.createTempDirectory("graft-parity-ckpt").toString)
    assert(Engine.collect(spark, archive, Passphrase, cfg, collectSink) === 3)
    def rows(out: String) = spark.read.option("header", "false").csv(s"$out/ledgers")
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(streamed).length === 3)
    assert(rows(streamed) === rows(collected))
    assert(streamSink.completed === Seq("0000003f", "0000007f", "000000bf"))
    assert(streamSink.completed === collectSink.completed)
    def lastFile(out: String) = new String(Files.readAllBytes(Paths.get(out, "last_file")), "UTF-8")
    assert(lastFile(streamed) === "000000bf")
    assert(lastFile(streamed) === lastFile(collected))
  }

  test("archive memos flow through the live curate-dedup-pack intake end to end") {
    val archive = Files.createTempDirectory("graft-stream-live").toString
    val root = Files.createTempDirectory("graft-stream-live-store").toString
    // memos are 28-byte-class texts — the corpus-calibrated x11 bar
    // would reject them all, so the bridge drops the bar (dedup and
    // packing are the contract under test)
    val cfg = graft.streaming.LivePipeline.Config(root, minQuality = 0.0)
    writeCheckpoint(archive, 0x3fL, memo = Some("1-app1-hello world payment"))
    writeCheckpoint(archive, 0x7fL, memo = Some("1-app1-hello world payment")) // exact dup
    writeCheckpoint(archive, 0xbfL, memo = Some("1-app2-rent for march"))
    val iroot = Files.createTempDirectory("graft-stream-live-idx").toString
    val idx = graft.streaming.LiveIndex.Config(iroot)
    val q = graft.streaming.LivePipeline.fromArchive(spark, archive, Passphrase, cfg,
      index = Some(idx))
    q.awaitTermination()
    val packed = graft.streaming.LivePipeline.packedOutput(spark, cfg).collect()
    // duplicate memo at 0x7f dropped; doc_id = (ledger_seq << 12) | tx idx
    assert(packed.map(_.getAs[Long]("doc_id")).toSet === Set(0x3fL << 12, 0xbfL << 12))
    assert(packed.forall(_.getAs[String]("lang") == "memo"))
    // the pack cursor carried across batches within each (lang, shard)
    for (r <- packed) {
      val before = packed.filter(o => o.getAs[Long]("shard") == r.getAs[Long]("shard") &&
        o.getAs[Long]("doc_id") < r.getAs[Long]("doc_id"))
        .map(_.getAs[Long]("n_tokens")).sum
      assert(r.getAs[Long]("cum_before") === before)
    }
    // composed stack over the archive: the ADMITTED memos (and only
    // they) are searchable — the dup memo at 0x7f never reaches the
    // index
    val hits = graft.streaming.LiveIndex.bm25(spark, idx, Seq("world", "march"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits === Set(0x3fL << 12, 0xbfL << 12),
      "admitted archive memos must be searchable, the dup must not")
  }
}
