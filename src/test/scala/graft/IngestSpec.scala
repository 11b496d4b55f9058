package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._
import graft.sinks.{JdbcLayout, JdbcSink, NioLocalFileSystem, PartitionedFileSink}
import graft.sources.Archive
import graft.streaming.ArchiveTail
import graft.xdr.{Stellar, StellarWriter}

class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Passphrase = "Test Net"
  private def addr(seed: Int): String =
    Stellar.strkeyEncode(Array.tabulate(32)(i => ((seed * 31 + i) & 0xff).toByte))
  private val issuer = addr(1)
  private val cfg = ExtractConfig(assetIssuer = issuer)

  /** Write one checkpoint triple (n payment ops, or none) under root. */
  private def writeCheckpoint(root: String, seq: Long, nOps: Int): Unit = {
    val ops = (0 until nOps).map(i => Operation(Nil, OpBody(1, Some(PaymentOp(
      Asset(Some(AssetAlphaNum4("KIN", Ed25519(issuer)))), Ed25519(addr(10 + i)), 1000000.0 + i)), None)))
    val txe = TxHistoryEntry(seq, TxSet(
      if (nOps == 0) Nil
      else Seq(TxWithHash("", TxCore(None, 100, Ed25519(addr(2)), ops)))))
    val txGz = Archive.gzip(StellarWriter.encodeTxEntry(txe))
    val resSet =
      if (nOps == 0) TxResultEntry(TxResultSet(Nil))
      else {
        val hash = Stellar.decodeTxEntries(Archive.gunzip(txGz), Passphrase).head.txSet.txs.head.hash
        TxResultEntry(TxResultSet(Seq(TxResultPair(hash, TxResultOuter(100, TxResultInner("txSUCCESS",
          Some(Seq.fill(nOps)(OpResult(OpResultTr(Some("PAYMENT_SUCCESS"), None))))))))))
      }
    def put(cat: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(Archive.pathFor(root, cat, seq))
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("transactions", txGz)
    put("ledger", Archive.gzip(StellarWriter.encodeLedgerEntry(
      LedgerEntry(LedgerHeader(seq, ScpValue(1600000000L + seq))))))
    put("results", Archive.gzip(StellarWriter.encodeResultEntry(resSet, seq)))
  }

  test("tail drains checkpoints in order into the partitioned file sink") {
    val archive = Files.createTempDirectory("graft-arch").toString
    val out = Files.createTempDirectory("graft-out").toString
    writeCheckpoint(archive, 0x3fL, 2)
    writeCheckpoint(archive, 0x7fL, 0) // empty: marker only (P4)
    writeCheckpoint(archive, 0xbfL, 1)

    val sink = new PartitionedFileSink(out)
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
    assert(tail.resumeSeq === 0x3fL)
    assert(tail.runOnce() === 3)
    assert(sink.lastSequence === Some(0xbfL))
    assert(sink.completed === Seq("0000003f", "0000007f", "000000bf"))
    assert(Files.exists(Paths.get(out, "ledgers", "ledger=0000003f")))
    assert(!Files.exists(Paths.get(out, "ledgers", "ledger=0000007f"))) // empty skipped
    assert(Files.exists(Paths.get(out, "ledgers", "ledger=000000bf")))
    // hive-partitioned layout readable back with partition column
    val back = spark.read.option("header", "false").csv(s"$out/ledgers")
    assert(back.count() === 3)

    // nothing new → no work, no sleep loop in runOnce
    assert(tail.runOnce() === 0)
    // new checkpoint appears → picked up from the recovered offset
    writeCheckpoint(archive, 0xffL, 1)
    val tail2 = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
    assert(tail2.resumeSeq === 0xffL)
    assert(tail2.runOnce() === 1)
    assert(sink.lastSequence === Some(0xffL))
  }

  test("one non-empty checkpoint commits in exactly one Spark job") {
    val archive = Files.createTempDirectory("graft-onejob").toString
    val out = Files.createTempDirectory("graft-onejob-out").toString
    writeCheckpoint(archive, 0x3fL, 2)
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg, new PartitionedFileSink(out))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(tail.processOne(0x3fL))
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 1)
    assert(spark.read.csv(s"$out/ledgers").count() === 2)
  }

  test("Deploy wires the whole collector from the compose env map alone") {
    val archive = Files.createTempDirectory("graft-deploy-arch").toString
    val out = Files.createTempDirectory("graft-deploy-out").toString
    writeCheckpoint(archive, 0x3fL, 2)
    writeCheckpoint(archive, 0x7fL, 1)
    // the reference container's environment block, docker-compose.yaml:7-27
    val env = Map(
      "BUCKET_NAME" -> s"file://$archive", // explicit URI; bare names map to s3a://
      "CORE_DIRECTORY" -> "",
      "NETWORK_PASSPHRASE" -> Passphrase,
      "KIN_ISSUER" -> issuer,
      "FIRST_FILE" -> "0000003f",
      "MAX_RETRIES" -> "2",
      "S3_STORAGE_BUCKET" -> s"file://$out",
      "S3_STORAGE_KEY_PREFIX" -> "etl")
    val tail = Deploy.tail(spark, env)
    assert(tail.resumeSeq === 0x3fL) // hex FIRST_FILE parsed
    assert(tail.runOnce() === 2)
    assert(Files.exists(Paths.get(out, "etl", "ledgers", "ledger=0000003f")))
    assert(Files.exists(Paths.get(out, "etl", "completed_ledgers")))
    assert(Files.exists(Paths.get(out, "etl", "last_file")))
    // bare bucket + CORE_DIRECTORY map like the boto3 adapter's key join
    assert(Deploy.archiveRoot(Map("BUCKET_NAME" -> "my-bucket",
      "CORE_DIRECTORY" -> "core/")) === "s3a://my-bucket/core")
    // APP_ID absent and empty both mean "no app filter" (main.py:44)
    assert(Deploy.extractConfig(env + ("APP_ID" -> "")).appId === None)
    assert(Deploy.extractConfig(env + ("APP_ID" -> "kit9")).appId === Some("kit9"))
    // adapter branch: no S3 bucket → the Postgres sink (main.py:369-390)
    val pg = Deploy.sink(env - "S3_STORAGE_BUCKET" +
      ("POSTGRES_HOST" -> "db", "PYTHON_PASSWORD" -> "secret"))
    assert(pg match { case j: JdbcSink => j.layout == JdbcLayout.Unified; case _ => false })
    // no alert env → Noop; a webhook var → validating fan-out (probed)
    assert(Deploy.alerts(env) === graft.streaming.IngestAlerts.Noop)
    assert(Deploy.transports(env).isEmpty)
    // anonymous-archive parity (main.py:64 UNSIGNED): an s3a archive
    // bucket gets the PER-BUCKET anonymous provider (the sink bucket's
    // credential chain untouched), a file:// root sets nothing, and
    // ARCHIVE_SIGNED_REQUESTS=1 opts a private mirror back out
    val hc = spark.sparkContext.hadoopConfiguration
    val anonEnv = Map("BUCKET_NAME" -> "pub-archive", "CORE_DIRECTORY" -> "core")
    Deploy.applyArchiveAnonymousCreds(spark, anonEnv)
    assert(hc.get("fs.s3a.bucket.pub-archive.aws.credentials.provider") ===
      "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider")
    assert(hc.get("fs.s3a.bucket.sink-bucket.aws.credentials.provider") === null)
    Deploy.applyArchiveAnonymousCreds(spark,
      Map("BUCKET_NAME" -> "priv-archive", "ARCHIVE_SIGNED_REQUESTS" -> "1"))
    assert(hc.get("fs.s3a.bucket.priv-archive.aws.credentials.provider") === null)
    Deploy.applyArchiveAnonymousCreds(spark, env) // file:// root → no-op
    // collision guard (r15 advice): archive bucket == sink bucket must
    // NOT anonymize the shared bucket (sink writes would silently fail)
    Deploy.applyArchiveAnonymousCreds(spark,
      Map("BUCKET_NAME" -> "shared-bkt", "S3_STORAGE_BUCKET" -> "shared-bkt"))
    assert(hc.get("fs.s3a.bucket.shared-bkt.aws.credentials.provider") === null)
    // a DIFFERENT sink bucket keeps the per-bucket anonymous provider
    Deploy.applyArchiveAnonymousCreds(spark,
      Map("BUCKET_NAME" -> "pub-archive2", "S3_STORAGE_BUCKET" -> "s3a://sink-bkt/pre"))
    assert(hc.get("fs.s3a.bucket.pub-archive2.aws.credentials.provider") ===
      "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider")
    hc.unset("fs.s3a.bucket.pub-archive.aws.credentials.provider")
    hc.unset("fs.s3a.bucket.pub-archive2.aws.credentials.provider")
  }

  test("Deploy.tail rejects a FIRST_FILE that is not a checkpoint") {
    // 0x40 is no checkpoint: a tail started there would poll for files
    // that can never exist
    val env = Map(
      "BUCKET_NAME" -> s"file://${Files.createTempDirectory("graft-first-arch")}",
      "CORE_DIRECTORY" -> "",
      "NETWORK_PASSPHRASE" -> Passphrase,
      "KIN_ISSUER" -> issuer,
      "FIRST_FILE" -> "00000040",
      "S3_STORAGE_BUCKET" -> s"file://${Files.createTempDirectory("graft-first-out")}")
    val e = intercept[IllegalArgumentException](Deploy.tail(spark, env))
    assert(e.getMessage.contains("firstSeq 64"), e.getMessage)
  }

  test("file sink side files resolve their FileSystem through the session conf") {
    // the stub is bound with spark.conf.set alone, as a deployment's
    // session-level s3a settings are; the bucket is one no other test
    // uses, because Hadoop caches a FileSystem per scheme and authority
    val local = Files.createTempDirectory("graft-s3a-session").toString
    spark.conf.set("fs.s3a.impl", classOf[StubS3aFileSystem].getName)
    spark.conf.set("mapreduce.outputcommitter.factory.scheme.s3a", "")
    try {
      val sink = new PartitionedFileSink(s"s3a://graft-session-conf-bucket$local")
      sink.selfTest()
      import spark.implicits._
      sink.save(Seq(("payment", 1L)).toDF("type", "amount"), 0x3fL)
      assert(sink.lastSequence === Some(0x3fL))
      assert(sink.completed === Seq("0000003f"))
      assert(Files.exists(Paths.get(local, "ledgers", "ledger=0000003f")))
    } finally {
      spark.conf.unset("fs.s3a.impl")
      spark.conf.unset("mapreduce.outputcommitter.factory.scheme.s3a")
    }
  }

  test("s3a:// archive root drives Deploy/Archive scheme handling end to end (stub FS)") {
    // Register the stub for the s3a scheme; resolution happens through
    // the same hadoopConfiguration lookup production uses, so the whole
    // chain — bare BUCKET_NAME → s3a:// mapping, CORE_DIRECTORY key
    // join, pathFor fan-out, the tail's existence probes, the extract
    // tasks' triple reads, and the sink's side files — runs against
    // s3a-schemed URIs.
    val hconf = spark.sparkContext.hadoopConfiguration
    // snapshot the two keys we mutate: the config is shared session
    // state, and leaking a stub FS binding into later tests would make
    // any other s3a-schemed path silently resolve to the stub
    val prevImpl = Option(hconf.get("fs.s3a.impl"))
    val prevCommitter = Option(hconf.get("mapreduce.outputcommitter.factory.scheme.s3a"))
    hconf.set("fs.s3a.impl", classOf[StubS3aFileSystem].getName)
    // Spark wires the S3A-optimized committer factory for the scheme by
    // default (hadoop-aws isn't bundled here); fall back to the generic
    // FileOutputCommitter for the stub
    hconf.set("mapreduce.outputcommitter.factory.scheme.s3a", "")
    try {
    val local = Files.createTempDirectory("graft-s3a-arch").toString
    val out = Files.createTempDirectory("graft-s3a-out").toString
    writeCheckpoint(local, 0x3fL, 2)
    writeCheckpoint(local, 0x7fL, 1)
    val env = Map(
      "BUCKET_NAME" -> "graft-test-bucket", // bare bucket name → s3a://
      "CORE_DIRECTORY" -> local.stripPrefix("/"), // key = local path sans '/'
      "NETWORK_PASSPHRASE" -> Passphrase,
      "KIN_ISSUER" -> issuer,
      "FIRST_FILE" -> "0000003f",
      "MAX_RETRIES" -> "2",
      "S3_STORAGE_BUCKET" -> "graft-test-bucket",
      "S3_STORAGE_KEY_PREFIX" -> s"${out.stripPrefix("/")}/etl")
    assert(Deploy.archiveRoot(env) ===
      s"s3a://graft-test-bucket/${local.stripPrefix("/")}")
    val tail = Deploy.tail(spark, env)
    assert(tail.resumeSeq === 0x3fL)
    assert(tail.runOnce() === 2) // both checkpoints drained through s3a://
    assert(Files.exists(Paths.get(out, "etl", "ledgers", "ledger=0000003f")))
    assert(Files.exists(Paths.get(out, "etl", "ledgers", "ledger=0000007f")))
    assert(Files.exists(Paths.get(out, "etl", "completed_ledgers")))
    assert(Files.exists(Paths.get(out, "etl", "last_file")))
    // the streaming runner over the same s3a:// root: its availability
    // probes and its tasks' triple reads both take the session's Hadoop
    // conf
    val streamed = Files.createTempDirectory("graft-s3a-stream").toString
    val streamSink = new PartitionedFileSink(streamed)
    graft.sources.ArchiveStreamRunner.runAvailableNow(spark, Deploy.archiveRoot(env),
      Passphrase, cfg, streamSink, Files.createTempDirectory("graft-s3a-ckpt").toString)
    assert(streamSink.completed === Seq("0000003f", "0000007f"))
    assert(spark.read.option("header", "false").csv(s"$streamed/ledgers").count() === 3)
    } finally {
      prevImpl.fold(hconf.unset("fs.s3a.impl"))(hconf.set("fs.s3a.impl", _))
      prevCommitter.fold(hconf.unset("mapreduce.outputcommitter.factory.scheme.s3a"))(
        hconf.set("mapreduce.outputcommitter.factory.scheme.s3a", _))
    }
  }

  test("a session-level fs binding reaches the extract tasks' triple reads") {
    // bound with spark.conf.set alone, so only the session conf the tail
    // broadcasts carries it; the shared hadoopConfiguration does not.
    // Disabling the FileSystem cache for the scheme makes each task
    // resolve the stub from the conf it was handed, not from an instance
    // the driver's probes cached; the bucket is one no other test uses.
    spark.conf.set("fs.s3a.impl", classOf[StubS3aFileSystem].getName)
    spark.conf.set("fs.s3a.impl.disable.cache", "true")
    try {
      val local = Files.createTempDirectory("graft-s3a-task-read").toString
      writeCheckpoint(local, 0x3fL, 2)
      writeCheckpoint(local, 0x7fL, 1)
      val root = s"s3a://graft-task-read-bucket$local"
      val out = Files.createTempDirectory("graft-s3a-task-out").toString
      val sink = new PartitionedFileSink(out)
      assert(new ArchiveTail(spark, root, Passphrase, cfg, sink).runOnce() === 2)
      assert(spark.read.csv(s"$out/ledgers").count() === 3)
      val streamed = Files.createTempDirectory("graft-s3a-task-stream").toString
      val streamSink = new PartitionedFileSink(streamed)
      graft.sources.ArchiveStreamRunner.runAvailableNow(spark, root, Passphrase, cfg,
        streamSink, Files.createTempDirectory("graft-s3a-task-ckpt").toString)
      assert(streamSink.completed === Seq("0000003f", "0000007f"))
      assert(spark.read.csv(s"$streamed/ledgers").count() === 3)
    } finally {
      spark.conf.unset("fs.s3a.impl")
      spark.conf.unset("fs.s3a.impl.disable.cache")
    }
  }

  test("a triple file that vanishes after the probe fails the commit; a replay lands it") {
    val archive = Files.createTempDirectory("graft-vanish-arch").toString
    writeCheckpoint(archive, 0x3fL, 1)
    writeCheckpoint(archive, 0x7fL, 2)
    val clean = Files.createTempDirectory("graft-vanish-clean").toString
    assert(new ArchiveTail(spark, archive, Passphrase, cfg, new PartitionedFileSink(clean))
      .runOnce() === 2)

    val out = Files.createTempDirectory("graft-vanish-out").toString
    val sink = new PartitionedFileSink(out)
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
    assert(tail.processOne(0x3fL))
    val results = Paths.get(Archive.pathFor(archive, "results", 0x7fL))
    val bytes = Files.readAllBytes(results)
    Files.delete(results)
    val e = intercept[Exception](tail.commit(0x7fL))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), e)
    assert(sink.completed === Seq("0000003f"))
    assert(sink.lastSequence === Some(0x3fL))
    // the failed write may leave an empty `ledger=0000007f` directory,
    // as any failed file-sink write does; with no marker it is not
    // committed, and the replay below overwrites it
    Files.write(results, bytes)
    tail.commit(0x7fL)
    assert(sink.completed === Seq("0000003f", "0000007f"))
    def rows(root: String) = spark.read.csv(s"$root/ledgers").collect().map(_.toSeq).sortBy(_.toString)
    assert(rows(out).toSeq === rows(clean).toSeq)
  }

  test("s3a:// store root: a real store family builds and serves through the stub FS") {
    // the cluster-placement path EXECUTED, not just plumbed: with
    // `spark.graft.storeRoot` set to an s3a:// URI, Dedup.ensureStores
    // must write its signature stores through the (stub) S3A
    // filesystem and the d2 serving query must read them back through
    // the same scheme — the store build, the _SUCCESS-committed
    // partition layout, and the pruned store scans all ride FS-agnostic
    // Hadoop paths, so production swaps in the real S3AFileSystem by
    // classpath + credentials alone (MIGRATION.md)
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevImpl = Option(hconf.get("fs.s3a.impl"))
    val prevCommitter = Option(hconf.get("mapreduce.outputcommitter.factory.scheme.s3a"))
    hconf.set("fs.s3a.impl", classOf[StubS3aFileSystem].getName)
    hconf.set("mapreduce.outputcommitter.factory.scheme.s3a", "")
    val root = Files.createTempDirectory("graft-s3a-stores").toString
    spark.conf.set("spark.graft.storeRoot", s"s3a://graft-test-bucket$root")
    try {
      // path alias = fresh dataset key, so this build cannot ride an
      // earlier test's memoized temp-dir store
      val d = "/root/testdata/./sf0.001"
      graft.operators.Dedup.ensureStores(spark, d)
      val kinds = new java.io.File(root).listFiles().flatMap(_.listFiles())
        .map(_.getName).toSet
      assert(kinds.contains("minhash-store") && kinds.contains("simhash-store"),
        s"stores must land under the s3a:// root (stub-mapped to $root), found: $kinds")
      assert(SparkEntry.queries("d2_minhash_lsh")(spark, d).count() > 0,
        "serving must read the store back through s3a:// scans")
    } finally {
      spark.conf.unset("spark.graft.storeRoot")
      prevImpl.fold(hconf.unset("fs.s3a.impl"))(hconf.set("fs.s3a.impl", _))
      prevCommitter.fold(hconf.unset("mapreduce.outputcommitter.factory.scheme.s3a"))(
        hconf.set("mapreduce.outputcommitter.factory.scheme.s3a", _))
    }
  }

  test("Collector.run chains bootstrap, self-test, and the tail from the env alone") {
    val archive = Files.createTempDirectory("graft-coll-arch").toString
    val out = Files.createTempDirectory("graft-coll-out").toString
    writeCheckpoint(archive, 0x3fL, 1)
    writeCheckpoint(archive, 0x7fL, 2)
    val env = Map(
      "BUCKET_NAME" -> s"file://$archive",
      "CORE_DIRECTORY" -> "",
      "NETWORK_PASSPHRASE" -> Passphrase,
      "KIN_ISSUER" -> issuer,
      "FIRST_FILE" -> "0000003f",
      "MAX_RETRIES" -> "1",
      "S3_STORAGE_BUCKET" -> s"file://$out",
      "S3_STORAGE_KEY_PREFIX" -> "etl",
      // bound the poll loop at exactly the available checkpoints so the
      // container smoke path exits without entering the 180 s poll sleep
      "POLL_ROUNDS" -> "2")
    assert(Collector.run(spark, env) === 2)
    assert(Files.exists(Paths.get(out, "etl", "ledgers", "ledger=0000003f")))
    assert(Files.exists(Paths.get(out, "etl", "ledgers", "ledger=0000007f")))
    assert(Files.exists(Paths.get(out, "etl", "last_file")))
  }

  test("Engine facade: collect backfills through the public entry point") {
    val archive = Files.createTempDirectory("graft-engine-arch").toString
    val out = Files.createTempDirectory("graft-engine-out").toString
    writeCheckpoint(archive, 0x3fL, 1)
    writeCheckpoint(archive, 0x7fL, 2)
    val sink = new PartitionedFileSink(out)
    val n = Engine.collect(spark, archive, Passphrase, cfg, sink)
    assert(n === 2)
    assert(sink.lastSequence === Some(0x7fL))
    val collected = spark.read.option("header", "false").csv(s"$out/ledgers")
    assert(collected.count() === 3)
  }

  test("tail polling retries then gives up after maxRetries") {
    val archive = Files.createTempDirectory("graft-empty").toString
    val out = Files.createTempDirectory("graft-out2").toString
    var sleeps = 0
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg,
      new PartitionedFileSink(out), maxRetries = 3, sleeper = _ => sleeps += 1)
    assert(tail.run(maxIterations = 100) === 0)
    assert(sleeps === 3)
  }

  test("alerts fire once on first miss and once more when retries exhaust (S2 parity)") {
    val archive = Files.createTempDirectory("graft-alert").toString
    val out = Files.createTempDirectory("graft-alert-out").toString
    writeCheckpoint(archive, 0x3fL, 1)
    var delays = Vector.empty[Long]
    var giveUps = Vector.empty[(Long, Int)]
    val rec = new graft.streaming.IngestAlerts {
      override def onDelay(seq: Long): Unit = delays :+= seq
      override def onGiveUp(seq: Long, attempts: Int): Unit = giveUps :+= ((seq, attempts))
    }
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg,
      new PartitionedFileSink(out), maxRetries = 2, sleeper = _ => (), alerts = rec)
    assert(tail.run(maxIterations = 100) === 1) // 0x3f ingests, then 0x7f is missing
    assert(delays === Vector(0x7fL))            // one alert per delay episode
    assert(giveUps === Vector((0x7fL, 3)))      // alerted once more on give-up

    // a throwing alert transport must not kill the tail
    val boom = new graft.streaming.IngestAlerts {
      override def onDelay(seq: Long): Unit = throw new RuntimeException("pager down")
      override def onGiveUp(seq: Long, attempts: Int): Unit = throw new RuntimeException("pager down")
    }
    val tail2 = new ArchiveTail(spark, archive, Passphrase, cfg,
      new PartitionedFileSink(out), maxRetries = 1, sleeper = _ => (), alerts = boom)
    // lastfile == firstSeq is ambiguous at startup (seeded vs ingested —
    // main.py:247), so the restarted tail re-visits 0x3f once; the file
    // sink's partition overwrite makes that idempotent, and the count is
    // 1, not 0. The alert failures are still swallowed either way.
    assert(tail2.run(maxIterations = 100) === 1)
  }

  test("ValidatingAlerts probes transports at construction; failure aborts before ingest") {
    // SMTP-shaped double: records logins and deliveries, optionally
    // failing auth like the reference's smtplib.SMTPAuthenticationError
    class FakeSmtp(failLogin: Boolean) extends graft.streaming.AlertTransport {
      var logins = 0
      var sent = Vector.empty[String]
      val name = "smtp"
      override def probe(): Unit = {
        logins += 1
        if (failLogin) throw new RuntimeException("535 authentication failed")
      }
      def send(message: String): Unit = sent :+= message
    }

    // bad credentials: construction throws (the __email_validation
    // sys.exit analog) — no tail is ever built, nothing is ingested
    val bad = new FakeSmtp(failLogin = true)
    val e = intercept[IllegalStateException](
      new graft.streaming.ValidatingAlerts(Seq(bad)))
    assert(e.getMessage.contains("smtp") && bad.logins === 1 && bad.sent.isEmpty)

    // good credentials: probe runs once per transport up front, then a
    // delay episode + give-up each fan out exactly once per transport
    val archive = Files.createTempDirectory("graft-valert").toString
    val out = Files.createTempDirectory("graft-valert-out").toString
    writeCheckpoint(archive, 0x3fL, 1)
    val smtp = new FakeSmtp(failLogin = false)
    val pager = new FakeSmtp(failLogin = false)
    val alerts = new graft.streaming.ValidatingAlerts(Seq(smtp, pager))
    assert(smtp.logins === 1 && pager.logins === 1)
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg,
      new PartitionedFileSink(out), maxRetries = 2, sleeper = _ => (), alerts = alerts)
    assert(tail.run(maxIterations = 100) === 1)
    Seq(smtp, pager).foreach { t =>
      assert(t.sent.length === 2, s"${t.sent}")
      assert(t.sent.head.contains("delay in the blockchain archiving bucket"))
      assert(t.sent(1).contains("Reached retry limit. Quitting."))
    }

    // a dead transport mid-run must not mute the healthy one
    val dead = new FakeSmtp(failLogin = false) {
      override def send(message: String): Unit = throw new RuntimeException("conn reset")
    }
    val healthy = new FakeSmtp(failLogin = false)
    val tail2 = new ArchiveTail(spark, archive, Passphrase, cfg,
      new PartitionedFileSink(out), maxRetries = 1, sleeper = _ => (),
      alerts = new graft.streaming.ValidatingAlerts(Seq(dead, healthy)))
    tail2.run(maxIterations = 100)
    assert(healthy.sent.length === 2, s"${healthy.sent}")
  }

  /** Scripted in-process SMTP server: greeting, HELO, AUTH LOGIN state
    * machine, MAIL/RCPT/DATA, QUIT. Records logins and message bodies.
    */
  private class SmtpStub(failAuth: Boolean = false,
      tls: Option[javax.net.ssl.SSLContext] = None,
      startTlsCtx: Option[javax.net.ssl.SSLContext] = None) {
    private val server = tls match {
      case Some(ctx) => ctx.getServerSocketFactory.createServerSocket(0)
      case None => new java.net.ServerSocket(0)
    }
    def port: Int = server.getLocalPort
    @volatile var logins = 0
    @volatile var loginsInTunnel = 0 // STARTTLS stub: AUTHs after upgrade
    @volatile var messages = Vector.empty[String]
    private val thread = new Thread(() => {
      try while (true) {
        val s = server.accept()
        // bound the conversation: a client that never completes the TLS
        // handshake (a plain-TCP probe against the TLS endpoint) must
        // not pin the accept loop forever
        s.setSoTimeout(5000)
        try {
        var in = new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
        var w = new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8")
        var upgraded = false
        def reply(l: String): Unit = { w.write(l + "\r\n"); w.flush() }
        reply("220 stub ESMTP")
        var authState = 0 // 1 = expect user, 2 = expect pass
        var inData = false
        val data = new StringBuilder
        var line = in.readLine()
        while (line != null) {
          if (inData) {
            if (line == ".") {
              inData = false; messages :+= data.toString; data.setLength(0)
              reply("250 OK stored")
            } else data.append(line).append("\n")
          } else if (authState == 1) { authState = 2; reply("334 UGFzc3dvcmQ6") }
          else if (authState == 2) {
            authState = 0; logins += 1
            if (upgraded) loginsInTunnel += 1
            reply(if (failAuth) "535 authentication failed" else "235 accepted")
          } else line.takeWhile(_ != ':').toUpperCase match {
            case l if l.startsWith("HELO") => reply("250 stub")
            case "STARTTLS" if startTlsCtx.isDefined =>
              // RFC 3207 server leg: 220, then the SAME socket upgrades
              // (server-mode handshake) and the session continues inside
              reply("220 go ahead")
              val ssl = startTlsCtx.get.getSocketFactory
                .createSocket(s, "127.0.0.1", s.getPort, false)
                .asInstanceOf[javax.net.ssl.SSLSocket]
              ssl.setUseClientMode(false)
              ssl.startHandshake()
              in = new java.io.BufferedReader(
                new java.io.InputStreamReader(ssl.getInputStream, "UTF-8"))
              w = new java.io.OutputStreamWriter(ssl.getOutputStream, "UTF-8")
              upgraded = true
            case "MAIL FROM" => reply("250 OK")
            case "AUTH LOGIN" => authState = 1; reply("334 VXNlcm5hbWU6")
            case "RCPT TO" => reply("250 OK")
            case "DATA" => inData = true; reply("354 end with .")
            case "QUIT" => reply("221 bye"); line = null
            case _ => reply("500 unrecognized")
          }
          if (line != null) line = in.readLine()
        }
        // one broken conversation (failed handshake, timeout) must not
        // kill the accept loop — later connections still get served
        } catch { case _: Throwable => () } finally s.close()
      } catch { case _: Throwable => () } // server closed: test over
    })
    thread.setDaemon(true); thread.start()
    def close(): Unit = server.close()
  }

  /** One self-signed keypair (generated with the JDK's own keytool —
    * no fixture binaries in the repo), split into the two SSLContexts a
    * TLS test needs: the server context serves the key, the client
    * context trusts exactly that certificate and nothing else. SAN
    * covers 127.0.0.1 so the client's endpoint identification (the
    * `check_hostname` half of the reference's ssl context) passes
    * against the loopback dial.
    */
  private def selfSignedTlsContexts(): (javax.net.ssl.SSLContext, javax.net.ssl.SSLContext) = {
    val dir = Files.createTempDirectory("graft-tls")
    val ksPath = dir.resolve("ks.p12").toString
    val keytool = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "keytool").getPath
    val p = new ProcessBuilder(keytool, "-genkeypair", "-alias", "stub",
      "-keyalg", "RSA", "-keysize", "2048", "-dname", "CN=localhost",
      "-validity", "2", "-storetype", "PKCS12", "-keystore", ksPath,
      "-storepass", "changeit", "-ext", "SAN=ip:127.0.0.1,dns:localhost")
      .redirectErrorStream(true).start()
    assert(p.waitFor() === 0, "keytool keypair generation failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val fis = new java.io.FileInputStream(ksPath)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val serverCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    // trust store = just the self-signed cert (a PrivateKeyEntry is not
    // a trust anchor for TrustManagerFactory — re-enter it as a cert)
    val trust = java.security.KeyStore.getInstance("PKCS12")
    trust.load(null, null)
    trust.setCertificateEntry("stub", ks.getCertificate("stub"))
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(trust)
    val clientCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)
    (serverCtx, clientCtx)
  }

  test("SMTP implicit TLS: probe and send speak the reference's SMTP_SSL path") {
    import graft.streaming.Transports.SmtpTransport
    val (serverCtx, clientCtx) = selfSignedTlsContexts()
    val stub = new SmtpStub(tls = Some(serverCtx))
    try {
      val smtp = new SmtpTransport("127.0.0.1", stub.port, "graft@local",
        Seq("ops@local"), credentials = Some(("user", "secret")),
        implicitTls = true, sslContext = Some(clientCtx))
      smtp.probe() // TLS handshake + AUTH LOGIN + QUIT, no mail
      assert(stub.logins === 1 && stub.messages.isEmpty)
      smtp.send("delay episode: archive 64 ledgers behind")
      assert(stub.messages.length === 1)
      assert(stub.messages.head.contains("64 ledgers behind"))
      // a plain-TCP client against the TLS endpoint must fail loudly
      // (greeting never arrives in cleartext), not hang startup
      val plain = new SmtpTransport("127.0.0.1", stub.port, "graft@local",
        Seq("ops@local"), timeoutMs = 2000)
      intercept[java.io.IOException](plain.probe())
      // Deploy parity: bare EMAIL_SMTP host → port 465 implicit TLS,
      // exactly smtplib.SMTP_SSL(EMAIL_SMTP, SSL_PORT) (main.py:59,316)
      val ts = graft.Deploy.transports(Map(
        "EMAIL_SMTP" -> "mail.example.com", "EMAIL_ACCOUNT" -> "a@b",
        "EMAIL_PASSWORD" -> "pw", "EMAIL_RECIPIENTS" -> "ops@b"))
      assert(ts.length === 1 && ts.head.name === "smtp")
    } finally stub.close()
  }

  test("SMTP STARTTLS: upgrade-in-band on the same socket, auth inside the tunnel only") {
    import graft.streaming.Transports.SmtpTransport
    val (serverCtx, clientCtx) = selfSignedTlsContexts()
    val stub = new SmtpStub(startTlsCtx = Some(serverCtx))
    try {
      // startTls counts as transport security: no allowPlaintextAuth
      // opt-in needed even though the dial is plain TCP
      val smtp = new SmtpTransport("127.0.0.1", stub.port, "graft@local",
        Seq("ops@local"), credentials = Some(("user", "secret")),
        startTls = true, sslContext = Some(clientCtx))
      smtp.probe() // greet, EHLO, STARTTLS, handshake, re-EHLO, AUTH, QUIT
      assert(stub.logins === 1 && stub.messages.isEmpty)
      assert(stub.loginsInTunnel === 1,
        "credentials must only ever cross the wire inside the TLS tunnel")
      smtp.send("delay episode: upgrade-in-band delivery")
      assert(stub.messages.length === 1)
      assert(stub.messages.head.contains("upgrade-in-band delivery"))
      assert(stub.loginsInTunnel === 2)
      // a server that refuses the upgrade (plain stub answers STARTTLS
      // with 500) fails the session loudly — never a silent plaintext
      // fallback, the STARTTLS-stripping attack shape
      val plainStub = new SmtpStub()
      try {
        val stripped = new SmtpTransport("127.0.0.1", plainStub.port,
          "graft@local", Seq("ops@local"), startTls = true,
          sslContext = Some(clientCtx), timeoutMs = 2000)
        intercept[java.io.IOException](stripped.probe())
      } finally plainStub.close()
      // the two TLS legs are mutually exclusive knobs
      intercept[IllegalArgumentException](
        new SmtpTransport("127.0.0.1", stub.port, "graft@local",
          Seq("ops@local"), implicitTls = true, startTls = true))
      // Deploy parity: host:587 builds the STARTTLS leg (the standard
      // submission port), creds passing the plaintext-auth gate via
      // the upgrade — no allowPlaintextAuth needed
      val ts = graft.Deploy.transports(Map(
        "EMAIL_SMTP" -> "mail.example.com:587", "EMAIL_ACCOUNT" -> "a@b",
        "EMAIL_PASSWORD" -> "pw", "EMAIL_RECIPIENTS" -> "ops@b"))
      assert(ts.length === 1 && ts.head.name === "smtp")
    } finally stub.close()
  }

  test("concrete transports: SMTP + webhook deliver through real sockets; probes gate startup") {
    import graft.streaming.Transports.{SmtpTransport, WebhookTransport}

    // ── SMTP against the scripted socket stub ──
    val smtpStub = new SmtpStub()
    val smtp = new SmtpTransport("127.0.0.1", smtpStub.port, "graft@local",
      Seq("ops@local"), credentials = Some(("user", "secret")),
      allowPlaintextAuth = true) // in-process stub — the documented opt-in
    smtp.probe() // login + QUIT, no mail
    assert(smtpStub.logins === 1 && smtpStub.messages.isEmpty)
    smtp.send("Reached retry limit. Quitting.\n.leading-dot line")
    assert(smtpStub.messages.length === 1)
    assert(smtpStub.messages.head.contains("Subject: history-collector alert"))
    assert(smtpStub.messages.head.contains("Reached retry limit. Quitting."))
    assert(smtpStub.messages.head.contains("..leading-dot line")) // dot-stuffed

    // bad credentials: ValidatingAlerts construction aborts (the
    // reference's __email_validation sys.exit path) before any ingest
    val badStub = new SmtpStub(failAuth = true)
    val bad = new SmtpTransport("127.0.0.1", badStub.port, "graft@local",
      Seq("ops@local"), credentials = Some(("user", "wrong")),
      allowPlaintextAuth = true)
    val e = intercept[IllegalStateException](
      new graft.streaming.ValidatingAlerts(Seq(bad)))
    assert(e.getMessage.contains("smtp"))
    badStub.close()

    // credentials over plain TCP without the explicit opt-in refuse at
    // construction: AUTH LOGIN is base64, not encryption, and the
    // default implicitTls=false is exactly the misconfiguration shape
    intercept[IllegalArgumentException](
      new SmtpTransport("127.0.0.1", smtpStub.port, "graft@local",
        Seq("ops@local"), credentials = Some(("user", "secret"))))

    // ── webhook against an in-process HTTP server ──
    import com.sun.net.httpserver.HttpServer
    val http = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    @volatile var posts = Vector.empty[String]
    http.createContext("/hook", exchange => {
      if (exchange.getRequestMethod == "POST")
        posts :+= new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      // HEAD probe gets 405 — any response still proves reachability
      exchange.sendResponseHeaders(if (exchange.getRequestMethod == "POST") 200 else 405, -1)
      exchange.close()
    })
    http.start()
    val hookUrl = s"http://127.0.0.1:${http.getAddress.getPort}/hook"
    val hook = new WebhookTransport(hookUrl)
    hook.probe() // 405 on HEAD still passes: endpoint is reachable
    // a dead PATH is detectable under strictPathProbe: the JDK server
    // 404s unmapped contexts and the strict probe fails loudly instead
    // of letting every later send() fail into fanOut's swallow
    val typo = new WebhookTransport(
      s"http://127.0.0.1:${http.getAddress.getPort}/hok", strictPathProbe = true)
    intercept[java.io.IOException](typo.probe())
    // ...but the DEFAULT is lenient: a POST-only route (API Gateway
    // method routing — MIGRATION.md's recommended Lambda front) 404s
    // HEAD while send() works; startup must not refuse a working pager
    new WebhookTransport(
      s"http://127.0.0.1:${http.getAddress.getPort}/hok").probe()
    hook.send("""archive delayed at "0000003f"""")
    assert(posts.length === 1)
    assert(posts.head === """{"text":"archive delayed at \"0000003f\""}""")

    // unreachable endpoint: probe failure aborts ValidatingAlerts
    val deadPort = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val unreachable = new WebhookTransport(s"http://127.0.0.1:$deadPort/hook",
      connectTimeoutMs = 500, readTimeoutMs = 500)
    intercept[IllegalStateException](
      new graft.streaming.ValidatingAlerts(Seq(unreachable)))

    // ── both wired into a real tail: delay + give-up fan out to each ──
    val archive = Files.createTempDirectory("graft-ct-arch").toString
    val out = Files.createTempDirectory("graft-ct-out").toString
    writeCheckpoint(archive, 0x3fL, 1)
    val alerts = new graft.streaming.ValidatingAlerts(Seq(smtp, hook))
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg,
      new PartitionedFileSink(out), maxRetries = 2, sleeper = _ => (), alerts = alerts)
    assert(tail.run(maxIterations = 100) === 1)
    assert(smtpStub.messages.length === 3) // probe-free: 1 earlier + delay + give-up
    assert(posts.length === 3)
    assert(posts.exists(_.contains("delay in the blockchain archiving bucket")))
    assert(posts.exists(_.contains("Reached retry limit. Quitting.")))
    http.stop(0)
    smtpStub.close()
  }

  test("file sink is FS-agnostic: URI-addressed root via Hadoop FileSystem (K3/K4)") {
    // Address the sink through an explicit file:// URI — the same code
    // path an s3a://bucket/prefix root takes (scheme-resolved Hadoop
    // FileSystem for data, markers, pointer, and probe alike). java.nio
    // side-file I/O would throw on any non-local scheme; this pins that
    // no such call is left in the sink.
    val archive = Files.createTempDirectory("graft-fs-arch").toString
    val local = Files.createTempDirectory("graft-fs-out").toString
    val out = "file://" + local
    writeCheckpoint(archive, 0x3fL, 2)
    writeCheckpoint(archive, 0x7fL, 0) // empty: marker only
    val sink = new PartitionedFileSink(out)
    sink.selfTest() // probe through the Hadoop FS too
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
    assert(tail.runOnce() === 2)
    assert(sink.lastSequence === Some(0x7fL))
    assert(sink.completed === Seq("0000003f", "0000007f"))
    // the URI resolved to the expected local files (plain-nio visible)
    assert(Files.exists(Paths.get(local, "completed_ledgers", "0000003f")))
    assert(Files.exists(Paths.get(local, "last_file")))
    assert(spark.read.option("header", "false").csv(s"$out/ledgers").count() === 2)
    // offset recovery reads back through the same FS
    assert(new PartitionedFileSink(out).lastSequence === Some(0x7fL))
  }

  /** Relative path → (bytes, `unix:mode`) of every file and directory
    * under `root`, the root included; Spark's random part-file UUIDs are
    * masked out of the names.
    */
  private def tree(root: java.nio.file.Path): Map[String, (Seq[Byte], Int)] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
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

  test("file sink commits the same names, bytes and modes as stock LocalFileSystem") {
    val archive = Files.createTempDirectory("graft-perm-arch").toString
    writeCheckpoint(archive, 0x3fL, 2)
    writeCheckpoint(archive, 0x7fL, 0) // empty: marker only
    // Hadoop caches a FileSystem by scheme and user, not by conf: with
    // the cache off for file:, each lookup builds a new instance of the
    // class the session conf names
    def commit(impl: Class[_ <: LocalFileSystem]): Map[String, (Seq[Byte], Int)] = {
      val root = Files.createTempDirectory("graft-perm-out").resolve("sink")
      spark.conf.set("fs.file.impl", impl.getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
      try {
        assert(Engine.fileSystem(spark, new HPath(root.toUri)).getClass === impl)
        val sink = new PartitionedFileSink(root.toString)
        assert(new ArchiveTail(spark, archive, Passphrase, cfg, sink).runOnce() === 2)
      } finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
      }
      tree(root)
    }
    val nio = commit(classOf[NioLocalFileSystem])
    val stock = commit(classOf[LocalFileSystem])
    assert(nio.keySet === stock.keySet)
    val part = "ledgers/ledger=0000003f/"
    assert(nio.keySet === Set("", "ledgers", part.init,
      s"${part}part-00000-<uuid>-c000.csv", s"$part.part-00000-<uuid>-c000.csv.crc",
      s"${part}_SUCCESS", s"$part._SUCCESS.crc", "completed_ledgers",
      "completed_ledgers/0000003f", "completed_ledgers/.0000003f.crc",
      "completed_ledgers/0000007f", "completed_ledgers/.0000007f.crc",
      "last_file", ".last_file.crc"))
    nio.foreach { case (k, v) => assert(v === stock(k), k) }
  }

  test("NioLocalFileSystem.Raw sets the bits stock chmod sets, sticky bit included") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "077")
    def modes(fs: RawLocalFileSystem): Seq[Int] = {
      fs.initialize(java.net.URI.create("file:///"), conf)
      val dir = new HPath(Files.createTempDirectory("graft-raw-perm").toUri)
      val sub = new HPath(dir, "sub")
      val made = new HPath(sub, "made")
      val set = new HPath(sub, "set")
      val wide = new HPath(sub, "wide")
      val sticky = new HPath(dir, "sticky")
      fs.mkdirs(sub)
      fs.create(made).close()
      fs.create(set).close()
      fs.setPermission(set, new FsPermission("640"))
      fs.create(wide).close()
      // as an HDFS-style create mode, which prints both of its modes
      fs.setPermission(wide, FsCreateModes.create(new FsPermission("754"), new FsPermission("777")))
      fs.mkdirs(sticky)
      fs.setPermission(sticky, new FsPermission("1777"))
      Seq(sub, made, set, wide, sticky).map(p =>
        Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff)
    }
    val nio = modes(new NioLocalFileSystem.Raw)
    assert(nio === modes(new RawLocalFileSystem))
    assert(nio === Seq("700", "600", "640", "754", "1777").map(Integer.parseInt(_, 8)))
  }

  test("sink self-test probes R/W/D at startup; failure raises before any ingest (K6)") {
    // file sink: probe passes on a writable root and leaves no trace
    val out = Files.createTempDirectory("graft-probe").toString
    new PartitionedFileSink(out).selfTest()
    assert(!Files.exists(Paths.get(out, ".connection_probe")))
    // ...and fails when the root cannot host directories
    val f = Files.createTempFile("graft-probe-file", "")
    intercept[IllegalStateException](new PartitionedFileSink(f.toString).selfTest())

    // jdbc sink: canned row round-trips inside one rolled-back transaction
    val db = new FakeDb
    val sink = new JdbcSink(() => db.connection(), JdbcLayout.Unified)
    sink.selfTest()
    assert(db.ops.isEmpty && db.commits === 0 && db.rollbacks === 1)

    // a failing database raises at tail construction, before any ingest
    val archive = Files.createTempDirectory("graft-probe-arch").toString
    writeCheckpoint(archive, 0x3fL, 1)
    db.failBatch = true
    intercept[IllegalStateException](new ArchiveTail(spark, archive, Passphrase, cfg, sink))
    assert(db.ops.isEmpty)
  }

  test("jdbc sink commits rows + offset atomically, skips replays, rolls back on failure") {
    val archive = Files.createTempDirectory("graft-arch2").toString
    writeCheckpoint(archive, 0x3fL, 2)
    writeCheckpoint(archive, 0x7fL, 1)
    val db = new FakeDb
    val sink = new JdbcSink(() => db.connection(), JdbcLayout.Unified)
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
    assert(db.rollbacks === 1) // construction self-test probe, rolled back

    assert(tail.runOnce() === 2)
    assert(db.ops.size === 3)
    assert(db.lastfile === Some("0000007f"))
    assert(db.commits === 2)

    // replay is a no-op (idempotence on batch sequence)
    assert(tail.processOne(0x3fL))
    assert(db.ops.size === 3)

    // fault injection: batch failure rolls back rows AND offset together
    writeCheckpoint(archive, 0xbfL, 1)
    db.failBatch = true
    intercept[java.sql.SQLException](tail.processOne(0xbfL))
    assert(db.rollbacks === 2) // probe rollback + this fault
    assert(db.ops.size === 3)
    assert(db.lastfile === Some("0000007f"))
    // recovery after the fault
    db.failBatch = false
    assert(tail.processOne(0xbfL))
    assert(db.ops.size === 4)
    assert(db.lastfile === Some("000000bf"))
  }

  /** Mixed payment + creation checkpoint for the two-table layout. */
  private def writeMixedCheckpoint(root: String, seq: Long): Unit = {
    val ops = Seq(
      Operation(Nil, OpBody(1, Some(PaymentOp(
        Asset(Some(AssetAlphaNum4("KIN", Ed25519(issuer)))), Ed25519(addr(10)), 1000000.0)), None)),
      Operation(Nil, OpBody(0, None, Some(CreateAccountOp(Ed25519(addr(20)), 50.0)))))
    val txe = TxHistoryEntry(seq, TxSet(Seq(TxWithHash("", TxCore(None, 100, Ed25519(addr(2)), ops)))))
    val txGz = Archive.gzip(StellarWriter.encodeTxEntry(txe))
    val hash = Stellar.decodeTxEntries(Archive.gunzip(txGz), Passphrase).head.txSet.txs.head.hash
    val resSet = TxResultEntry(TxResultSet(Seq(TxResultPair(hash, TxResultOuter(100,
      TxResultInner("txSUCCESS", Some(Seq(
        OpResult(OpResultTr(Some("PAYMENT_SUCCESS"), None)),
        OpResult(OpResultTr(None, Some("CREATE_ACCOUNT_SUCCESS")))))))))))
    def put(cat: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(Archive.pathFor(root, cat, seq))
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("transactions", txGz)
    put("ledger", Archive.gzip(StellarWriter.encodeLedgerEntry(
      LedgerEntry(LedgerHeader(seq, ScpValue(1600000000L + seq))))))
    put("results", Archive.gzip(StellarWriter.encodeResultEntry(resSet, seq)))
  }

  test("both JDBC layouts commit the same rows from one mixed checkpoint") {
    val archive = Files.createTempDirectory("graft-arch-layouts").toString
    writeMixedCheckpoint(archive, 0x3fL)
    val unified = new FakeDb
    val twoTable = new FakeDb
    for ((db, layout) <- Seq(unified -> JdbcLayout.Unified, twoTable -> JdbcLayout.TwoTable))
      assert(new ArchiveTail(spark, archive, Passphrase, cfg,
        new JdbcSink(() => db.connection(), layout)).runOnce() === 1)
    val opCols = JdbcLayout.Unified.head.columnNames
    for (t <- JdbcLayout.TwoTable) {
      val projected = unified.ops.filter(_.head == t.takes.get)
        .map(r => t.columnNames.map(c => r(opCols.indexOf(c))))
      assert(projected.nonEmpty)
      assert(projected === twoTable.tables(t.name), t.name)
    }
    assert(unified.lastfile === Some("0000003f"))
    assert(unified.lastfile === twoTable.lastfile)
  }

  test("two-table sink bootstraps reference DDL and routes rows by type (fidelity)") {
    val db = new FakeDb
    val sink = new JdbcSink(() => db.connection(), JdbcLayout.TwoTable)

    // bootstrap parity (build_database.py:30-83): invalid first file rejected
    intercept[IllegalArgumentException](sink.bootstrap("00000040"))
    // valid boundary seeds lastfile; db/user creation + grants run on the
    // admin connection (the reference's two-phase connect)
    assert(sink.bootstrap("0000003f", adminConnect = Some(() => db.connection())))
    assert(db.lastfile === Some("0000003f"))
    assert(db.ddl.exists(_.startsWith("CREATE DATABASE")))
    assert(db.ddl.exists(_.startsWith("CREATE USER")))
    assert(db.ddl.count(_.startsWith("GRANT")) === 9) // 3×(payments,creations) + 3×lastfile
    // second bootstrap: existing database → untouched no-op
    assert(!sink.bootstrap("0000003f"))

    // probe: canned creation row, rolled back, no trace in creations
    sink.selfTest()
    assert(db.tables("creations").isEmpty && db.rollbacks === 1)

    // a mixed checkpoint routes payments and creations to their own
    // tables. The archive carries the SEEDED first file itself: the
    // reference ingests FIRST_FILE when lastfile still equals it
    // (main.py:247 only advances past a lastfile that differs), so the
    // tail must resume AT 0x3f — resuming past it would silently lose
    // the deployment's first 64 ledgers.
    val archive = Files.createTempDirectory("graft-arch-2t").toString
    writeMixedCheckpoint(archive, 0x3fL)
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
    assert(tail.resumeSeq === 0x3fL) // seeded pointer = not yet ingested
    assert(tail.runOnce() === 1)
    assert(db.tables("payments").size === 1)
    assert(db.tables("creations").size === 1)
    assert(db.lastfile === Some("0000003f"))
    // per-table shapes: payments carry amount, creations starting_balance
    assert(db.tables("payments").head(2) === 1000000.0)  // amount (3rd col)
    assert(db.tables("creations").head(2) === 50.0)      // starting_balance (3rd col)
    // nullable column tolerance (reference test_save_payments_with_null_value):
    // no memo on the fixture ops → memo_text lands as NULL, row still stored
    assert(db.tables("payments").head(3) === null)       // memo_text (4th col)

    // replay of the ambiguous lastfile == seq case OVERWRITES this
    // batch's row identities instead of duplicating (the reference
    // double-inserts in this window)
    assert(tail.processOne(0x3fL))
    assert(db.tables("payments").size === 1 && db.tables("creations").size === 1)

    // fault injection: both tables + offset roll back together
    writeMixedCheckpoint(archive, 0x7fL)
    db.failBatch = true
    intercept[java.sql.SQLException](tail.processOne(0x7fL))
    assert(db.tables("payments").size === 1 && db.tables("creations").size === 1)
    assert(db.lastfile === Some("0000003f"))
    db.failBatch = false
    assert(tail.processOne(0x7fL))
    assert(db.tables("payments").size === 2 && db.tables("creations").size === 2)
    assert(db.lastfile === Some("0000007f"))
  }

  test("two-table sink advances the offset even on an unseeded lastfile") {
    // pre-provisioned schema without bootstrap: the reference's UPDATE
    // would touch 0 rows and the offset would never advance (silent
    // re-ingest forever); the sink falls back to INSERT
    val db = new FakeDb
    val sink = new JdbcSink(() => db.connection(), JdbcLayout.TwoTable)
    val archive = Files.createTempDirectory("graft-arch-2t-unseeded").toString
    writeMixedCheckpoint(archive, 0x3fL)
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
    assert(tail.runOnce() === 1)
    assert(db.lastfile === Some("0000003f"))
    assert(tail.runOnce() === 0) // offset advanced: no re-ingest
    assert(db.tables("payments").size === 1)
  }

  test("bootstrap grants the ingest user every statement the sink then runs") {
    val archive = Files.createTempDirectory("graft-arch-grants").toString
    writeMixedCheckpoint(archive, 0x3fL)
    for (layout <- Seq(JdbcLayout.Unified, JdbcLayout.TwoTable)) {
      val db = new FakeDb
      val sink = new JdbcSink(() => db.connection(), layout)
      assert(sink.bootstrap("0000003f", adminConnect = Some(() => db.connection())))
      db.statements.clear()
      // the K6 probe, the seeded first checkpoint, then its overwrite
      val tail = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
      assert(tail.runOnce() === 1 && tail.processOne(0x3fL))
      // a statement's verb and its table: the word after INTO/FROM, or
      // the verb's object (UPDATE lastfile)
      val target = "^(\\w+)(?: .*?(?:INTO|FROM))? (\\w+)".r
      val needed = db.statements.map(s => target.findFirstMatchIn(s).get)
        .map(m => s"GRANT ${m.group(1)} ON ${m.group(2)} TO python").toSet
      assert(needed.exists(_.startsWith("GRANT DELETE")), needed)
      assert(needed.subsetOf(db.ddl.toSet), s"${layout.map(_.name)}: ${needed -- db.ddl}")
    }
  }

  test("a lastfile == seq overwrite whose insert fails rolls back its deletes too") {
    val archive = Files.createTempDirectory("graft-arch-overwrite").toString
    writeCheckpoint(archive, 0x3fL, 2)
    val db = new FakeDb
    val sink = new JdbcSink(() => db.connection(), JdbcLayout.Unified)
    val tail = new ArchiveTail(spark, archive, Passphrase, cfg, sink)
    assert(tail.processOne(0x3fL))
    val committed = db.ops
    assert(committed.size === 2 && db.lastfile === Some("0000003f"))
    // lastfile == seq: the save deletes this batch's rows, then inserts
    db.failInserts = true
    intercept[java.sql.SQLException](tail.processOne(0x3fL))
    assert(db.statements.exists(_.startsWith("DELETE FROM operations WHERE hash = ?")))
    assert(db.ops === committed && db.lastfile === Some("0000003f"))
    db.failInserts = false
    assert(tail.processOne(0x3fL))
    assert(db.ops.toSet === committed.toSet && db.ops.size === 2)
  }
}
