package graft

import java.net.{HttpURLConnection, URI}
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.pipeline.Serve
import graft.serve.{Facade, HttpServe}

/** Drives the HTTP facade end-to-end against an in-memory payments table:
  * the reference's sample API surface (sample/main.py:19-53) — /payments
  * with source+limit, /tx by id, time rendered yyyy-MM-dd.
  */
class HttpServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def get(url: String): (Int, String) = {
    val (code, body, _) = get3(url)
    (code, body)
  }

  private def get3(url: String): (Int, String, Map[String, String]) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    // explicit UTF-8: the bodies are written as UTF-8 (Facade), and the
    // container JVM's default charset is not — a non-ASCII byte in an
    // error body (the ledger refusal line's em dash) must not throw
    val body = try scala.io.Source.fromInputStream(is)(
      scala.io.Codec.UTF8).mkString finally is.close()
    import scala.jdk.CollectionConverters._
    val headers = conn.getHeaderFields.asScala.collect {
      case (k, vs) if k != null => k.toLowerCase -> vs.asScala.mkString(",")
    }.toMap
    (code, body, headers)
  }

  test("/payments and /tx serve JSON rows like the reference sample") {
    import spark.implicits._
    val pays = Seq(
      ("SRC_A", "DST_1", 21.0, "1-kit-x", "a" * 64, Timestamp.valueOf("2018-10-20 12:47:21"), 0),
      ("SRC_A", "DST_2", 30.5, "1-kit-y", "b" * 64, Timestamp.valueOf("2018-10-20 12:47:25"), 0),
      ("SRC_A", "DST_3", 11.0, "1-kit-z", "c" * 64, Timestamp.valueOf("2018-10-20 12:47:30"), 0),
      ("SRC_B", "DST_4", 99.0, "other", "d" * 64, Timestamp.valueOf("2018-10-21 01:00:00"), 0)
    ).toDF("source", "destination", "amount", "memo_text", "hash", "time", "operation_index")

    val srv = new HttpServe(pays)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"

      val (c1, payments) = get(s"$base/payments?source=SRC_A&limit=2")
      assert(c1 === 200)
      assert(payments.startsWith("[") && payments.endsWith("]"))
      // limit honored, deterministic time order, strftime-style date
      assert(payments.contains("\"destination\":\"DST_1\""))
      assert(payments.contains("\"destination\":\"DST_2\""))
      assert(!payments.contains("DST_3") && !payments.contains("DST_4"))
      assert(payments.contains("\"time\":\"2018-10-20\""))

      val (c2, tx) = get(s"$base/tx?id=${"d" * 64}")
      assert(c2 === 200)
      assert(tx.contains("\"destination\":\"DST_4\"") && tx.contains("\"time\":\"2018-10-21\""))

      val (c3, err) = get(s"$base/payments")
      assert(c3 === 400 && err.contains("missing parameter"))

      // a negative limit is the caller's input, not a server fault:
      // 400 from the handler's own validation, not an empty body
      val (cneg, errNeg) = get(s"$base/payments?source=SRC_A&limit=-1")
      assert(cneg === 400 && errNeg.contains("bad request"),
        s"negative limit must be a client error: $errNeg")

      // flask_cors parity: every response grants wildcard CORS
      val (_, _, headers) = get3(s"$base/payments?source=SRC_A")
      assert(headers.get("access-control-allow-origin").contains("*"))
    } finally srv.stop()
  }

  test("referenceShape reproduces the sample's concatenated indent-2 objects") {
    import spark.implicits._
    val pays = Seq(
      ("SRC_A", "DST_1", 21.0, "1-kit-x", "a" * 64, Timestamp.valueOf("2018-10-20 12:47:21"), 0),
      ("SRC_A", "DST_2", 30.5, "1-kit-y", "b" * 64, Timestamp.valueOf("2018-10-20 12:47:25"), 0)
    ).toDF("source", "destination", "amount", "memo_text", "hash", "time", "operation_index")
    val srv = new HttpServe(pays, referenceShape = true)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (code, body) = get(s"$base/payments?source=SRC_A&limit=2")
      assert(code === 200)
      // json.dumps(indent=2) concatenation: objects butt together with
      // no separator (sample/main.py:28-34), two-space indented keys
      assert(body.contains("}{"), s"objects must concatenate:\n$body")
      assert(body.contains("\"destination\": \"DST_1\"") &&
        body.contains("\n  \"amount\": 21.0,\n"))
      assert(body.contains("\"time\": \"2018-10-20\""))
      assert(!body.startsWith("["), "reference shape is not a JSON array")
      // a single row parses as one standalone pretty JSON object
      val (c2, tx) = get(s"$base/tx?id=${"b" * 64}")
      assert(c2 === 200 && tx.startsWith("{\n  \"source\": \"SRC_A\"") && tx.endsWith("\n}"))
    } finally srv.stop()
  }

  /** Payments whose served order and bodies are easy to get wrong:
    * null memo and destination, a non-ASCII memo, equal times broken
    * by hash, and a hash of four ops (one with a null index) listed out
    * of index order.
    */
  private def awkwardPayments: DataFrame = {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2018-10-20 12:47:21")
    val t1 = Timestamp.valueOf("2018-10-21 01:00:00")
    Seq[(String, String, Double, String, String, Option[Int], Timestamp)](
      ("SRC_A", "DST_1", 21.0, null, "b" * 64, Some(0), t0),
      ("SRC_A", null, 2.5e7, "1-kit-\u00e9t\u00e9 \u2603", "a" * 64, Some(2), t0),
      ("SRC_B", "DST_2", 0.5, "1-kit-\"q\"", "a" * 64, Some(1), t0),
      ("SRC_A", "DST_3", 3.0, "1-kit-z", "a" * 64, None, t0),
      ("SRC_A", "DST_4", 4.0, "1-kit-w", "a" * 64, Some(0), t0),
      ("SRC_B", "DST_5", 1e-5, null, "c" * 64, Some(0), t1)
    ).toDF("source", "destination", "amount", "memo_text", "hash", "operation_index", "time")
  }

  /** A served frame with `time` as the sample renders it. */
  private def shaped(df: DataFrame): DataFrame =
    df.withColumn("time", col("date")).drop("date")

  test("the prebuilt index serves bodies byte-equal to the Spark queries, both shapes") {
    val pays = awkwardPayments
    val n = pays.count().toInt
    def pretty(df: DataFrame): String = {
      val s = shaped(df)
      s.collect().map(r => HttpServe.pretty(s.columns, r)).mkString
    }
    for (reference <- Seq(false, true)) {
      val render: DataFrame => String =
        if (reference) pretty else df => Facade.arrayJson(shaped(df))
      val srv = new HttpServe(pays, referenceShape = reference)
      srv.start()
      try {
        val base = s"http://127.0.0.1:${srv.boundPort}"
        for (src <- Seq("SRC_A", "SRC_B", "SRC_NONE"); limit <- Seq(0, 1, 2, n + 1)) {
          val (code, body) = get(s"$base/payments?source=$src&limit=$limit")
          assert(code === 200)
          assert(body === render(Serve.paymentsBySource(pays, src, limit)),
            s"/payments source=$src limit=$limit reference=$reference")
        }
        for (h <- Seq("a", "b", "c", "d").map(_ * 64)) {
          val (code, body) = get(s"$base/tx?id=$h")
          assert(code === 200)
          assert(body === render(Serve.txByHash(pays, h)), s"/tx $h reference=$reference")
        }
      } finally srv.stop()
    }
    // the four-op tx in index order, the null index first
    val srv = new HttpServe(pays)
    srv.start()
    try {
      val (_, tx) = get(s"http://127.0.0.1:${srv.boundPort}/tx?id=${"a" * 64}")
      val order = Seq("\"DST_3\"", "\"DST_4\"", "\"DST_2\"", "\"destination\":null")
        .map(d => tx.indexOf(d))
      assert(order.forall(_ >= 0) && order === order.sorted, tx)
    } finally srv.stop()
  }

  test("building the server runs one Spark job; a request runs none") {
    val pays = awkwardPayments
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val srv = new HttpServe(pays)
      TestBus.drain(sc)
      assert(jobs.get === 1, "the build")
      srv.start()
      try {
        val base = s"http://127.0.0.1:${srv.boundPort}"
        Seq("/payments?source=SRC_A", "/payments?source=SRC_B&limit=1",
          "/payments?source=SRC_NONE", s"/tx?id=${"a" * 64}", s"/tx?id=${"d" * 64}")
          .foreach(path => assert(get(base + path)._1 === 200, path))
        TestBus.drain(sc)
        assert(jobs.get === 1, "requests ran Spark jobs")
      } finally srv.stop()
    } finally sc.removeSparkListener(listener)
  }

  test("a server serves the rows of its build: a later partition waits for the next server") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-snapshot").toString
    def write(ledger: Int, src: String, hash: String): Unit =
      Seq((src, "DST", 1.0, hash, 0, Timestamp.valueOf("2018-10-20 12:47:21")))
        .toDF("source", "destination", "amount", "hash", "operation_index", "time")
        .write.csv(s"$dir/ledger=$ledger")
    val schema = "source STRING, destination STRING, amount DOUBLE, hash STRING, " +
      "operation_index INT, time TIMESTAMP"
    def read(): DataFrame = spark.read.schema(schema).csv(dir)
    write(1, "SRC_OLD", "e" * 64)
    val srv = new HttpServe(read())
    write(2, "SRC_NEW", "f" * 64)
    val fresh = new HttpServe(read())
    srv.start(); fresh.start()
    try {
      def payments(s: HttpServe, src: String): String =
        get(s"http://127.0.0.1:${s.boundPort}/payments?source=$src")._2
      assert(payments(srv, "SRC_OLD").contains("e" * 64))
      assert(payments(srv, "SRC_NEW") === "[]", "a row written after the build")
      assert(payments(fresh, "SRC_NEW").contains("f" * 64))
    } finally { srv.stop(); fresh.stop() }
  }

  test("IntakeServe answers fate lookups, the admissions dashboard, and pack progress") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-intake-serve").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    def mkText(tag: String, last: String): String =
      (1 to 36).map(j => s"${tag}word$j").mkString(" ") + s" the $tag of this is $last"
    graft.streaming.LivePipeline.seed(
      Seq((1L, "en", mkText("rho", "high"))).toDF("doc_id", "lang", "text"), cfg)
    graft.streaming.LivePipeline.step(Seq(
      (100L, "en", mkText("sigma", "high")),
      (101L, "en", mkText("rho", "high")),   // exact dup of the seed doc
      (102L, "en", "tiny text"),             // fails the quality bar
      (103L, "en", "")                       // contract violation → dead letter
    ).toDF("doc_id", "lang", "text"), 0L, cfg)

    val srv = new graft.serve.IntakeServe(spark, cfg)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // "why was my document dropped" — the per-doc point lookup
      val (c1, fate) = get(s"$base/fate?doc_id=101")
      assert(c1 === 200)
      assert(fate.contains("\"fate\":\"dup_of_corpus\"") && fate.contains("\"batch\":0"))
      val (c2, fate2) = get(s"$base/fate?doc_id=100")
      assert(c2 === 200 && fate2.contains("\"fate\":\"admitted\""))
      // null-valued fields are KEPT in the JSON (to_json default would
      // silently drop the key, breaking clients indexing the object)
      val (cn, fateNull) = get(s"$base/fate?doc_id=103")
      assert(cn === 200 && fateNull.contains("\"quality_score\":null"),
        s"null fields must serialize explicitly: $fateNull")
      // malformed client input is a 400, not a 500
      val (cbad, badBody) = get(s"$base/fate?doc_id=abc")
      assert(cbad === 400 && badBody.contains("bad request"),
        s"non-numeric param must be a client error: $badBody")
      // the admission dashboard: one count per fate
      val (c3, dash) = get(s"$base/admissions")
      assert(c3 === 200)
      assert(dash.contains("\"fate\":\"admitted\",\"n_docs\":2") &&
        dash.contains("\"fate\":\"dup_of_corpus\",\"n_docs\":1") &&
        dash.contains("\"fate\":\"low_quality\",\"n_docs\":1") &&
        dash.contains("\"fate\":\"malformed\",\"n_docs\":1"))
      // the dead-letter shelf serves the violating row, payload included
      val (cq, quar) = get(s"$base/quarantine?batch=0")
      assert(cq === 200 && quar.contains("\"doc_id\":103") &&
        quar.contains("\"reason\":\"malformed\""))
      val (cq2, quarNone) = get(s"$base/quarantine?doc_id=100")
      assert(cq2 === 200 && quarNone === "[]", "admitted docs have no dead letter")
      // the drift view narrows to one commit: the seed batch admitted
      // its single doc and rejected nothing
      val (cb, dashSeed) = get(s"$base/admissions?batch=-1")
      assert(cb === 200 && dashSeed.contains("\"fate\":\"admitted\",\"n_docs\":1") &&
        !dashSeed.contains("low_quality"))
      // pack progress: the latest cursor snapshot, tokens so far
      val (c4, prog) = get(s"$base/progress")
      assert(c4 === 200 && prog.contains("\"lang\":\"en\"") && prog.contains("\"cum\":"))
      // store maintenance posture: seed (-1) + batch 0 committed, no
      // crash-recovery debt, tombstone shelf empty
      val (cst, stores) = get(s"$base/stores")
      assert(cst === 200)
      assert(stores.contains("\"plane\":\"intake\",\"store\":\"packed\"," +
        "\"n_partitions\":2,\"last_batch\":0,\"pending_fold\":false," +
        "\"n_pending_rewrites\":0"), s"unexpected /stores: $stores")
      assert(stores.contains("\"store\":\"tombstones\",\"n_partitions\":0," +
        "\"last_batch\":null"))
      // snapshot manifest: totals at the live frontier and pinned as-of
      val (c6, snap) = get(s"$base/snapshot")
      assert(c6 === 200 && snap.contains("\"lang\":\"en\",\"n_docs\":2"))
      val (c7, snapSeed) = get(s"$base/snapshot?as_of=-1")
      assert(c7 === 200 && snapSeed.contains("\"n_docs\":1"))
      // RTBF: BOTH admissions spellings mask a forgotten doc — the
      // single-batch view must not keep counting what the whole-history
      // view beside it excludes
      graft.streaming.LivePipeline.forget(spark, cfg, Seq(102L))
      val (cf1, dashAll) = get(s"$base/admissions")
      assert(cf1 === 200 && !dashAll.contains("low_quality"))
      val (cf2, dashB0) = get(s"$base/admissions?batch=0")
      assert(cf2 === 200 && dashB0.contains("dup_of_corpus") &&
        !dashB0.contains("low_quality"),
        s"single-batch view must apply the tombstone mask: $dashB0")
      // frontier clamp: an audit partition left by a step that crashed
      // AFTER its append (files + _SUCCESS) but BEFORE the cursor
      // commit stays invisible — served empty, with no history listing
      Seq((999L, "admitted", 1.0)).toDF("doc_id", "fate", "quality_score")
        .write.parquet(s"$root/audit/batch=7")
      val (cu, dashU) = get(s"$base/admissions?batch=7")
      assert(cu === 200 && dashU === "[]",
        s"uncommitted partition must stay invisible: $dashU")
      // missing parameter → 400, CORS grant present
      val (c5, err) = get(s"$base/fate")
      assert(c5 === 400 && err.contains("missing parameter"))
      val (_, _, headers) = get3(s"$base/admissions")
      assert(headers.get("access-control-allow-origin").contains("*"))
    } finally srv.stop()

    // with the composed stack's index config, /search serves BM25 over
    // the curated corpus
    val iroot = java.nio.file.Files.createTempDirectory("graft-intake-idx").toString
    val idx = graft.streaming.LiveIndex.Config(iroot)
    graft.streaming.LiveIndex.step(
      Seq((100L, mkText("sigma", "high"))).toDF("doc_id", "text"), 0L, idx)
    val srv2 = new graft.serve.IntakeServe(spark, cfg, index = Some(idx))
    srv2.start()
    try {
      val base2 = s"http://127.0.0.1:${srv2.boundPort}"
      val (c8, hits) = get(s"$base2/search?q=the%20of&k=5")
      assert(c8 === 200 && hits.contains("\"doc_id\":100") && hits.contains("\"bm25\":"))
      val (c9, err2) = get(s"$base2/search")
      assert(c9 === 400 && err2.contains("missing parameter"))
    } finally srv2.stop()
  }

  test("/knn serves bucket-pruned cosine top-k over the live vector store") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val vroot = java.nio.file.Files.createTempDirectory("graft-intake-knn").toString
    val vcfg = graft.streaming.LiveVectors.Config(vroot)
    val emb = Tables.embeddings(spark, d)
    graft.streaming.LiveVectors.ensurePlanes(
      emb.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("hid"), col("embedding").as("hv")), vcfg)
    graft.streaming.LiveVectors.step(emb.filter(col("vec_id") =!= 0), 0L, vcfg)
    val q = emb.filter(col("vec_id") === 0).collect()
      .head.getSeq[Float](1).toArray
    val expected = graft.streaming.LiveVectors.topK(spark, vcfg, q, 5).collect()
      .map(_.getAs[Long]("vec_id")).toSeq
    assert(expected.nonEmpty)
    val cfg = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-intake-knn-root").toString)
    val srv = new graft.serve.IntakeServe(spark, cfg, vectors = Some(vcfg))
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (code, body) = get(s"$base/knn?q=${q.mkString(",")}&k=5")
      assert(code === 200)
      val got = "\"vec_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      assert(got === expected, s"HTTP serve must match the library topK: $body")
      assert(body.contains("\"cos\":"))
      val (c2, err) = get(s"$base/knn")
      assert(c2 === 400 && err.contains("missing parameter"))
    } finally srv.stop()
  }

  test("/release serves the live continual DP release; an exhausted budget answers 429 and releases nothing") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val rroot = java.nio.file.Files.createTempDirectory("graft-intake-release").toString
    val rcfg = graft.streaming.LiveRelease.Config(rroot)
    val evAll = Tables.events(spark, d)
    (0 until 2).foreach(i => graft.streaming.LiveRelease.days.step(
      evAll.filter(col("event_id") % 2 === i), i.toLong, rcfg.root))
    val expected = graft.operators.Privacy.dpContinualRelease(evAll, seeded = true)
      .collect().map(_.getAs[Long]("released_cum")).toSeq
    // budget 1: exactly one release is EVER admitted over this API
    val led = graft.operators.DpLedger.open(
      java.nio.file.Files.createTempDirectory("graft-release-ledger").toString,
      budget = BigDecimal(1))
    val cfg = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-intake-release-root").toString)
    // the seeded (oracle-replayable) draw is SERVER construction config
    // (r17 advice: a client-supplied seeded=1 made the noise a
    // deterministic function of public strings for any caller —
    // charge-burning, guarantee-voiding — and is now simply not parsed)
    val srv = new graft.serve.IntakeServe(spark, cfg,
      release = Some(rcfg), releaseLedger = Some(led), releaseSeeded = true)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (c1, body) = get(s"$base/release?window=0")
      assert(c1 === 200)
      val got = "\"released_cum\":(\\d+)".r.findAllMatchIn(body)
        .map(_.group(1).toLong).toSeq
      assert(got === expected,
        s"HTTP release must equal batch x47 on the ingested records: $body")
      assert(led.spent === BigDecimal(1))
      // a client-sent seeded=1 is inert: unknown params are ignored and
      // the draw stays whatever the server was constructed with —
      // here the next charge is refused anyway (429), proving the
      // request reached the ledger path, not a special seeded path
      val (c2, err) = get(s"$base/release?window=0&seeded=1")
      assert(c2 === 429, s"budget refusal must answer 429: $err")
      assert(err.contains("refused") && !err.contains("released_cum"))
      assert(led.spent === BigDecimal(1))
      // client fault stays 400, not 429
      val (c3, _) = get(s"$base/release?window=zero")
      assert(c3 === 400)
      // a window outside the served range is a 400 BEFORE the charge —
      // never a burned budget for a typo (r17 review); spend unchanged.
      // The message spells the served windows as elements (r17 advice:
      // no half-open formatting assumption on the Range's shape).
      val (c4, err4) = get(s"$base/release?window=7")
      assert(c4 === 400 && err4.contains("outside the served windows {0}"), err4)
      assert(led.spent === BigDecimal(1))
    } finally srv.stop()
  }

  test("/alert serves the SVT verdict stream; one epsilon per request, 429 once the budget is gone") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val rroot = java.nio.file.Files.createTempDirectory("graft-intake-alert").toString
    val rcfg = graft.streaming.LiveRelease.Config(rroot)
    val evAll = Tables.events(spark, d)
    graft.streaming.LiveRelease.days.step(evAll, 0L, rcfg.root)
    val expected = graft.operators.Privacy
      .dpAboveThresholdRelease(evAll, threshold = 5.0, seeded = true).collect()
      .map(r => (r.getTimestamp(0), r.getBoolean(1))).toSeq
    assert(expected.nonEmpty)
    val led = graft.operators.DpLedger.open(
      java.nio.file.Files.createTempDirectory("graft-alert-ledger").toString,
      budget = BigDecimal(1))
    val cfg = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-intake-alert-root").toString)
    val srv = new graft.serve.IntakeServe(spark, cfg,
      release = Some(rcfg), releaseLedger = Some(led), releaseSeeded = true,
      alertThreshold = 5.0)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (c1, body) = get(s"$base/alert")
      assert(c1 === 200)
      // verdicts only: above flags, never counts or noise
      val got = "\"above\":(true|false)".r.findAllMatchIn(body)
        .map(_.group(1).toBoolean).toSeq
      assert(got === expected.map(_._2),
        s"HTTP alert must equal the batch x51 verdicts: $body")
      assert(!body.contains("cnt") && !body.contains("noise"), body)
      assert(led.spent === BigDecimal(1),
        "64 threshold questions cost one epsilon — the reason this endpoint is SVT")
      // a second request is a new stream — a new charge, here refused
      // as 429 with nothing released
      val (c2, err) = get(s"$base/alert")
      assert(c2 === 429 && err.contains("refused") && !err.contains("above"), err)
      assert(led.spent === BigDecimal(1))
    } finally srv.stop()
  }

  test("/histogram serves the stability releases from the live cell stores; delta overdraw answers 429") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val rroot = java.nio.file.Files.createTempDirectory("graft-intake-hist").toString
    val rcfg = graft.streaming.LiveRelease.Config(rroot)
    // sf0.001 alone has no cell that ~60 users share, so the x55 τ
    // (≈ 59 at capCells 4, δ 1e-6) suppresses everything — union a
    // synthetic 70-user hot cell so the user-level release is non-empty
    val evAll = {
      import spark.implicits._
      val hot = (0 until 70).map(u => (900000L + u,
        java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
        9000L + u, "click", 1.0, "")).toDF(
        "event_id", "ts", "user_id", "event_type", "value", "props")
      Tables.events(spark, d).unionByName(hot)
    }
    graft.streaming.LiveRelease.cells.step(evAll, 0L, rcfg.root)
    graft.streaming.LiveRelease.userCells.step(evAll, 0L, rcfg.root)
    val expected = graft.operators.Privacy
      .dpStableHistogramRelease(evAll, seeded = true).collect()
      .map(_.getAs[Long]("released_n")).toSeq
    val expectedUser = graft.operators.Privacy
      .dpUserHistogramRelease(evAll, seeded = true).collect()
      .map(_.getAs[Long]("released_users")).toSeq
    assert(expected.nonEmpty && expectedUser.nonEmpty)
    // ε budget generous; δ budget licenses exactly TWO 1e-6 releases —
    // the third 429 is the δ metering (r18 verdict #1) live on the wire
    val led = graft.operators.DpLedger.open(
      java.nio.file.Files.createTempDirectory("graft-hist-ledger").toString,
      budget = BigDecimal(10), deltaBudget = BigDecimal("0.000002"))
    val cfg = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-intake-hist-root").toString)
    val srv = new graft.serve.IntakeServe(spark, cfg,
      release = Some(rcfg), releaseLedger = Some(led), releaseSeeded = true)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (c1, body) = get(s"$base/histogram")
      assert(c1 === 200)
      val got = "\"released_n\":(\\d+)".r.findAllMatchIn(body)
        .map(_.group(1).toLong).toSeq
      assert(got === expected,
        s"HTTP histogram must equal batch x54 on the ingested records: $body")
      // only survivors of τ ship; true counts and noise never do
      assert(!body.contains("true_n") && !body.contains("noisy"), body)
      assert(led.spent === BigDecimal(1) &&
        led.spentDelta === BigDecimal("0.000001"),
        "one request charges the (epsilon, delta) pair")
      val (c2, body2) = get(s"$base/histogram?unit=user")
      assert(c2 === 200)
      val gotU = "\"released_users\":(\\d+)".r.findAllMatchIn(body2)
        .map(_.group(1).toLong).toSeq
      assert(gotU === expectedUser,
        s"unit=user must serve the x55 release: $body2")
      assert(led.spentDelta === BigDecimal("0.000002"))
      // third request: ε remains (8 of 10) but δ is spent — 429 names
      // the binding constraint, nothing released
      val (c3, err) = get(s"$base/histogram")
      assert(c3 === 429 && err.contains("delta budget") &&
        !err.contains("released_n"), err)
      assert(led.spent === BigDecimal(2) &&
        led.spentDelta === BigDecimal("0.000002"))
      // a bad unit is a client fault BEFORE any charge
      val (c4, err4) = get(s"$base/histogram?unit=day")
      assert(c4 === 400 && err4.contains("unit"), err4)
      assert(led.spent === BigDecimal(2))
    } finally srv.stop()
  }

  test("/subsampled serves the amplified releases; an RDP accountant swaps in for the Gaussian leg and /rdp reads the schedule") {
    val d = "/root/testdata/sf0.001"
    val rroot = java.nio.file.Files.createTempDirectory("graft-intake-sub").toString
    val rcfg = graft.streaming.LiveRelease.Config(rroot)
    val ev = Tables.events(spark, d)
    graft.streaming.LiveRelease.subsampled().step(ev, 0L, rcfg.root)
    graft.streaming.LiveRelease.subsampledGauss().step(ev, 0L, rcfg.root)
    graft.streaming.LiveRelease.cells.step(ev, 0L, rcfg.root) // vocabulary source
    val expLap = graft.operators.Privacy
      .dpSubsampledCountRelease(ev, seeded = true).collect()
      .map(_.getAs[Long]("released_n")).toSeq
    val expGau = graft.operators.Privacy
      .dpSubsampledGaussianRelease(ev, seeded = true).collect()
      .map(_.getAs[Long]("released_n")).toSeq
    assert(expLap.nonEmpty && expGau.nonEmpty)
    val cfg = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-intake-sub-root").toString)
    // phase 1: the lemma-pair accounting — δ budget licenses exactly ONE
    // Gaussian pair; the Laplace leg spends only ε
    val led = graft.operators.DpLedger.open(
      java.nio.file.Files.createTempDirectory("graft-sub-ledger").toString,
      budget = BigDecimal(10), deltaBudget = BigDecimal("0.0000005"))
    val srv = new graft.serve.IntakeServe(spark, cfg,
      release = Some(rcfg), releaseLedger = Some(led), releaseSeeded = true)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (c1, b1) = get(s"$base/subsampled")
      assert(c1 === 200)
      assert("\"released_n\":(\\d+)".r.findAllMatchIn(b1)
        .map(_.group(1).toLong).toSeq === expLap,
        s"the Laplace leg must equal batch x56 on the ingested records: $b1")
      assert(led.spent === BigDecimal("0.620114507") &&
        led.spentDelta === BigDecimal(0),
        "the Laplace leg charges the amplified epsilon only")
      val (c2, b2) = get(s"$base/subsampled?mech=gauss")
      assert(c2 === 200)
      assert("\"released_n\":(\\d+)".r.findAllMatchIn(b2)
        .map(_.group(1).toLong).toSeq === expGau,
        s"the Gaussian leg must equal batch x60: $b2")
      assert(led.spentDelta === BigDecimal("0.0000005"),
        "the Gaussian leg charges the amplified PAIR")
      // true counts and noise never ship on either leg
      assert(!b1.contains("true_n") && !b2.contains("noisy"))
      val (c3, err3) = get(s"$base/subsampled?mech=gauss")
      assert(c3 === 429 && err3.contains("delta budget"), err3)
      val (c4, err4) = get(s"$base/subsampled?mech=cauchy")
      assert(c4 === 400 && err4.contains("mech"), err4)
      assert(led.spent === BigDecimal("1.240229014"),
        "refusals and 400s burn nothing")
    } finally srv.stop()
    led.close()
    // phase 2: the RDP accountant swaps in — budget 1.0 at δ = 1e-6
    // admits exactly THREE Gaussian releases (the x61 curve), and /rdp
    // reads the schedule charge-free
    val acc = graft.operators.RdpAccountant.open(
      java.nio.file.Files.createTempDirectory("graft-sub-rdp").toString,
      epsBudget = BigDecimal(1))
    val srv2 = new graft.serve.IntakeServe(spark, cfg,
      release = Some(rcfg), releaseSeeded = true,
      rdpAccountant = Some(acc))
    srv2.start()
    try {
      val base = s"http://127.0.0.1:${srv2.boundPort}"
      (1 to 3).foreach { i =>
        val (c, b) = get(s"$base/subsampled?mech=gauss")
        assert(c === 200, s"release $i should be admitted: $b")
        assert("\"released_n\":(\\d+)".r.findAllMatchIn(b)
          .map(_.group(1).toLong).toSeq === expGau,
          "the RDP-accounted mechanism is the same mechanism")
      }
      assert(acc.size === 3)
      val (c4, err) = get(s"$base/subsampled?mech=gauss")
      assert(c4 === 429 && err.contains("RDP budget exhausted"), err)
      assert(acc.size === 3, "a refusal appends nothing")
      // the audit readout: 3 registry rows, running conversion, no charge
      val (c5, b5) = get(s"$base/rdp")
      assert(c5 === 200)
      assert("\"release_id\":\"subsampled_gauss_rdp\\|http\"".r
        .findAllMatchIn(b5).size === 3, b5)
      assert(b5.contains("\"eps_spent\":") && b5.contains("\"eps_budget\":")
        && b5.contains("\"delta_target\":"), b5)
      assert(acc.size === 3, "/rdp is charge-free")
      val after = "\"eps_after\":([0-9.]+)".r.findAllMatchIn(b5)
        .map(_.group(1).toDouble).toSeq
      assert(after.length === 3 && after === after.sorted,
        s"eps_after replays the monotone schedule: $after")
    } finally srv2.stop()
    acc.close()
  }

  test("/range serves 94 answers for one epsilon; /local is charge-free because epsilon was spent at the ingest coin") {
    val d = "/root/testdata/sf0.001"
    val rroot = java.nio.file.Files.createTempDirectory("graft-intake-range").toString
    val rcfg = graft.streaming.LiveRelease.Config(rroot)
    val ev = Tables.events(spark, d)
    val domain = ev.select("event_type").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    graft.streaming.LiveRelease.days.step(ev, 0L, rcfg.root) // day store (/range)
    graft.streaming.LiveRelease.local(domain).step(ev, 0L, rcfg.root) // reports
    val expRange = graft.operators.Privacy.dpRangeRelease(ev, seeded = true)
      .collect().map(_.getAs[Long]("released_range")).toSeq
    val expLocal = graft.operators.Privacy
      .localFrequencyRelease(ev, seeded = true, vocabulary = Some(domain))
      .collect().map(_.getAs[Double]("est_n")).toSeq
    val led = graft.operators.DpLedger.open(
      java.nio.file.Files.createTempDirectory("graft-range-ledger").toString,
      budget = BigDecimal(1))
    val cfg = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-intake-range-root").toString)
    val srv = new graft.serve.IntakeServe(spark, cfg,
      release = Some(rcfg), releaseLedger = Some(led), releaseSeeded = true,
      localDomain = domain)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (c1, b1) = get(s"$base/range")
      assert(c1 === 200)
      assert("\"released_range\":(\\d+)".r.findAllMatchIn(b1)
        .map(_.group(1).toLong).toSeq === expRange,
        s"/range must equal batch x63 on the ingested records: $b1")
      assert("\"qid\":".r.findAllMatchIn(b1).size === 94)
      assert(led.spent === BigDecimal(1),
        "94 range answers cost ONE epsilon on the wire")
      // second request = a NEW release = a new charge the budget refuses
      val (c2, err2) = get(s"$base/range")
      assert(c2 === 429 && err2.contains("DP budget exhausted"), err2)
      // /local: bit-equal to batch, and NO ledger interaction — the
      // report store holds only randomized reports, reading them is
      // post-processing; repeat reads stay 200 with spend unchanged
      for (_ <- 1 to 2) {
        val (c3, b3) = get(s"$base/local")
        assert(c3 === 200)
        assert("\"est_n\":(-?[0-9.]+(?:E-?[0-9]+)?)".r.findAllMatchIn(b3)
          .map(_.group(1).toDouble).toSeq === expLocal,
          s"/local must equal the batch x62 estimate: $b3")
      }
      assert(led.spent === BigDecimal(1), "/local never charges")
    } finally srv.stop()
    led.close()
  }

  test("/encode serves the trained unigram tokenizer; n_pieces reproduces x58's accounting") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val cfg = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-intake-enc-root").toString)
    val srv = new graft.serve.IntakeServe(spark, cfg, tokenizer = Some(d))
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // one real document's text: the endpoint's summed n_pieces must
      // equal x58's n_unigram_tokens for that doc — the serving twin
      // reproduces the gate's accounting word for word
      val doc = Tables.documents(spark, d).orderBy(col("doc_id")).head()
      val docId = doc.getAs[Long]("doc_id")
      val text = doc.getAs[String]("text")
      val expected = SparkEntry.queries("x58_unigram_encode")(spark, d)
        .filter(col("doc_id") === docId).head().getAs[Long]("n_unigram_tokens")
      val enc = java.net.URLEncoder.encode(text, "UTF-8")
      val (c1, body) = get(s"$base/encode?text=$enc")
      assert(c1 === 200)
      val nPieces = "\"n_pieces\":(\\d+)".r.findAllMatchIn(body)
        .map(_.group(1).toLong).toSeq
      assert(nPieces.length === text.split(" ").count(_.nonEmpty),
        s"one row per word position: $body")
      assert(nPieces.sum === expected,
        s"summed n_pieces must reproduce x58's n_unigram_tokens ($expected): $body")
      // every row's pieces concatenate back to its word — a
      // segmentation, not an approximation
      val pairs = "\"word\":\"([^\"]*)\",\"pieces\":\"([^\"]*)\"".r
        .findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq
      assert(pairs.nonEmpty && pairs.forall { case (w, p) =>
        p.replace(" ", "") == w }, s"pieces must reconstruct the word: $pairs")
      // the pruned model serves the same contract (segmentations under
      // the x59 vocabulary — usually longer, never invalid)
      val (c2, body2) = get(s"$base/encode?text=$enc&model=pruned")
      assert(c2 === 200)
      val pairs2 = "\"word\":\"([^\"]*)\",\"pieces\":\"([^\"]*)\"".r
        .findAllMatchIn(body2).map(m => (m.group(1), m.group(2))).toSeq
      assert(pairs2.length === pairs.length && pairs2.forall { case (w, p) =>
        p.replace(" ", "") == w }, s"pruned-model pieces must reconstruct: $pairs2")
      // a word the composition table cannot cover falls back to the
      // char split (x58's rule) instead of erroring or vanishing
      val (c3, body3) = get(s"$base/encode?text=supercalifragilistic")
      assert(c3 === 200 && body3.contains("\"n_pieces\":20"),
        s"a >MaxWordLen word char-splits: $body3")
      // client faults are 400s before any job: bad model name, missing text
      val (c4, err4) = get(s"$base/encode?text=abc&model=bpe")
      assert(c4 === 400 && err4.contains("model"), err4)
      val (c5, err5) = get(s"$base/encode")
      assert(c5 === 400 && err5.contains("text"), err5)
    } finally srv.stop()
  }

  test("/metrics serves per-trigger progress from the listener-bus ring") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-intake-metrics").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    val metrics = graft.streaming.IntakeMetrics.attach(spark)
    val srv = new graft.serve.IntakeServe(spark, cfg, metrics = Some(metrics))
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def mkText(tag: String): String =
        (1 to 36).map(i => s"${tag}w$i").mkString(" ") + s" the $tag of this is fine"
      val ms = MemoryStream[LDoc]
      val q = graft.streaming.LivePipeline.start(ms.toDF(), cfg)
      try {
        ms.addData(LDoc(1L, "en", mkText("kappa")), LDoc(2L, "en", mkText("lambda")))
        q.processAllAvailable()
      } finally q.stop()
      // the listener bus is asynchronous: progress for the processed
      // trigger may trail processAllAvailable — poll to a deadline.
      // input_rows is asserted non-zero, not exactly 2: foreachBatch's
      // several commit actions re-scan the memory source, and Spark
      // aggregates source-scan metrics across them
      val wanted = "\"query_id\":\"" + q.id.toString
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var body = ""
      while (!body.contains(wanted) && System.nanoTime() < deadline) {
        val (code, b) = get(s"$base/metrics")
        assert(code === 200)
        body = b
        if (!body.contains(wanted)) Thread.sleep(100)
      }
      assert(body.contains(wanted), s"metrics never surfaced: $body")
      assert(body.contains("\"batch_id\":0") && body.contains("\"trigger_ms\":"))
      val rows = "\"input_rows\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong)
      assert(rows.exists(_ >= 2L), s"expected a non-trivial input_rows reading: $body")
    } finally { srv.stop(); metrics.detach(spark) }
  }

  test("pyDouble matches CPython float repr / json.dumps across magnitudes") {
    // expected strings generated with CPython 3: json.dumps(v)
    val cases = Seq(
      21000000.0 -> "21000000.0", // the ADVICE case: Java says 2.1E7
      1e16 -> "1e+16", 1.5e16 -> "1.5e+16",
      9999999999999998.0 -> "9999999999999998.0", // just under the sci threshold
      1e-5 -> "1e-05", 0.0001 -> "0.0001", -1.2345e-7 -> "-1.2345e-07",
      -2.5 -> "-2.5", 0.0 -> "0.0", -0.0 -> "-0.0", 100.0 -> "100.0",
      123.456 -> "123.456", 0.1 -> "0.1", 3.14159 -> "3.14159",
      1e22 -> "1e+22", 1.7976931348623157e308 -> "1.7976931348623157e+308")
    cases.foreach { case (v, want) =>
      assert(graft.serve.HttpServe.pyDouble(v) === want, s"for $v")
    }
    // json.dumps non-strict spellings for non-finite values
    assert(graft.serve.HttpServe.pyDouble(Double.NaN) === "NaN")
    assert(graft.serve.HttpServe.pyDouble(Double.PositiveInfinity) === "Infinity")
    assert(graft.serve.HttpServe.pyDouble(Double.NegativeInfinity) === "-Infinity")
  }
}
