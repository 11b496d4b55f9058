package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def packKey(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("n_tokens"),
      r.getAs[Double]("quality_score"), r.getAs[Long]("shard"),
      r.getAs[Long]("cum_before"), r.getAs[Long]("chunk_id"),
      r.getAs[Long]("offset_in_chunk"))

  test("live pipeline: stream-ingested docs land in the same pack chunks as batch x11") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-live-parity").toString
    // x11-parity configuration: empty seed, near-dup verdict annotated
    // but not gated (batch x11 drops exact dups only)
    val cfg = graft.streaming.LivePipeline.Config(root, gateNearDups = false)
    val all = Tables.documents(spark, d).select("doc_id", "lang", "text").collect()
      .map(r => LDoc(r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id) // ordered intake: first-arrival == min-doc_id
    val batches = all.grouped((all.length + 2) / 3).toSeq
    assert(batches.length === 3)
    val ms = MemoryStream[LDoc]
    val q = graft.streaming.LivePipeline.start(ms.toDF(), cfg)
    try {
      batches.foreach { b => ms.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = graft.streaming.LivePipeline.packedOutput(spark, cfg)
      .collect().map(packKey).toSet
    val expected = SparkEntry.queries("x11_pipeline")(spark, d)
      .collect().map(packKey).toSet
    assert(expected.nonEmpty)
    assert(got === expected, "stream/batch x11 packing parity")
  }

  test("live pipeline: d13 store-as-state gates dups across seed and batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-live-d13").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    // ≥ 40 words with the/of/is stop hits so every doc clears the
    // quality bar (asserted below, not assumed)
    // tag appears in the tail too, so docs with DIFFERENT tags share at
    // most two 3-word shingles ("of this is", "this is <last>") — far
    // below band-collision reach — while a same-tag pair differing only
    // in `last` shares all but three
    def mkText(tag: String, last: String): String =
      (1 to 36).map(i => s"${tag}w$i").mkString(" ") + s" the $tag of this is $last"
    val e1 = LDoc(1, "en", mkText("alpha", "high"))
    val e2 = LDoc(2, "en", mkText("beta", "high"))
    val d100 = LDoc(100, "en", mkText("gamma", "high"))
    val d101 = LDoc(101, "en", e1.text) // exact copy of seed doc
    val d200 = LDoc(200, "en", mkText("beta", "low"))  // near-dup of e2
    val d201 = LDoc(201, "en", mkText("gamma", "low")) // near-dup of stream doc d100
    val d202 = LDoc(202, "en", d100.text) // exact copy of stream doc
    val d203 = LDoc(203, "en", mkText("delta", "high"))
    val allDocs = Seq(e1, e2, d100, d101, d200, d201, d202, d203)
    // Preconditions, asserted loudly so a tweak to the fixture cannot
    // make the gating assertions vacuous: every doc passes quality, and
    // each near-dup pair shares at least one LSH band bucket.
    val feats = graft.operators.TextAnalysis.withQualityFeatures(allDocs.toDF())
    assert(feats.filter(col("quality_score") < graft.operators.TextAnalysis.QualityThreshold).count() === 0)
    def collides(a: LDoc, b: LDoc): Boolean = {
      val bk = graft.operators.Dedup.bandKeys(Seq(a, b).toDF())
      bk.groupBy("band_id", "bh").count().filter(col("count") === 2).count() > 0
    }
    assert(collides(e2, d200), "fixture: d200 must band-collide with e2")
    assert(collides(d100, d201), "fixture: d201 must band-collide with d100")
    for (prior <- Seq(e1, e2, d100))
      assert(!collides(prior, d203), s"fixture: d203 must be novel vs doc ${prior.doc_id}")

    graft.streaming.LivePipeline.seed(Seq(e1, e2).toDF(), cfg)
    val ms = MemoryStream[LDoc]
    val q = graft.streaming.LivePipeline.start(ms.toDF(), cfg)
    try {
      ms.addData(d100, d101); q.processAllAvailable()
      ms.addData(d200, d201, d202, d203); q.processAllAvailable()
    } finally q.stop()
    val packed = graft.streaming.LivePipeline.packedOutput(spark, cfg).collect()
    val byId = packed.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // seed packed its two docs; the stream admitted exactly d100 and d203
    assert(byId.keySet === Set(1L, 2L, 100L, 203L))
    assert(packed.filter(_.getAs[Long]("batch") >= 0).map(_.getAs[Long]("doc_id")).toSet === Set(100L, 203L))
    // cursor continuation: within one (lang, shard), cum_before is the
    // sum of n_tokens of all earlier-admitted docs in that shard —
    // across the seed/stream and batch/batch boundaries
    for (r <- packed) {
      val before = packed.filter(o => o.getAs[String]("lang") == r.getAs[String]("lang") &&
        o.getAs[Long]("shard") == r.getAs[Long]("shard") &&
        o.getAs[Long]("doc_id") < r.getAs[Long]("doc_id"))
        .map(_.getAs[Long]("n_tokens")).sum
      assert(r.getAs[Long]("cum_before") === before,
        s"cursor continuation for doc ${r.getAs[Long]("doc_id")}")
    }
    // replay of a committed batch id is a no-op (exactly-once)
    graft.streaming.LivePipeline.step(Seq(d203).toDF(), 1L, cfg)
    assert(graft.streaming.LivePipeline.packedOutput(spark, cfg).count() === packed.length.toLong)
    // crash replay: simulate an attempt that died AFTER the data
    // appends but BEFORE the commit marker — delete batch 1's cursor
    // _SUCCESS, re-step with the same id. The partial partitions are
    // invisible to readers (no marker), the re-run overwrites only its
    // own partitions, and the final state is identical.
    val marker = java.nio.file.Paths.get(root, "cursors", "batch=1", "_SUCCESS")
    java.nio.file.Files.delete(marker)
    graft.streaming.LivePipeline.step(Seq(d200, d201, d202, d203).toDF(), 1L, cfg)
    val replayed = graft.streaming.LivePipeline.packedOutput(spark, cfg).collect()
    assert(replayed.map(packKey).toSet === packed.map(packKey).toSet, "crash replay idempotence")
  }

  test("live pipeline: cross-batch id collision quarantines; replays and fresh ids flow") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-live-xbatch").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    def mkText(tag: String): String =
      (1 to 36).map(j => s"${tag}tok$j").mkString(" ") + s" the $tag of this is high"
    val textX = mkText("xi"); val textY = mkText("omicron"); val textZ = mkText("rho")
    graft.streaming.LivePipeline.step(
      Seq(LDoc(500, "en", textX), LDoc(501, "en", textY)).toDF(), 0L, cfg)
    // batch 1: 500 re-sent with DIFFERENT text (an admitted identity
    // may not change payload — quarantine, never two texts under one
    // id), 501 re-sent identical (a replay — the exact gate's
    // dup_of_corpus), 502 novel
    graft.streaming.LivePipeline.step(Seq(
      LDoc(500, "en", textZ), LDoc(501, "en", textY),
      LDoc(502, "en", mkText("sigma"))).toDF(), 1L, cfg)
    val fates1 = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("batch") === 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fate")).toMap
    assert(fates1 === Map(500L -> "id_collision", 501L -> "dup_of_corpus",
      502L -> "admitted"))
    val q = graft.streaming.LivePipeline.quarantineOutput(spark, cfg)
      .filter(col("doc_id") === 500 && col("batch") === 1).collect()
    assert(q.length === 1 && q.head.getAs[String]("reason") === "id_collision" &&
      q.head.getAs[String]("text") === textZ,
      "the rejected payload lands on the dead-letter shelf with its evidence")
    // one identity each in the packed corpus — never two texts under 500
    val packedIds = graft.streaming.LivePipeline.packedOutput(spark, cfg)
      .groupBy("doc_id").count().collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("count")).toMap
    assert(packedIds === Map(500L -> 1L, 501L -> 1L, 502L -> 1L))
    // the collided payload never entered the exact store: the same text
    // arriving later under a FRESH id is a normal admission candidate
    graft.streaming.LivePipeline.step(Seq(LDoc(503, "en", textZ)).toDF(), 2L, cfg)
    val fate503 = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("doc_id") === 503).collect().map(_.getAs[String]("fate"))
    assert(fate503.toSeq === Seq("admitted"),
      "a quarantined payload under a clean id must not stay burned")
  }

  test("live pipeline: contract violations quarantine, replays collapse, collisions stay out of state") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-live-contract").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    def mkText(tag: String): String =
      (1 to 36).map(i => s"${tag}w$i").mkString(" ") + s" the $tag of this is fine"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    def df(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), schema)
    // fixture bar: the well-formed texts must clear quality, or
    // "admitted" assertions below would be testing the wrong gate
    val good = Seq("alpha", "gamma", "delta", "epsilon").map(mkText)
    assert(graft.operators.TextAnalysis
      .withQualityFeatures(good.zipWithIndex.map { case (t, i) => (i.toLong, "en", t) }
        .toDF("doc_id", "lang", "text"))
      .filter(col("quality_score") < graft.operators.TextAnalysis.QualityThreshold)
      .count() === 0)

    graft.streaming.LivePipeline.step(df(
      Row(1L, "en", mkText("alpha")),               // clean → admitted
      Row(null, "en", mkText("beta")),              // null id → malformed
      Row(2L, "en", null),                          // null text → malformed
      Row(3L, "en", ""),                            // empty text → malformed
      Row(4L, null, mkText("gamma")),               // null lang → malformed
      Row(5L, "en", mkText("delta")),               // at-least-once replay:
      Row(5L, "en", mkText("delta")),               //   identical rows collapse
      Row(6L, "en", mkText("epsilon")),             // one id, two payloads →
      Row(6L, "en", mkText("zeta"))                 //   id_collision (both out)
    ), 0L, cfg)

    val audit = graft.streaming.LivePipeline.auditOutput(spark, cfg).collect()
    val fates = audit.map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(1))
    assert(fates.count(_._2 == "malformed") === 4)
    assert(fates.filter(_._2 == "malformed").map(_._1).toSet ===
      Set(None, Some(2L), Some(3L), Some(4L)))
    // quarantined rows carry no quality score (they never reach scoring)
    assert(audit.filter(_.getString(1) == "malformed").forall(_.isNullAt(2)))
    assert(fates.toSeq.count(_ == (Some(6L) -> "id_collision")) === 1,
      "one audit row per collided id, not one per payload")
    assert(fates.contains(Some(1L) -> "admitted") && fates.contains(Some(5L) -> "admitted"))

    // the pack holds exactly the admitted docs, the replayed row once
    val packed = graft.streaming.LivePipeline.packedOutput(spark, cfg).collect()
    assert(packed.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 5L),
      "replayed identical rows must pack exactly once")

    // collided payloads never entered the dedup stores: the same text
    // arriving later under a clean id is admitted, not dup_of_corpus
    graft.streaming.LivePipeline.step(df(Row(7L, "en", mkText("epsilon"))), 1L, cfg)
    val fate7 = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("doc_id") === 7L).collect()
    assert(fate7.map(_.getString(1)).toSeq === Seq("admitted"),
      "quarantined payloads must not poison the exact store")

    // the dead-letter shelf keeps the violating ROWS, payloads included
    val quar = graft.streaming.LivePipeline.quarantineOutput(spark, cfg).collect()
    assert(quar.length === 6, "4 malformed rows + 2 collision payloads")
    assert(quar.filter(_.getString(3) == "id_collision").map(_.getString(2)).toSet ===
      Set(mkText("epsilon"), mkText("zeta")))
    // RTBF reaches the shelf: the mask hides doc 6 immediately, and
    // vacuum's physical delete holds after the tombstones retire
    graft.streaming.LivePipeline.forget(spark, cfg, Seq(6L))
    assert(graft.streaming.LivePipeline.quarantineOutput(spark, cfg)
      .filter(col("doc_id") === 6L).count() === 0)
    graft.streaming.LivePipeline.vacuum(spark, cfg)
    val after = graft.streaming.LivePipeline.quarantineOutput(spark, cfg).collect()
    assert(!after.exists(r => !r.isNullAt(0) && r.getLong(0) == 6L),
      "vacuum must physically drop the forgotten doc's quarantine rows")
    assert(after.exists(_.isNullAt(0)),
      "null-id rows are not id-addressable and survive the id vacuum")
    // the retention sweep is the null-id road out: whole partitions go
    // — including a committed rewrite staging a crashed vacuum left
    // behind, which would otherwise substitute for the deleted source
    // in readers and be renamed back by the next vacuum's recovery
    graft.streaming.LivePipeline.quarantineOutput(spark, cfg).limit(1)
      .select("doc_id", "lang", "text", "reason")
      .write.parquet(s"$root/quarantine/.rewrite-0")
    graft.streaming.LivePipeline.retireQuarantine(spark, cfg, beforeBatch = 1L)
    assert(graft.streaming.LivePipeline.quarantineOutput(spark, cfg).count() === 0)
    assert(!new java.io.File(s"$root/quarantine").listFiles()
      .exists(_.getName.startsWith(".rewrite-")),
      "the sweep must retire crashed-vacuum stagings below the bar too")
    graft.streaming.LivePipeline.vacuum(spark, cfg)
    assert(graft.streaming.LivePipeline.quarantineOutput(spark, cfg).count() === 0,
      "recovery after the sweep must not resurrect retired payloads")
  }

  test("diffAudit reconciles two intakes: exactly the docs whose fates changed") {
    import spark.implicits._
    def mkText(tag: String): String =
      (1 to 36).map(i => s"${tag}w$i").mkString(" ") + s" the $tag of this is fine"
    val docs = Seq((1L, "en", mkText("alpha")), (2L, "en", "tiny b1"),
      (3L, "en", mkText("beta"))).toDF("doc_id", "lang", "text")
    val cfgA = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-diff-a").toString)
    // the "upgrade": an admission bar low enough to admit everything
    val cfgB = graft.streaming.LivePipeline.Config(
      java.nio.file.Files.createTempDirectory("graft-diff-b").toString,
      minQuality = -1e9)
    graft.streaming.LivePipeline.step(docs, 0L, cfgA)
    graft.streaming.LivePipeline.step(docs, 0L, cfgB)
    val diff = graft.streaming.LivePipeline.diffAudit(spark, cfgA, cfgB).collect()
    assert(diff.map(_.getLong(0)).toSeq === Seq(2L),
      "only the doc the bar change flipped may differ")
    assert(diff.head.getSeq[String](1) === Seq("low_quality") &&
      diff.head.getSeq[String](2) === Seq("admitted"))
    assert(graft.streaming.LivePipeline.diffAudit(spark, cfgA, cfgA).count() === 0,
      "an intake diffed against itself is empty")
  }

  test("admission monitor pages once per drift episode and re-arms on recovery") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-adm-mon").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    def mkText(tag: String): String =
      (1 to 36).map(i => s"${tag}w$i").mkString(" ") + s" the $tag of this is fine"
    final class Stub extends graft.streaming.AlertTransport {
      val name = "stub"
      val sent = scala.collection.mutable.Buffer.empty[String]
      var probed = false
      override def probe(): Unit = { probed = true }
      def send(m: String): Unit = { sent += m; () }
    }
    // fail-fast: a transport that cannot probe refuses construction
    val dead = new graft.streaming.AlertTransport {
      val name = "dead"
      override def probe(): Unit = throw new RuntimeException("no route")
      def send(m: String): Unit = ()
    }
    intercept[IllegalStateException] {
      new graft.streaming.AdmissionMonitor(Seq(dead))
    }
    val stub = new Stub
    val mon = new graft.streaming.AdmissionMonitor(Seq(stub), maxRejectFraction = 0.5)
    assert(stub.probed, "transports are probed at construction")
    def drive(id: Long, docs: (Long, String)*): Unit = {
      graft.streaming.LivePipeline.step(
        docs.map { case (i, t) => (i, "en", t) }.toDF("doc_id", "lang", "text"),
        id, cfg)
      mon.observe(spark, cfg, id)
    }
    drive(0, 1L -> mkText("alpha"), 2L -> mkText("beta"))     // healthy
    assert(stub.sent.isEmpty && !mon.episodeOpen)
    // short no-stopword texts sit under the quality bar ("tiny a"
    // would NOT: the stopword lifts its score over the threshold)
    drive(1, 3L -> mkText("gamma"), 4L -> "tiny b1", 5L -> "tiny b2", 6L -> "tiny b3")
    assert(stub.sent.size === 1 && mon.episodeOpen, "3/4 rejected must page")
    assert(stub.sent.head.contains("batch 1") && stub.sent.head.contains("low_quality=3"),
      s"alert must name the batch and the fate breakdown: ${stub.sent.head}")
    drive(2, 7L -> "tiny d", 8L -> "tiny e")                  // drift persists
    assert(stub.sent.size === 1, "a sustained episode pages once, not per batch")
    // an id with no audit rows (empty batch) must not close the episode
    mon.observe(spark, cfg, 99L)
    assert(mon.episodeOpen)
    drive(3, 9L -> mkText("delta"), 10L -> mkText("epsilon")) // recovery re-arms
    assert(stub.sent.size === 1 && !mon.episodeOpen)
    drive(4, 11L -> "tiny f", 12L -> "tiny g")                // second episode
    assert(stub.sent.size === 2 && stub.sent(1).contains("batch 4"))
  }

  test("output reads are clamped to the cursor commit frontier") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-frontier").toString
    val cfg = graft.streaming.LivePipeline.Config(root, gateNearDups = false)
    def mkText(tag: String): String =
      (1 to 36).map(i => s"${tag}word$i").mkString(" ") + s" the $tag of this is fine"
    graft.streaming.LivePipeline.step(
      Seq((1L, "en", mkText("al")), (2L, "en", mkText("be")))
        .toDF("doc_id", "lang", "text"), 0L, cfg)
    val before = graft.streaming.LivePipeline.packedOutput(spark, cfg).count()
    assert(before === 2)
    // simulate a step that crashed AFTER its packed/audit appends but
    // BEFORE the cursor write (the commit marker): the partitions carry
    // their own _SUCCESS, the marker does not exist
    spark.read.parquet(s"$root/packed/batch=0")
      .write.parquet(s"$root/packed/batch=1")
    spark.read.parquet(s"$root/audit/batch=0")
      .write.parquet(s"$root/audit/batch=1")
    // the phantom batch must be invisible to every output read until
    // its replay commits — serving it would show packed docs with no
    // committed audit/cursor history
    assert(graft.streaming.LivePipeline.packedOutput(spark, cfg).count() === before,
      "uncommitted packed partition served")
    assert(graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("batch") === 1L).count() === 0,
      "uncommitted audit partition served")
    // the replay overwrites the phantom and commits; now it serves
    graft.streaming.LivePipeline.step(
      Seq((3L, "en", mkText("ga")), (4L, "en", mkText("de")))
        .toDF("doc_id", "lang", "text"), 1L, cfg)
    val after = graft.streaming.LivePipeline.packedOutput(spark, cfg)
    assert(after.count() === 4)
    assert(after.filter(col("batch") === 1L).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L),
      "replay must overwrite the phantom partition")
  }

  test("admission monitor: packed near-dups are not rejects when the gate is off") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-adm-nd").toString
    // gateNearDups=false: a near_dup fate is an annotation, the doc IS
    // packed — the monitor must count it as admitted, or a self-similar
    // (but healthy) corpus pages the operator
    val cfg = graft.streaming.LivePipeline.Config(root, gateNearDups = false)
    // one shared 36-word prefix (keeps every pair's shingle Jaccard
    // ~0.9 AND the alpha ratio over the quality bar), one distinct
    // tail word per doc
    def mkText(tag: String): String =
      (1 to 36).map(i => s"commonword$i").mkString(" ") + s" the $tag of this is fine"
    final class Stub extends graft.streaming.AlertTransport {
      val name = "stub"
      val sent = scala.collection.mutable.Buffer.empty[String]
      override def probe(): Unit = ()
      def send(m: String): Unit = { sent += m; () }
    }
    val stub = new Stub
    val mon = new graft.streaming.AdmissionMonitor(Seq(stub), maxRejectFraction = 0.5)
    def drive(id: Long, docs: (Long, String)*): Unit = {
      graft.streaming.LivePipeline.step(
        docs.map { case (i, t) => (i, "en", t) }.toDF("doc_id", "lang", "text"),
        id, cfg)
      mon.observe(spark, cfg, id)
    }
    drive(0, 1L -> mkText("alpha"))
    // batch 1 is ALL near-dups of the stored doc (one changed tail word
    // keeps ~0.9 shingle Jaccard — the LSH bands match); every doc is
    // packed, so the batch is healthy and must not page
    drive(1, 2L -> mkText("bravo"), 3L -> mkText("carol"))
    val fates = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("batch") === 1L).select("fate").collect().map(_.getString(0))
    assert(fates.nonEmpty && fates.forall(_ == "near_dup"),
      s"fixture must produce near_dup fates, got ${fates.toSeq}")
    assert(stub.sent.isEmpty && !mon.episodeOpen,
      "packed near-dups must not count as rejects under gateNearDups=false")
  }

  test("live pipeline: packed output is invariant to batch-boundary placement") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val all = Tables.documents(spark, d).select("doc_id", "lang", "text").collect()
      .map(r => LDoc(r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id)
    val expected = SparkEntry.queries("x11_pipeline")(spark, d)
      .collect().map(packKey).toSet
    // the ordered-intake contract promises ONE packed output for ANY
    // contiguous split of the doc_id-ordered stream — the batch
    // boundaries are an operational artifact (trigger cadence), not a
    // semantic input. Three seeded random cut-point sets, driven
    // through step() directly.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val root = java.nio.file.Files.createTempDirectory(s"graft-live-cuts$trial").toString
      val cfg = graft.streaming.LivePipeline.Config(root, gateNearDups = false)
      val cuts = Seq.fill(3)(rnd.nextInt(all.length)).sorted.distinct
      val slices = (0L +: cuts.map(_.toLong) :+ Long.MaxValue).distinct.sliding(2).map {
        case Seq(lo, hi) => all.filter(x => x.doc_id >= lo && x.doc_id < hi)
      }.toSeq
      slices.zipWithIndex.foreach { case (b, i) =>
        graft.streaming.LivePipeline.step(b.toSeq.toDF(), i.toLong, cfg)
      }
      val got = graft.streaming.LivePipeline.packedOutput(spark, cfg)
        .collect().map(packKey).toSet
      assert(got === expected, s"cut points $cuts must not change the packed output")
    }
  }

  test("live pipeline: compaction folds store partitions; audit names each doc's fate") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-live-compact").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    def mkText(tag: String, last: String): String =
      (1 to 36).map(j => s"${tag}word$j").mkString(" ") + s" the $tag of this is $last"
    val e1 = LDoc(1, "en", mkText("epsilon", "high"))
    val e2 = LDoc(2, "en", mkText("zeta", "high"))
    graft.streaming.LivePipeline.seed(Seq(e1, e2).toDF(), cfg)
    // batch 0: a novel doc, a corpus dup, a low-quality doc, an
    // in-batch dup pair (canonical admitted, copy dropped)
    val d100 = LDoc(100, "en", mkText("eta", "high"))
    val d103 = LDoc(103, "en", mkText("theta", "high"))
    graft.streaming.LivePipeline.step(Seq(
      d100, LDoc(101, "en", e1.text), LDoc(102, "en", "tiny text"),
      d103, LDoc(104, "en", d103.text)).toDF(), 0L, cfg)
    val fates = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("batch") === 0).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fate")).toMap
    assert(fates === Map(100L -> "admitted", 101L -> "dup_of_corpus",
      102L -> "low_quality", 103L -> "admitted", 104L -> "dup_in_batch"))

    def dirNames(kind: String): Set[String] =
      new java.io.File(s"$root/$kind").listFiles().map(_.getName)
        .filter(n => n.startsWith("batch=") || n.startsWith("fold=")).toSet
    def partIds(kind: String): Set[String] =
      dirNames(kind).filter(_.startsWith("batch="))
    def foldIds(kind: String): Set[String] =
      dirNames(kind).filter(_.startsWith("fold="))
    assert(partIds("exact") === Set("batch=-1", "batch=0"))
    graft.streaming.LivePipeline.compact(spark, cfg)
    // the fold commits under fold=<h>-<gen>; its batch sources survive
    // until the NEXT writer op (deferred GC — a concurrent reader's
    // listing stays readable across the commit)
    assert(foldIds("exact") === Set("fold=0-0") && foldIds("bands") === Set("fold=0-0"),
      "compaction commits one fold over everything ≤ the frontier")
    assert(partIds("exact") === Set("batch=-1", "batch=0"),
      "a fold commit must not delete its sources")

    // gating still holds against the FOLDED store; the step's entry
    // recovery GCs the superseded batch dirs
    graft.streaming.LivePipeline.step(Seq(
      LDoc(200, "en", mkText("zeta", "low")),  // near-dup of seed e2
      LDoc(201, "en", d103.text),              // exact dup of folded batch-0 doc
      LDoc(202, "en", mkText("iota", "high"))).toDF(), 1L, cfg)
    val fates1 = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("batch") === 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fate")).toMap
    assert(fates1 === Map(200L -> "near_dup", 201L -> "dup_of_corpus",
      202L -> "admitted"))
    assert(partIds("exact") === Set("batch=1"),
      "the next writer op GCs the fold's superseded sources")

    // crash-sim: a compaction that died between its staging's _SUCCESS
    // and the commit rename. Sources are all still present (the new
    // protocol never deletes before commit); the next step must commit
    // the staging and gate doc 300 against the folded state.
    for (kind <- Seq("exact", "bands")) {
      val dirs = (foldIds(kind) ++ partIds(kind)).map(n => s"$root/$kind/$n").toSeq
      // per-dir reads (a bucketed fold and a flat batch dir cannot share
      // one multi-root parquet call) projected to the data columns — the
      // staging is written FLAT, i.e. the legacy pre-bucketing format,
      // so recovery's commit of old-layout stagings stays covered
      val frames = dirs.map(spark.read.parquet(_))
      val cols = frames.map(_.columns.filterNot(_ == "bucket").toSeq)
        .reduce(_ intersect _)
      frames.map(_.select(cols.map(col): _*)).reduce(_ unionByName _).distinct()
        .write.mode("overwrite").parquet(s"$root/$kind/.compact-1-9")
    }
    graft.streaming.LivePipeline.step(Seq(
      LDoc(300, "en", mkText("iota", "high")), // exact dup of doc 202
      LDoc(301, "en", mkText("kappa", "high"))).toDF(), 2L, cfg)
    val fates2 = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("batch") === 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fate")).toMap
    assert(fates2 === Map(300L -> "dup_of_corpus", 301L -> "admitted"),
      "interrupted compaction must be committed, not dropped")
    assert(foldIds("exact").contains("fold=1-9"),
      "recovery commits the crashed staging under its own generation")
    assert(partIds("exact") === Set("batch=1", "batch=2"),
      "GC of the recovered fold's sources is deferred to the next writer op")
    // cursor-snapshot pruning: compaction keeps the latest TWO (the
    // runner-up is reader grace, same deferred-GC posture as folds)
    graft.streaming.LivePipeline.compact(spark, cfg)
    assert(partIds("cursors") === Set("batch=1", "batch=2"))
    // idle-period batches write nothing at all (empty-batch skip)
    graft.streaming.LivePipeline.step(
      Seq.empty[LDoc].toDF("doc_id", "lang", "text"), 3L, cfg)
    assert(partIds("packed") === Set("batch=-1", "batch=0", "batch=1", "batch=2"))
    assert(partIds("cursors") === Set("batch=1", "batch=2"))
    // a store partition whose BATCH never committed (step crashed after
    // the store appends, before the cursor marker) must not be folded:
    // its id belongs to the replay, whose overwrite would erase the
    // folded history
    val exactFold = foldIds("exact").head
    spark.read.parquet(s"$root/exact/$exactFold")
      .write.mode("overwrite").parquet(s"$root/exact/batch=9")
    graft.streaming.LivePipeline.compact(spark, cfg)
    assert(partIds("exact") === Set("batch=9") && foldIds("exact").size === 1,
      "compaction must fold only batch-committed partitions")
    // right-to-be-forgotten: tombstoned docs vanish from the outputs
    // (no history rewrite — survivors keep their chunk ids), but the
    // dedup state retains their hashes so forgotten content cannot be
    // re-admitted by a later copy
    graft.streaming.LivePipeline.forget(spark, cfg, Seq(100L))
    val visible = graft.streaming.LivePipeline.packedOutput(spark, cfg)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(visible === Set(1L, 2L, 103L, 202L, 301L))
    assert(!graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .collect().map(_.getAs[Long]("doc_id")).contains(100L))
    graft.streaming.LivePipeline.step(
      Seq(LDoc(400, "en", mkText("eta", "high"))).toDF(), 4L, cfg) // d100's text
    val fate400 = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("doc_id") === 400).collect().map(_.getAs[String]("fate"))
    assert(fate400.toSeq === Seq("dup_of_corpus"),
      "forgotten content must stay rejected, not re-admitted")
  }

  test("live pipeline: as-of reads pin a snapshot; vacuum deep-deletes tombstoned rows") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-live-vacuum").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    def mkText(tag: String, last: String): String =
      (1 to 36).map(j => s"${tag}term$j").mkString(" ") + s" the $tag of this is $last"
    graft.streaming.LivePipeline.seed(Seq(
      LDoc(1, "en", mkText("alef", "high")), LDoc(2, "en", mkText("bet", "high"))).toDF(), cfg)
    graft.streaming.LivePipeline.step(Seq(
      LDoc(100, "en", mkText("gimel", "high")),
      LDoc(103, "en", mkText("dalet", "high"))).toDF(), 0L, cfg)
    graft.streaming.LivePipeline.step(Seq(
      LDoc(200, "en", mkText("he", "high")),
      LDoc(201, "en", mkText("vav", "high"))).toDF(), 1L, cfg)
    def packedIds(asOf: Long = Long.MaxValue): Set[Long] =
      graft.streaming.LivePipeline.packedOutput(spark, cfg, asOf = asOf)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    // as-of pins the corpus at a commit point while the intake appends
    assert(packedIds(asOf = -1L) === Set(1L, 2L))
    assert(packedIds(asOf = 0L) === Set(1L, 2L, 100L, 103L))
    assert(packedIds() === Set(1L, 2L, 100L, 103L, 200L, 201L))
    assert(graft.streaming.LivePipeline.auditOutput(spark, cfg, asOf = 0L)
      .collect().map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L, 100L, 103L))
    // the pinned snapshot is STABLE under later commits (reproducible
    // training-run reads): re-read after another batch, same rows
    graft.streaming.LivePipeline.step(Seq(
      LDoc(300, "en", mkText("zayin", "high"))).toDF(), 2L, cfg)
    assert(packedIds(asOf = 0L) === Set(1L, 2L, 100L, 103L))

    // forget masks at EVERY as-of (RTBF trumps snapshot pinning)
    graft.streaming.LivePipeline.forget(spark, cfg, Seq(100L))
    assert(packedIds(asOf = 0L) === Set(1L, 2L, 103L))
    def rawDocIds(kind: String): Set[Long] = {
      val dirs = new java.io.File(s"$root/$kind").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.toString)
      spark.read.parquet(dirs.toIndexedSeq: _*)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(rawDocIds("packed").contains(100L), "mask alone leaves rows on disk")
    // vacuum: rows physically gone, applied tombstones retired,
    // surviving rows and their batch attribution untouched
    graft.streaming.LivePipeline.vacuum(spark, cfg)
    assert(!rawDocIds("packed").contains(100L) && !rawDocIds("audit").contains(100L))
    assert(rawDocIds("packed").contains(103L))
    assert(new java.io.File(s"$root/tombstones").listFiles() == null ||
      !new java.io.File(s"$root/tombstones").listFiles().exists(_.getName.startsWith("batch=")))
    assert(packedIds() === Set(1L, 2L, 103L, 200L, 201L, 300L))
    assert(graft.streaming.LivePipeline.packedOutput(spark, cfg)
      .filter(col("doc_id") === 103).collect().map(_.getAs[Long]("batch")).toSeq === Seq(0L))
    // forgotten content still rejected after the deep delete (the
    // dedup stores keep the hash)
    graft.streaming.LivePipeline.step(Seq(
      LDoc(400, "en", mkText("gimel", "high"))).toDF(), 3L, cfg)
    assert(graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("doc_id") === 400).collect().map(_.getAs[String]("fate")).toSeq
      === Seq("dup_of_corpus"))

    // crash-sim: rewrite staging committed, source partition deleted,
    // rename pending. Readers must substitute the staging (surviving
    // rows stay visible); the next vacuum completes the rename and
    // retires the tombstone.
    graft.streaming.LivePipeline.forget(spark, cfg, Seq(200L))
    val pdir = s"$root/packed"
    val pschema = spark.read.parquet(s"$pdir/batch=1").schema
    spark.read.schema(pschema).parquet(s"$pdir/batch=1")
      .filter(col("doc_id") =!= 200)
      .write.mode("overwrite").parquet(s"$pdir/.rewrite-1")
    val fs = Engine.fileSystem(spark, new org.apache.hadoop.fs.Path(pdir))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$pdir/batch=1"), true))
    val subst = graft.streaming.LivePipeline.packedOutput(spark, cfg)
      .filter(col("doc_id") === 201).collect()
    assert(subst.map(_.getAs[Long]("batch")).toSeq === Seq(1L),
      "reader must substitute a committed rewrite staging for its deleted source")
    // doc 400 was a dup, never packed; 200 masked, 201 substituted
    assert(packedIds() === Set(1L, 2L, 103L, 201L, 300L))
    // an INCOMPLETE staging (no _SUCCESS) must be discarded, not read
    spark.read.schema(pschema).parquet(s"$pdir/batch=0")
      .write.mode("overwrite").parquet(s"$pdir/.rewrite-0")
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$pdir/.rewrite-0/_SUCCESS"), false))
    graft.streaming.LivePipeline.vacuum(spark, cfg)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$pdir/batch=1")))
    assert(!new java.io.File(pdir).listFiles().exists(_.getName.startsWith(".rewrite-")))
    assert(!rawDocIds("packed").contains(200L))
    assert(packedIds() === Set(1L, 2L, 103L, 201L, 300L))
    // idempotence: a second vacuum with nothing to do changes nothing
    graft.streaming.LivePipeline.vacuum(spark, cfg)
    assert(packedIds() === Set(1L, 2L, 103L, 201L, 300L))
  }

  test("live stores resolve their FileSystem through the session conf") {
    import spark.implicits._
    // the stub is bound with spark.conf.set alone, as a deployment's
    // session-level s3a settings are; the bucket is one no other test
    // uses, because Hadoop caches a FileSystem per scheme and authority
    val local = java.nio.file.Files.createTempDirectory("graft-s3a-stores").toString
    spark.conf.set("fs.s3a.impl", classOf[StubS3aFileSystem].getName)
    spark.conf.set("mapreduce.outputcommitter.factory.scheme.s3a", "")
    try {
      val root = s"s3a://graft-session-conf-stores$local"
      val idx = graft.streaming.LiveIndex.Config(s"$root/index")
      graft.streaming.LiveIndex.step(Seq((1L, "spark merge window"),
        (2L, "spark other words")).toDF("doc_id", "text"), 0L, idx)
      graft.streaming.LiveIndex.step(Seq((3L, "spark again")).toDF("doc_id", "text"), 1L, idx)
      graft.streaming.LiveIndex.forget(spark, idx, Seq(2L))
      graft.streaming.LiveIndex.compact(spark, idx)
      assert(graft.streaming.LiveIndex.bm25(spark, idx, Seq("spark"), 5)
        .collect().map(_.getAs[Long]("doc_id")).toSet === Set(1L, 3L))
      val cfg = graft.streaming.LivePipeline.Config(s"$root/intake")
      val text = (1 to 36).map(j => s"alefterm$j").mkString(" ") + " the alef of this is high"
      graft.streaming.LivePipeline.step(Seq(LDoc(1, "en", text)).toDF(), 0L, cfg)
      assert(graft.streaming.LivePipeline.packedOutput(spark, cfg).count() === 1L)
      graft.streaming.LivePipeline.forget(spark, cfg, Seq(1L))
      graft.streaming.LivePipeline.vacuum(spark, cfg)
      assert(graft.streaming.LivePipeline.packedOutput(spark, cfg).count() === 0L)
    } finally {
      spark.conf.unset("fs.s3a.impl")
      spark.conf.unset("mapreduce.outputcommitter.factory.scheme.s3a")
    }
  }

  test("live vectors: streamed index serves the same top-k as a batch-built bucket scan") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-live-vec").toString
    val cfg = graft.streaming.LiveVectors.Config(root)
    val all = Tables.embeddings(spark, d).collect()
      .map(r => VRow(r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_.vec_id)
    val planes = Tables.embeddings(spark, d)
      .filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("hid"), col("embedding").as("hv"))
    val q = all.find(_.vec_id == 0L).get.embedding
    // corpus (minus the query row) streamed in 3 batches; batch 3
    // replays ids from batch 1 — producer retries under a fresh batch
    // id must be dropped by the index anti-join, not duplicated
    val corpus = all.filter(_.vec_id != 0L)
    val batches = corpus.grouped((corpus.length + 1) / 2).toSeq
    val ms = MemoryStream[VRow]
    val sq = graft.streaming.LiveVectors.start(ms.toDF(), planes, cfg)
    try {
      batches.foreach { b => ms.addData(b.toIndexedSeq: _*); sq.processAllAvailable() }
      ms.addData(batches.head.take(20).toIndexedSeq: _*); sq.processAllAvailable()
    } finally sq.stop()
    assert(graft.streaming.LiveVectors.index(spark, cfg).count() === corpus.length.toLong)
    val got = graft.streaming.LiveVectors.topK(spark, cfg, q, k = 10).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        BigDecimal(r.getAs[Double]("cos")).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
    // batch spelling over the same corpus and planes: sign every vector,
    // keep the query's bucket, exact cosine top-10
    val sigs = graft.operators.Similarity.signaturesOf(
      Tables.embeddings(spark, d).filter(col("vec_id") =!= 0), planes)
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val qb = got.headOption.map(_ => // derive via stored planes like serve does
      graft.streaming.LiveVectors.topK(spark, cfg, q, 1).collect()
        .head.getAs[String]("bucket")).getOrElse("")
    val expected = graft.operators.Similarity.withNorm(
        Tables.embeddings(spark, d).filter(col("vec_id") =!= 0))
      .join(sigs, "vec_id").filter(col("bucket") === qb)
      .withColumn("cos", graft.Cols.fastDot(col("embedding"),
          org.apache.spark.sql.functions.typedLit(q)) /
        (col("norm") * org.apache.spark.sql.functions.lit(qn)))
      .orderBy(col("cos").desc, col("vec_id")).limit(10).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        BigDecimal(r.getAs[Double]("cos")).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
    assert(expected.nonEmpty)
    assert(got.toSeq === expected.toSeq, "streamed-index/batch top-k parity")
    // serving prunes at the directory level across all batch dirs
    val pruned = graft.streaming.LiveVectors.index(spark, cfg)
      .filter(col("bucket") === qb)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket predicate must prune partitions:\n$plan")
    // compaction folds the batch dirs into one fold dir; the served
    // top-k and the bucket pruning are unchanged. The commit deletes
    // nothing (deferred GC): sources survive until the next writer op.
    graft.streaming.LiveVectors.compact(spark, cfg)
    def sigDirs(prefix: String): Set[String] = new java.io.File(s"$root/sigs")
      .listFiles().map(_.getName).filter(_.startsWith(prefix)).toSet
    assert(sigDirs("fold=").size === 1, s"fold should commit one dir: ${sigDirs("fold=")}")
    assert(sigDirs("batch=").nonEmpty, "a fold commit must not delete its sources")
    assert(graft.streaming.LiveVectors.index(spark, cfg).count() === corpus.length.toLong)
    val gotAfter = graft.streaming.LiveVectors.topK(spark, cfg, q, k = 10).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        BigDecimal(r.getAs[Double]("cos")).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
    assert(gotAfter.toSeq === expected.toSeq, "post-compaction top-k parity")
    // multi-probe widens the candidate pool (qb + 8 Hamming-1 buckets):
    // the best hit can only improve or hold, and the pool covers more
    // of the corpus than the single bucket
    val multi = graft.streaming.LiveVectors.topK(spark, cfg, q, k = 10, probes = 9).collect()
    assert(multi.map(_.getAs[String]("bucket")).toSet.size >= 1)
    assert(multi.head.getAs[Double]("cos") >= gotAfter.head._2.toDouble - 1e-12,
      "multi-probe best hit must not be worse than single-probe")
    // a committed-but-unrenamed staging (crash between _SUCCESS and
    // the commit rename) is INVISIBLE to reads — no staging reads, no
    // mutation from the serve path; the batches it would supersede are
    // all still present, so the view is complete either way
    graft.streaming.LiveVectors.index(spark, cfg)
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(s"$root/sigs/.compact-1-7")
    assert(graft.streaming.LiveVectors.index(spark, cfg).count() === corpus.length.toLong,
      "reads stay complete with a pending staging on disk")
    val gotStaged = graft.streaming.LiveVectors.topK(spark, cfg, q, k = 10).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        BigDecimal(r.getAs[Double]("cos")).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
    assert(gotStaged.toSeq === expected.toSeq, "top-k parity with a pending staging")
    assert(new java.io.File(s"$root/sigs/.compact-1-7").exists,
      "reads must not complete or delete a pending fold")
    // right-to-be-forgotten: the top hit leaves topK immediately; the
    // next compaction (which first completes the pending fold above)
    // removes its rows physically and retires the tombstones
    val gone = expected.head._1
    graft.streaming.LiveVectors.forget(spark, cfg, Seq(gone))
    def topIds() = graft.streaming.LiveVectors.topK(spark, cfg, q, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(!topIds().contains(gone) &&
      topIds().take(9) === expected.tail.map(_._1).toSeq,
      "forgotten vector must leave the ranking, survivors keep their order")
    // a re-arrival under a live tombstone is dropped, so a crashed
    // compact's recovery can never erase a legitimately re-added vector
    val goneRow = all.find(_.vec_id == gone).get
    graft.streaming.LiveVectors.step(Seq(goneRow).toDF(), 50L, cfg)
    assert(!topIds().contains(gone),
      "an arrival under a live tombstone must be dropped")
    graft.streaming.LiveVectors.compact(spark, cfg)
    assert(graft.streaming.LiveVectors.index(spark, cfg).count()
      === corpus.length.toLong - 1)
    // the newest fold (last by (h, gen)) holds the physically-cleaned
    // state; superseded dirs may linger until the next writer op's GC
    val newestFold = new java.io.File(s"$root/sigs").listFiles()
      .map(_.getName).filter(_.startsWith("fold=")).maxBy { n =>
        val s0 = n.stripPrefix("fold="); val i = s0.lastIndexOf('-')
        (s0.take(i).toLong, s0.drop(i + 1).toLong)
      }
    val rawIds = spark.read.parquet(s"$root/sigs/$newestFold")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!rawIds.contains(gone), "forgotten vector must be physically gone")
    assert(new java.io.File(s"$root/tombstones").listFiles() == null ||
      !new java.io.File(s"$root/tombstones").listFiles().exists(_.getName.startsWith("batch=")))
    assert(!topIds().contains(gone) && topIds().take(9) === expected.tail.map(_._1).toSeq)
  }

  test("live vectors: compact on an empty store keeps the tombstones it never applied") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-live-vec-empty").toString
    val cfg = graft.streaming.LiveVectors.Config(root)
    graft.streaming.LiveVectors.ensurePlanes((1L to 8L).map(h =>
      (h, Array.tabulate(4)(i => if ((h + i) % 3 == 0) 1f else -1f))).toDF("hid", "hv"), cfg)
    // the id is forgotten before it ever arrives: no sigs part exists,
    // so compact folds nothing and must retire nothing
    graft.streaming.LiveVectors.forget(spark, cfg, Seq(7L))
    graft.streaming.LiveVectors.compact(spark, cfg)
    graft.streaming.LiveVectors.step(Seq(VRow(7L, Array(1f, 2f, 3f, 4f), 0),
      VRow(8L, Array(4f, 3f, 2f, 1f), 1)).toDF(), 0L, cfg)
    assert(graft.streaming.LiveVectors.index(spark, cfg)
      .collect().map(_.getAs[Long]("vec_id")).toSet === Set(8L),
      "a tombstone no fold applied must keep masking the forgotten id")
    assert(spark.read.parquet(s"$root/sigs/batch=0").select("vec_id")
      .collect().map(_.getLong(0)).toSet === Set(8L),
      "the arrival of a still-tombstoned id must be dropped, not stored")
  }

  test("live counts: streamed partials re-aggregate to the batch answer; d12 df parity") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-live-counts").toString
    val counts = graft.streaming.LiveCounts.Family("")
    // d12's segment-df corpus: hotSegments counts DISTINCT docs per
    // 4-word segment; the stream carries distinct (doc, segment) pairs
    // (each doc arrives once, so per-doc-distinct IS additive df)
    val corpus = Seq((1L, "a b c d e f g h"), (2L, "a b c d x y z w"),
      (3L, "p q r s a b c d")).toDF("doc_id", "text")
    import org.apache.spark.sql.functions.{explode, expr}
    val segs = corpus.select(col("doc_id"), explode(expr(
        "transform(sequence(0, ((size(split(text, ' ')) + 3) div 4) - 1), " +
          "i -> array_join(slice(split(text, ' '), i * 4 + 1, 4), ' '))")).as("key"))
      .distinct() // distinct PAIRS: one observation per (doc, segment)
      .select("key").collect().map(_.getString(0))
    // stream observation keys in 2 batches + a replayed slice
    val ms = MemoryStream[String]
    val q = counts.start(ms.toDS().toDF("key"), root)
    try {
      val (b1, b2) = segs.splitAt(segs.length / 2)
      ms.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def totalMap = counts.totals(spark, root).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
    val batchCounts = segs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(totalMap === batchCounts)
    // compact commits one fold dir; sources survive until the next
    // writer op (deferred GC); totals unchanged; replay no-op
    counts.compact(spark, root)
    def countDirs(prefix: String): Set[String] = new java.io.File(s"$root/counts")
      .listFiles().map(_.getName).filter(_.startsWith(prefix)).toSet
    assert(countDirs("fold=").size === 1)
    assert(countDirs("batch=").nonEmpty, "a fold commit must not delete its sources")
    assert(totalMap === batchCounts)
    counts.step(Seq("a b c d").toDF("key"), 1L, root)
    assert(totalMap === batchCounts,
      "replay of a FOLDED batch id is a no-op even after GC drops its dir")
    assert(countDirs("batch=").isEmpty, "the next writer op GCs the fold's sources")
    // a committed-but-unrenamed staging (crash between its _SUCCESS
    // and the commit rename) is invisible to totals — no staging
    // reads, no mutation from the serve path, and the state it would
    // supersede is all still present
    counts.step(Seq("zzz extra").toDF("key"), 2L, root)
    val expected2 = batchCounts + ("zzz extra" -> 1L)
    counts.totals(spark, root)
      .write.parquet(s"$root/counts/.compact-2-1")
    assert(totalMap === expected2, "reads stay complete with a pending staging")
    assert(new java.io.File(s"$root/counts/.compact-2-1").exists,
      "reads must not complete or delete a pending fold")
    // the next WRITER step commits the staging
    counts.step(Seq("one more").toDF("key"), 3L, root)
    assert(!new java.io.File(s"$root/counts/.compact-2-1").exists)
    assert(new java.io.File(s"$root/counts/fold=2-1").exists,
      "recovery commits the crashed staging under its fold= name")
    assert(totalMap === expected2 + ("one more" -> 1L))
    // as-of pins the statistics at a commit point; an as-of older than
    // the fold horizon fails loudly (folded history is collapsed)
    def totalsAsOf(asOf: Long) =
      counts.totals(spark, root, asOf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totalsAsOf(2L) === expected2, "as-of at the fold horizon")
    assert(totalsAsOf(3L) === expected2 + ("one more" -> 1L))
    intercept[IllegalArgumentException](totalsAsOf(1L))
  }

  test("live release: the streamed continual DP release equals batch x47 at every commit point") {
    import org.apache.spark.sql.functions.col
    // The streaming twin of x47 (LiveRelease): day counts are additive,
    // so LiveCounts partials re-aggregate to the batch groupBy exactly,
    // and everything downstream of the dailies (grid, node noise,
    // decomposition) is deterministic given them — a release from the
    // live store must equal the batch release on the same records,
    // clamped integer for clamped integer. Also pinned: the as-of
    // release is the batch release over the prefix, replay of a
    // committed batch id is a no-op, compaction is invisible, and the
    // ledger meters live releases exactly like batch ones.
    val root = java.nio.file.Files.createTempDirectory("graft-live-release").toString
    val cfg = graft.streaming.LiveRelease.Config(root)
    val d = "/root/testdata/sf0.001"
    val evAll = graft.Tables.events(spark, d)
    val slices = (0 until 3).map(i => evAll.filter(col("event_id") % 3 === i))
    slices.zipWithIndex.foreach { case (s, i) =>
      graft.streaming.LiveRelease.days.step(s, i.toLong, cfg.root) }
    def live(asOf: Long = Long.MaxValue) = graft.streaming.LiveRelease
      .release(spark, cfg, seeded = true, asOf = asOf).collect().toSeq
    val frontier = live()
    val batch = graft.operators.Privacy.dpContinualRelease(evAll, seeded = true)
      .collect().toSeq
    assert(frontier === batch,
      "the live release must be bit-identical to batch x47 on the same records")
    // as-of at commit 1 = the batch release over slices 0+1 (a
    // reproducible release surface: 'the numbers we shipped Tuesday')
    val batchPrefix = graft.operators.Privacy.dpContinualRelease(
      slices(0).unionByName(slices(1)), seeded = true).collect().toSeq
    assert(live(asOf = 1L) === batchPrefix)
    // replay of a committed batch id must not double-count
    graft.streaming.LiveRelease.days.step(slices(0), 0L, cfg.root)
    assert(live() === frontier, "replayed batch id is a no-op")
    // compaction folds the partials; the release cannot tell
    graft.streaming.LiveRelease.days.compact(spark, cfg.root)
    assert(live() === frontier, "a fold must be invisible to the release")
    // the ledger meters live releases like batch ones: ε=1 per window,
    // a second release of the same window refused once spent
    val led = graft.operators.DpLedger.open(
      java.nio.file.Files.createTempDirectory("graft-lr-ledger").toString,
      budget = BigDecimal(1))
    val metered = graft.streaming.LiveRelease.release(spark, cfg,
      seeded = true, ledger = Some(led)).collect().toSeq
    assert(metered === frontier)
    assert(led.spent === BigDecimal(1))
    intercept[IllegalStateException] {
      graft.streaming.LiveRelease.release(spark, cfg,
        seeded = true, ledger = Some(led))
    }
    // the SVT alert rides the same store and the same equivalence:
    // live aboveThreshold == batch x51 on the ingested records (both
    // regimes: the default threshold and one low enough to trip)
    for (t <- Seq(100.0, 1.0)) {
      val liveSvt = graft.streaming.LiveRelease
        .aboveThreshold(spark, cfg, threshold = t, seeded = true).collect().toSeq
      val batchSvt = graft.operators.Privacy
        .dpAboveThresholdRelease(evAll, threshold = t, seeded = true).collect().toSeq
      assert(liveSvt === batchSvt, s"SVT twin diverged at threshold $t")
    }
    // the sparse twin (x53) rides the same store and additivity
    for (t <- Seq(100.0, 1.0)) {
      assert(graft.streaming.LiveRelease
          .sparse(spark, cfg, threshold = t, seeded = true).collect().toSeq ===
        graft.operators.Privacy
          .dpSparseRelease(evAll, threshold = t, seeded = true).collect().toSeq,
        s"sparse twin diverged at threshold $t")
    }
    // the range-tree twin (x63) rides the same store: additive dailies
    // + public covers + seeded node noise => live == batch, and the
    // whole 94-range answer set is one metered epsilon
    assert(graft.streaming.LiveRelease
        .rangeRelease(spark, cfg, seeded = true).collect().toSeq ===
      graft.operators.Privacy
        .dpRangeRelease(evAll, seeded = true).collect().toSeq,
      "range twin diverged")
  }

  test("stability-histogram twins: live cell stores equal batch x54/x55; the ledger meters the (epsilon, delta) pair") {
    // the r18 verdict #3 directive: the δ-licensed release regime gets
    // its live twin like every other regime. Cell counts are additive
    // (x54) and the distinct user-cell set is idempotent-union additive
    // (x55), so live == batch bit-for-bit; and the r18 verdict #1
    // arc — δ metered, not documented — applies to the live spelling:
    // K releases spend (K·ε, K·δ), the K+1th refused by the δ budget.
    val root = java.nio.file.Files.createTempDirectory("graft-live-hist").toString
    val cfg = graft.streaming.LiveRelease.Config(root)
    val d = "/root/testdata/sf0.001"
    // union a synthetic 70-user hot cell: sf0.001 alone clears x54's τ
    // (≈ 14) but nothing clears x55's user-level τ (≈ 59), and an
    // empty == empty pin would prove nothing about the user twin
    val evAll = {
      import spark.implicits._
      val hot = (0 until 70).map(u => (900000L + u,
        java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
        9000L + u, "click", 1.0, "")).toDF(
        "event_id", "ts", "user_id", "event_type", "value", "props")
      graft.Tables.events(spark, d).unionByName(hot)
    }
    val slices = (0 until 3).map(i => evAll.filter(col("event_id") % 3 === i))
    slices.zipWithIndex.foreach { case (s, i) =>
      graft.streaming.LiveRelease.cells.step(s, i.toLong, cfg.root)
      graft.streaming.LiveRelease.userCells.step(s, i.toLong, cfg.root)
    }
    def liveHist() = graft.streaming.LiveRelease
      .stableHistogram(spark, cfg, seeded = true).collect().toSeq
    def liveUser() = graft.streaming.LiveRelease
      .userHistogram(spark, cfg, seeded = true).collect().toSeq
    val batchHist = graft.operators.Privacy
      .dpStableHistogramRelease(evAll, seeded = true).collect().toSeq
    val batchUser = graft.operators.Privacy
      .dpUserHistogramRelease(evAll, seeded = true).collect().toSeq
    assert(batchHist.nonEmpty && batchUser.nonEmpty, "fixture must release cells")
    assert(liveHist() === batchHist,
      "the live x54 must be bit-identical to batch on the same records")
    assert(liveUser() === batchUser,
      "the live x55 must be bit-identical to batch on the same records")
    // replay idempotence + fold invisibility, both stores
    graft.streaming.LiveRelease.cells.step(slices(0), 0L, cfg.root)
    graft.streaming.LiveRelease.userCells.step(slices(0), 0L, cfg.root)
    assert(liveHist() === batchHist && liveUser() === batchUser,
      "replayed batch ids are no-ops")
    graft.streaming.LiveRelease.cells.compact(spark, cfg.root)
    graft.streaming.LiveRelease.userCells.compact(spark, cfg.root)
    assert(liveHist() === batchHist && liveUser() === batchUser,
      "a fold must be invisible to the releases")
    // the (ε, δ) pair, metered live: δ budget 2e-6 admits exactly two
    // δ=1e-6 releases even though the ε budget (10) never binds
    val led = graft.operators.DpLedger.open(
      java.nio.file.Files.createTempDirectory("graft-live-hist-led").toString,
      budget = BigDecimal(10), deltaBudget = BigDecimal("0.000002"))
    assert(graft.streaming.LiveRelease.stableHistogram(spark, cfg,
      seeded = true, ledger = Some(led)).collect().toSeq === batchHist)
    assert(led.spent === BigDecimal(1) && led.spentDelta === BigDecimal("0.000001"))
    assert(graft.streaming.LiveRelease.userHistogram(spark, cfg,
      seeded = true, ledger = Some(led)).collect().toSeq === batchUser)
    assert(led.spent === BigDecimal(2) && led.spentDelta === BigDecimal("0.000002"))
    val refused = intercept[graft.operators.DpLedger.BudgetRefused] {
      graft.streaming.LiveRelease.stableHistogram(spark, cfg,
        seeded = true, ledger = Some(led))
    }
    assert(refused.getMessage.contains("delta budget"),
      s"the refusal must name the binding constraint: ${refused.getMessage}")
    assert(led.spent === BigDecimal(2) && led.spentDelta === BigDecimal("0.000002"),
      "a refusal burns neither coordinate")
    led.close()
  }

  test("subsampled twins: live kept-cell stores equal batch x56/x60; the pair charge and the vocabulary contract carry over") {
    // the last release regime without a live twin (x56/x60): the keep
    // decision is per-event and deterministic given the ingest-time
    // sampling salt, so the kept set is batch-invariant; kept-cell
    // counts are additive; the Laplace/Gaussian tails are deterministic
    // given the cells — live == batch bit-for-bit.
    val root = java.nio.file.Files.createTempDirectory("graft-live-sub").toString
    val cfg = graft.streaming.LiveRelease.Config(root)
    val d = "/root/testdata/sf0.001"
    val evAll = graft.Tables.events(spark, d)
    val slices = (0 until 3).map(i => evAll.filter(col("event_id") % 3 === i))
    slices.zipWithIndex.foreach { case (s, i) =>
      graft.streaming.LiveRelease.subsampled().step(s, i.toLong, cfg.root)
      graft.streaming.LiveRelease.subsampledGauss().step(s, i.toLong, cfg.root)
      graft.streaming.LiveRelease.cells.step(s, i.toLong, cfg.root) // vocabulary source
    }
    def liveCount() = graft.streaming.LiveRelease
      .subsampledCount(spark, cfg, seeded = true).collect().toSeq
    def liveGauss() = graft.streaming.LiveRelease
      .subsampledGaussian(spark, cfg, seeded = true).collect().toSeq
    val batchCount = graft.operators.Privacy
      .dpSubsampledCountRelease(evAll, seeded = true).collect().toSeq
    val batchGauss = graft.operators.Privacy
      .dpSubsampledGaussianRelease(evAll, seeded = true).collect().toSeq
    assert(batchCount.nonEmpty && batchGauss.nonEmpty)
    assert(liveCount() === batchCount,
      "the live x56 must be bit-identical to batch on the same records")
    assert(liveGauss() === batchGauss,
      "the live x60 must be bit-identical to batch on the same records")
    // the two stores sample INDEPENDENT domains: the Laplace twin fed
    // from the Gaussian store would be a different kept set — guard the
    // store wiring by checking the kept-cell totals differ
    val ss = graft.streaming.LiveRelease.subsampled().totals(spark, root)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    val sg = graft.streaming.LiveRelease.subsampledGauss().totals(spark, root)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(ss !== sg, s"independent 'dpss|'/'dpsg|' samples should differ ($ss vs $sg)")
    // replay idempotence + fold invisibility
    graft.streaming.LiveRelease.subsampled().step(slices(0), 0L, cfg.root)
    graft.streaming.LiveRelease.subsampledGauss().step(slices(0), 0L, cfg.root)
    assert(liveCount() === batchCount && liveGauss() === batchGauss,
      "replayed batch ids are no-ops")
    graft.streaming.LiveRelease.subsampled().compact(spark, cfg.root)
    graft.streaming.LiveRelease.subsampledGauss().compact(spark, cfg.root)
    assert(liveCount() === batchCount && liveGauss() === batchGauss,
      "a fold must be invisible to the releases")
    // a deployment that does NOT run the full-cell intake passes a
    // public vocabulary instead; both engines then ride the same
    // explicit release set (the honest production spelling)
    val vocab = evAll.select("event_type").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(graft.streaming.LiveRelease.subsampledCount(spark, cfg,
      seeded = true, vocabulary = Some(vocab)).collect().toSeq === batchCount)
    // the live Gaussian charges the amplified PAIR; a δ-less ledger
    // refuses it outright, and an admitted charge spends both
    // coordinates exactly
    val led = graft.operators.DpLedger.open(
      java.nio.file.Files.createTempDirectory("graft-live-sub-led").toString,
      budget = BigDecimal(10), deltaBudget = BigDecimal("0.0000005"))
    assert(graft.streaming.LiveRelease.subsampledGaussian(spark, cfg,
      seeded = true, ledger = Some(led)).collect().toSeq === batchGauss)
    assert(led.spent === BigDecimal("0.620114507") &&
      led.spentDelta === BigDecimal("0.0000005"),
      s"the amplified pair, exactly: ${led.spent}, ${led.spentDelta}")
    val refused = intercept[graft.operators.DpLedger.BudgetRefused] {
      graft.streaming.LiveRelease.subsampledGaussian(spark, cfg,
        seeded = true, ledger = Some(led))
    }
    assert(refused.getMessage.contains("delta budget"))
    led.close()
  }

  test("local-DP twin: ingest-time randomization; the live report store rebuilds the batch x62 estimate bit-for-bit") {
    // the LOCAL model run the way it is meant to run: the k-RR coin
    // fires per record AT INGEST, so the store never holds a true
    // type; the release is pure post-processing of report counts. The
    // domain and coin salt are collection config; with the same domain
    // and the seeded salt, live == batch exactly.
    val root = java.nio.file.Files.createTempDirectory("graft-live-lrr").toString
    val cfg = graft.streaming.LiveRelease.Config(root)
    val d = "/root/testdata/sf0.001"
    val evAll = graft.Tables.events(spark, d)
    val domain = evAll.select("event_type").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val slices = (0 until 3).map(i => evAll.filter(col("event_id") % 3 === i))
    slices.zipWithIndex.foreach { case (s, i) =>
      graft.streaming.LiveRelease.local(domain).step(s, i.toLong, cfg.root)
    }
    def live() = graft.streaming.LiveRelease
      .localFrequency(spark, cfg, domain).collect().toSeq
    val batch = graft.operators.Privacy
      .localFrequencyRelease(evAll, seeded = true,
        vocabulary = Some(domain)).collect().toSeq
    assert(batch.nonEmpty)
    assert(live() === batch,
      "the live estimate must be bit-identical to batch on the same records")
    // replay idempotence + fold invisibility
    graft.streaming.LiveRelease.local(domain).step(slices(0), 0L, cfg.root)
    assert(live() === batch, "replayed batch ids are no-ops")
    graft.streaming.LiveRelease.local(domain).compact(spark, cfg.root)
    assert(live() === batch, "a fold must be invisible to the estimate")
    // an estimator run under a different domain than the collector's is
    // the documented unit error — k enters (p, q); guard the API shape
    // by checking the k it reports
    val wrongK = graft.streaming.LiveRelease
      .localFrequency(spark, cfg, domain :+ "phantom").collect()
    assert(wrongK.head.getAs[Double]("q") !== batch.head.getAs[Double]("q"),
      "a larger claimed domain must visibly change the mechanism params")
  }

  test("count-store families refuse the ingest parameters their releases refuse and commit nothing") {
    import spark.implicits._
    // a store ingested under a q outside (0, 1), eps <= 0 or a one-type
    // domain could never be released: the subsampled and local releases
    // refuse those parameters, so the family
    // refuses them before anything is written
    val root = java.nio.file.Files.createTempDirectory("graft-family-bounds").toString
    val ev = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val lr = graft.streaming.LiveRelease
    for (q <- Seq(0.0, 1.0, 1.5)) {
      intercept[IllegalArgumentException](lr.subsampled(q).step(ev, 0L, root))
      intercept[IllegalArgumentException](lr.subsampledGauss(q).step(ev, 0L, root))
    }
    intercept[IllegalArgumentException](lr.local(Seq("click", "view"), eps = 0.0).step(ev, 0L, root))
    intercept[IllegalArgumentException](lr.local(Seq("click", "click")).step(ev, 0L, root))
    assert(new java.io.File(root).list().isEmpty, "a refused family must write no store")
  }

  test("count-store families keep their on-disk layout; a family's start equals its step") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // a renamed subdirectory would pass every release spec and orphan a
    // deployed store: pin where each family commits
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val rows = (0 until 40).map(i => (i.toLong,
      Timestamp.valueOf(s"2024-01-0${1 + i % 3} 0${i % 10}:00:00"),
      100L + i % 5, if (i % 2 == 0) "click" else "view", 8.0 * i))
    val ev = rows.toDF(cols: _*)
    val root = java.nio.file.Files.createTempDirectory("graft-family-layout").toString
    val lr = graft.streaming.LiveRelease
    val families = Seq("counts" -> lr.days, "cells" -> lr.cells, "ucells" -> lr.userCells,
      "subcells" -> lr.subsampled(), "subgcells" -> lr.subsampledGauss(),
      "lrrcells" -> lr.local(Seq("click", "view")))
    for ((dir, family) <- families) {
      family.step(ev, 0L, root)
      val counts = if (dir == "counts") dir else s"$dir/counts"
      assert(new java.io.File(s"$root/$counts/batch=0/_SUCCESS").exists, s"store moved from $counts")
    }
    assert(new java.io.File(root).list().toSet === families.map(_._1).toSet)
    // the streaming intake commits through the same step: one
    // MemoryStream batch lands the totals a direct step lands
    val streamed = java.nio.file.Files.createTempDirectory("graft-family-start").toString
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = lr.userCells.start(ms.toDS().toDF(cols: _*), streamed)
    try { ms.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    assert(new java.io.File(s"$streamed/ucells/_checkpoint").isDirectory)
    def totals(r: String) = lr.userCells.totals(spark, r).collect()
      .map(t => t.getString(0) -> t.getLong(1)).toMap
    assert(totals(streamed).nonEmpty && totals(streamed) === totals(root))
  }

  test("live index: streamed BM25 postings serve the batch x14 ranking bit-for-bit") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-live-bm25").toString
    val cfg = graft.streaming.LiveIndex.Config(root)
    val terms = graft.operators.Retrieval.QueryTerms
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"),
        r.getAs[Long]("n_terms_hit"))).toSeq
    val all = Tables.documents(spark, d).select("doc_id", "lang", "text").collect()
      .map(r => LDoc(r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id)
    val batches = all.grouped((all.length + 2) / 3).toSeq
    val ms = MemoryStream[LDoc]
    val q = graft.streaming.LiveIndex.start(ms.toDF(), cfg)
    try {
      batches.foreach { b => ms.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val expected = ranked(graft.operators.Retrieval.bm25(
      Tables.documents(spark, d), terms, 15))
    assert(expected.nonEmpty)
    // bit-for-bit: the serving path routes through the same
    // bm25FromIndex spelling over exact integer inputs
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === expected)
    // compaction commits one fold per store; its batch sources stay on
    // disk until the next writer op (deferred GC); serving unchanged
    graft.streaming.LiveIndex.compact(spark, cfg)
    def partIds(kind: String): Set[String] =
      new java.io.File(s"$root/$kind").listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).toSet
    def foldIds(kind: String): Set[String] =
      new java.io.File(s"$root/$kind").listFiles().map(_.getName)
        .filter(_.startsWith("fold=")).toSet
    assert(foldIds("postings") === Set("fold=2-0") && foldIds("doclens") === Set("fold=2-0"))
    assert(partIds("postings") === Set("batch=0", "batch=1", "batch=2"),
      "a fold commit must not delete its sources")
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === expected)
    // crash between the two store writes: a postings partition whose
    // batch never committed (no doclens sibling) must not be served —
    // the doclens horizon excludes it
    spark.read.parquet(s"$root/postings/batch=2")
      .write.mode("overwrite").parquet(s"$root/postings/batch=9")
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === expected)
    // the replay of that batch overwrites the orphan and commits; the
    // live ranking then equals the batch operator over the grown corpus
    val extra = Seq(
      LDoc(9001, "en", "spark merge window spark query the corpus grows here"),
      LDoc(9002, "en", "window window merge of a second arriving document"))
    graft.streaming.LiveIndex.step(extra.toDF(), 9L, cfg)
    val grown = Tables.documents(spark, d).select("doc_id", "text")
      .unionByName(extra.toDF().select("doc_id", "text"))
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15))
      === ranked(graft.operators.Retrieval.bm25(grown, terms, 15)))
    // a replayed committed batch id is a no-op (exactly-once)
    graft.streaming.LiveIndex.step(extra.toDF(), 9L, cfg)
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15))
      === ranked(graft.operators.Retrieval.bm25(grown, terms, 15)))
    // right-to-be-forgotten: the top-ranked doc leaves the results, and
    // because BM25's corpus stats are additive over docs, every
    // surviving score equals a FROM-SCRATCH index over the corpus
    // without it (df, n_docs, total_tokens all shrink exactly)
    val goneDoc = ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)).head._1
    graft.streaming.LiveIndex.forget(spark, cfg, Seq(goneDoc))
    val without = ranked(graft.operators.Retrieval.bm25(
      grown.filter(col("doc_id") =!= goneDoc), terms, 15))
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === without)
    val goneText = grown.filter(col("doc_id") === goneDoc)
      .collect().head.getAs[String]("text")
    // a re-arrival under a LIVE tombstone is dropped — so the
    // compact-crash window (rows applied, tombstones not yet retired)
    // can never erase a legitimately re-admitted doc
    graft.streaming.LiveIndex.step(
      Seq((goneDoc, goneText)).toDF("doc_id", "text"), 10L, cfg)
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === without,
      "an arrival under a live tombstone must be dropped, not indexed")
    // compaction applies the tombstones physically and retires them
    graft.streaming.LiveIndex.compact(spark, cfg)
    // the newest fold holds the physically-cleaned state (superseded
    // dirs may linger until the next writer op's GC)
    val newestPostingsFold = new java.io.File(s"$root/postings").listFiles()
      .map(_.getName).filter(_.startsWith("fold=")).maxBy { n =>
        val s0 = n.stripPrefix("fold="); val i = s0.lastIndexOf('-')
        (s0.take(i).toLong, s0.drop(i + 1).toLong)
      }
    val rawPostingDocs = spark.read.parquet(s"$root/postings/$newestPostingsFold")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!rawPostingDocs.contains(goneDoc), "forgotten postings must be physically gone")
    assert(new java.io.File(s"$root/tombstones").listFiles() == null ||
      !new java.io.File(s"$root/tombstones").listFiles().exists(_.getName.startsWith("batch=")))
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === without)
    // after retirement the id is free to be indexed anew
    graft.streaming.LiveIndex.step(
      Seq((goneDoc, goneText)).toDF("doc_id", "text"), 11L, cfg)
    val full = ranked(graft.operators.Retrieval.bm25(grown, terms, 15))
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === full,
      "a re-arrival after tombstone retirement must re-index")
    // crash window: a doclens fold staging committed but not yet
    // renamed (crash between its _SUCCESS and the commit) — invisible
    // to serving (its sources are all still present under the
    // non-destructive protocol), and the next maintenance op commits
    // it without wedging the horizon
    val dlAll = new java.io.File(s"$root/doclens").listFiles()
      .map(_.getName).filter(n => n.startsWith("batch=") || n.startsWith("fold="))
      .map(n => s"$root/doclens/$n").toIndexedSeq
    // per-dir reads (a bucketed fold and a flat batch dir cannot share
    // one multi-root parquet call) projected to the data columns — the
    // staging is written FLAT (legacy pre-bucketing format), so
    // recovery's commit of old-layout stagings stays covered
    val dlFrames = dlAll.map(spark.read.parquet(_))
    val dlCols = dlFrames.map(_.columns.filterNot(_ == "bucket").toSeq)
      .reduce(_ intersect _)
    dlFrames.map(_.select(dlCols.map(col): _*)).reduce(_ unionByName _)
      .dropDuplicates("doc_id")
      .write.mode("overwrite").parquet(s"$root/doclens/.compact-11-9")
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === full,
      "a pending staging must not affect serving")
    graft.streaming.LiveIndex.compact(spark, cfg)
    assert(new java.io.File(s"$root/doclens/fold=11-9").exists,
      "compact must commit the interrupted fold")
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 15)) === full)
  }

  test("composed stack: only admitted docs are searchable; index serves the curated corpus") {
    import spark.implicits._
    val proot = java.nio.file.Files.createTempDirectory("graft-stack-pipe").toString
    val iroot = java.nio.file.Files.createTempDirectory("graft-stack-idx").toString
    val cfg = graft.streaming.LivePipeline.Config(proot)
    val idx = graft.streaming.LiveIndex.Config(iroot)
    def mkText(tag: String, last: String): String =
      (1 to 36).map(j => s"${tag}tok$j").mkString(" ") + s" the $tag of this is $last"
    val e1 = LDoc(1, "en", mkText("alpha", "high"))
    val e2 = LDoc(2, "en", mkText("beta", "high"))
    graft.streaming.LivePipeline.seedWithIndex(Seq(e1, e2).toDF(), cfg, idx)
    val d100 = LDoc(100, "en", mkText("gamma", "high"))
    graft.streaming.LivePipeline.stepWithIndex(Seq(
      d100,
      LDoc(101, "en", e1.text),            // dup_of_corpus
      LDoc(102, "en", "tiny text"),        // low_quality
      LDoc(103, "en", mkText("beta", "low")) // near_dup of e2, gated
    ).toDF(), 0L, cfg, idx)
    val fates = graft.streaming.LivePipeline.auditOutput(spark, cfg)
      .filter(col("batch") === 0).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fate")).toMap
    assert(fates === Map(100L -> "admitted", 101L -> "dup_of_corpus",
      102L -> "low_quality", 103L -> "near_dup"))
    // a crash BETWEEN the two steps replays only the incomplete one:
    // the intake commits batch 1, the index misses it, the composed
    // replay catches the index up off the committed admitted set
    val d200 = LDoc(200, "en", mkText("delta", "high"))
    graft.streaming.LivePipeline.step(Seq(d200).toDF(), 1L, cfg)
    graft.streaming.LivePipeline.stepWithIndex(Seq(d200).toDF(), 1L, cfg, idx)
    // searchability == admission: the index serves exactly the pack
    val admitted = Seq(e1, e2, d100, d200)
    val terms = Seq("the", "of", "is")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq
    val got = ranked(graft.streaming.LiveIndex.bm25(spark, idx, terms, 10))
    assert(got.map(_._1).toSet === Set(1L, 2L, 100L, 200L),
      "exactly the admitted docs must be searchable")
    assert(got === ranked(graft.operators.Retrieval.bm25(
      admitted.toDF().select("doc_id", "text"), terms, 10)),
      "index must equal a batch BM25 over the curated corpus")
    // composed RTBF: one call empties both shelves — the pack AND the
    // search results
    graft.streaming.LivePipeline.forgetWithIndex(spark, cfg, idx, Seq(100L))
    assert(!graft.streaming.LivePipeline.packedOutput(spark, cfg)
      .collect().map(_.getAs[Long]("doc_id")).contains(100L))
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, idx, terms, 10))
      .map(_._1).toSet === Set(1L, 2L, 200L),
      "a composed forget must leave search too")
  }

  test("composed stack: a crashed composed seed re-drives only the index leg") {
    import spark.implicits._
    val proot = java.nio.file.Files.createTempDirectory("graft-stack-seed").toString
    val iroot = java.nio.file.Files.createTempDirectory("graft-stack-seedidx").toString
    val cfg = graft.streaming.LivePipeline.Config(proot)
    val idx = graft.streaming.LiveIndex.Config(iroot)
    def mkText(tag: String): String =
      (1 to 36).map(j => s"${tag}tok$j").mkString(" ") + s" the $tag of this is high"
    val existing = Seq(LDoc(1, "en", mkText("omega")), LDoc(2, "en", mkText("psi")))
    // the crash: the intake seed committed, the index leg never ran
    graft.streaming.LivePipeline.seed(existing.toDF(), cfg)
    assert(graft.streaming.LiveIndex.bm25(spark, idx, Seq("the"), 10).count() === 0)
    // the re-run adjudicates per store: intake no-op, index catches up
    graft.streaming.LivePipeline.seedWithIndex(existing.toDF(), cfg, idx)
    assert(graft.streaming.LiveIndex.bm25(spark, idx, Seq("the"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L),
      "a crashed composed seed must leave the seed corpus searchable after re-run")
    // and the packed output is still the single seed pass (no re-pack)
    assert(graft.streaming.LivePipeline.packedOutput(spark, cfg)
      .collect().map(_.getAs[Long]("batch")).forall(_ === -1L))
  }

  test("live pipeline: a restarted query resumes from its checkpoint without re-packing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-live-restart").toString
    val in = java.nio.file.Files.createTempDirectory("graft-live-in").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    // long alpha words: the quality score's n_alpha/n_tokens term needs
    // ~5 letters per word, so digit-heavy tokens would fail the bar
    def doc(i: Long) = LDoc(i, "en",
      (1 to 36).map(j => s"resume${i}word$j").mkString(" ") + " the end of this is near")
    // file source: stage each drop as one parquet file in a flat dir
    def addFile(name: String, docs: Seq[LDoc]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-live-stage").toString
      docs.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(in, name))
    }
    addFile("f1.parquet", Seq(doc(1), doc(2)))
    def stream = spark.readStream.schema("doc_id LONG, lang STRING, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q1 = graft.streaming.LivePipeline.start(stream, cfg)
    try q1.processAllAvailable() finally q1.stop()
    val firstRun = graft.streaming.LivePipeline.packedOutput(spark, cfg).collect()
    assert(firstRun.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L))
    // new files while the query is DOWN; restart from the same checkpoint
    addFile("f2.parquet", Seq(doc(3)))
    val q2 = graft.streaming.LivePipeline.start(stream, cfg)
    try q2.processAllAvailable() finally q2.stop()
    val resumed = graft.streaming.LivePipeline.packedOutput(spark, cfg).collect()
    // batch 0's rows are byte-identical (not recomputed under a new
    // batch id), and doc 3's cursor continues the packed token stream
    assert(resumed.map(packKey).toSet.intersect(firstRun.map(packKey).toSet)
      === firstRun.map(packKey).toSet)
    val byId = resumed.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet === Set(1L, 2L, 3L))
    for (r <- resumed) {
      val before = resumed.filter(o => o.getAs[String]("lang") == r.getAs[String]("lang") &&
        o.getAs[Long]("shard") == r.getAs[Long]("shard") &&
        o.getAs[Long]("doc_id") < r.getAs[Long]("doc_id"))
        .map(_.getAs[Long]("n_tokens")).sum
      assert(r.getAs[Long]("cum_before") === before,
        s"resumed cursor continuation for doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("live index: ENGAGED MaxScore pruning on a folded store is bit-identical to batch, incl. after forget") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Zipfian synthetic corpus: the gate corpus's QueryTerms are all
    // similarly common, so x45 and the parity test above exercise the
    // FALLBACK regime — this store is built so the pruning genuinely
    // engages: "zzrare" in 15 docs (t*, the 5-row theta page fills),
    // "midterm" in 40 (essential beyond t* -> pass 2 runs), commons in
    // all 200 (non-essential -> their posting lists only read
    // point-wise for candidates).
    val docs = (1L to 200L).map { id =>
      val rare = if (id % 13 == 0) " zzrare" else ""
      val mid = if (id % 5 == 0) " midterm" else ""
      val body = ("alpha beta gamma " * (1 + (id % 5).toInt)).trim
      (id, s"$body$rare$mid common1 common2")
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-live-maxscore").toString
    val cfg = graft.streaming.LiveIndex.Config(root)
    graft.streaming.LiveIndex.step(docs.filter(col("doc_id") <= 100), 0L, cfg)
    graft.streaming.LiveIndex.step(docs.filter(col("doc_id") > 100), 1L, cfg)
    graft.streaming.LiveIndex.compact(spark, cfg)
    // the additive-stats relations must exist, or the serve would fall
    // back to its scan spelling and this test would be vacuous
    val folds = new java.io.File(s"$root/postings").listFiles()
      .filter(_.getName.startsWith("fold="))
    assert(folds.nonEmpty && folds.forall(f =>
      new java.io.File(f, "_termdf").exists()), "fold must carry _termdf")
    assert(new java.io.File(s"$root/doclens").listFiles()
      .filter(_.getName.startsWith("fold="))
      .forall(f => new java.io.File(f, "_stats").exists()), "fold must carry _stats")
    val terms = Seq("zzrare", "midterm", "common1", "alpha")
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"),
        r.getAs[Long]("n_terms_hit"))).toSeq
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 5))
      === ranked(graft.operators.Retrieval.bm25(docs, terms, 5)))
    // forget the top-ranked doc: the tombstone-corrected df/n_docs/
    // total_tokens assembly must keep the ENGAGED serve equal to a
    // from-scratch batch index over the surviving corpus
    val gone = ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 5)).head._1
    graft.streaming.LiveIndex.forget(spark, cfg, Seq(gone))
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 5))
      === ranked(graft.operators.Retrieval.bm25(
        docs.filter(col("doc_id") =!= gone), terms, 5)))
    // and after the compaction applies the tombstone physically
    graft.streaming.LiveIndex.compact(spark, cfg)
    assert(ranked(graft.streaming.LiveIndex.bm25(spark, cfg, terms, 5))
      === ranked(graft.operators.Retrieval.bm25(
        docs.filter(col("doc_id") =!= gone), terms, 5)))
  }
}

/** Top-level so Seq[LDoc].toDF() can encode without an outer scope. */
final case class LDoc(doc_id: Long, lang: String, text: String)

/** Top-level for the same encoder reason as [[LDoc]]. */
final case class VRow(vec_id: Long, embedding: Array[Float], label: Int)
