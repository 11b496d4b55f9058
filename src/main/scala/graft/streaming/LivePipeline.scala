package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.Engine
import graft.operators.{Dedup, TextAnalysis}

/** Streaming-first corpus intake: the x11 curation→dedup→pack pipeline
  * run CONTINUOUSLY over an arriving document stream, with the d13
  * incremental-dedup store as its state (round-11 directive #7 — the
  * north-star path made live end to end).
  *
  * Unlike a stateful Structured Streaming operator, whose state lives
  * in Spark's watermark-bounded state store, this pipeline's state is
  * the engine's OWN materialized stores — the same parquet tables the
  * batch operators serve from — because its state is corpus-lifetime, not
  * horizon-bounded: a duplicate may arrive years after its canonical,
  * so neither a watermark nor an executor-local state store can hold
  * the dedup side. Each micro-batch is one incremental step of the
  * batch algebra (`foreachBatch`), which is exactly d13's shape: the
  * arriving batch probes the existing corpus asymmetrically; the
  * existing side is never re-signed and never self-joined.
  *
  * Store layout under `Config.root` (all partitioned by `batch=<id>` so
  * reads prune to committed history and a replayed batch overwrites
  * only its own partition — the K5 idempotence discipline):
  *   - `exact/`   `(text_md5)` — first-seen content hashes (recorded
  *     before the quality gate, matching x11's dedup→quality order);
  *   - `bands/`   `(doc_id, band_id, bh)` — ADMITTED docs' LSH band
  *     keys, the growing d13 store;
  *   - `ids/`     `(doc_id, text_md5)` — admitted identities, the
  *     cross-batch id-collision gate's probe side (a re-sent admitted
  *     id with a DIFFERENT payload quarantines instead of packing two
  *     texts under one identity). Like exact/bands it is aggregate
  *     dedup state, retained on [[forget]]: a forgotten doc's id stays
  *     burned — RTBF removes content, it does not free the identity
  *     for silent reuse;
  *   - `cursors/` `(lang, shard, cum)` — the pack cursor: tokens
  *     already packed per (lang, shard). Its `batch=<id>` write is the
  *     COMMIT POINT: a batch is committed iff its cursor snapshot
  *     exists with `_SUCCESS`, and [[step]] skips committed batch ids,
  *     so a foreachBatch replay after a crash re-runs from the last
  *     snapshot and overwrites its own partitions — exactly-once
  *     output without a transaction log (the K2 data+offset pattern,
  *     re-expressed as partition overwrite + commit marker);
  *   - `packed/`  the pipeline output: x11's packing columns plus
  *     `is_novel` (the d13 verdict);
  *   - `audit/`   per-doc fates; `quarantine/` the dead-letter rows
  *     (contract violations with payloads, [[quarantineOutput]]).
  *
  * Batch/stream parity (StreamingSpec): with an empty seed and near-dup
  * gating off, the packed output over a doc_id-ordered stream equals
  * the batch x11 plan column-for-column — the canonical-dup choice
  * (min doc_id) and the pack prefix sums agree because first-arrival IS
  * min-doc_id under ordered intake, and the per-(lang, shard) cursors
  * carry the prefix sums across micro-batch boundaries. Near-dup
  * admission is BATCH-granular: a batch probes the store as of the
  * previous commit, so two near-dups inside one micro-batch are both
  * admitted (they were concurrent — neither was "existing" when the
  * other arrived), while a near-dup of ANY earlier batch is rejected.
  *
  * 100 TB shape: every stage is the already-audited batch operator —
  * the exact gate is one hash semi-join, the probe is band-keyed with
  * the d13 skew cap on existing buckets, packing is x8's
  * (lang, shard)-keyed window — and per-batch cost scales with the
  * BATCH, not the corpus. [[compact]] folds the accumulating stores
  * into a `bucket=<hash(probe key) % StoreBuckets>` layout (the
  * LiveVectors bucket-dir discipline), so every store probe (a)
  * partition-prunes its scan to the arriving batch's hit buckets and
  * (b) flips into a broadcast of the batch's keys against that pruned
  * scan — the corpus-shaped side is a pruned parquet scan that is
  * never shuffled, and the per-batch exchange budget is batch-keyed
  * only (contract windows + one key-sized size aggregate for the skew
  * cap).
  */
object LivePipeline {

  /** `gateNearDups=false` keeps the d13 verdict as an `is_novel`
    * annotation without filtering on it (the x11-parity configuration:
    * batch x11 drops exact dups only). `minQuality` is the admission
    * bar — x11's corpus-calibrated default; lower it for corpora whose
    * documents are structurally short (e.g. the archive memo bridge).
    */
  final case class Config(root: String, blockSize: Int = 512, shards: Int = 8,
      gateNearDups: Boolean = true,
      minQuality: Double = TextAnalysis.QualityThreshold)

  private val ExactSchema = StructType(Seq(StructField("text_md5", StringType)))
  private val BandSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("band_id", IntegerType), StructField("bh", StringType)))
  private val CursorSchema = StructType(Seq(StructField("lang", StringType),
    StructField("shard", LongType), StructField("cum", LongType)))
  private val IdSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text_md5", StringType)))

  /** Bucket count for the ACCUMULATING stores' folded layout: [[compact]]
    * re-lays exact/bands/ids into `bucket=<hash(probe key) % B>` dirs (the
    * [[LiveVectors]] bucket-dir discipline), so each micro-batch's store
    * probes partition-prune their scans to the arriving batch's hit
    * buckets — per-batch probe I/O stops scaling with the corpus. A code
    * constant, not a [[Config]] knob: the value is baked into committed
    * fold layouts, and a silent mismatch between fold-time and probe-time
    * bucketing would drop matches. Changing it is safe but lazy — the
    * `_buckets-<B>` marker ([[BatchParts.foldBuckets]]) gates pruning, so
    * a fold under the old constant is read correctly (recomputed buckets,
    * no scan pruning) until the next [[compact]] re-lays it.
    */
  private[streaming] val StoreBuckets = 64

  /** Upper bound on batch rows for the FLIPPED probe spelling: the flip
    * broadcasts batch-derived key sets, which is right for steady-state
    * micro-batches but wrong for a catch-up batch after downtime (a
    * source without read limits can deliver millions of rows in one
    * trigger — broadcasting them bypasses autoBroadcastJoinThreshold
    * and risks the driver). Over the bound, probes fall back to the
    * keyed-join spelling; the bucket PRUNING still applies either way,
    * so only the exchange strategy degrades, never the scan cost.
    * ~1M rows ≈ 50 MB of md5 keys — comfortably broadcastable.
    */
  private[streaming] val FlipMaxRows = 1L << 20

  private val BucketedKinds = Set("exact", "bands", "ids")

  /** The fold partition key: a stable hash of the store's PROBE key —
    * the column(s) every per-batch probe joins on, so equal keys land in
    * equal buckets and pruning to the batch's buckets can never lose a
    * match.
    */
  private def storeBucket(kind: String): Column = kind match {
    case "exact" => pmod(hash(col("text_md5")), lit(StoreBuckets))
    case "bands" => pmod(hash(col("band_id"), col("bh")), lit(StoreBuckets))
    case "ids"   => pmod(hash(col("doc_id")), lit(StoreBuckets))
    case other => throw new IllegalArgumentException(s"unbucketed store: $other")
  }

  /** In-bucket sort order at fold time = the column the probes push an
    * `In(…)` filter on ([[BatchParts.stageBucketedFold]]'s row-group
    * rationale). bands sorts by `bh` FIRST because that is the pushed
    * column (the composite (band_id, bh) semi join can only push its
    * single-column superset).
    */
  private def storeSortCols(kind: String): Seq[String] = kind match {
    case "exact" => Seq("text_md5")
    case "bands" => Seq("bh", "band_id")
    case "ids"   => Seq("doc_id")
    case other => throw new IllegalArgumentException(s"unbucketed store: $other")
  }

  /** Start the continuous intake over a streaming `(doc_id, lang, text)`
    * frame. The checkpoint lives beside the stores so a restarted query
    * resumes with the batch ids its commit markers already adjudicate.
    * `monitor` adjudicates each committed batch's admission rate AFTER
    * its commit ([[AdmissionMonitor]] — a crash between commit and
    * alert can at worst duplicate a page, never lose data).
    */
  def start(docs: DataFrame, cfg: Config,
      monitor: Option[AdmissionMonitor] = None): StreamingQuery = {
    val fn: (DataFrame, Long) => Unit = { (batch, id) =>
      step(batch, id, cfg)
      monitor.foreach(_.observe(batch.sparkSession, cfg, id))
    }
    docs.writeStream
      .option("checkpointLocation", s"${cfg.root}/_checkpoint")
      .foreachBatch(fn)
      .start()
  }

  /** The reference's own archive as the intake source: memo texts from
    * the DSv2 archive stream (`ArchiveStreamProvider`, the S1/S2
    * surface) become documents and flow through the same curate→dedup→
    * pack step — the collector and the training-data engine joined end
    * to end. Per micro-batch, one task per sequence reads and decodes
    * its `transactions` file ([[graft.sources.Archive.readGunzipped]]
    * through the session's Hadoop conf, broadcast once per query — the
    * read [[graft.Engine.extract]] does); `doc_id =
    * (ledger_seq << 12) | tx_index` is monotone with arrival, so the
    * ordered-intake packing contract holds across batches. Memos are
    * 28-byte-class texts, far under x11's corpus-calibrated bar — set
    * `Config.minQuality` accordingly. Pass `index` to run the composed
    * stack ([[stepWithIndex]]): admitted memos become searchable in
    * the same micro-batch.
    */
  def fromArchive(spark: SparkSession, archiveRoot: String, passphrase: String,
      cfg: Config, firstSeq: Long = 0x3fL,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      index: Option[LiveIndex.Config] = None,
      monitor: Option[AdmissionMonitor] = None): StreamingQuery = {
    val raw = graft.sources.ArchiveStreamRunner.stream(spark, archiveRoot, firstSeq)
    val conf = graft.Engine.hadoopConf(spark)
    val fn: (DataFrame, Long) => Unit = { (batch, id) =>
      import spark.implicits._
      val seqs = batch.select("seq").as[Long].collect().toSeq
      val docs = spark.sparkContext.parallelize(seqs, math.max(1, seqs.size)).flatMap { seq =>
        val path = graft.sources.Archive.pathFor(archiveRoot, "transactions", seq)
        graft.xdr.Stellar.decodeTxEntries(
            graft.sources.Archive.readGunzipped(path, conf.value.value), passphrase)
          .flatMap { e =>
            // 12 bits of tx index: overflow would collide with the next
            // ledger's doc_ids and break monotonicity — fail loudly,
            // never silently shadow a document
            require(e.txSet.txs.size <= (1 << 12),
              s"ledger ${e.ledgerSeq}: tx-set of ${e.txSet.txs.size} exceeds the 12-bit doc_id index")
            e.txSet.txs.zipWithIndex.collect {
              case (tx, i) if tx.tx.memoText.exists(_.nonEmpty) =>
                ((e.ledgerSeq << 12) | i.toLong, "memo", tx.tx.memoText.get)
            }
          }
      }.toDF("doc_id", "lang", "text")
      index match {
        case Some(idx) => stepWithIndex(docs, id, cfg, idx)
        case None => step(docs, id, cfg)
      }
      monitor.foreach(_.observe(spark, cfg, id))
    }
    raw.writeStream
      .option("checkpointLocation", s"${cfg.root}/_checkpoint")
      .trigger(trigger)
      .foreachBatch(fn)
      .start()
  }

  /** One micro-batch through the composed live stack: the curate→
    * dedup→pack intake, then THIS batch's admitted docs into the BM25
    * index — so retrieval serves exactly the curated corpus (dropped
    * docs never pollute the index, and a doc's searchability implies
    * it is in the training pack). Exactly-once composes per store:
    * each adjudicates the batch id against its OWN commit marker, so
    * a crash between the two steps replays only the incomplete one —
    * the intake's replay is a no-op and the admitted set is re-read
    * from its committed partition.
    */
  def stepWithIndex(batch: DataFrame, batchId: Long, cfg: Config,
      idx: LiveIndex.Config): Unit = {
    step(batch, batchId, cfg)
    val s = batch.sparkSession
    val admitted = readOutput(s, s"${cfg.root}/packed", PackedSchema,
      batchId, batchId).select("doc_id")
    LiveIndex.step(batch.join(admitted, Seq("doc_id"), "left_semi"),
      batchId, idx)
  }

  /** [[seed]] with the composed step, so the existing corpus's
    * admitted docs are searchable too (pseudo-batch −1 in both
    * stores). Crash-safe across the two store commits: if the intake
    * seed committed but the index leg didn't (a crashed composed
    * seed), re-running re-drives only the index leg — [[stepWithIndex]]
    * adjudicates each store's own marker, and the intake side of the
    * replay is a no-op. Only a store whose cursor history no longer
    * names batch −1 (a later compaction pruned the snapshot) skips
    * outright, so run the re-seed before maintenance on restart.
    */
  def seedWithIndex(existing: DataFrame, cfg: Config,
      idx: LiveIndex.Config): Unit = {
    val s = existing.sparkSession
    val cur = BatchParts.committed(s, s"${cfg.root}/cursors")
    if (cur.isEmpty || cur.exists(_._1 == -1L))
      stepWithIndex(existing, -1L, cfg, idx)
  }

  /** Seed the stores from an EXISTING corpus (the d13 "existing" side)
    * by running the same step as pseudo-batch −1 — one code path for
    * seed and stream, so the existing corpus is curated, deduped, and
    * packed under exactly the rules arriving batches face, and the
    * stream continues its chunk space. Idempotent against ANY committed
    * state, not just its own marker: compaction prunes old cursor
    * snapshots (including batch −1's), and re-seeding a pipeline that
    * has already streamed would re-pack the corpus from empty state —
    * so a non-virgin store skips the seed outright.
    */
  def seed(existing: DataFrame, cfg: Config): Unit = {
    val s = existing.sparkSession
    if (BatchParts.committed(s, s"${cfg.root}/cursors").isEmpty) step(existing, -1L, cfg)
  }

  /** Run INDEPENDENT Spark actions concurrently on a bounded pool and
    * wait for all (guide §2.6: actions are only sequential because
    * driver code calls them sequentially; a few in flight back-fill
    * executors freed by the current job's straggler tail). Callers
    * submit only writes/folds with no mutual ordering. Every thunk
    * finishes before the first failure (in wave order) is rethrown, so
    * no write is still in flight when an error reaches the caller, and
    * the pool's threads never outlive the call.
    */
  private[streaming] def runWave(thunks: Seq[() => Unit]): Unit = {
    import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
    import scala.jdk.CollectionConverters._
    val pool = Executors.newFixedThreadPool(4)
    try {
      // invokeAll returns once every task is done, failed ones included
      pool.invokeAll(thunks.map(t => (() => t()): Callable[Unit]).asJava)
        .asScala.foreach(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS); ()
    }
  }

  /** One incremental step: curate → dedup (exact then LSH-novelty) →
    * pack the arriving batch against state as of the previous commit.
    */
  def step(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    val s = batch.sparkSession
    if (committed(s, cfg.root, batchId)) return // crash-replay of a done batch
    // a maintenance compaction that crashed between staging and rename
    // must be completed before the stores are read, or the dedup state
    // would silently miss the partitions it had already dropped
    Seq("exact", "bands", "ids").foreach(k => BatchParts.recoverFold(s, s"${cfg.root}/$k"))
    // idle-period batches write nothing (P4's empty-batch skip): no
    // commit marker either, so a replay of the same empty batch is a
    // second no-op and partitions don't proliferate at idle cadence
    if (batch.isEmpty) return
    val (exact, bands, priorIds, cursors) = probeFrames(s, cfg, batchId)
    // cache=true: the five commit writes below all derive from the
    // fated frame — uncached they would each re-run the whole curate/
    // probe plan and re-scan the stores (~5× the per-batch work)
    val r = curatePack(batch, exact, bands, cursors, priorIds, cfg, cache = true)
    try {
      // Commit: appends first, cursor snapshot LAST (the marker). The
      // appends carry no mutual ordering — only the cursor write is the
      // commit point — so they run as CONCURRENT jobs (guide §2.6,
      // r20): each append is mostly per-action dispatch + a cache read
      // at micro-batch scale, and at cluster scale one append's
      // straggler tail back-fills with the next append's tasks. Two
      // waves so the shared caches fill exactly once before fan-out:
      // wave 1 primes the two disjoint cache chains (packed fills
      // fated/inPlay/bandRows/batchKeys; quarantine fills its own
      // frame), wave 2's four appends are pure cache reads. A crash
      // mid-wave leaves some appends committed without the cursor
      // marker — the identical replay window the sequential spelling
      // had.
      def write(df: DataFrame, kind: String): () => Unit = () =>
        df.write.mode("overwrite").parquet(part(cfg.root, kind, batchId))
      runWave(Seq(
        write(r.packed, "packed"),
        write(r.quarantine, "quarantine")))
      runWave(Seq(
        write(r.audit, "audit"),
        write(r.bandRows.join(r.admitted.select("doc_id"), Seq("doc_id"),
          "left_semi"), "bands"),
        write(r.newText.select("text_md5"), "exact"),
        write(r.admitted.select("doc_id", "text_md5"), "ids")))
      r.advanced.write.mode("overwrite").parquet(part(cfg.root, "cursors", batchId))
    } finally {
      r.fated.unpersist(); r.quarantine.unpersist(); r.bandRows.unpersist()
      r.planKeys.foreach(_.unpersist()); r.inPlay.foreach(_.unpersist())
      r.prior.foreach(_.unpersist()); ()
    }
  }

  /** The step's output frames: the packed rows, the advanced cursor
    * snapshot, the newly-seen content hashes, the admitted docs, and
    * the per-doc audit `(doc_id, fate, quality_score)` — fate is the
    * FIRST gate that claimed the doc (`malformed`, `id_collision`,
    * `dup_in_batch`, `dup_of_corpus`, `low_quality`, `near_dup`,
    * `admitted`), the "why was my document dropped" record a
    * production intake owes its users. The first two are the input-
    * contract quarantine (step 0): their rows never reach the dedup
    * stores or the pack, and a `malformed` row may carry a null
    * doc_id and always a null quality_score. With
    * `gateNearDups=false`, `near_dup` docs are still admitted — the
    * fate keeps naming the verdict.
    */
  final case class StepResult(packed: DataFrame, advanced: DataFrame,
      newText: DataFrame, admitted: DataFrame, audit: DataFrame,
      fated: DataFrame, quarantine: DataFrame, bandRows: DataFrame,
      planKeys: Option[DataFrame] = None, inPlay: Option[DataFrame] = None,
      prior: Option[DataFrame] = None)

  /** The step's pure transformation — batch + state frames in,
    * `(packed, advancedCursors, newText, admitted)` out — separated
    * from the store I/O so its physical plan can be audited directly
    * (ScaleSpec pins the per-batch plan: keyed anti-joins, never a
    * product).
    */
  private[graft] def curatePack(batch: DataFrame, exact: DataFrame,
      bands: DataFrame, cursors: DataFrame, priorIds: DataFrame, cfg: Config,
      cache: Boolean = false): StepResult = {
    // 0. Input contract — a production intake is fed by producers it
    //    does not control, so rows that violate the (doc_id, lang,
    //    text) contract are QUARANTINED into the audit rather than
    //    left to corrupt downstream state (a null text would
    //    null-propagate through md5 and collapse into one bogus
    //    "content" group; a doc_id carrying two different texts would
    //    pack both under one identity). Three gates, first one wins:
    //      - `malformed`: null doc_id/lang/text or empty text;
    //      - identical replayed rows (same doc_id AND same (lang,
    //        text)) collapse to one — an at-least-once producer
    //        re-sending a row must not double-pack its tokens;
    //      - `id_collision`: one doc_id, ≥2 distinct (lang, text)
    //        payloads — no principled winner, so ALL payloads are
    //        quarantined (admitting either would silently shadow the
    //        other under the same identity).
    //    Cost: one extra doc_id-keyed exchange per micro-batch —
    //    batch-sized, never corpus-sized (the id window reuses its
    //    partitioning for the row_number pass).
    val wellFormed = col("doc_id").isNotNull && col("lang").isNotNull &&
      col("text").isNotNull && length(col("text")) > 0
    val malformed = batch.filter(col("doc_id").isNull || col("lang").isNull ||
      col("text").isNull || length(col("text")) === 0)
    val byId = Window.partitionBy(col("doc_id"))
    val keyed = batch.filter(wellFormed)
      .withColumn("text_md5", md5(col("text")))
      .withColumn("payload", struct(col("lang"), col("text_md5")))
      .withColumn("p_lo", min(col("payload")).over(byId))
      .withColumn("p_hi", max(col("payload")).over(byId))
    val collided = keyed.filter(col("p_lo") =!= col("p_hi"))
    // surviving rows: one per doc_id (identical payloads are ties —
    // any row_number winner is the same row, so the pick is
    // content-deterministic)
    val contract0 = keyed.filter(col("p_lo") === col("p_hi"))
      .withColumn("rn", row_number().over(byId.orderBy(col("text_md5"))))
      .filter(col("rn") === 1)
      .drop("payload", "p_lo", "p_hi", "rn")

    // Bucketed-store probe discipline: a store frame arriving WITH a
    // `bucket` partition column is the bucketed-fold read
    // ([[readStore]]) — steady-state streaming, where the arriving
    // batch is micro-batch-sized by the source contract. Each such
    // probe then (a) PRUNES the store scan to the batch's hit buckets
    // (collected once below — ≤ [[StoreBuckets]] ints of driver-side
    // planning state; the IN filter reaches the fold scan as a
    // PartitionFilter, so per-batch store I/O is hit-buckets-sized,
    // not corpus-sized), and (b) FLIPS the join: the store scan is
    // filtered map-side against a BROADCAST of the batch's keys and
    // the batch-sized survivors broadcast back onto the batch — the
    // corpus-shaped side is never exchanged. A store frame WITHOUT the
    // column (cold start, a legacy flat fold, the x30/x31 oracle
    // drivers, and the [[seed]] path — whose "batch" is corpus-sized
    // and must never be broadcast) keeps the keyed-join spelling.
    def bucketed(store: DataFrame): Boolean = store.columns.contains("bucket")
    val anyBucketed = Seq(exact, bands, priorIds).exists(bucketed)
    // ONE persisted (doc_id, text_md5) projection of the well-formed
    // batch feeds the planning aggregate AND both broadcast key sets —
    // without it each probe's broadcast subtree re-scanned the raw
    // batch source (real I/O on an archive-backed stream). Keys are a
    // superset of every probe's keys (supersets over-scan, never lose
    // a match) and skip the contract windows. Only built when some
    // store is bucketed (cold starts and the oracle drivers skip it);
    // step() unpersists it via StepResult.
    val batchKeys: Option[DataFrame] =
      if (!anyBucketed) None
      else Some(batch.filter(wellFormed)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // one job: the two ≤StoreBuckets-int hit sets + the batch row count
    // that gates the flipped (broadcast) spelling
    lazy val (textHitBuckets, idHitBuckets, batchRows) = {
      val r = batchKeys.get.agg(
        collect_set(pmod(hash(col("text_md5")), lit(StoreBuckets))),
        collect_set(pmod(hash(col("doc_id")), lit(StoreBuckets))),
        count(lit(1))).head()
      (r.getSeq[Int](0), r.getSeq[Int](1), r.getLong(2))
    }
    // flip only micro-batch-sized batches (see [[FlipMaxRows]]); over
    // the bound the probes keep keyed joins over the PRUNED scans
    lazy val flip = batchRows <= FlipMaxRows
    def prune(store: DataFrame, buckets: => Seq[Int]): DataFrame =
      if (!bucketed(store)) store
      else store.filter(col("bucket").isin(buckets: _*)).drop("bucket")
    // Round 14, the row-group layer UNDER bucket pruning: folds are
    // key-sorted within buckets ([[BatchParts.stageBucketedFold]]), so
    // pushing the batch's literal keys as an `In(key, …)` data filter
    // lets parquet skip every row group outside the batch's key range
    // — bucket pruning bounds the DIRS read, this bounds the BYTES.
    // Superset-safe at every site (the semi/left joins still decide
    // matches); engaged only for batches small enough that the
    // session's parquet In threshold keeps the filter a real or-chain
    // (beyond it Spark collapses In to a min/max range, useless for
    // uniform hash keys). One extra bounded job collects the ≤pushMax
    // keys — the o7 planning-state discipline.
    val pushMax = BatchParts.pushMaxKeys(batch.sparkSession)
    lazy val (pushTextKeys, pushIdKeys): (Option[Seq[Any]], Option[Seq[Any]]) =
      if (batchRows > pushMax) (None, None)
      else {
        val r = batchKeys.get.agg(
          collect_set(col("text_md5")), collect_set(col("doc_id"))).head()
        (Some(r.getSeq[Any](0)), Some(r.getSeq[Any](1)))
      }
    def pushKeys(df: DataFrame, c: String, keys: Option[Seq[Any]]): DataFrame =
      keys match {
        case Some(ks) if ks.nonEmpty => df.filter(col(c).isin(ks: _*))
        case _ => df
      }

    // 0b. CROSS-BATCH identity gate (the batch-local collision arm
    //    above only sees one micro-batch): a doc_id that already
    //    denotes an ADMITTED document may re-arrive only with the SAME
    //    payload — a replay, which the exact-hash gate below fates
    //    dup_of_corpus. A different payload under an admitted id has no
    //    principled winner either (admitting it would pack two texts
    //    under one identity — the exact corruption the contract's own
    //    doc names — and desync the composed index, whose anti-join
    //    drops the re-sent id), so it quarantines as id_collision like
    //    the batch-local arm. `priorIds` is the admitted (doc_id,
    //    text_md5) store as of the previous commit; one doc_id-keyed
    //    batch-sized probe against a pruned scan, the exact-gate cost
    //    class. Ids of REJECTED docs are not burned: their text never
    //    packed, so a later different text under that id is a fresh
    //    admission candidate.
    //    The store is ONE ROW PER ADMITTED doc_id by construction — the
    //    gate itself admits an id at most once (a same-payload
    //    re-arrival fates dup_of_corpus, a different payload
    //    quarantines), per-batch appends are overwrite-idempotent under
    //    replay, and [[BatchParts.effectiveParts]]' horizon rule makes
    //    fold and batch sources non-overlapping, with the fold's
    //    `distinct()` scrubbing any debris at every compaction. So the
    //    probe is a PLAIN left join, not an aggregate: the former
    //    per-batch `groupBy(doc_id)` re-aggregated the ENTIRE admitted
    //    store every micro-batch — the one corpus-shaped per-batch
    //    exchange in the engine (r12 verdict #1), paid to absorb
    //    duplicates that cannot exist.
    val priorSlim = {
      val base = prune(priorIds, idHitBuckets)
        .select(col("doc_id"), col("text_md5").as("prior_md5"))
      if (!bucketed(priorIds) || !flip) base
      else broadcast(pushKeys(base, "doc_id", pushIdKeys).join(
        broadcast(batchKeys.get.select("doc_id").distinct()),
        Seq("doc_id"), "left_semi"))
    }
    // PERSISTED unconditionally (r20, the inPlay posture): withPrior —
    // the contract windows + the prior-id store probe — is the common
    // ancestor of the FATED chain (contract → scored → inPlay) and the
    // QUARANTINE chain (collided/collidedPrior), and those chains
    // materialize in different actions (step's commit writes; the
    // x30/x31/x37 drivers' audit action after the probe collects), so
    // without it every batch paid the contract windows and the store
    // probe twice. Batch-sized MEMORY_AND_DISK; step() unpersists via
    // StepResult, direct callers lean on the ContextCleaner (the
    // documented inPlay/bandRows posture).
    val withPrior = contract0.join(priorSlim, Seq("doc_id"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val collidedPrior = withPrior.filter(
      col("prior_md5").isNotNull && col("prior_md5") =!= col("text_md5"))
    val contract = withPrior.filter(
      col("prior_md5").isNull || col("prior_md5") === col("text_md5"))
      .drop("prior_md5")
    // the dead-letter frame: the violating ROWS, payload included —
    // what a producer debugging "why was my row dropped" actually
    // needs (the audit names the fate; this keeps the evidence). The
    // audit's quarantine rows derive from it, so callers with multiple
    // actions cache it alongside `fated` (both audit and quarantine
    // commits read it).
    val quarantine0 = malformed
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"),
        lit("malformed").as("reason"))
      .unionByName(collided.select(col("doc_id"), col("lang"), col("text"),
        lit("id_collision").as("reason")))
      .unionByName(collidedPrior.select(col("doc_id"), col("lang"), col("text"),
        lit("id_collision").as("reason")))
    val quarantine = if (cache)
      quarantine0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else quarantine0
    val quarantined = quarantine.filter(col("reason") === "malformed")
      .select(col("doc_id"), col("reason").as("fate"),
        lit(null).cast("double").as("quality_score"))
      .unionByName(quarantine.filter(col("reason") === "id_collision")
        .select(col("doc_id")).distinct()
        .select(col("doc_id"), lit("id_collision").as("fate"),
          lit(null).cast("double").as("quality_score")))

    // 1. Exact dedup — x11's canonical stage on the batch (min doc_id
    //    per content hash), then the cross-batch gate against every
    //    hash committed so far. Both store-keyed probes are SEMI joins
    //    (flag, never fan out — robust to transient duplicate store
    //    rows from an interrupted compaction); non-dup rows carry on.
    val canonical = Window.partitionBy(col("text_md5"))
    val scored = TextAnalysis.withQualityFeatures(
      contract.withColumn("canonical_doc", min(col("doc_id")).over(canonical)))
    // bucketed spelling: pruned scan → map-side semi filter against the
    // broadcast batch hashes → the ≤batch-sized hit set broadcasts back
    // (a semi join never fans out, so transient duplicate hits are
    // harmless either way)
    val exactHits = {
      val base = prune(exact, textHitBuckets)
      if (!bucketed(exact) || !flip) base
      else broadcast(pushKeys(base, "text_md5", pushTextKeys).join(
        broadcast(batchKeys.get.select("text_md5").distinct()),
        Seq("text_md5"), "left_semi"))
    }
    val corpusDup0 = scored.filter(col("doc_id") === col("canonical_doc"))
      .join(exactHits, Seq("text_md5"), "left_semi")
      .select("doc_id").withColumn("in_corpus", lit(true))
    val corpusDup =
      if (bucketed(exact) && flip) broadcast(corpusDup0) else corpusDup0

    // 2. d13 novelty probe: map-side band keys for the docs still in
    //    play (new text, quality-passing), semi-join against the
    //    capped existing buckets, doc-level verdict. The signed band
    //    keys are the step's most expensive per-doc work (shingle +
    //    MinHash), so the SAME frame feeds both the probe and the
    //    bands-store commit (admitted ⊆ probeSet — a semi-join prunes
    //    it down) instead of signing admitted docs a second time;
    //    cache=true persists it across the two uses.
    // PERSISTED unconditionally (r19 optimization; measured in
    // OPTIMIZATION_r19.md): inPlay is the common ancestor of TWO plan
    // branches — probeSet→bandRows (the signing/probe side) and
    // verdict→fated (the fate side) — and Spark materializes each branch
    // independently, so even a single downstream action computed the
    // whole upstream (contract windows, quality features, the exact-
    // store probe with its corpus-side md5 scan) TWICE. One batch-sized
    // MEMORY_AND_DISK cache (the `fated` posture; same width class)
    // halves that. step() unpersists via StepResult; direct callers
    // (the x30/x31/x37 oracle drivers) lean on the ContextCleaner, the
    // documented bandRows posture.
    val inPlay = scored.join(corpusDup, Seq("doc_id"), "left")
      .withColumn("dup_in_batch", col("doc_id") =!= col("canonical_doc"))
      .withColumn("dup_of_corpus", coalesce(col("in_corpus"), lit(false)))
      .drop("canonical_doc", "in_corpus")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probeSet = inPlay.filter(!col("dup_in_batch") && !col("dup_of_corpus") &&
      col("quality_score") >= cfg.minQuality)
    val bandRows0 = Dedup.bandKeys(probeSet.select("doc_id", "text"))
    // persist whenever a bucketed bands store will COLLECT the hit
    // buckets below (not only under the caller's cache flag): the
    // collect is an extra action, and without the cache it would
    // re-run the signing — the step's costliest per-doc work — a
    // second time for the probe. Non-caching callers (the x37 oracle
    // driver) lean on Spark's ContextCleaner to drop the blocks once
    // the frame is unreachable; step() unpersists explicitly.
    val bandRows = if (cache || bucketed(bands))
      bandRows0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else bandRows0
    // band hit buckets come from the SIGNED batch (band keys exist only
    // after shingling) — one extra reduce over the cached bandRows
    lazy val bandHitBuckets: Seq[Int] = bandRows
      .select(pmod(hash(col("band_id"), col("bh")), lit(StoreBuckets)).as("bk"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val probeable =
      if (!bucketed(bands)) Dedup.cappedBuckets(bands)
      else if (!flip) Dedup.cappedBuckets(prune(bands, bandHitBuckets))
      else {
        // the d13 skew cap, batch-keyed: per-key sizes are computed for
        // the BATCH's band keys only — the semi filter runs map-side
        // against the broadcast key set and the distinct partial-
        // combines, so the one post-scan exchange carries ≤ keys ×
        // partitions rows (never a corpus-wide bucket aggregate).
        // Sizes COUNT DISTINCT DOCS, the canonical cappedBuckets
        // spelling: steady state the store is one row per (doc, band)
        // by construction, but an interrupted compaction can leave
        // transiently duplicated store rows (compact()'s documented
        // worst case), and a physical-row count would then deflate a
        // bucket's cap verdict. The distinct runs over the batch-hit-
        // keys-sized slice, so its cost is noise.
        // the pushed single-column superset of the (band_id, bh) semi
        // key: bh values collected limit-bounded (≤pushMax+1 rows
        // ship), and the JOB ITSELF gated on the batch size (a batch
        // of >pushMax distinct-text docs has >pushMax distinct bh in
        // all but degenerate cases — paying a per-batch
        // distinct+collect to learn "skip" would be a hot-path job for
        // nothing; round-14 review)
        // evaluate the hit-bucket prune FIRST: its full-pass distinct
        // collect materializes the bandRows persist in ONE signing
        // pass, so the limit-bounded pushBhKeys collect below is served
        // from cache — the other order made the LIMIT query the first
        // action, and its incremental-partition escalation re-ran the
        // uncached signing chain once per escalation step (measured:
        // 18 jobs / 1.8 s for a collect that reads ≤ pushMax+1 rows)
        val prunedBands = prune(bands, bandHitBuckets)
        val pushBhKeys: Option[Seq[Any]] =
          if (batchRows > pushMax) None
          else {
            val rows = bandRows.select("bh").distinct().limit(pushMax + 1).collect()
            if (rows.length > pushMax) None else Some(rows.map(_.get(0)).toSeq)
          }
        val hitKeys = broadcast(bandRows.select("band_id", "bh").distinct())
        broadcast(pushKeys(prunedBands, "bh", pushBhKeys)
          .join(hitKeys, Seq("band_id", "bh"), "left_semi")
          .groupBy("band_id", "bh").agg(countDistinct(col("doc_id")).as("bsz"))
          .filter(col("bsz") <= Dedup.MaxBucketDocs)
          .select("band_id", "bh"))
      }
    val probed0 = bandRows
      .join(probeable, Seq("band_id", "bh"), "left_semi")
      .select("doc_id").distinct().withColumn("hit", lit(true))
    val probed = if (bucketed(bands) && flip) broadcast(probed0) else probed0
    val verdict = inPlay.join(probed, Seq("doc_id"), "left")
      .withColumn("is_novel", col("hit").isNull).drop("hit")

    // 3. Per-doc fate — first gate wins; the audit record. This frame
    //    is the common ancestor of every commit write; callers with
    //    multiple actions cache it (`cache=true`).
    val fated0 = verdict.withColumn("fate",
      when(col("dup_in_batch"), "dup_in_batch")
        .when(col("dup_of_corpus"), "dup_of_corpus")
        .when(col("quality_score") < cfg.minQuality, "low_quality")
        .when(!col("is_novel"), "near_dup")
        .otherwise("admitted"))
    val fated = if (cache)
      fated0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else fated0
    val newText = fated.filter(col("fate") =!= "dup_in_batch" &&
      col("fate") =!= "dup_of_corpus")
    val admitted = fated.filter(if (cfg.gateNearDups) col("fate") === "admitted"
      else col("fate") === "admitted" || col("fate") === "near_dup")

    // 4. Pack — x8's packing (the shared packTokensFrom spelling, so
    //    the live path cannot diverge from the batch operator), with
    //    the prefix sum offset by the cursor from the previous commit.
    val packed = TextAnalysis
      .packTokensFrom(admitted, cfg.blockSize, cfg.shards, Some(cursors))
      .select("doc_id", "lang", "n_tokens", "quality_score", "shard",
        "cum_before", "chunk_id", "offset_in_chunk", "is_novel")
    val advanced = cursors.join(
        admitted.withColumn("shard", TextAnalysis.packShard(col("doc_id"), cfg.shards))
          .groupBy("lang", "shard").agg(sum(col("n_tokens")).as("add")),
        Seq("lang", "shard"), "full_outer")
      .select(col("lang"), col("shard"),
        (coalesce(col("cum"), lit(0L)) + coalesce(col("add"), lit(0L))).as("cum"))
    StepResult(packed, advanced, newText, admitted,
      fated.select("doc_id", "fate", "quality_score").unionByName(quarantined),
      fated, quarantine, bandRows, batchKeys, Some(inPlay), Some(withPrior))
  }

  /** All committed packed output (optionally only batches ≥ `fromBatch`
    * — e.g. 0 to exclude the seed), with the source batch id attached.
    */
  private val PackedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_tokens", LongType), StructField("quality_score", DoubleType),
    StructField("shard", LongType), StructField("cum_before", LongType),
    StructField("chunk_id", LongType), StructField("offset_in_chunk", LongType),
    StructField("is_novel", BooleanType)))
  private val AuditSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("fate", StringType),
    StructField("quality_score", DoubleType)))
  private val QuarantineSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType), StructField("reason", StringType)))

  def packedOutput(s: SparkSession, cfg: Config, fromBatch: Long = Long.MinValue,
      asOf: Long = Long.MaxValue): DataFrame =
    readOutput(s, s"${cfg.root}/packed", PackedSchema, fromBatch,
        math.min(asOf, frontier(s, cfg)))
      .join(broadcast(BatchParts.tombstoneIds(s, cfg.root, "doc_id")), Seq("doc_id"), "left_anti")

  /** The commit frontier: the last batch whose CURSOR snapshot (the
    * step's commit marker) exists. Output reads are clamped to it — a
    * step that crashed after its `packed=`/`audit=` appends but before
    * the cursor write leaves committed-LOOKING output partitions for a
    * batch that never committed, and until the stream replays that
    * batch id those partitions must stay invisible (batch ids are
    * monotone and commits sequential, so id ≤ frontier ⟺ committed;
    * compaction keeps the latest snapshot, which is all this needs).
    */
  private def frontier(s: SparkSession, cfg: Config): Long =
    BatchParts.committed(s, s"${cfg.root}/cursors").lastOption.map(_._1)
      .getOrElse(Long.MinValue)

  /** One committed batch's audit rows read DIRECTLY from its partition
    * — the O(1)-listing read the per-commit [[AdmissionMonitor]] needs
    * ([[auditOutput]] lists the full committed history; at minute-batch
    * cadence that listing grows with intake age, and the monitor runs
    * it per batch). None when the batch committed nothing (the
    * empty-batch skip). RAW rows: fate counts are aggregate
    * statistics, not served content, so the RTBF tombstone mask does
    * not apply here (the dedup-store posture) — and the monitor reads
    * only the batch its own commit just finished, so the frontier
    * clamp is moot. Anything SERVED must go through
    * [[auditBatchServed]] instead, which restores both contracts.
    */
  private[graft] def auditBatch(s: SparkSession, cfg: Config,
      batchId: Long): Option[DataFrame] = {
    val p = new Path(part(cfg.root, "audit", batchId))
    val fs = Engine.fileSystem(s, p)
    if (!fs.exists(new Path(p, "_SUCCESS"))) None
    else Some(s.read.schema(AuditSchema).parquet(p.toString))
  }

  /** [[auditBatch]] with the OUTPUT reads' visibility contract, for the
    * serving tier (`/admissions?batch=`): the frontier clamp — a
    * partition whose step crashed after the `audit=` append but before
    * the cursor commit stays invisible until the replay, exactly like
    * [[auditOutput]] — and the RTBF tombstone mask, because a served
    * view must not count forgotten docs even in aggregate while the
    * whole-history view beside it excludes them. Misses (unknown id,
    * uncommitted, empty-batch skip) return a schema-only empty frame:
    * no full-history listing on the miss path.
    */
  private[graft] def auditBatchServed(s: SparkSession, cfg: Config,
      batchId: Long): DataFrame =
    (if (batchId > frontier(s, cfg)) None else auditBatch(s, cfg, batchId))
      .map(_.join(broadcast(BatchParts.tombstoneIds(s, cfg.root, "doc_id")),
        Seq("doc_id"), "left_anti"))
      .getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row], AuditSchema))

  /** Right-to-be-forgotten: tombstone document ids. The outputs
    * ([[packedOutput]], [[auditOutput]], [[quarantineOutput]])
    * exclude tombstoned docs from
    * then on — without rewriting history, so chunk ids of surviving
    * docs are untouched (a trainer re-reading the corpus sees holes,
    * not a re-pack). The DEDUP stores deliberately retain the
    * forgotten docs' hashes and band keys: a copy of forgotten content
    * arriving later must still be rejected, not silently re-admitted —
    * forgetting the content cannot re-open the door to it. Tombstones
    * are a tiny keyed table on the shared [[BatchParts]] tombstone
    * shelf, broadcast into the output reads.
    */
  def forget(s: SparkSession, cfg: Config, docIds: Seq[Long]): Unit =
    BatchParts.appendTombstones(s, cfg.root, "doc_id", docIds)

  /** [[forget]] for the COMPOSED stack: tombstone the docs in the
    * intake's outputs AND the BM25 index in one call — an RTBF request
    * against a searchable corpus must empty both shelves, or /search
    * keeps serving the content /fate no longer admits to having.
    * Index first: if the call crashes between the two, the content
    * (the index) is already masked and only the metadata outputs
    * still show the doc until the retry.
    */
  def forgetWithIndex(s: SparkSession, cfg: Config, idx: LiveIndex.Config,
      docIds: Seq[Long]): Unit = {
    LiveIndex.forget(s, idx, docIds)
    forget(s, cfg, docIds)
  }

  /** Retention sweep for the dead-letter shelf: drop whole committed
    * `quarantine/batch=` partitions with id < `beforeBatch` — and the
    * only road out for a `malformed` row with a null doc_id (no
    * identity for the tombstone/vacuum path to address). Safe at any
    * time from the maintenance owner: quarantine partitions are
    * debugging evidence, not corpus history — nothing joins against
    * them and no as-of contract addresses them (unlike `packed/` and
    * `audit/`, which snapshot reads pin and which therefore only ever
    * shrink row-wise via [[vacuum]]).
    */
  def retireQuarantine(s: SparkSession, cfg: Config, beforeBatch: Long): Unit = {
    val fs = Engine.fileSystem(s, new Path(cfg.root))
    // a committed `.rewrite-<id>` staging left by a crashed vacuum
    // holds the same partition's surviving rows: left in place it
    // would substitute for a deleted source in readers AND be renamed
    // back by the next vacuum's recovery — resurrecting content the
    // retention sweep was supposed to destroy. Stagings go FIRST: a
    // crash between the loops then leaves sources intact (retention
    // merely not yet applied, re-run converges), whereas sources-first
    // left a window where the staging outlived its deleted source and
    // recoverRewrites durably resurrected the retired partition.
    BatchParts.pendingRewrites(s, s"${cfg.root}/quarantine")
      .filter(_._1 < beforeBatch)
      .foreach { case (_, p) => fs.delete(new Path(p), true); () }
    BatchParts.committed(s, s"${cfg.root}/quarantine").filter(_._1 < beforeBatch)
      .foreach { case (_, p) => fs.delete(new Path(p), true); () }
  }

  /** Dual-run reconciliation: which documents' fate histories differ
    * between two intakes over the same corpus — the check a quality-
    * model or code upgrade owes its operators before the new intake
    * takes over ("the upgrade changed the verdict on exactly these
    * docs"). Per side, each doc's audit rows collapse to its sorted
    * fate set (a doc audits once per arrival: first arrival plus any
    * re-arrival verdicts; sorting makes the comparison deterministic
    * when one batch contributed several rows — a malformed sibling
    * beside the well-formed row); the keyed full-outer join keeps one
    * row per doc whose sets differ, with NULL on a side that never
    * saw the doc. Null-id malformed rows carry no identity to join on
    * and are excluded. One doc_id-keyed exchange per side; the output
    * is difference-sized.
    */
  def diffAudit(s: SparkSession, a: Config, b: Config): DataFrame = {
    def fates(cfg: Config, as: String) =
      auditOutput(s, cfg).filter(col("doc_id").isNotNull)
        .groupBy("doc_id")
        .agg(sort_array(collect_set(col("fate"))).as(as))
    fates(a, "fates_a").join(fates(b, "fates_b"), Seq("doc_id"), "full_outer")
      .filter(!(col("fates_a") <=> col("fates_b")))
  }

  /** One parquet relation over the committed `batch=` dirs (explicit
    * paths + basePath, so `batch` comes back as a partition column and
    * uncommitted partitions are excluded by the listing) — NOT an
    * N-ary union, which would put the partition count into the plan
    * size after years of micro-batches. The schema is supplied, not
    * inferred: an all-rejected batch writes a partition with no data
    * files, which inference cannot see past.
    *
    * `[fromBatch, toBatch]` bounds the batch-id range: `toBatch` is the
    * AS-OF read ([[packedOutput]]'s snapshot contract — a training run
    * pins the corpus at a commit point while the intake keeps
    * appending). Reader-side vacuum substitution: a committed
    * `.rewrite-<id>` staging whose `batch=<id>` source a crashed
    * [[vacuum]] already deleted is read in the partition's place, so
    * the delete→rename window cannot lose the batch's SURVIVING rows
    * (the removed rows stay masked by the not-yet-retired tombstones
    * either way).
    */
  private def readOutput(s: SparkSession, dir: String, schema: StructType,
      fromBatch: Long, toBatch: Long = Long.MaxValue): DataFrame = {
    def inRange(id: Long) = id >= fromBatch && id <= toBatch
    val live = BatchParts.committed(s, dir).filter(p => inRange(p._1))
    val liveIds = live.map(_._1).toSet
    val substituted = BatchParts.pendingRewrites(s, dir)
      .filter { case (id, _) => inRange(id) && !liveIds(id) }
    val empty = s.createDataFrame(s.sparkContext.emptyRDD[Row],
      schema.add(StructField("batch", LongType)))
    val base =
      if (live.isEmpty) empty
      else s.read.option("basePath", dir).schema(schema).parquet(live.map(_._2): _*)
        .withColumn("batch", col("batch").cast("long"))
    substituted.foldLeft(base) { case (acc, (id, path)) =>
      acc.unionByName(s.read.schema(schema).parquet(path)
        .withColumn("batch", lit(id)))
    }
  }

  /** All committed per-doc audit records (`doc_id`, `fate`,
    * `quality_score`, `batch`) — `groupBy("fate")` is the intake's
    * admission dashboard; a point lookup answers "why was my document
    * dropped".
    */
  def auditOutput(s: SparkSession, cfg: Config,
      asOf: Long = Long.MaxValue): DataFrame =
    readOutput(s, s"${cfg.root}/audit", AuditSchema, Long.MinValue,
        math.min(asOf, frontier(s, cfg)))
      .join(broadcast(BatchParts.tombstoneIds(s, cfg.root, "doc_id")), Seq("doc_id"), "left_anti")

  /** The dead-letter shelf: quarantined rows with their payloads —
    * what a producer debugging a `malformed`/`id_collision` fate
    * reads. Tombstone-masked and vacuum-covered like the other
    * content outputs (quarantined rows ARE content; RTBF must empty
    * this shelf too). A `malformed` row with a null doc_id is not
    * id-addressable — it only leaves via [[retireQuarantine]], the
    * whole-partition retention sweep a real deployment runs at
    * maintenance cadence.
    */
  def quarantineOutput(s: SparkSession, cfg: Config,
      asOf: Long = Long.MaxValue): DataFrame =
    readOutput(s, s"${cfg.root}/quarantine", QuarantineSchema, Long.MinValue,
        math.min(asOf, frontier(s, cfg)))
      .join(broadcast(BatchParts.tombstoneIds(s, cfg.root, "doc_id")), Seq("doc_id"), "left_anti")

  /** Physically remove tombstoned docs' rows from the `packed/`,
    * `audit/`, and `quarantine/` partitions that contain them, then
    * retire the applied
    * tombstone partitions — the deep delete behind [[forget]]'s
    * read-time mask. The mask alone is correct but accumulates two
    * costs a long-lived intake cannot carry: the forgotten CONTENT
    * rows stay on disk (the actual compliance obligation), and the
    * tombstone table broadcast into every output read only grows.
    * Vacuum clears both; [[forget]] stays cheap and immediate, vacuum
    * runs at maintenance cadence from the single maintenance owner.
    *
    * Only partitions that actually hold a tombstoned doc are rewritten
    * (located via one semi-join over the doc_id-monotone outputs, so
    * parquet min/max stats prune the scan); each rewrite is staged to
    * `.rewrite-<id>` with its own `_SUCCESS`, then source-delete →
    * rename (the [[BatchParts]] roll-forward discipline, per partition
    * instead of fold-all). A crash at ANY point leaves reads correct:
    * un-staged and half-staged partitions are still masked by the
    * not-yet-retired tombstones; a committed staging whose source
    * delete or rename didn't finish is completed by the next writer
    * ([[BatchParts.recoverRewrites]]) and substituted by readers
    * meanwhile. Tombstones are retired LAST, and only the partitions
    * listed at entry (the [[BatchParts]] tombstone shelf's contract) —
    * a tombstone added concurrently by [[forget]] (the same owner)
    * survives to the next vacuum. Re-running after any
    * crash converges: already-rewritten partitions no longer match the
    * semi-join, and retiring an already-applied tombstone partition is
    * an anti-join of absent ids.
    *
    * Chunk ids of surviving docs are untouched — the rewrite drops
    * rows, never re-packs, so a pinned [[packedOutput]] as-of read
    * sees holes where forgotten docs were, exactly like the masked
    * read did. The dedup stores deliberately keep the forgotten docs'
    * hashes and band keys ([[forget]]'s re-admission contract).
    */
  def vacuum(s: SparkSession, cfg: Config): Unit = {
    Seq("packed", "audit", "quarantine").foreach(k =>
      BatchParts.recoverRewrites(s, s"${cfg.root}/$k"))
    val tombParts = BatchParts.tombstoneParts(s, cfg.root)
    if (tombParts.isEmpty) return
    val tomb = BatchParts.tombstoneIds(s, cfg.root, "doc_id", tombParts)
    for ((kind, schema) <- Seq("packed" -> PackedSchema, "audit" -> AuditSchema,
        "quarantine" -> QuarantineSchema)) {
      val dir = s"${cfg.root}/$kind"
      val affected = readOutput(s, dir, schema, Long.MinValue)
        .join(broadcast(tomb), Seq("doc_id"), "left_semi")
        .select("batch").distinct().collect().map(_.getLong(0))
      for (id <- affected.sorted) {
        s.read.schema(schema).parquet(s"$dir/batch=$id")
          .join(broadcast(tomb), Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(BatchParts.rewritePath(dir, id))
        BatchParts.completeRewrite(s, dir, id)
      }
    }
    BatchParts.retireTombstoneParts(s, cfg.root, tombParts)
  }

  /** The pack frontier: the latest committed cursor snapshot —
    * per-(lang, shard) packed-token totals, the "how much corpus
    * exists right now" read (snapshot-sized, not corpus-sized).
    */
  def packProgress(s: SparkSession, cfg: Config): DataFrame =
    latestCursors(s, cfg, Long.MaxValue)

  /** One store's maintenance posture: ON-DISK dir count (the
    * compaction-cadence signal — a year of minute-batches left
    * unfolded is ~500k dirs whose listing dominates every step; this
    * counts what is physically listed, including superseded dirs a
    * committed fold has not yet GC'd), the commit frontier, and any
    * crash-recovery debt (a completed fold staging awaiting its
    * commit rename; committed rewrite stagings awaiting
    * source-delete→rename).
    */
  final case class StoreStatus(store: String, nPartitions: Int,
      lastBatch: Option[Long], pendingFold: Boolean, nPendingRewrites: Int)

  /** Maintenance posture of every intake store — driver-side directory
    * listings only, no Spark jobs ([[graft.serve.IntakeServe]]
    * `/stores`). [[storeStatusOf]] is the same read for any
    * `batch=`-partitioned store root (the index/vector stores).
    */
  def storeStatus(s: SparkSession, cfg: Config): Seq[StoreStatus] =
    storeStatusOf(s, cfg.root, Seq("exact", "bands", "ids", "cursors",
      "packed", "audit", "quarantine", "tombstones"))

  def storeStatusOf(s: SparkSession, root: String,
      kinds: Seq[String]): Seq[StoreStatus] =
    kinds.map { k =>
      val dir = s"$root/$k"
      val parts = BatchParts.effectiveParts(s, dir)
      StoreStatus(k, BatchParts.dirCount(s, dir), parts.lastOption.map(_._1),
        BatchParts.pendingFold(s, dir).isDefined,
        BatchParts.pendingRewrites(s, dir).length)
    }

  /** Fold every committed partition of the ACCUMULATING stores (exact,
    * bands) into the newest committed one and drop the rest — the
    * small-files answer for a long-lived intake: a year of
    * minute-batches is ~500k `batch=` partitions, whose directory
    * listing alone would come to dominate every step's store read.
    * Run it from the maintenance owner between batches (same
    * single-writer discipline as the stream itself).
    *
    * Crash-safe by roll-forward, not locks: the union is first written
    * to a `.compact-<h>-<gen>` staging dir (invisible to readers)
    * with its own `_SUCCESS`, committed by one atomic rename to
    * `fold=<h>-<gen>`, and the superseded source partitions are
    * GC'd from the NEXT writer op — never inside the commit, so a
    * concurrent reader's listing stays readable (the [[BatchParts]]
    * fold protocol). A crash anywhere leaves either the staging dir
    * incomplete (discarded on the next [[BatchParts.recoverFold]]) or
    * complete (committed then — safe at ANY later time because the
    * fold is a superset of exactly the partitions ≤ h it replaces,
    * and later batch ids are untouched). [[step]] recovers
    * interrupted compactions before reading, so a crashed
    * maintenance run cannot leave the dedup state silently missing
    * rows. Store reads via [[BatchParts.effectiveParts]] see ONE ROW
    * PER KEY: the horizon rule makes the newest fold and later batch
    * dirs non-overlapping, the fold commit is one atomic rename,
    * per-batch appends are overwrite-idempotent under replay, and the
    * fold itself writes `distinct()` — the invariant the ids store's
    * plain left-join probe relies on (a fan-out there would duplicate
    * batch rows). The band-size caps still count DISTINCT docs as
    * defense in depth (semi/anti hash gates are duplicate-insensitive
    * by shape; the caps are the one read that would misjudge). Old
    * cursor snapshots (all but the latest two, the latest's id also
    * marking the last committed batch) and audit partitions are left
    * alone — cursors are latest-only reads and audit/packed are
    * outputs, not per-step join inputs.
    */
  def compact(s: SparkSession, cfg: Config): Unit = {
    // Fold ONLY store partitions of BATCH-committed ids: a store
    // partition's own _SUCCESS says the file write finished, but the
    // batch commit marker is the CURSOR snapshot — a step that crashed
    // after its store appends leaves committed-looking exact/bands
    // partitions for an uncommitted batch, and folding history into
    // that id would collide with the replay's overwrite of the same
    // partition, erasing every earlier batch's dedup state (r12
    // review #1).
    val lastCommitted = BatchParts.committed(s, s"${cfg.root}/cursors").lastOption.map(_._1)
    // the three stores' folds are INDEPENDENT lifecycles over disjoint
    // dirs (recovery, staging write, commit rename — nothing orders one
    // store's fold against another's; a crash between folds already
    // leaves some folded and some not, which readers assemble
    // identically), so they run concurrently (guide §2.6, r20): at
    // local scale each fold is dominated by per-action dispatch, at
    // cluster scale one fold's straggler tail back-fills with the next
    // store's map tasks.
    runWave(for (kind <- Seq("exact", "bands", "ids")) yield { () =>
          val dir = s"${cfg.root}/$kind"
          BatchParts.recoverFold(s, dir)
          val parts = BatchParts.effectiveParts(s, dir)
            .filter(p => lastCommitted.exists(p._1 <= _))
          // re-fold when there is history to fold — or when the lone fold
          // predates the bucketed layout (migration: one maintenance pass
          // upgrades a flat store to the pruned probe path)
          val refold = parts.length > 1 || parts.headOption.exists { case (_, p, isFold) =>
            isFold && !BatchParts.foldBuckets(s, p).contains(StoreBuckets.toLong)
          }
          if (refold) {
            val h = parts.last._1
            val gen = BatchParts.nextFoldGen(s, dir)
            val schema = kind match {
              case "exact" => ExactSchema
              case "bands" => BandSchema
              case _ => IdSchema
            }
            // the fold IS the store's probe layout: distinct + re-layout
            // into bucket=<hash(key) % StoreBuckets> dirs ([[BatchParts
            // .stageBucketedFold]] — marker-gated, crash-tolerant) — the
            // per-batch probes partition-prune their scans to the arriving
            // batch's buckets, so probe I/O stops scaling with the corpus.
            // ONE keyed corpus exchange at MAINTENANCE cadence (r19: the
            // dedup rides the bucket exchange via stageBucketedFold's
            // dedupKeys — the former separate distinct was a second full
            // exchange of the store).
            val flat = parts
              .map { case (_, p, isFold) => BatchParts.readPartFlat(s, p, isFold, schema) }
              .reduce(_.unionByName(_))
            BatchParts.stageBucketedFold(s, dir, h, gen, flat,
              storeBucket(kind), StoreBuckets, storeSortCols(kind),
              dedupKeys = schema.fieldNames.toSeq)
            BatchParts.commitFold(s, dir, h, gen)
          }
        })
    // cursor snapshots are full states, so only the LATEST is ever
    // read (its id marks the last committed batch, which is all the
    // replay check needs — Spark replays at most the last batch);
    // drop all but the last TWO so snapshots don't accumulate one dir
    // per batch. Keeping the runner-up gives a concurrent reader that
    // listed just before a newer snapshot landed a full maintenance
    // cycle of grace, the same deferred-GC posture as the fold
    // protocol.
    val cur = BatchParts.committed(s, s"${cfg.root}/cursors")
    if (cur.length > 2) {
      val fs = Engine.fileSystem(s, new Path(cfg.root))
      cur.dropRight(2).foreach { case (_, p) => fs.delete(new Path(p), true); () }
    }
  }

  private def part(root: String, kind: String, id: Long) = s"$root/$kind/batch=$id"

  private def committed(s: SparkSession, root: String, id: Long): Boolean =
    BatchParts.committed(s, s"$root/cursors").exists(_._1 == id)

  /** Union of a store's partitions committed STRICTLY BEFORE `ltBatch`
    * (state as of the previous commit), or an empty frame on a cold
    * start.
    *
    * For the accumulating stores ([[BucketedKinds]]) with a bucketed
    * fold on disk, the frame carries an extra `bucket` partition column
    * — the fold's own partition values where the marker matches
    * [[StoreBuckets]] (so a probe-side `bucket IN (...)` filter reaches
    * the scan as a PartitionFilter), recomputed map-side for the
    * not-yet-folded batch dirs and for a marker-mismatched fold. The
    * column's presence is [[curatePack]]'s signal that the
    * pruned+broadcast probe spelling applies. Each part is read under
    * its own root (a multi-root read mixing bucketed and flat dirs
    * trips partition discovery — the LiveVectors basePath lesson).
    */
  private[graft] def readStore(s: SparkSession, root: String, kind: String,
      ltBatch: Long, schema: StructType): DataFrame = {
    val parts = BatchParts.effectiveParts(s, s"$root/$kind").filter(_._1 < ltBatch)
    if (!BucketedKinds(kind)) {
      if (parts.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      else s.read.schema(schema).parquet(parts.map(_._2): _*)
    } else BatchParts.readMaybeBucketed(s, parts, schema,
      storeBucket(kind), StoreBuckets)
  }

  /** The dedup-store frames + cursor snapshot exactly as [[step]] reads
    * them: `(exact, bands, priorIds, cursors)` — the spec hook that
    * lets plan pins run [[curatePack]] against real on-disk (bucketed)
    * stores.
    */
  private[graft] def probeFrames(s: SparkSession, cfg: Config, ltBatch: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    (readStore(s, cfg.root, "exact", ltBatch, ExactSchema),
     readStore(s, cfg.root, "bands", ltBatch, BandSchema),
     readStore(s, cfg.root, "ids", ltBatch, IdSchema),
     latestCursors(s, cfg, ltBatch))

  /** The most recent cursor snapshot before `ltBatch` (snapshots are
    * FULL per-(lang, shard) states, so only the latest one is read).
    */
  private def latestCursors(s: SparkSession, cfg: Config, ltBatch: Long): DataFrame = {
    val dirs = BatchParts.committed(s, s"${cfg.root}/cursors").filter(_._1 < ltBatch)
    if (dirs.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], CursorSchema)
    else s.read.schema(CursorSchema).parquet(dirs.last._2)
  }
}

/** Shared `batch=<id>`-partitioned store machinery for the streaming
  * intakes ([[LivePipeline]], [[LiveVectors]], [[LiveCounts]],
  * [[LiveIndex]]): committed-partition listing plus the staged-fold
  * crash discipline, hoisted here so the stores cannot diverge in
  * crash behavior.
  *
  * Listing is one directory scan of partition dirs (not files) —
  * cheap at any corpus size, and it is what makes partial writes of a
  * crashed attempt invisible to readers.
  *
  * FOLD PROTOCOL — non-destructive commit, deferred GC. A fold (the
  * small-files compaction: re-aggregate every partition with id ≤ a
  * horizon `h` into one dir) commits by a single atomic rename, never
  * by deleting what a concurrent reader may hold:
  *
  *   1. the fold job writes `.compact-<h>-<gen>` (own `_SUCCESS`;
  *      invisible to readers — [[effectiveParts]] only admits
  *      `batch=`/`fold=` names);
  *   2. [[commitFold]] renames it to `fold=<h>-<gen>` — THE commit
  *      point. A listing either sees the fold or it doesn't, and both
  *      views are complete: the fold is a pure recombination of
  *      source partitions that are ALL still on disk;
  *   3. superseded dirs (`batch=` ids ≤ h, earlier `fold=` dirs) are
  *      deleted by [[gc]] — not at commit time, but from the NEXT
  *      writer operation ([[recoverFold]] runs at every step/compact
  *      entry).
  *
  * The deferral is what makes concurrent serving safe without locks:
  * every dir a reader's listing names stays on disk for at least one
  * full maintenance cycle after the listing is taken. (The old
  * protocol deleted the fold's sources inside the commit, so a
  * listing taken moments before the commit named dirs that were gone
  * by the time the lazy read's ACTION ran — a serve crash under
  * routine maintenance.) A plan held across more than one maintenance
  * cycle can still outlive its files — the documented residual, the
  * same posture as any table format with vacuum-style GC.
  *
  * `gen` (a per-store monotone fold generation) keeps re-folds at the
  * SAME horizon distinct — applying RTBF tombstones re-folds without
  * new batches ([[LiveVectors.compact]]) — so a newer fold always
  * commits under a FRESH name, never as a destructive overwrite of
  * the dir readers are on.
  *
  * Mode contract: [[recoverFold]]/[[commitFold]]/[[gc]] are
  * WRITER-side (the single maintenance owner — step and compact,
  * serialized). Readers use [[effectiveParts]]: one listing, no
  * mutation, no staging reads. [[pendingFold]] remains as an
  * observability probe (crash debt awaiting the next writer op), not
  * a reader substitution source.
  */
private[streaming] object BatchParts {
  /** Names of `dir`'s immediate subdirectories carrying a top-level
    * `_SUCCESS`. Listing strategy is chosen by CHILD COUNT, because the
    * two store families scale oppositely (round-14 growth-bench lesson:
    * reader listings must be O(committed parts), never O(store files)):
    *
    *   - bounded-children stores (every FOLDED store — compaction GC
    *     keeps them at ~a fold + recent batches): one immediate
    *     listStatus + one `_SUCCESS` probe per child dir. The previous
    *     spelling — one RECURSIVE listFiles — descended into every
    *     fold's 64 `bucket=` dirs and touched every data file, so the
    *     driver paid O(total files) per probe per store; measured
    *     against a 16×-grown store that was ~1.4 s per effectiveParts
    *     call (~4 ms/file through the local Hadoop FS), ×4 store reads
    *     per micro-batch probe, and it GREW with deferred-GC debris.
    *   - history-sized stores (the never-folded outputs — packed/,
    *     audit/, quarantine/ — child count grows with intake age): the
    *     paged recursive LIST, where per-dir HEADs would be O(history)
    *     sequential RPCs on an object store (these dirs hold one file
    *     each, so the walk IS ~the child listing).
    *
    * The cutover (256 children) is far above any folded store's
    * steady state and far below any aged output store's.
    */
  private val ExistsProbeMaxChildren = 256

  /** `dir`'s FileSystem and immediate children (none when it is absent). */
  private def listChildren(s: SparkSession, dir: String): (FileSystem, Seq[FileStatus]) = {
    val p = new Path(dir)
    val fs = Engine.fileSystem(s, p)
    (fs, if (fs.exists(p)) fs.listStatus(p).toSeq else Nil)
  }

  private def committedNames(s: SparkSession, dir: String): (Path, Set[String]) = {
    val raw = new Path(dir)
    val fs = Engine.fileSystem(s, raw)
    val p = fs.makeQualified(raw)
    if (!fs.exists(p)) return (p, Set.empty)
    val children = fs.listStatus(p).filter(_.isDirectory)
    val b = Set.newBuilder[String]
    if (children.length <= ExistsProbeMaxChildren) {
      children.foreach { st =>
        if (fs.exists(new Path(st.getPath, "_SUCCESS"))) b += st.getPath.getName
      }
    } else {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName == "_SUCCESS" && f.getParent != null &&
            f.getParent.getParent == p) b += f.getParent.getName
      }
    }
    (p, b.result())
  }

  def committed(s: SparkSession, dir: String): Seq[(Long, String)] =
    idsIn(committedNames(s, dir), "batch=")

  /** The listed `<prefix><id>` names as `(id, path)` sorted by id. */
  private def idsIn(listed: (Path, Set[String]), prefix: String): Seq[(Long, String)] = {
    val (p, names) = listed
    names.toSeq.filter(_.startsWith(prefix))
      .flatMap(n => n.stripPrefix(prefix).toLongOption
        .map(id => (id, new Path(p, n).toString)))
      .sortBy(_._1)
  }

  /** Parse `<h>-<gen>` (h may be negative — seed batches are id -1;
    * gen never is, so splitting at the LAST dash is unambiguous).
    * None for anything else — listings skip unparseable names instead
    * of throwing, so foreign debris in a store dir cannot wedge every
    * subsequent writer op.
    */
  private def parseHG(s0: String): Option[(Long, Long)] = {
    val i = s0.lastIndexOf('-')
    if (i <= 0) None
    else for {
      h <- s0.take(i).toLongOption
      g <- s0.drop(i + 1).toLongOption if g >= 0
    } yield (h, g)
  }

  /** Committed `fold=<h>-<gen>` dirs as `(h, gen, path)` sorted by
    * (h, gen). At most one survives [[gc]]; several can exist
    * transiently between a fold commit and the next writer op.
    */
  def folds(s: SparkSession, dir: String): Seq[(Long, Long, String)] =
    hgsIn(committedNames(s, dir), "fold=")

  /** The listed `<prefix><h>-<gen>` names as `(h, gen, path)` sorted by
    * (h, gen).
    */
  private def hgsIn(listed: (Path, Set[String]),
      prefix: String): Seq[(Long, Long, String)] = {
    val (p, names) = listed
    names.toSeq.filter(_.startsWith(prefix))
      .flatMap(n => parseHG(n.stripPrefix(prefix))
        .map { case (h, g) => (h, g, new Path(p, n).toString) })
      .sortBy(t => (t._1, t._2))
  }

  def stagingPath(dir: String, h: Long, gen: Long): String =
    s"$dir/.compact-$h-$gen"

  /** The per-probe key-pushdown cap shared by every store probe
    * (LivePipeline's exact/bands/ids, LiveIndex's doclens): the
    * session's parquet In threshold — beyond it Spark collapses a
    * pushed In to a min/max range, useless against uniform hash keys —
    * bounded at 1024. One spelling so the cap and the session conf
    * cannot drift apart per store.
    */
  private[streaming] def pushMaxKeys(s: SparkSession): Int =
    math.min(1024, s.conf
      .getOption("spark.sql.parquet.pushdown.inFilterThreshold")
      .map(_.toInt).getOrElse(10))

  /** A fold dir's bucket layout: Some(B) when it carries a
    * `_buckets-<B>` marker (the MARKER is authoritative — an EMPTY
    * bucketed fold has the marker but zero `bucket=` dirs, e.g. after
    * tombstones emptied the store, and trusting only the dirs would
    * make every later maintenance pass re-fold it forever), Some(-1)
    * when bucket dirs exist without a readable marker (a crash before
    * the marker write — readable, never pruned), None for a flat
    * fold. One driver-side listing.
    */
  def foldBuckets(s: SparkSession, dir: String): Option[Long] = {
    val names = listChildren(s, dir)._2.map(_.getPath.getName)
    names.collectFirst { case n if n.startsWith("_buckets-") =>
      n.stripPrefix("_buckets-").toLongOption.getOrElse(-1L)
    } match {
      case some @ Some(_) => some
      case None => if (names.exists(_.startsWith("bucket="))) Some(-1L) else None
    }
  }

  // ── shared bucketed-fold read/write ──
  // The probe-layout discipline (fold into `bucket=<hash(probe key) %
  // B>` dirs so per-batch probes prune their scans and never exchange
  // the store side) lives here, not per-store: LivePipeline's dedup
  // stores, LiveIndex's doclens/postings, and any future accumulating
  // store must agree on the marker protocol and the mixed-layout read,
  // or a layout change in one would silently break another's probes.

  /** Read one store part with exactly `schema`'s data columns — a
    * bucketed fold's partition column is read explicitly and dropped
    * (an inference-free spelling that cannot shift columns between
    * flat and bucketed fold layouts).
    */
  def readPartFlat(s: SparkSession, path: String, isFold: Boolean,
      schema: StructType): DataFrame =
    if (isFold && foldBuckets(s, path).isDefined)
      s.read.option("basePath", path)
        .schema(schema.add(StructField("bucket", IntegerType)))
        .parquet(path).drop("bucket")
    else s.read.schema(schema).parquet(path)

  /** Effective parts as ONE frame. When a marker-matched bucketed fold
    * (marker == `b`) is present, the frame carries an extra integer
    * `bucket` column — the fold's own partition values (so a
    * `bucket IN (...)` probe filter lands as a PartitionFilter),
    * synthesized via `bucketExpr` for flat parts and recomputed for a
    * marker-mismatched fold. Otherwise a flat frame WITHOUT the
    * column — the caller's signal that pruning does not apply. Each
    * part is read under its own root: a multi-root read mixing
    * bucketed and flat dirs trips partition discovery.
    */
  def readMaybeBucketed(s: SparkSession, parts: Seq[(Long, String, Boolean)],
      schema: StructType, bucketExpr: Column, b: Int): DataFrame = {
    if (parts.isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    val marks: Map[String, Option[Long]] = parts.collect {
      case (_, p, true) => p -> foldBuckets(s, p)
    }.toMap
    if (marks.values.forall(_.isEmpty))
      s.read.schema(schema).parquet(parts.map(_._2): _*)
    else parts.map { case (_, p, isFold) =>
      // marks already answered the layout question — no second
      // per-part listing (an RPC per fold per probe on an object store)
      if (isFold && marks(p).contains(b.toLong))
        s.read.option("basePath", p)
          .schema(schema.add(StructField("bucket", IntegerType)))
          .parquet(p)
      else {
        val flat =
          if (isFold && marks(p).isDefined)
            s.read.option("basePath", p)
              .schema(schema.add(StructField("bucket", IntegerType)))
              .parquet(p).drop("bucket")
          else s.read.schema(schema).parquet(p)
        flat.withColumn("bucket", bucketExpr)
      }
    }.reduce(_.unionByName(_))
  }

  /** Stage one bucketed fold: re-layout `flat` (already deduped /
    * tombstone-filtered by the caller) into `bucket=<bucketExpr>` dirs
    * — ~one task per bucket — plus the `_buckets-<b>` marker that
    * gates read-side pruning. The caller commits via [[commitFold]];
    * a crash between the parquet `_SUCCESS` and the marker commits a
    * markerless fold, which reads correctly (recomputed buckets, no
    * scan pruning) and is re-laid by the next fold.
    *
    * `sortCols` (round 14) sorts rows by the probe key WITHIN each
    * bucket before writing: a bucket at scale spans many parquet row
    * groups, and key-sorted row groups give the probes' pushed
    * `In(key, …)` filters tight min/max stats — the scan skips every
    * row group outside the batch's key range, the same row-group
    * economics the postings store's `In(word)` serve already enjoys.
    * Unsorted, a uniform hash key (md5) straddles every row group and
    * stats prune nothing. Sorting at fold time is free parallelism-
    * wise (the fold already pays the bucket exchange; the sort is
    * per-task) and costs nothing on read.
    */
  def stageBucketedFold(s: SparkSession, dir: String, h: Long, gen: Long,
      flat: DataFrame, bucketExpr: Column, b: Int,
      sortCols: Seq[String] = Nil, dedupKeys: Seq[String] = Nil): Unit = {
    val staging = stagingPath(dir, h, gen)
    val laid = flat.withColumn("bucket", bucketExpr)
      .repartition(b, col("bucket"))
    // `dedupKeys` (r19 optimization): the fold's dedup used to run as a
    // caller-side distinct/dropDuplicates — a SECOND full exchange of
    // the store keyed on the row, ahead of the bucket re-layout. The
    // bucket is a function of the probe key, so equal keys always land
    // in the same bucket task; deduping AFTER the one bucket exchange —
    // sort by (sortCols ++ remaining keys), keep the first row of each
    // key run via lag() — is exchange-free (the window is bucket-keyed,
    // exactly the partitioning the exchange just established) and the
    // sort is the same in-bucket sort the row-group layout already
    // pays. One corpus exchange per fold instead of two; duplicate-key
    // rows here are replay/compaction debris with identical payloads,
    // so "first in sort order" and dropDuplicates pick the same values.
    val orderCols =
      (sortCols ++ dedupKeys.filterNot(sortCols.contains)).map(col)
    val sorted =
      if (orderCols.isEmpty) laid
      else laid.sortWithinPartitions(col("bucket") +: orderCols: _*)
    val out =
      if (dedupKeys.isEmpty) sorted
      else {
        val key = struct(dedupKeys.map(col): _*)
        val w = Window.partitionBy(col("bucket")).orderBy(orderCols: _*)
        sorted.withColumn("_prev_key", lag(key, 1).over(w))
          .filter(col("_prev_key").isNull || col("_prev_key") =!= key)
          .drop("_prev_key")
      }
    out.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    val fs = Engine.fileSystem(s, new Path(dir))
    fs.create(new Path(staging, s"_buckets-$b"), true).close()
  }

  /** The next unused fold generation — scans committed folds AND
    * stagings, so a crashed attempt's number is never reused (reuse
    * would rename a new fold onto a name a reader may hold).
    */
  def nextFoldGen(s: SparkSession, dir: String): Long = {
    val gens = listChildren(s, dir)._2.map(_.getPath.getName).flatMap {
      case n if n.startsWith("fold=") => parseHG(n.stripPrefix("fold=")).map(_._2)
      case n if n.startsWith(".compact-") => parseHG(n.stripPrefix(".compact-")).map(_._2)
      case _ => None
    }
    gens.maxOption.map(_ + 1).getOrElse(0L)
  }

  /** WRITER-side fold commit: one atomic rename, no deletes. The
    * rename IS the commit point, so its result is checked — a silent
    * false would let a caller proceed as committed (e.g. retire the
    * tombstones a fold was applying) while the fold never appeared.
    * A false with the destination present and the staging gone means
    * the fold is already committed (a recovery re-run) — tolerated.
    */
  def commitFold(s: SparkSession, dir: String, h: Long, gen: Long): Unit = {
    val fs = Engine.fileSystem(s, new Path(dir))
    val dest = new Path(s"$dir/fold=$h-$gen")
    val staging = new Path(stagingPath(dir, h, gen))
    if (!fs.rename(staging, dest) &&
        !(fs.exists(dest) && !fs.exists(staging)))
      throw new IllegalStateException(
        s"fold commit failed: could not rename $staging to $dest")
  }

  /** READER-side view of the store: the newest committed fold (if
    * any) plus every committed batch past its horizon, as `(id, path,
    * isFold)` sorted by id. ONE listing — no check-then-check window
    * for a concurrent commit to slip through — and commits don't
    * delete, so every named dir outlives the view by at least a
    * maintenance cycle.
    */
  def effectiveParts(s: SparkSession, dir: String): Seq[(Long, String, Boolean)] = {
    val listed = committedNames(s, dir)
    val batches = idsIn(listed, "batch=")
    hgsIn(listed, "fold=").lastOption match {
      case Some((h, _, fp)) =>
        (h, fp, true) +: batches.collect { case (id, bp) if id > h => (id, bp, false) }
      case None => batches.map { case (id, bp) => (id, bp, false) }
    }
  }

  /** Is batch `id`'s state in the store — as its own committed dir, or
    * folded into a committed fold at/past it? (Streaming replays only
    * re-offer the LAST batch, but after a fold + GC that batch's own
    * dir may be gone; equality against [[committed]] alone would
    * re-run it.)
    */
  def isCommitted(s: SparkSession, dir: String, id: Long): Boolean =
    isCommittedIn(effectiveParts(s, dir), id)

  /** [[isCommitted]] against an already-taken [[effectiveParts]]
    * snapshot — a step takes ONE listing and reuses it for the replay
    * check and the store read, instead of re-listing per question.
    * (A batch dir GC'd under the newest fold has id ≤ its horizon, so
    * the fold clause covers it.)
    */
  def isCommittedIn(parts: Seq[(Long, String, Boolean)], id: Long): Boolean =
    parts.exists { case (pid, _, isFold) => if (isFold) pid >= id else pid == id }

  /** ON-DISK dir count (`batch=`/`fold=`/stagings, committed or not) —
    * the listing-pressure signal for compaction cadence. Distinct from
    * [[effectiveParts]].length, which collapses to ~1 the moment a
    * fold commits even though the superseded dirs still sit on disk
    * until the next writer op's GC.
    */
  def dirCount(s: SparkSession, dir: String): Int =
    listChildren(s, dir)._2.count { st =>
      val n = st.getPath.getName
      st.isDirectory && (n.startsWith("batch=") || n.startsWith("fold=") ||
        n.startsWith(".compact-") || n.startsWith(".rewrite-"))
    }

  /** WRITER-side deferred GC: with a newest committed fold `(h, gen)`,
    * drop every `batch=` dir with id ≤ h (committed or not — an id ≤ h
    * is folded state, so any dir under that id is a superseded replay
    * or crash debris) and every older `fold=` dir.
    */
  def gc(s: SparkSession, dir: String): Unit =
    folds(s, dir).lastOption.foreach { case (h, g, _) =>
      val (fs, kids) = listChildren(s, dir)
      kids.filter(_.isDirectory).foreach { st =>
        val n = st.getPath.getName
        val drop =
          (n.startsWith("batch=") &&
            scala.util.Try(n.stripPrefix("batch=").toLong).toOption.exists(_ <= h)) ||
          (n.startsWith("fold=") &&
            parseHG(n.stripPrefix("fold=")).exists { case (h2, g2) =>
              h2 < h || (h2 == h && g2 < g)
            })
        if (drop) { fs.delete(st.getPath, true); () }
      }
    }

  /** WRITER-side recovery at every step/compact entry: [[gc]] what
    * PREVIOUS ops superseded, then commit a completed staging (crash
    * between its `_SUCCESS` and the rename) and discard an incomplete
    * one. GC-before-commit keeps the deferral uniform: a fold's
    * sources survive until the next writer op after its commit
    * whether the commit came from the fold's own run or from this
    * recovery — a reader's listing is never invalidated by the same
    * call that created the fold it missed.
    */
  def recoverFold(s: SparkSession, dir: String): Unit = {
    gc(s, dir)
    val (fs, kids) = listChildren(s, dir)
    kids.filter(st => st.isDirectory && st.getPath.getName.startsWith(".compact-"))
      .foreach { st =>
        val raw = st.getPath.getName.stripPrefix(".compact-")
        // legacy `.compact-<m>` (the pre-generation format) migrates
        // as horizon m under a fresh generation; unparseable names are
        // foreign debris — left alone rather than wedging the writer
        val hg = parseHG(raw).orElse(raw.toLongOption.map { m =>
          val g = nextFoldGen(s, dir)
          fs.rename(st.getPath, new Path(stagingPath(dir, m, g)))
          (m, g)
        })
        hg.foreach { case (h, g) =>
          if (fs.exists(new Path(stagingPath(dir, h, g) + "/_SUCCESS")))
            commitFold(s, dir, h, g)
          else { fs.delete(new Path(stagingPath(dir, h, g)), true); () }
        }
      }
  }

  /** Committed-but-unrenamed fold stagings — crash debt the next
    * writer op will commit ([[LivePipeline.status]] observability;
    * readers never touch stagings under this protocol).
    */
  def pendingFold(s: SparkSession, dir: String): Option[(Long, String)] =
    hgsIn(committedNames(s, dir), ".compact-").lastOption.map(t => (t._1, t._3))

  /** Single-partition REPLACE staging (`.rewrite-<id>` replaces exactly
    * `batch=<id>` — [[LivePipeline.vacuum]]), next to the FOLD staging
    * above (`.compact-<h>-<gen>` folds every partition ≤ h). Distinct
    * names because recovery must know which contract to finish: a fold
    * deletes history, a rewrite deletes one source.
    */
  def rewritePath(dir: String, id: Long): String = s"$dir/.rewrite-$id"

  /** Committed (`_SUCCESS`) rewrite stagings: `(id, path)`. Non-mutating
    * — the reader-side substitution source.
    */
  def pendingRewrites(s: SparkSession, dir: String): Seq[(Long, String)] =
    idsIn(committedNames(s, dir), ".rewrite-")

  /** WRITER-side: source-delete → rename for one committed rewrite
    * staging. Safe to call with the source already gone (crash between
    * delete and rename — recovery path).
    */
  def completeRewrite(s: SparkSession, dir: String, id: Long): Unit = {
    val fs = Engine.fileSystem(s, new Path(dir))
    val src = new Path(s"$dir/batch=$id")
    // both results CHECKED ([[commitFold]]'s discipline): vacuum
    // retires the tombstones right after these — a silently-failed
    // delete or rename would drop the mask while the partition still
    // holds the forgotten rows, serving RTBF'd content with no error.
    // A failed rename with the destination present and the staging
    // gone is an already-completed rewrite (recovery re-run) —
    // tolerated.
    if (fs.exists(src) && !fs.delete(src, true))
      throw new IllegalStateException(s"rewrite failed: could not delete $src")
    val staging = new Path(rewritePath(dir, id))
    if (!fs.rename(staging, src) && !(fs.exists(src) && !fs.exists(staging)))
      throw new IllegalStateException(
        s"rewrite failed: could not rename $staging to $src")
  }

  /** WRITER-side: complete committed rewrite stagings, discard
    * incomplete ones (the [[recoverFold]] contract for rewrites).
    */
  def recoverRewrites(s: SparkSession, dir: String): Unit = {
    val (fs, kids) = listChildren(s, dir)
    kids.filter(st => st.isDirectory && st.getPath.getName.startsWith(".rewrite-"))
      .foreach { st =>
        // unparseable names are foreign debris — skipped, not fatal
        // (the parseHG leniency invariant, applied to rewrites)
        st.getPath.getName.stripPrefix(".rewrite-").toLongOption.foreach { id =>
          if (fs.exists(new Path(st.getPath, "_SUCCESS"))) completeRewrite(s, dir, id)
          else { fs.delete(st.getPath, true); () }
        }
      }
  }

  // ── tombstone shelf ──
  // Right-to-be-forgotten ids of the three live stores (LivePipeline and
  // LiveIndex by `doc_id`, LiveVectors by `vec_id`) live in one
  // `<root>/tombstones/batch=<n>` store per root, spelled only here.
  // Store reads anti-join [[tombstoneIds]]; a compaction or vacuum
  // lists [[tombstoneParts]] ONCE, anti-joins exactly those parts, and
  // retires exactly those parts after its rewrite commits — so a
  // tombstone appended meanwhile survives to the next pass, and a crash
  // before the retire leaves the mask in place (re-running applies an
  // already-applied mask, a no-op).

  private def tombSchema(idCol: String): StructType =
    StructType(Seq(StructField(idCol, LongType)))

  /** Committed tombstone parts under `root`, `(n, path)` sorted by n. */
  def tombstoneParts(s: SparkSession, root: String): Seq[(Long, String)] =
    committed(s, s"$root/tombstones")

  /** Append one tombstone partition under `root/tombstones/batch=<n>`
    * (n monotone; overwrite makes a retried append idempotent).
    */
  def appendTombstones(s: SparkSession, root: String, idCol: String,
      ids: Seq[Long]): Unit = {
    val next = tombstoneParts(s, root).lastOption.map(_._1 + 1).getOrElse(0L)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(ids.map(Row(_)).asJava, tombSchema(idCol))
      .write.mode("overwrite").parquet(s"$root/tombstones/batch=$next")
  }

  /** Every committed tombstone id under `root` as a one-column `idCol`
    * frame (empty, never a throw, on a storeless root).
    */
  def tombstoneIds(s: SparkSession, root: String, idCol: String): DataFrame =
    tombstoneIds(s, root, idCol, tombstoneParts(s, root))

  /** The ids of exactly `parts` — the listing a compaction or vacuum
    * took at entry and will hand to [[retireTombstoneParts]].
    */
  def tombstoneIds(s: SparkSession, root: String, idCol: String,
      parts: Seq[(Long, String)]): DataFrame =
    if (parts.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], tombSchema(idCol))
    else s.read.schema(tombSchema(idCol)).parquet(parts.map(_._2): _*)

  /** Delete exactly `parts` — call only after the fold or rewrite that
    * anti-joined them has committed.
    */
  def retireTombstoneParts(s: SparkSession, root: String,
      parts: Seq[(Long, String)]): Unit = {
    val fs = Engine.fileSystem(s, new Path(root))
    parts.foreach { case (_, p) => fs.delete(new Path(p), true); () }
  }
}

