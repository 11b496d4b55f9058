package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import graft.pipeline.{Extract, ExtractConfig, Schemas, Serve}
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
  *   Engine.paymentsBySource(collected, source, limit = 20)
  *   Engine.txByHash(collected, hash)
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
      "spark.sql.parquet.pushdown.inFilterThreshold" -> "1024"
    ).foreach { case (k, v) => conf.setIfMissing(k, v) }
    val s = SparkSession.builder().config(conf).getOrCreate()
    graft.functions.GraftFunctions.register(s) // same-JVM reuse safety
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

  /** Batch extraction over explicit archive files (no sink/offsets). */
  def extract(
      spark: SparkSession,
      txPaths: Seq[String],
      ledgerPaths: Seq[String],
      resultPaths: Seq[String],
      passphrase: String,
      cfg: ExtractConfig): DataFrame =
    Extract.operations(
      Archive.transactions(spark, txPaths, passphrase),
      Archive.ledgers(spark, ledgerPaths),
      Archive.results(spark, resultPaths),
      cfg)

  /** Extraction over checkpoint `seq` of the archive at `root`: the one
    * per-checkpoint read both ingest runners commit. One task reads the
    * three files of the triple, gunzips and decodes them, and joins them
    * in memory ([[Extract.checkpointRows]]), so committing a checkpoint
    * costs its sink one Spark job over a flat plan of
    * [[graft.pipeline.Schemas.operations]] rows.
    */
  def extract(spark: SparkSession, root: String, seq: Long, passphrase: String,
      cfg: ExtractConfig): DataFrame =
    spark.read.format("binaryFile").load(Archive.triple(root, seq): _*)
      .select("path", "content").coalesce(1)
      .mapPartitions { files =>
        val raw = files.map(f =>
          Archive.category(f.getString(0)) -> Archive.gunzip(f.getAs[Array[Byte]](1))).toMap
        Extract.checkpointRows(
          Stellar.decodeTxEntries(raw("transactions"), passphrase),
          Stellar.decodeLedgerEntries(raw("ledger")),
          Stellar.decodeResultEntries(raw("results")),
          cfg)
      }(Encoders.row(Schemas.operations))

  /** Q1: GET /payments?source=&limit= over a collected payments table. */
  def paymentsBySource(payments: DataFrame, source: String, limit: Int = 20): DataFrame =
    Serve.paymentsBySource(payments, source, limit)

  /** Q2: GET /tx?id= */
  def txByHash(payments: DataFrame, hash: String): DataFrame =
    Serve.txByHash(payments, hash)

  // ── Training-data pipeline surface ─────────────────────────────────
  // The parameterized forms of the x*/d* inventory operators, usable on
  // any DataFrame with the documented columns (not just the sf corpus).

  /** Sequence packing (x8): fixed context windows from an exclusive
    * per-(lang, shard) token prefix sum. `rows` needs `doc_id`, `lang`,
    * `n_tokens`.
    */
  def packSequences(rows: DataFrame, blockSize: Int = 512, shards: Int = 8): DataFrame =
    operators.TextAnalysis.packTokens(rows, blockSize, shards)

  /** Okapi BM25 top-`n` (x14) over `docs` (`doc_id`, `text`). */
  def bm25(docs: DataFrame, terms: Seq[String], n: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    operators.Retrieval.bm25(docs, terms, n, k1, b)

  /** PII scrub (x12): email → `<EMAIL>`, IPv4 → `<IP>`, digit runs →
    * `<NUM>`, in that order.
    */
  def scrub(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    operators.Privacy.scrub(c)

  /** Salted one-way pseudonym for an identifier column (x12). */
  def pseudonym(salt: String, id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    operators.Privacy.pseudonym(salt, id)

  /** k-anonymity suppression (x13) on already-generalized quasi-identifier
    * columns.
    */
  def kAnonymize(df: DataFrame, quasi: Seq[String], k: Int): DataFrame =
    operators.Privacy.kAnonymize(df, quasi, k)

  /** Substring-level duplication stats (d10) from word-n-gram
    * fingerprints over `docs` (`doc_id`, `text`). `stride` samples every
    * k-th position (linear cost lever); `maxGramDf` routes viral
    * boilerplate grams around the join via a broadcast hot list — both
    * answer-preserving (see the operator scaladoc).
    */
  def substringDupStats(docs: DataFrame, gramWords: Int = 5,
      flagAt: Double = 0.5, stride: Int = 1,
      maxGramDf: Int = Int.MaxValue): DataFrame =
    operators.Dedup.substringDupStats(docs, gramWords, flagAt, stride, maxGramDf)

  /** MMR diversity re-rank (n11): greedily pick `k` of a bounded
    * candidate list (`vec_id`, `cos`, `embedding`) trading relevance
    * against redundancy with weight `lambda`.
    */
  def mmrRerank(spark: SparkSession, candidates: DataFrame, k: Int,
      lambda: Double = 0.5): DataFrame =
    operators.Retrieval.mmrRerank(spark, candidates, k, lambda)

  /** Segment-level boilerplate removal (d12, the C4 "drop lines repeated
    * across documents" transform): rewrite `docs` with every
    * `segWords`-word segment that appears in ≥ `minDf` distinct
    * documents removed, order preserved.
    */
  def segmentDedup(docs: DataFrame, segWords: Int = 4, minDf: Long = 2L): DataFrame =
    operators.Dedup.segmentDedup(docs, segWords, minDf)

  /** Semantic dedup (d11, SemDeDup): per-vector keep/drop verdicts from
    * within-cluster cosine near-duplicates. `vecs` needs `vec_id`,
    * `embedding`, `norm`, `cell` (a quantizer store's schema — cluster
    * first, then dedup within cells).
    */
  /** Blocked edit-distance near-dup pairs (d14): Levenshtein ≤ `maxLev`
    * within (prefix, length-bucket) blocks, block size hard-capped at
    * `maxBlock` so no prefix can go quadratic.
    */
  def fuzzyPairs(docs: DataFrame, pfxLen: Int = 24, lenBucket: Int = 32,
      maxLev: Long = 5L, maxBlock: Long = 64L): DataFrame =
    operators.Dedup.fuzzyPairs(docs, pfxLen, lenBucket, maxLev, maxBlock)

  def semanticDedup(vecs: DataFrame, threshold: Double): DataFrame =
    operators.Dedup.semanticDedupVerdicts(vecs, threshold)

  /** Directional shingle-containment near-dup pairs (d15): quote/subset
    * duplication the symmetric Jaccard family dilutes; df-capped posting
    * lists bound pair volume at maxDf² per shingle.
    */
  def containmentPairs(docs: DataFrame, shingleWords: Int = 6,
      maxDf: Long = 16L, minContainment: Double = 0.5): DataFrame =
    operators.Dedup.containmentPairs(docs, shingleWords, maxDf, minContainment)

  /** PMI collocation mining (x27): top-`topK` word bigrams by pointwise
    * mutual information, `minSupport` low-count guard.
    */
  def pmiCollocations(docs: DataFrame, minSupport: Long = 5L,
      topK: Int = 100): DataFrame =
    operators.TextAnalysis.pmiCollocations(docs, minSupport, topK)

  /** Rolling z-score anomaly flags (w14): each row scored against its
    * own key's trailing `frame`-row window, |z| > threshold kept.
    */
  def anomalyZscores(events: DataFrame, keyCol: String, valueCol: String,
      orderBy: Seq[org.apache.spark.sql.Column], frame: Int = 8,
      minHistory: Int = 4, threshold: Double = 2.5): DataFrame =
    operators.EventAnalytics.anomalyZscores(
      events, keyCol, valueCol, orderBy, frame, minHistory, threshold)

  /** Grouped closed-form OLS trend (a16): per-group slope/intercept/r²
    * from one combinable six-moment aggregate.
    */
  def olsTrend(rows: DataFrame, groupCol: String,
      x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): DataFrame =
    operators.EventAnalytics.olsTrend(rows, groupCol, x, y)

  /** Training-mixture control (x15 generalized): deterministically
    * resample `docs` so each domain contributes exactly `targets(domain)`
    * rows — md5-order down-sampling, cycled `replica` copies when a
    * target exceeds the domain size. Domains absent from `targets` drop.
    */
  def domainMix(docs: DataFrame, domainCol: String,
      targets: Map[String, Long]): DataFrame =
    operators.TextAnalysis.domainMix(docs, domainCol, targets)

  /** [[domainMix]] with data-derived targets (x22): targets stay a
    * #domains-row DataFrame that broadcasts, never a driver collect.
    */
  def domainMixDf(docs: DataFrame, domainCol: String,
      targets: DataFrame): DataFrame =
    operators.TextAnalysis.domainMixDf(docs, domainCol, targets)

  /** DSIR importance weights (x25): per-document log(p_target/p_raw)
    * under `buckets`-cell hashed unigram+bigram models trained against
    * the `isTarget` predicate. Returns (doc_id, n_feats, log_w);
    * resample by adding deterministic Gumbel noise and taking top-k.
    */
  def dsirWeights(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
      buckets: Int = 256): DataFrame =
    operators.TextAnalysis.dsirWeights(docs, isTarget, buckets)

  /** Naive Bayes quality classifier (x24): closed-form count-based
    * training against the `isPos` target-domain predicate, smoothed
    * per-word log-odds broadcast back over the token stream. Returns
    * (doc_id, n_tokens, log_odds, pred_pos).
    */
  def nbClassifier(docs: DataFrame, isPos: org.apache.spark.sql.Column): DataFrame =
    operators.Curation.nbClassifier(docs, isPos)

  /** Cross-corpus bigram-LM scoring (x23's core): the model trains on
    * `train` (the target domain), scores `score` (the whole corpus) —
    * CCNet's filter shape. Documents sharing no vocabulary with the
    * training domain produce no row; keep them with a left join.
    */
  def lmScoreCross(train: DataFrame, score: DataFrame,
      lambda: Double = 0.7, minDf: Long = 1L): DataFrame =
    operators.Curation.lmScoreCross(train, score, lambda, minDf)

  /** Gopher-style rule-based admission filter (x16): per-document
    * measures + verdict under the given thresholds. Pure map — run it
    * first in any curation sweep.
    */
  def qualityRules(docs: DataFrame,
      rules: operators.Curation.QualityRules = operators.Curation.QualityRules()): DataFrame =
    operators.Curation.qualityRules(docs, rules)

  /** Interpolated bigram-LM fluency score (x17): per-document mean
    * `ln(λ·p(w2|w1) + (1−λ)·p(w2))` under a model trained on the corpus
    * itself, with the admission verdict at `fluentAt`. `minDf` caps the
    * broadcast bigram table (bigrams below it back off to the unigram
    * leg) — set it so the surviving table fits the broadcast limit at
    * your corpus scale; 1 keeps every observed bigram.
    */
  def bigramLm(docs: DataFrame, lambda: Double = 0.7,
      fluentAt: Double = -3.4, minDf: Long = 1L): DataFrame =
    operators.Curation.bigramLm(docs, lambda, fluentAt, minDf)

  /** TextRank keyword weights (x18): `iters` damped PageRank rounds over
    * the bigram co-occurrence graph of `docs`.
    */
  def textrank(docs: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame =
    operators.Curation.textrank(docs, iters, damping)

  /** Count-Min Sketch frequency estimates (a13): per-key `cms_est` vs
    * `true_n` for every distinct value of `keyCol` in `rows`, from a
    * deterministic md5-hashed `depth`×`width` sketch.
    */
  def cmsFreq(rows: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 32): DataFrame =
    operators.Curation.cmsFreq(rows, keyCol, depth, width)

  /** HyperLogLog distinct-count estimate (a14): one row comparing the
    * 64-register sketch estimate (with small-range linear counting)
    * against the true distinct count of `keyCol`.
    */
  def hllDistinct(rows: DataFrame, keyCol: String): DataFrame =
    operators.Curation.hllDistinct(rows, keyCol)

  /** Morton/Z-order interleave of two bounded non-negative keys (o4) —
    * the write-time clustering column for two-dimensional data skipping:
    * `df.repartitionByRange(n, z).sortWithinPartitions(z)`. Keys outside
    * [0, 2^bits) raise rather than alias.
    */
  def zvalue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int = 11): org.apache.spark.sql.Column =
    operators.Curation.zvalue(x, y, bits)

  /** Train a k-cell coarse quantizer (the n6 k-means) on any
    * (`vec_id`, `embedding`) DataFrame and return the final
    * (`vec_id`, `cell`) assignment — the blocking key for IVF serving
    * (n4/n6), SemDeDup (d11), and any other cell-blocked operator.
    *
    * `k` is the capacity lever the gate queries fix at the corpus's 16
    * labels: it bounds per-cell candidate work (cells average n/k
    * vectors), so it must GROW with the corpus. The standard IVF
    * guidance is k ≈ √n — equal cell count and cell size — with nprobe
    * scaled to taste; see PLANS.md §"Choosing IVF k".
    */
  def kmeansCells(embeddings: DataFrame, k: Int, iters: Int = 2): DataFrame =
    operators.Ivf.kmeansAssign(embeddings, k, iters)
}
