package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DpLedger, Privacy}

/** The STREAMING twin of the x47 continual release — the tree
  * mechanism run the way Chan–Shi–Song actually frame it: counts
  * arrive continuously, the released running count must stay current,
  * and the whole window still spends one ε.
  *
  * The batch spelling ([[Privacy.dpContinualRelease]]) recomputes the
  * daily counts from raw events at every release. Under continuous
  * ingest that is a full corpus rescan per release; this twin
  * maintains the dailies INCREMENTALLY in a [[LiveCounts]] store (one
  * batch-sized combinable partial per micro-batch, exactly-once by
  * partition overwrite) and releases from the re-aggregated totals via
  * [[Privacy.dpContinualReleaseFromDaily]]. Day counts are additive
  * over events, so the live totals are bit-identical to the batch
  * groupBy — and because every downstream step (public grid, per-node
  * seeded Laplace, dyadic decomposition) is deterministic given the
  * dailies, a release from the live store EQUALS the batch release on
  * the same records, clamped integer for clamped integer
  * (StreamingSpec pins the equivalence, plus replay idempotence and
  * the as-of prefix view).
  *
  * Each store is one [[LiveCounts.Family]] under the config root:
  * [[days]] at the root itself, [[cells]] and [[userCells]] in their
  * subdirectories, and the three whose observation depends on ingest
  * parameters built by [[subsampled]], [[subsampledGauss]] and
  * [[local]]. Ingest drives a family's `start`/`step`/`compact` with
  * `cfg.root`; each release def reads its store through the same
  * family, and each key format is decoded once, next to the transform
  * that encodes it.
  *
  * Privacy accounting is unchanged: ε is charged per WINDOW through
  * the [[DpLedger]] charge-then-release wrapper at RELEASE time, not
  * at ingest time — the store holds true (un-noised) counts and is
  * private infrastructure, never shipped; only [[release]]'s clamped
  * integers leave. Re-releasing the same window with fresh salted
  * noise is a new ε charge the ledger meters (the composed-release
  * attack spec's cap applies verbatim). The HTTP tier offers no
  * uncharged re-read of an already-charged release — every /release
  * and /alert request charges, even under the server's seeded test
  * config where bodies repeat bit-identically (r17 advice).
  * Over-charging is the safe direction; an uncharged re-read would
  * need the server to prove the request byte-equivalent to a prior
  * charged one — caching's job, not the ledger's.
  *
  * 100 TB shape: per micro-batch cost is one combinable day-count
  * partial (batch-sized); release-time cost is one re-aggregation over
  * day-keyed partials (key space = calendar days — thousands, never
  * corpus-sized) plus the public-window-sized tree frame. Reference:
  * the reference's polling loop commits per-file row batches
  * (python/main.py:64-105); this is the same commit discipline carrying
  * a DP release surface instead of a SQL sink.
  */
object LiveRelease {

  final case class Config(root: String)

  /** The day store, at the config root: one `(key = ISO day)`
    * observation per event. String keys so the store stays in the
    * shared counts schema; [[dailyCounts]] parses them back to dates.
    */
  val days: LiveCounts.Family =
    LiveCounts.Family("", _.select(to_date(col("ts")).cast("string").as("key")))

  /** The tree-mechanism release from the live store's totals as of a
    * commit point (default: the live frontier). Same output schema,
    * seeding, and ledger contract as [[Privacy.dpContinualRelease]];
    * equal to it on the same ingested records.
    */
  def release(s: SparkSession, cfg: Config, window: Int = 0,
      seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "continual", asOf: Long = Long.MaxValue): DataFrame = {
    val daily = dailyCounts(s, cfg, asOf)
    Privacy.dpContinualReleaseFromDaily(daily, seeded, window, ledger, releaseId)
  }

  /** The SVT alert from the live store (x51's streaming twin): "has
    * the daily volume crossed `threshold` yet, and when" — asked of
    * every public calendar day for ONE ε, from the totals as of a
    * commit point. SVT is intrinsically an alerting mechanism; this is
    * where an alerting pipeline actually asks it. Equal to the batch
    * [[Privacy.dpAboveThresholdRelease]] on the same ingested records
    * (StreamingSpec pins it alongside the continual twin).
    */
  def aboveThreshold(s: SparkSession, cfg: Config, threshold: Double = 100.0,
      seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "svt", asOf: Long = Long.MaxValue): DataFrame =
    Privacy.dpAboveThresholdFromDaily(dailyCounts(s, cfg, asOf),
      threshold, seeded, ledger, releaseId)

  /** The numeric-sparse twin (x53): up to `c` alerts for one ε from
    * the live store's totals — the fixed-alert-budget alternative to
    * re-charging [[aboveThreshold]] per episode
    * ([[Privacy.dpSparseFromDaily]] carries the trade-off).
    */
  def sparse(s: SparkSession, cfg: Config, threshold: Double = 100.0,
      c: Int = 2, seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "sparse", asOf: Long = Long.MaxValue): DataFrame =
    Privacy.dpSparseFromDaily(dailyCounts(s, cfg, asOf),
      threshold, c, seeded, ledger, releaseId)

  /** The x63 range-count release from the live store (the Hay et al.
    * noised dyadic tree answering the public 94-range query set for
    * one ε) — the x47 twin argument verbatim: additive day counts +
    * public-grid math + seeded node noise ⇒ live == batch.
    */
  def rangeRelease(s: SparkSession, cfg: Config, seeded: Boolean = false,
      ledger: Option[DpLedger] = None, releaseId: String = "range_tree",
      asOf: Long = Long.MaxValue): DataFrame =
    Privacy.dpRangeFromDaily(dailyCounts(s, cfg, asOf), seeded, ledger, releaseId)

  private def dailyCounts(s: SparkSession, cfg: Config, asOf: Long): DataFrame =
    days.totals(s, cfg.root, asOf)
      .select(to_date(col("key")).as("day"), col("n").as("cnt"))

  // ---- the δ-licensed twins (x54/x55) ----------------------------------

  // sibling stores under the same root for the δ-licensed releases
  // (x54/x55): the stability histograms need (event_type, day) cell
  // counts and the distinct (user_id, event_type, day) user-cell set,
  // neither derivable from the day-keyed store. Keys lead with the
  // fixed-width ISO day (10 chars) so parsing never depends on the
  // payload being separator-free.
  /** One `(key = ISO-day|event_type)` observation per event — the cell
    * key of every cell-shaped store (full, kept-subsample, local
    * report). Day first and fixed-width, so the type may contain
    * anything.
    */
  private def cellKey(events: DataFrame): DataFrame =
    events.select(concat(to_date(col("ts")).cast("string"), lit("|"),
      col("event_type")).as("key"))

  /** [[cellKey]] inverted: a cell store's totals as the FromCells
    * `(day, event_type, true_n)` schema.
    */
  private def cellRows(totals: DataFrame): DataFrame =
    totals.select(to_timestamp(substring(col("key"), 1, 10)).as("day"),
      expr("substring(key, 12)").as("event_type"), col("n").as("true_n"))

  /** The cell-count store under `cells/`, for [[stableHistogram]]. */
  val cells: LiveCounts.Family = LiveCounts.Family("cells", cellKey)

  /** The user-cell store under `ucells/`, for [[userHistogram]]: one
    * `(key = ISO-day|<ulen>|<user><event_type>)` observation per event.
    * The user id is LENGTH-PREFIXED rather than delimited (r19 review):
    * a delimiter-split spelling silently mis-parses any deployment
    * whose user ids are non-numeric or contain the delimiter — merging
    * distinct users before the per-user cap, which voids the x55
    * user-level sensitivity claim without an error. The decimal length
    * can contain no `|`, so `<ulen>` bounds the user field exactly and
    * BOTH remaining fields may contain anything. (Null user ids null
    * the whole key — pre-filter them; the batch spelling's contract is
    * the same.) The store holds per-(day, user, type) EVENT counts; the
    * releases use only key PRESENCE (n ≥ 1 ⇔ the user touched the
    * cell), which is what makes the distinct user-cell set
    * idempotent-union additive across batches — replay and fold cannot
    * change membership.
    */
  val userCells: LiveCounts.Family = LiveCounts.Family("ucells",
    _.select(concat(to_date(col("ts")).cast("string"), lit("|"),
      length(col("user_id").cast("string")).cast("string"), lit("|"),
      col("user_id").cast("string"), col("event_type")).as("key")))

  /** The [[userCells]] key inverted to `(day, user_id, event_type)`.
    * user_id stays a STRING (the mechanisms use it only as a grouping
    * key — the cap orders by (day, event_type) — so the releases are
    * identical to the batch spellings over typed ids).
    */
  private def userCellRows(totals: DataFrame): DataFrame =
    totals.select(to_timestamp(substring(col("key"), 1, 10)).as("day"),
        expr("substring(key, 12)").as("_rest"))
      .withColumn("_ulen", split(col("_rest"), "\\|", 2).getItem(0))
      .select(col("day"),
        expr("substring(_rest, length(_ulen) + 2, cast(_ulen as int))")
          .as("user_id"),
        expr("substring(_rest, length(_ulen) + 2 + cast(_ulen as int))")
          .as("event_type"))

  /** The x54 stability histogram from the live cell-count store — the
    * δ-licensed release regime's streaming twin (r18 verdict #3: every
    * other regime had one — x47→release, x51→aboveThreshold,
    * x53→sparse — while the regime whose INPUT is exactly a live count
    * store had none). Cell counts are additive over events and the
    * noise/τ/clamp tail is deterministic given the cells
    * ([[graft.operators.Privacy.dpStableHistogramFromCells]]), so live
    * equals batch bit-for-bit on the same ingested records
    * (StreamingSpec pins it). The ledger charge is the (ε, δ) PAIR —
    * the registry's δ metering applies to the live spelling exactly as
    * to batch.
    */
  def stableHistogram(s: SparkSession, cfg: Config, seeded: Boolean = false,
      delta: Double = 1e-6, ledger: Option[DpLedger] = None,
      releaseId: String = "stable_hist",
      asOf: Long = Long.MaxValue): DataFrame =
    Privacy.dpStableHistogramFromCells(cellRows(cells.totals(s, cfg.root, asOf)),
      seeded, delta, ledger, releaseId)

  /** The x55 user-level stability histogram from the live user-cell
    * store — [[stableHistogram]]'s sibling at the user privacy unit.
    * Only key PRESENCE ships to the mechanism (the distinct set), so
    * the twin argument is idempotent union + the deterministic
    * cap/count/noise/τ tail.
    */
  def userHistogram(s: SparkSession, cfg: Config, seeded: Boolean = false,
      capCells: Int = 4, delta: Double = 1e-6,
      ledger: Option[DpLedger] = None, releaseId: String = "user_hist",
      asOf: Long = Long.MaxValue): DataFrame =
    Privacy.dpUserHistogramFromUserCells(userCellRows(userCells.totals(s, cfg.root, asOf)),
      seeded, capCells, delta, ledger, releaseId)

  // ---- the subsampled twins (x56/x60) -----------------------------------

  /** The full-cell store's event types as the twins' vocabulary source
    * (the release set must derive from the FULL corpus, never the
    * sample — [[graft.operators.Privacy.dpSubsampledCountFromCells]]'s
    * contract), so a deployment running the [[cells]] intake gets the
    * batch default's semantics; one that doesn't must pass a public
    * `vocabulary` (the honest production spelling anyway).
    */
  private def cellTypes(s: SparkSession, cfg: Config, asOf: Long): DataFrame =
    cellRows(cells.totals(s, cfg.root, asOf)).select("event_type")

  /** The KEPT-subsample store under `subcells/`, for
    * [[subsampledCount]]: the 'dpss|' sample of the events at rate `q`,
    * keyed like [[cells]]. The SAMPLING salt is deployment config fixed
    * at ingest time (the sample must be one draw across the stream's
    * whole life — a salt that changed between batches would splice two
    * different samples into one store); the default empty salt is the
    * seeded/test spelling, publicly recomputable like every seeded
    * release, and the amplification claim is vacuous under it
    * ([[graft.operators.Privacy.releaseSalt]]'s contract). Release-time
    * NOISE salts stay per-release draws exactly as in batch — in the
    * streaming spelling the two randomness sources are independent
    * secrets. A `q` outside (0, 1) is refused here, as every
    * subsampled release refuses it, so no store is written that could
    * never be released.
    */
  def subsampled(q: Double = 0.5, samplingSalt: String = ""): LiveCounts.Family =
    keptCells("subcells", "dpss|", q, samplingSalt)

  /** The KEPT-subsample store under `subgcells/`, for
    * [[subsampledGaussian]]: [[subsampled]]'s sibling under the
    * independent 'dpsg|' sample domain (x60's independence contract:
    * running both releases must not correlate their subsamples).
    */
  def subsampledGauss(q: Double = 0.5, samplingSalt: String = ""): LiveCounts.Family =
    keptCells("subgcells", "dpsg|", q, samplingSalt)

  private def keptCells(subdir: String, tag: String, q: Double,
      samplingSalt: String): LiveCounts.Family = {
    require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
    LiveCounts.Family(subdir,
      events => cellKey(events.filter(Privacy.subsampleKeep(tag, samplingSalt, q))))
  }

  /** The x56 subsampled count release from the live kept-cell store —
    * the amplification regime's streaming twin (after which EVERY
    * release regime has one: x47→release, x51→aboveThreshold,
    * x53→sparse, x54/x55→histograms, x56/x60→these). The keep decision
    * is per-event and deterministic given the ingest-time sampling
    * salt, kept-cell counts are additive, and the noise/clamp tail is
    * deterministic given the cells — live == batch bit-for-bit on the
    * same records (StreamingSpec pins it). The ledger charge is the
    * AMPLIFIED ε' exactly as in batch.
    */
  def subsampledCount(s: SparkSession, cfg: Config, q: Double = 0.5,
      seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "subsampled_count",
      vocabulary: Option[Seq[String]] = None,
      asOf: Long = Long.MaxValue): DataFrame =
    Privacy.dpSubsampledCountFromCells(
      cellRows(subsampled(q).totals(s, cfg.root, asOf)), cellTypes(s, cfg, asOf),
      q, seeded, ledger, releaseId, vocabulary)

  /** The x60 subsampled GAUSSIAN release from its live kept-cell
    * store — [[subsampledCount]]'s sibling in (ε, δ) space; the charge
    * is the amplified PAIR against the δ-metered ledger, exactly as in
    * batch.
    */
  def subsampledGaussian(s: SparkSession, cfg: Config, q: Double = 0.5,
      seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "subsampled_gauss",
      vocabulary: Option[Seq[String]] = None,
      asOf: Long = Long.MaxValue): DataFrame =
    Privacy.dpSubsampledGaussianFromCells(
      cellRows(subsampledGauss(q).totals(s, cfg.root, asOf)), cellTypes(s, cfg, asOf),
      q, seeded, ledger, releaseId, vocabulary)

  /** [[subsampledGaussian]] under the [[graft.operators.RdpAccountant]]
    * instead of the lemma-pair ledger — the live K-schedule spelling:
    * each release charges its (q, σ) Rényi footprint; the (ε, δ)
    * statement falls out once at the accountant's read time. Same
    * store, same sample, same noise as the pair-accounted twin.
    */
  def subsampledGaussianRdp(s: SparkSession, cfg: Config,
      accountant: graft.operators.RdpAccountant, q: Double = 0.5,
      seeded: Boolean = false, releaseId: String = "subsampled_gauss_rdp",
      vocabulary: Option[Seq[String]] = None,
      asOf: Long = Long.MaxValue): DataFrame =
    Privacy.dpSubsampledGaussianRdpFromCells(
      cellRows(subsampledGauss(q).totals(s, cfg.root, asOf)), cellTypes(s, cfg, asOf),
      accountant, q, seeded, releaseId, vocabulary)

  // ---- the LOCAL-DP twin (x62) ------------------------------------------

  /** The report store under `lrrcells/`, for [[localFrequency]]: one
    * `(key = ISO-day|reported)` observation per RANDOMIZED record —
    * the k-RR coin runs HERE, at ingest, which is what the local model
    * means operationally: the store (and everything downstream) only
    * ever holds ε-locally-private reports, never a true type. The
    * response `domain` and the per-record coin salt are deployment
    * config fixed at collection time (the domain is part of the
    * mechanism — k enters (p, q); a domain that changed mid-stream
    * would splice two mechanisms into one store); the default empty
    * salt is the seeded/test spelling, publicly recomputable like
    * every seeded release ([[graft.operators.Privacy.releaseSalt]]).
    * `eps <= 0` or a domain of fewer than two types is refused here, as
    * the estimator refuses it, so no store is written that could never
    * be released.
    */
  def local(domain: Seq[String], eps: Double = 1.0,
      samplingSalt: String = ""): LiveCounts.Family = {
    require(eps > 0, s"need eps > 0, got $eps")
    val ts = domain.distinct.sorted
    require(ts.size >= 2,
      s"randomized response needs a response domain of >= 2 types, got $ts")
    LiveCounts.Family("lrrcells", events => cellKey(
      Privacy.localRandomize(events, eps, samplingSalt, ts)
        .select(col("ts"), col("reported").as("event_type"))))
  }

  /** The x62 debiased frequency estimate from the live report store —
    * pure post-processing of already-ε-locally-private reports (no
    * ledger: the ε was spent per record at the [[local]] family's
    * ingest coin).
    * `domain`/`eps` must match the collector's config
    * ([[graft.operators.Privacy.localFrequencyFromReports]] carries
    * the unit-error warning); live == batch with the same domain and
    * salt (StreamingSpec pins it).
    */
  def localFrequency(s: SparkSession, cfg: Config, domain: Seq[String],
      eps: Double = 1.0, asOf: Long = Long.MaxValue): DataFrame =
    Privacy.localFrequencyFromReports(
      cellRows(local(domain, eps).totals(s, cfg.root, asOf)).toDF("day", "reported", "n"),
      eps, domain)
}
