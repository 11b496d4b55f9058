package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incrementally-maintained ADDITIVE corpus statistics — the third
  * state shape of the streaming intakes, next to [[LivePipeline]]'s
  * membership sets and [[LiveVectors]]' vector index: keyed counts
  * (term frequencies, segment dfs, LM tables) whose batch spellings
  * are corpus-wide aggregations a stream cannot see.
  *
  * The store is the additive-merge trick made durable: each committed
  * batch writes only its OWN partial aggregate `(key, n)` under
  * `counts/batch=<id>` (batch-sized, map-side combinable), and the
  * corpus-wide totals are `groupBy(key).sum(n)` over the committed
  * partitions — associativity means per-batch partials plus one
  * re-aggregation ARE the batch answer, bit-for-bit for integer
  * counts. [[Family.compact]] folds history by the same
  * re-aggregation (crash-safe staged roll-forward,
  * [[LiveVectors.compact]]'s discipline — the batch dir's `_SUCCESS`
  * is the commit marker, so an uncommitted dir is invisible to the
  * fold by construction).
  *
  * Every count store is a [[Family]]: its subdirectory under a config
  * root plus the observation transform that turns a micro-batch into
  * `(key)` rows. [[plain]] takes pre-exploded keys; [[LiveNb]] and
  * [[LiveRelease]] declare theirs next to the key decode that reads
  * them back.
  *
  * This is how the batch-built model tables the stateless streaming
  * operators ship as literals (d12's hot-segment list, x10/x17's LM
  * counts — StreamDemos) stay FRESH under continuous ingest: the
  * stream maintains the partials; model rebuilds read `totals` at
  * index cadence instead of rescanning the corpus. At 100 TB the
  * recurring cost is one batch-sized combinable aggregate per
  * micro-batch; the corpus-shaped work (the totals re-aggregation)
  * happens only at read/fold cadence, over key-sized — not
  * corpus-sized — partials.
  */
object LiveCounts {

  private val CountSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n", LongType)))

  /** One count store's layout: it lives at `<root>/<subdir>` (`root`
    * itself when `subdir` is empty), partials under `counts/`, the
    * streaming checkpoint under `_checkpoint/`, and `prep` maps each
    * micro-batch to its `(key)` observation rows. The writeStream /
    * checkpoint / foreachBatch wiring lives HERE, once, so checkpoint
    * and replay behavior cannot drift between the count stores.
    */
  final case class Family(subdir: String, prep: DataFrame => DataFrame = identity) {

    private def home(root: String) = if (subdir.isEmpty) root else s"$root/$subdir"
    private def dir(root: String) = s"${home(root)}/counts"

    /** Start the continuous intake over a streaming frame: each batch
      * commits its partial counts through [[step]].
      */
    def start(rows: DataFrame, root: String): StreamingQuery = {
      val fn: (DataFrame, Long) => Unit = (b, id) => step(b, id, root)
      rows.writeStream
        .option("checkpointLocation", s"${home(root)}/_checkpoint")
        .foreachBatch(fn)
        .start()
    }

    /** One incremental step (the foreachBatch body, callable directly in
      * tests and backfills): the batch's partial aggregate, committed as
      * its own partition (replay overwrites it — exactly-once).
      */
    def step(rows: DataFrame, batchId: Long, root: String): Unit = {
      val s = rows.sparkSession
      // writer-side fold recovery (single maintenance owner)
      BatchParts.recoverFold(s, dir(root))
      if (BatchParts.isCommittedIn(BatchParts.effectiveParts(s, dir(root)), batchId)) return
      val obs = prep(rows)
      if (obs.isEmpty) return
      obs.groupBy("key").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"${dir(root)}/batch=$batchId")
    }

    /** Corpus-wide `(key, n)` totals: one re-aggregation over the
      * committed partials. Associative, so folded and unfolded state sum
      * to the same batch answer. Reader-side: ONE listing of the
      * effective parts (the newest committed fold plus the batches past
      * its horizon — [[BatchParts.effectiveParts]]), one multi-path
      * relation, never an N-ary union. Safe under concurrent maintenance
      * because a fold commits by rename and its superseded sources are
      * only GC'd from the next writer op — every dir this listing names
      * outlives the read.
      */
    def totals(s: SparkSession, root: String, asOf: Long = Long.MaxValue): DataFrame = {
      val parts = BatchParts.effectiveParts(s, dir(root))
      // as-of pins the statistics at a commit point (the model-rebuild
      // sibling of LivePipeline.packedOutput's snapshot read: "the d12
      // hot list as of commit N"). Counts are ADDITIVE state and a fold
      // deliberately collapses history, so an as-of OLDER than the
      // newest fold horizon is unrecoverable — fail loudly instead of
      // silently serving partial totals; compaction cadence bounds how
      // far back a snapshot can reach.
      val folded = parts.collect { case (h, _, true) if h > asOf => h }
      require(folded.isEmpty,
        s"as-of $asOf predates fold horizon ${folded.mkString(",")}: folded " +
          "count history is collapsed (bound compaction cadence to keep older snapshots)")
      totalsFrom(s, parts.filter(_._1 <= asOf).map(_._2))
    }

    /** Fold committed partials into one partition (the re-aggregation is
      * the merge), staged-roll-forward crash-safe via [[BatchParts]].
      */
    def compact(s: SparkSession, root: String): Unit = {
      BatchParts.recoverFold(s, dir(root))
      val parts = BatchParts.effectiveParts(s, dir(root))
      if (parts.length > 1) {
        val h = parts.last._1
        val gen = BatchParts.nextFoldGen(s, dir(root))
        totalsFrom(s, parts.map(_._2))
          .write.mode("overwrite").parquet(BatchParts.stagingPath(dir(root), h, gen))
        BatchParts.commitFold(s, dir(root), h, gen)
      }
    }
  }

  /** The store over pre-exploded `(key)` rows (words, segments,
    * n-grams...), at the config root itself.
    */
  val plain: Family = Family("")

  /** The re-aggregation over a given dir snapshot — shared by
    * [[Family.totals]] and [[Family.compact]] so the fold is PROVABLY
    * the same associative recombination the serve path computes.
    */
  private def totalsFrom(s: SparkSession, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], CountSchema)
    else s.read.schema(CountSchema).parquet(dirs: _*)
      .groupBy("key").agg(sum(col("n")).as("n"))

  /** The d12 hot-segment list derived from the [[plain]] store's LIVE
    * totals: keys with df ≥ `minDf`, md5-hashed to match
    * [[graft.operators.Dedup.hotSegments]]' shape, ready to ship into
    * [[StreamDemos.scrubBoilerplate]] — the model-refresh loop closed:
    * the stream maintains the dfs, the scrub re-reads this at index
    * cadence instead of rescanning the corpus. Driver-collected because
    * the hot list is boilerplate-sized by construction (only df ≥ minDf
    * keys survive), exactly like the batch builder's consumer.
    */
  def hotKeys(s: SparkSession, root: String, minDf: Long): Seq[String] = {
    // same guard as Dedup.hotSegments: with minDf <= 1 EVERY observed
    // key is "hot" and a streaming scrub built on this list silently
    // empties all documents
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    plain.totals(s, root).filter(col("n") >= minDf)
      .select(md5(col("key")).as("h")).collect().map(_.getString(0)).toSeq
  }
}

/** The x24 Naive Bayes quality classifier kept fresh by a [[LiveCounts]]
  * store — the model-refresh loop closed for a real MODEL, not just the
  * d12/x10/x17 literal tables: every statistic NB needs (per-(class,
  * word) token counts, per-class doc counts) is additive over docs, so
  * the stream commits batch-sized count partials and the classifier is
  * REBUILT from their re-aggregation at refresh cadence —
  * [[graft.operators.Curation.nbScoreWith]] derives smoothing totals,
  * per-word log-odds, and the prior from the same count tables the
  * batch training pass computes inline, bit-for-bit (StreamingSpec).
  *
  * Key encoding in the shared counts store: token observations as
  * `p|<word>` / `n|<word>` (class tag + separator at a fixed position,
  * so any word — including ones containing `|` — decodes
  * unambiguously), doc observations as the bare keys `P` / `N`
  * (token keys always carry the 2-char prefix, so no collision).
  *
  * RTBF posture: like the dedup stores' hashes (and unlike the
  * content-serving stores, which have `forget`), the count partials
  * are aggregate statistics, not retrievable content — a forgotten
  * doc's counts cannot be subtracted without re-observing its text,
  * which is exactly what forgetting removed. Where aggregate residue
  * is unacceptable, rebuild the store by re-streaming the vacuumed
  * corpus (one seed-style pass); the model derivation is unchanged.
  */
object LiveNb {

  final case class Config(root: String)

  /** One observation row per token plus one per doc, for a labeled
    * `(doc_id, text, pos)` batch — the exact observations the batch
    * training pass aggregates (split on single spaces, empties
    * INCLUDED, matching [[graft.operators.Curation.nbClassifier]]'s
    * tokenization verbatim).
    */
  private def observations(labeled: DataFrame): DataFrame =
    labeled
      .select(col("pos"), explode(split(col("text"), " ")).as("word"))
      .select(concat(when(col("pos"), "p").otherwise("n"), lit("|"), col("word")).as("key"))
      .unionByName(labeled.select(when(col("pos"), "P").otherwise("N").as("key")))

  /** The NB count store at the config root: labeled `(doc_id, text,
    * pos)` batches in, through [[observations]].
    */
  val counts: LiveCounts.Family = LiveCounts.Family("", observations)

  /** The model's count tables rebuilt from the live totals. */
  def byClass(s: SparkSession, cfg: Config): DataFrame =
    counts.totals(s, cfg.root)
      .filter(length(col("key")) >= 2 && substring(col("key"), 2, 1) === "|")
      .select(substring(col("key"), 1, 1).as("cls"),
        expr("substring(key, 3)").as("word"), col("n"))
      .groupBy("word").agg(
        sum(when(col("cls") === "p", col("n")).otherwise(0L)).as("c_pos"),
        sum(when(col("cls") === "n", col("n")).otherwise(0L)).as("c_neg"))

  def prior(s: SparkSession, cfg: Config): DataFrame =
    counts.totals(s, cfg.root)
      .filter(col("key").isin("P", "N"))
      .agg(sum(when(col("key") === "P", col("n")).otherwise(0L)).as("n_pos"),
        sum(when(col("key") === "N", col("n")).otherwise(0L)).as("n_neg"))

  /** Score `docs` against the model as of the committed counts — the
    * x24 serving surface from the continuously-maintained store. The
    * prior is two numbers: it is collected up front off a key-pushed
    * filter scan (bounded planning state, parquet row-group stats
    * prune everything but the `P`/`N` rows) so the scoring plan
    * carries ONE totals re-aggregation over the store ([[byClass]]),
    * not two independent full scans.
    */
  def score(s: SparkSession, cfg: Config, docs: DataFrame): DataFrame = {
    val prRow = prior(s, cfg).collect().head
    import scala.jdk.CollectionConverters._
    val prLit = s.createDataFrame(Seq(prRow).asJava, prRow.schema)
    graft.operators.Curation.nbScoreWith(docs, byClass(s, cfg), prLit)
  }
}
