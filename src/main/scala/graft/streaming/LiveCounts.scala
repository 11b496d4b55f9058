package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incrementally-maintained ADDITIVE corpus statistics — the third
  * state shape of the streaming intakes, next to [[LivePipeline]]'s
  * membership sets and [[LiveVectors]]' vector index: keyed counts
  * (the day and cell counts the DP releases read) whose batch
  * spellings are corpus-wide aggregations a stream cannot see.
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
  * `(key)` rows. [[LiveRelease]] declares its families next to the key
  * decode that reads them back.
  *
  * At 100 TB the recurring cost is one batch-sized combinable aggregate
  * per micro-batch; the corpus-shaped work (the totals re-aggregation)
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
      // as-of pins the statistics at a commit point (the sibling of
      // LivePipeline.packedOutput's snapshot read: "the day counts as
      // of commit N"). Counts are ADDITIVE state and a fold
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

  /** The re-aggregation over a given dir snapshot — shared by
    * [[Family.totals]] and [[Family.compact]] so the fold is PROVABLY
    * the same associative recombination the serve path computes.
    */
  private def totalsFrom(s: SparkSession, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], CountSchema)
    else s.read.schema(CountSchema).parquet(dirs: _*)
      .groupBy("key").agg(sum(col("n")).as("n"))
}
