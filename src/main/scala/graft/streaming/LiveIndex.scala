package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.Engine
import graft.operators.Retrieval

/** Continuously-maintained sparse (BM25) retrieval index — the fourth
  * state shape of the streaming intakes, next to [[LivePipeline]]'s
  * membership sets, [[LiveVectors]]' vector index, and [[LiveCounts]]'
  * additive counts: an INVERTED INDEX whose batch spelling (x14
  * derives tf/dl/df/avgdl inline from one corpus explode) would be
  * corpus-shaped work per refresh under continuous ingest.
  *
  * The decomposition that makes BM25 incrementally maintainable: of
  * the statistics the score needs, tf and dl are PER-DOC (computable
  * from the arriving batch alone), while df, n_docs, and total_tokens
  * are corpus-wide but ADDITIVE over docs — so each micro-batch
  * commits only its own docs' posting rows `(word, doc_id, tf)` and
  * doc lengths `(doc_id, dl)`, and serving re-derives the additive
  * aggregates from the committed union, restricted to the query's
  * terms. No per-batch corpus work, no stored aggregate to keep
  * consistent.
  *
  * Store layout under `Config.root` (the [[BatchParts]] discipline):
  *   - `postings/batch=<id>` — `(word, doc_id, tf)` for the batch's
  *     docs, written FIRST;
  *   - `doclens/batch=<id>` — `(doc_id, dl)`, written LAST: its
  *     `_SUCCESS` is the batch's commit marker, so a crash between
  *     the two writes leaves a postings partition that serving never
  *     reads (only ids ≤ the newest doclens commit are served, and
  *     batch ids are monotone) and the replay overwrites.
  *
  * Serving cost at 100 TB: the postings scan is filtered to the query
  * terms — parquet row-group stats and dictionary pages prune
  * everything else — and the doclens side is one row per doc (the
  * same per-doc join the batch x14 plan pays). The scoring stage is
  * [[Retrieval.bm25FromIndex]], the SAME code the batch operator
  * runs, so live and batch rankings are bit-identical over equal
  * corpora (StreamingSpec pins it).
  */
object LiveIndex {

  final case class Config(root: String)

  private val PostingSchema = StructType(Seq(
    StructField("word", StringType),
    StructField("doc_id", LongType),
    StructField("tf", LongType)))
  private val DoclenSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("dl", LongType)))

  /** The shared store bucket count ([[LivePipeline.StoreBuckets]] — one
    * constant across the streaming stores, so the marker protocol
    * cannot diverge). Folds bucket each store by its PROBE key:
    * doclens by `doc_id` (the step's replay-dedup probe prunes to the
    * arriving batch's id buckets), postings by `word` (serving prunes
    * the postings scan to the QUERY TERMS' buckets — directory-level
    * pruning ahead of the pushed `In(word, ...)` filter, so a query
    * reads ≤|terms| bucket dirs instead of every row-group's stats).
    */
  private val B = LivePipeline.StoreBuckets
  private def idBucket = pmod(hash(col("doc_id")), lit(B))
  private def wordBucket = pmod(hash(col("word")), lit(B))

  /** Start the continuous intake over a streaming `(doc_id, text)`
    * frame (extra columns ignored); each micro-batch commits its own
    * docs' postings and lengths.
    */
  def start(docs: DataFrame, cfg: Config): StreamingQuery = {
    val fn: (DataFrame, Long) => Unit = (b, id) => step(b, id, cfg)
    docs.writeStream
      .option("checkpointLocation", s"${cfg.root}/_checkpoint")
      .foreachBatch(fn)
      .start()
  }

  /** One incremental step: drop already-indexed doc_ids (producer
    * retries under fresh batch ids — the [[LiveVectors.step]]
    * anti-join), tokenize exactly like the batch operator (split on
    * single spaces, empty tokens dropped), commit the batch's partial
    * index. Docs whose text yields no tokens index nothing — the same
    * absence the inline x14 spelling produces.
    */
  def step(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    val s = batch.sparkSession
    Seq("postings", "doclens").foreach(k =>
      BatchParts.recoverFold(s, s"${cfg.root}/$k"))
    // ONE doclens listing serves the replay check and the id read
    val dlParts = BatchParts.effectiveParts(s, s"${cfg.root}/doclens")
    if (BatchParts.isCommittedIn(dlParts, batchId)) return
    if (batch.isEmpty) return
    // the token explode feeds both commits — cache it so each batch
    // tokenizes once, not twice. (r19 note: a readback spelling —
    // doclens = Σ tf over the just-written postings — was tried and
    // REVERTED: it re-scans the store's own postings every batch, which
    // inflates the deterministic intake_rows_store tripwire ~6× for no
    // measured wall win; the persist keeps the store-scan totals
    // load-invariant.)
    val toks = freshArrivals(batch, batchId, cfg, dlParts)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      toks.groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(s"${cfg.root}/postings/batch=$batchId")
      toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        .write.mode("overwrite").parquet(s"${cfg.root}/doclens/batch=$batchId")
    } finally { toks.unpersist(); () }
  }

  /** The batch rows that will actually index: already-indexed doc_ids
    * drop (producer retries under fresh batch ids), as do tombstoned
    * ids — an arrival of a forgotten id stays dropped until the
    * tombstones are retired, so the compact-crash window (rows
    * applied, tombstones not yet deleted) can never erase a
    * legitimately re-admitted doc.
    *
    * The store side follows the [[LivePipeline.curatePack]] probe
    * discipline: for a streaming micro-batch (`batchId >= 0`) against
    * a non-empty store, the doclens scan is PRUNED to the batch's id
    * buckets when the fold is bucketed, filtered map-side against a
    * BROADCAST of the batch's ids, and the batch-sized matches
    * broadcast back into the anti-join — the store side is never
    * exchanged. Seed-class batches (`batchId < 0` — [[LivePipeline
    * .seedWithIndex]] drives the whole existing corpus through one
    * pseudo-batch) keep the keyed anti-join: a corpus-sized "batch"
    * must never be broadcast. Spec hook: ScaleSpec pins this plan on
    * a real bucketed store.
    */
  private[graft] def freshArrivals(batch: DataFrame, batchId: Long,
      cfg: Config): DataFrame =
    freshArrivals(batch, batchId, cfg, BatchParts.effectiveParts(
      batch.sparkSession, s"${cfg.root}/doclens"))

  private[graft] def freshArrivals(batch: DataFrame, batchId: Long,
      cfg: Config, dlParts: Seq[(Long, String, Boolean)]): DataFrame = {
    val s = batch.sparkSession
    val deduped = batch.dropDuplicates("doc_id")
    val masked = deduped
      .join(broadcast(BatchParts.tombstoneIds(s, cfg.root, "doc_id")),
        Seq("doc_id"), "left_anti")
    if (dlParts.isEmpty) return masked
    val store = BatchParts.readMaybeBucketed(s, dlParts, DoclenSchema, idBucket, B)
    val bucketed = store.columns.contains("bucket")
    if (batchId < 0)
      masked.join(
        (if (bucketed) store.drop("bucket") else store).select("doc_id"),
        Seq("doc_id"), "left_anti")
    else {
      // ONE narrow job over the raw batch: the ≤B-int hit-bucket set
      // (a superset of the deduped ids' buckets — supersets over-scan,
      // never lose a match) plus the row count that gates the
      // broadcast flip ([[LivePipeline.FlipMaxRows]]: a catch-up batch
      // after downtime must fall back to the keyed join, never
      // broadcast itself)
      val r = batch.agg(collect_set(idBucket), count(lit(1))).head()
      val (hit, n) = (r.getSeq[Int](0), r.getLong(1))
      val ids =
        if (!bucketed) store.select("doc_id")
        else store.filter(col("bucket").isin(hit: _*)).drop("bucket")
          .select("doc_id")
      if (n > LivePipeline.FlipMaxRows)
        masked.join(ids, Seq("doc_id"), "left_anti")
      else {
        // row-group layer under the bucket pruning (the LivePipeline
        // pushKeys discipline): the doclens fold is doc_id-sorted
        // within buckets, so a small batch's literal ids push as an
        // In(doc_id, …) parquet filter with tight row-group stats.
        // `deduped` is already doc_id-unique (dropDuplicates above),
        // so the collect is limit-bounded with no extra distinct; the
        // n ≤ pushMax gate keeps this tiny-batch-only (n counts the
        // RAW batch, an upper bound on deduped ids)
        val pushMax = BatchParts.pushMaxKeys(s)
        val pushed =
          if (!bucketed || n > pushMax) ids
          else {
            val ks = deduped.select("doc_id")
              .limit(pushMax + 1).collect().map(_.getLong(0)).toSeq
            if (ks.length > pushMax) ids else ids.filter(col("doc_id").isin(ks: _*))
          }
        val matched = broadcast(pushed.join(
          broadcast(deduped.select("doc_id")), Seq("doc_id"), "left_semi"))
        masked.join(matched, Seq("doc_id"), "left_anti")
      }
    }
  }

  /** A store's effective parts with id ≤ `upTo` as one FLAT frame
    * (bucketed fold layouts handled per part). Safe under concurrent
    * maintenance: folds commit by rename and superseded dirs are only
    * GC'd from the next writer op.
    */
  private def readStore(s: SparkSession, dir: String, schema: StructType,
      upTo: Long): DataFrame = {
    val parts = BatchParts.effectiveParts(s, dir).filter(_._1 <= upTo)
    if (parts.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else parts.map { case (_, p, isFold) =>
      BatchParts.readPartFlat(s, p, isFold, schema)
    }.reduce(_.unionByName(_))
  }

  /** Last committed batch id (the serving horizon), if any — the
    * newest effective doclens part's id. (Under the rename-commit
    * protocol the listing is never transiently empty mid-fold: the
    * old delete→rename window, where a reader could see no committed
    * dirs and answer "no horizon", no longer exists.)
    */
  private def horizon(s: SparkSession, cfg: Config): Option[Long] =
    BatchParts.effectiveParts(s, s"${cfg.root}/doclens").lastOption.map(_._1)

  /** Right-to-be-forgotten for the INDEX: unlike [[LivePipeline]]'s
    * dedup stores (which deliberately RETAIN forgotten hashes so a
    * later copy stays rejected), an index SERVES content — a
    * forgotten doc must leave the results, and because BM25's corpus
    * statistics are additive over docs, masking its rows makes every
    * remaining score EXACTLY what a from-scratch index over the
    * surviving corpus would compute (df, n_docs, total_tokens all
    * shrink by the doc's contribution — parity spec'd). The ids go
    * on the shared [[BatchParts]] tombstone shelf, anti-joined into
    * both store reads; [[compact]] applies them physically and retires
    * the applied partitions, bounding the mask.
    */
  def forget(s: SparkSession, cfg: Config, docIds: Seq[Long]): Unit =
    BatchParts.appendTombstones(s, cfg.root, "doc_id", docIds)

  /** Top-`n` BM25 over the live index for keyword query `terms` — the
    * x14 serving surface from the continuously-maintained store.
    * Postings of the last attempted-but-uncommitted batch (crash
    * between the two store writes) are excluded by the doclens
    * horizon; everything else is [[Retrieval.bm25FromIndex]].
    */
  def bm25(s: SparkSession, cfg: Config, terms: Seq[String], n: Int,
      k1: Double = Retrieval.K1, b: Double = Retrieval.B): DataFrame = {
    val h = horizon(s, cfg).getOrElse(Long.MinValue)
    val tomb = broadcast(BatchParts.tombstoneIds(s, cfg.root, "doc_id"))
    val dl = readStore(s, s"${cfg.root}/doclens", DoclenSchema, h)
      .join(tomb, Seq("doc_id"), "left_anti")
    // postings: when the fold is word-bucketed, a CONSTANT-FOLDABLE
    // bucket predicate (pmod(hash(lit(term)))) — the exact fold-time
    // expression, so the optimizer folds it to literals and the scan
    // partition-prunes to the query terms' bucket dirs BEFORE the
    // pushed In(word) filter sees a row-group. No extra job, no
    // driver-side hash reimplementation to drift. Parameterized over
    // the term SUBSET plus an optional literal In(doc_id) push (the
    // LivePipeline pushKeys discipline; superset-safe) so the MaxScore
    // serving path can read a common term's corpus-sized posting list
    // POINT-WISE for its candidate docs — the fold sorts
    // (word, doc_id), so the pushed ids prune row groups within the
    // word's run.
    def tfFor(sub: Seq[String], pushIds: Option[Seq[Long]]): DataFrame =
      postingsFor(s, cfg, h, tomb, sub, pushIds)
    // doclens hook: optional In(doc_id) push for candidate lookups —
    // the id-bucketed, doc_id-sorted fold prunes both dirs and row
    // groups under it (superset-safe; the scoring join restricts)
    def dlFor(pushIds: Option[Seq[Long]]): DataFrame = {
      val base = readStore(s, s"${cfg.root}/doclens", DoclenSchema, h)
      val keyed = pushIds match {
        case Some(ids) if ids.nonEmpty => base.filter(col("doc_id").isin(ids: _*))
        case _ => base
      }
      keyed.join(tomb, Seq("doc_id"), "left_anti")
    }
    // the pruned top-n is BIT-IDENTICAL to the naive spelling
    // (Retrieval.bm25TopFromStore's contract; StreamingSpec's
    // live==batch parity pins it through every tombstone/fold state) —
    // only the work is bounded
    Retrieval.bm25TopFromStore(tfFor, dlFor, terms, n, k1, b,
      pushMax = BatchParts.pushMaxKeys(s),
      precomputed = indexStats(s, cfg, h, terms.distinct))
  }

  /** The serve path's postings read for a term subset — bucket-pruned
    * (constant-foldable per-term bucket predicates when the fold is
    * word-bucketed), `In(word)`-matched, optionally `In(doc_id)`-pushed
    * for candidate point lookups, tombstone-masked. Factored out of
    * [[bm25]] so the bench's MaxScore scan-I/O measurement can read the
    * SAME frame the serve reads (never a parallel spelling that could
    * drift).
    */
  private def postingsFor(s: SparkSession, cfg: Config, h: Long,
      tomb: DataFrame, sub: Seq[String], pushIds: Option[Seq[Long]]): DataFrame = {
    val praw = BatchParts.readMaybeBucketed(s,
      BatchParts.effectiveParts(s, s"${cfg.root}/postings").filter(_._1 <= h),
      PostingSchema, wordBucket, B)
    val pruned =
      if (!praw.columns.contains("bucket")) praw
      else if (sub.isEmpty) praw.drop("bucket")
      else praw.filter(sub.map(t =>
          col("bucket") === pmod(hash(lit(t)), lit(B))).reduce(_ || _))
        .drop("bucket")
    val matched = pruned.filter(col("word").isin(sub: _*))
    val keyed = pushIds match {
      case Some(ids) if ids.nonEmpty => matched.filter(col("doc_id").isin(ids: _*))
      case _ => matched
    }
    keyed.select("doc_id", "word", "tf")
      .join(tomb, Seq("doc_id"), "left_anti")
  }

  /** Total matched posting rows for `terms` — the rows a NAIVE
    * full-scoring serve must read and score (the denominator of the
    * bench's MaxScore pruning-I/O curve). One count job over the same
    * bucket-pruned read the serve uses; never on the serving path.
    */
  private[graft] def matchedPostingsCount(s: SparkSession, cfg: Config,
      terms: Seq[String]): Long = {
    val h = horizon(s, cfg).getOrElse(Long.MinValue)
    postingsFor(s, cfg, h, broadcast(BatchParts.tombstoneIds(s, cfg.root, "doc_id")),
      terms.distinct, None).count()
  }

  /** Exact per-term df and corpus stats assembled from the fold-side
    * additive relations (`_termdf` / `_stats`, written atomically with
    * each fold) plus bounded deltas — the post-fold batch parts'
    * contributions and key-pushed lookups of the tombstone-masked
    * rows. None (→ the serve falls back to its aggregate scans) when
    * either store lacks a folded aux relation (pre-migration layout,
    * or a store that has never compacted) or the tombstone set exceeds
    * the push cap.
    *
    * Exactness: effectiveParts' horizon rule makes the fold and the
    * post-fold batch parts doc-disjoint (step's anti-join keeps batch
    * ids fresh), folds apply compaction-time tombstones physically,
    * and CURRENT tombstones mask rows wherever they live — so
    * df(t) = fold_df(t) + Σ batch-part counts(t) − masked counts(t),
    * and likewise for (n_docs, total_tokens); every term is an exact
    * long. StreamingSpec's live==batch parity (including the forget /
    * vacuum sequences) verifies the assembly equals the from-scratch
    * aggregate bit-for-bit.
    */
  private def indexStats(s: SparkSession, cfg: Config, h: Long,
      terms: Seq[String]): Option[(Map[String, Long], (Long, Long))] = {
    val pParts = BatchParts.effectiveParts(s, s"${cfg.root}/postings").filter(_._1 <= h)
    val dParts = BatchParts.effectiveParts(s, s"${cfg.root}/doclens").filter(_._1 <= h)
    val pFold = pParts.find(_._3).map(_._2)
    val dFold = dParts.find(_._3).map(_._2)
    if (pFold.isEmpty || dFold.isEmpty) return None
    val fs = Engine.fileSystem(s, new Path(cfg.root))
    val termdfPath = new Path(pFold.get, "_termdf")
    val statsPath = new Path(dFold.get, "_stats")
    if (!fs.exists(termdfPath) || !fs.exists(statsPath)) return None
    val cap = BatchParts.pushMaxKeys(s)
    val tombIds: Seq[Long] = {
      val page = BatchParts.tombstoneIds(s, cfg.root, "doc_id").limit(cap + 1).collect()
      if (page.length > cap) return None // unbounded mask → honest fallback
      page.map(_.getLong(0)).toSeq
    }
    def termCounts(df: DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def merge(a: Map[String, Long], b: Map[String, Long], sign: Long) =
      (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, 0L) + sign * b.getOrElse(k, 0L))).toMap
    // df: fold relation (tiny, In(word)-pruned) + post-fold parts + mask
    val foldDf = termCounts(s.read
      .schema(StructType(Seq(StructField("word", StringType), StructField("df", LongType))))
      .parquet(termdfPath.toString)
      .filter(col("word").isin(terms: _*)))
    val batchDirs = pParts.filterNot(_._3).map(_._2)
    val batchDf =
      if (batchDirs.isEmpty) Map.empty[String, Long]
      else termCounts(s.read.schema(PostingSchema).parquet(batchDirs: _*)
        .filter(col("word").isin(terms: _*))
        .groupBy("word").agg(count(lit(1)).as("c")))
    val maskDf =
      if (tombIds.isEmpty) Map.empty[String, Long]
      else termCounts(pParts.map { case (_, p, isFold) =>
          BatchParts.readPartFlat(s, p, isFold, PostingSchema)
        }.reduce(_.unionByName(_))
        .filter(col("word").isin(terms: _*) && col("doc_id").isin(tombIds: _*))
        .groupBy("word").agg(count(lit(1)).as("c")))
    val df = merge(merge(foldDf, batchDf, 1L), maskDf, -1L).filter(_._2 > 0L)
    // stats: fold relation + post-fold doclens parts − masked doclens
    def statPair(frame: DataFrame): (Long, Long) = {
      val r = frame.agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val sRow = s.read
      .schema(StructType(Seq(StructField("n_docs", LongType),
        StructField("total_tokens", LongType))))
      .parquet(statsPath.toString).head()
    val (fn, ft) = (sRow.getLong(0), sRow.getLong(1))
    val dBatchDirs = dParts.filterNot(_._3).map(_._2)
    val (bn, bt) =
      if (dBatchDirs.isEmpty) (0L, 0L)
      else statPair(s.read.schema(DoclenSchema).parquet(dBatchDirs: _*))
    val (mn, mt) =
      if (tombIds.isEmpty) (0L, 0L)
      else statPair(dParts.map { case (_, p, isFold) =>
          BatchParts.readPartFlat(s, p, isFold, DoclenSchema)
        }.reduce(_.unionByName(_))
        .filter(col("doc_id").isin(tombIds: _*)))
    Some((df, (fn + bn - mn, ft + bt - mt)))
  }

  /** Fold each store's committed partitions (ids ≤ the doclens
    * horizon) into one — the small-files maintenance, staged
    * roll-forward crash-safe via [[BatchParts]]. Key-deduped on fold:
    * transient duplicate rows cannot arise from the commit protocol
    * (the anti-join in [[step]] plus replay-overwrites), but a fold is
    * the place to make that a guarantee rather than an inference.
    * The two folds are independent relations — a crash between them
    * leaves one folded and one not, which readers assemble
    * identically.
    *
    * Compaction is also where [[forget]]'s tombstones are applied
    * PHYSICALLY (the fold anti-joins them out) and then retired —
    * only the shelf partitions listed at entry (the [[BatchParts]]
    * tombstone shelf's contract), and only after both folds:
    * a crash between the folds leaves the tombstones in place, still
    * masking the unfolded store, and the re-run's anti-join on the
    * already-clean store is a no-op. Until a compaction applies them,
    * a re-arrival of a forgotten doc_id is dropped like any
    * already-indexed id (the store row still exists, masked); after
    * retirement the id is free to be indexed anew.
    */
  def compact(s: SparkSession, cfg: Config): Unit = {
    // recovery FIRST, horizon after: crash-debt folds (a staging
    // committed but not yet renamed) must become visible parts before
    // the horizon is read, or the body would fold against a view that
    // a moment later gains a whole fold
    Seq("postings", "doclens").foreach(k =>
      BatchParts.recoverFold(s, s"${cfg.root}/$k"))
    horizon(s, cfg).foreach { h =>
      val tombParts = BatchParts.tombstoneParts(s, cfg.root)
      val tomb = broadcast(BatchParts.tombstoneIds(s, cfg.root, "doc_id", tombParts))
      // the two stores' folds are independent relations over disjoint
      // dirs ("a crash between them leaves one folded and one not,
      // which readers assemble identically" — the scaladoc's own
      // contract), so they run concurrently (guide §2.6, r20): one
      // fold's sidecar aggregate and commit rename overlap the other
      // fold's map work. Tombstone retirement stays AFTER both.
      LivePipeline.runWave(
        for ((kind, schema, keys, bexpr) <- Seq(
            ("postings", PostingSchema, Seq("word", "doc_id"), wordBucket),
            ("doclens", DoclenSchema, Seq("doc_id"), idBucket))) yield { () =>
        val dir = s"${cfg.root}/$kind"
        val parts = BatchParts.effectiveParts(s, dir).filter(_._1 <= h)
        // fold when there is history or tombstones to apply — or when
        // the lone fold predates the bucketed probe layout (migration)
        val refold = parts.length > 1 || (parts.nonEmpty && tombParts.nonEmpty) ||
          parts.headOption.exists { case (_, p, isFold) =>
            isFold && !BatchParts.foldBuckets(s, p).contains(B.toLong)
          }
        if (refold) {
          val hk = parts.last._1
          val gen = BatchParts.nextFoldGen(s, dir)
          // bucketed re-layout (doclens by doc_id for the step's replay
          // probe, postings by word for serving's term-bucket pruning)
          // via the shared marker-gated staging
          // the dedup rides stageBucketedFold's bucket exchange (r19:
          // the former dropDuplicates here was a second full exchange
          // of the store); the tombstone anti-join is a broadcast
          // filter, so it commutes with the dedup
          val flat = parts.map { case (_, p, isFold) =>
              BatchParts.readPartFlat(s, p, isFold, schema)
            }.reduce(_.unionByName(_))
            .join(tomb, Seq("doc_id"), "left_anti")
          // full key sort: postings lay (word, doc_id) so a word's run
          // is doc_id-sorted — the serving path's candidate lookups
          // push In(doc_id) and skip row groups WITHIN a common term's
          // posting list, not just across words; doclens keep their
          // single doc_id key
          BatchParts.stageBucketedFold(s, dir, hk, gen, flat, bexpr, B, keys,
            dedupKeys = keys)
          // Fold-side ADDITIVE aggregates, written INSIDE the staging
          // dir before the commit rename (atomic with the fold; the
          // underscore prefix hides them from the fold's own partition
          // discovery): `_termdf(word, df)` for postings and
          // `_stats(n_docs, total_tokens)` for doclens. BM25's
          // corpus-wide statistics are additive over docs (the object
          // scaladoc's decomposition), so serving assembles exact df /
          // n_docs / total_tokens from these tiny relations plus
          // bounded deltas (post-fold batch parts, key-pushed
          // tombstone lookups) instead of re-aggregating the corpus
          // per query — the last corpus-proportional serve reads.
          // Both read back the JUST-STAGED fold (r19): the old spelling
          // re-ran the whole union+dedup a second time per sidecar;
          // the staged files are the deduped store, column-pruned to
          // the one or two columns each aggregate needs.
          val staging = BatchParts.stagingPath(dir, hk, gen)
          val staged = s.read.option("basePath", staging)
            .schema(schema.add(StructField("bucket", IntegerType)))
            .parquet(staging)
          if (kind == "postings")
            staged.groupBy("word").agg(count(lit(1)).as("df"))
              .write.mode("overwrite").parquet(s"$staging/_termdf")
          else
            staged.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
              .na.fill(0L)
              .write.mode("overwrite").parquet(s"$staging/_stats")
          BatchParts.commitFold(s, dir, hk, gen)
        }
        })
      BatchParts.retireTombstoneParts(s, cfg.root, tombParts)
    }
  }
}
