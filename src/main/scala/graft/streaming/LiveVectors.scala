package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.{Cols, Engine}
import graft.operators.Similarity

/** Streaming ANN-index maintenance: the n2 sign-LSH serving path with
  * its bucket-partitioned signature store built CONTINUOUSLY from an
  * arriving embedding stream — the vector-side sibling of
  * [[LivePipeline]] (a training-data engine ingests embeddings at the
  * same cadence as documents; rebuilding the index per batch would be
  * corpus-shaped work for batch-sized news).
  *
  * Store layout under `Config.root`:
  *   - `planes/` — the hyperplane dim, written ONCE at seed time: the
  *     planes are the index's identity (a signature is only comparable
  *     to signatures under the same planes), so they are frozen before
  *     the first batch and every later batch and every query reads the
  *     same store;
  *   - `sigs/batch=<id>/bucket=<b>/` — per-batch signature partitions,
  *     bucket-partitioned WITHIN the batch dir. The batch dir's own
  *     `_SUCCESS` is the commit marker (single store — no multi-store
  *     commit ordering needed), and a replayed batch id overwrites only
  *     its own partition: the [[LivePipeline]] exactly-once discipline.
  *     Folds commit as `sigs/fold=<h>-<gen>/bucket=<b>/` (the
  *     [[BatchParts]] rename-then-deferred-GC protocol), with the
  *     same bucket level inside.
  *
  * Serving reads the effective dirs as ONE multi-path relation
  * (explicit schema; each dir root contributes its `bucket=` level as
  * a partition column), so a query's bucket predicate PRUNES at the
  * directory level across every batch — the scan stays ~corpus/2^bits
  * no matter how many batches built the index (pinned in ScaleSpec).
  * Arriving vec_ids already in the committed index are dropped
  * (producer retries with fresh batch ids), via an anti-join whose
  * store side is a vec_id-only column-pruned scan.
  */
object LiveVectors {

  final case class Config(root: String)

  private val NumPlanes = 8

  /** Data columns; `bucket` (string — inference would read "00101101"
    * back as an integer and drop leading zeros, the Similarity.SigSchema
    * lesson) and `batch` are partition columns and typed here so
    * discovery cannot mis-infer them.
    */
  private val SigSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType),
    StructField("norm", DoubleType),
    StructField("bucket", StringType),
    StructField("batch", LongType)))
  /** [[SigSchema]] minus the `batch` dir-name level — the shape every
    * read assembles: batch and fold dirs alike carry (data cols +
    * `bucket=` subdirs), so one plain multi-path read covers both and
    * bucket pruning still sees a partition column per path root.
    */
  private val SigData = StructType(SigSchema.filterNot(_.name == "batch"))

  private val PlaneSchema = StructType(Seq(
    StructField("hid", LongType),
    StructField("hv", ArrayType(FloatType))))

  /** Start the continuous intake over a streaming `(vec_id, embedding,
    * label)` frame, freezing `planes` (`hid`, `hv` — `NumPlanes` rows)
    * as the index's hyperplane dim if none is stored yet.
    */
  def start(vectors: DataFrame, planes: DataFrame, cfg: Config): StreamingQuery = {
    ensurePlanes(planes, cfg)
    val fn: (DataFrame, Long) => Unit = (b, id) => step(b, id, cfg)
    vectors.writeStream
      .option("checkpointLocation", s"${cfg.root}/_checkpoint")
      .foreachBatch(fn)
      .start()
  }

  /** Freeze the hyperplane dim — first writer wins, later calls are
    * no-ops (re-planing would silently orphan every stored signature).
    * The hid set is validated HERE, the cheap place: [[Similarity
    * .signaturesOf]] builds bit columns only for hids 1..NumPlanes, so
    * any other id set (0-based is the natural mistake) would aggregate
    * NULL bits into NULL buckets and permanently break every query
    * against the frozen index.
    */
  def ensurePlanes(planes: DataFrame, cfg: Config): Unit = {
    val dir = new Path(s"${cfg.root}/planes")
    val fs = Engine.fileSystem(planes.sparkSession, dir)
    if (!fs.exists(new Path(dir, "_SUCCESS"))) {
      val hids = planes.select("hid").collect().map(_.getLong(0)).sorted.toSeq
      require(hids == (1L to NumPlanes),
        s"planes must carry hid 1..$NumPlanes exactly, got $hids")
      planes.write.mode("overwrite").parquet(dir.toString)
    }
  }

  private def planesOf(s: SparkSession, cfg: Config): DataFrame =
    s.read.schema(PlaneSchema).parquet(s"${cfg.root}/planes")

  /** One incremental step: drop already-indexed ids, sign the batch
    * against the frozen planes (same [[Similarity.signaturesOf]]
    * spelling as the batch store build), append one bucket-partitioned
    * batch dir.
    */
  def step(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    val s = batch.sparkSession
    // writer-side fold recovery (single-writer: step and compact are
    // the same maintenance owner, serialized)
    BatchParts.recoverFold(s, s"${cfg.root}/sigs")
    // ONE listing serves the replay check and the index read
    val parts = BatchParts.effectiveParts(s, s"${cfg.root}/sigs")
    if (BatchParts.isCommittedIn(parts, batchId)) return
    if (batch.isEmpty) return
    // Replay/retry dedup with the flipped-probe discipline
    // ([[LivePipeline.curatePack]]): for a streaming micro-batch the
    // committed index's vec_id scan (column-pruned — one long column)
    // is filtered MAP-SIDE against a broadcast of the batch's ids and
    // the batch-sized matches broadcast back into the anti-join, so
    // the corpus-shaped index side is never exchanged. (Unlike the
    // doclens store, the sigs store is partitioned by SIGNATURE bucket
    // — the serving key — so the vec_id probe cannot also
    // partition-prune; the residual per-batch cost is the one-column
    // scan.) A seed-class batch id (< 0) would keep the keyed
    // anti-join — a corpus-sized "batch" must never broadcast.
    // Tombstoned ids are excluded too: an arrival of a forgotten id
    // stays dropped until the tombstones are retired, so the
    // compact-crash window (rows applied, tombstones not yet deleted)
    // can never erase a legitimately re-admitted vector.
    val deduped = batch.dropDuplicates("vec_id")
    // one narrow count over the raw batch gates the broadcast flip
    // ([[LivePipeline.FlipMaxRows]]: a catch-up batch after downtime
    // must keep the keyed join, never broadcast itself)
    val dropped =
      if (parts.isEmpty) deduped
      else if (batchId < 0 || batch.count() > LivePipeline.FlipMaxRows)
        deduped.join(rawIndexFrom(s, cfg, parts).select("vec_id"),
          Seq("vec_id"), "left_anti")
      else {
        val matched = broadcast(rawIndexFrom(s, cfg, parts).select("vec_id")
          .join(broadcast(deduped.select("vec_id")), Seq("vec_id"), "left_semi"))
        deduped.join(matched, Seq("vec_id"), "left_anti")
      }
    val fresh = dropped
      .join(broadcast(BatchParts.tombstoneIds(s, cfg.root, "vec_id")),
        Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a batch whose arrivals are all already indexed writes nothing
      // (the empty-batch skip discipline): idempotence doesn't need
      // the marker — the anti-join already makes a re-run a no-op
      if (!fresh.isEmpty)
        Similarity.withNorm(fresh)
          .join(Similarity.signaturesOf(fresh, planesOf(s, cfg)), "vec_id")
          .repartition(col("bucket")) // one file per bucket directory
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"${cfg.root}/sigs/batch=$batchId")
    } finally { fresh.unpersist(); () }
  }

  /** Right-to-be-forgotten for the vector index: vec_ids go on the
    * shared [[BatchParts]] tombstone shelf and leave every [[topK]]
    * result immediately (a broadcast anti-join in [[index]]), and
    * [[compact]] removes their rows physically and retires the applied
    * tombstone partitions. Like [[LiveIndex]] and
    * unlike the dedup stores, an index SERVES content — forgetting
    * must actually empty the shelf. A re-arrival of a forgotten
    * vec_id is dropped until a compaction applies the tombstones
    * (the store row still exists, masked); after retirement the id
    * can be indexed anew.
    */
  def forget(s: SparkSession, cfg: Config, vecIds: Seq[Long]): Unit =
    BatchParts.appendTombstones(s, cfg.root, "vec_id", vecIds)

  /** The index as one multi-path relation over the effective parts
    * (the newest committed fold plus the batches past its horizon —
    * [[BatchParts.effectiveParts]], one listing). Reader-side and
    * non-mutating; safe under concurrent maintenance because a fold
    * commits by rename and superseded dirs are only GC'd from the
    * next writer op. Tombstoned vec_ids are masked out ([[forget]]).
    */
  def index(s: SparkSession, cfg: Config): DataFrame =
    rawIndex(s, cfg).join(broadcast(BatchParts.tombstoneIds(s, cfg.root, "vec_id")),
      Seq("vec_id"), "left_anti")

  private def rawIndex(s: SparkSession, cfg: Config): DataFrame =
    rawIndexFrom(s, cfg, BatchParts.effectiveParts(s, s"${cfg.root}/sigs"))

  private def rawIndexFrom(s: SparkSession, cfg: Config,
      parts: Seq[(Long, String, Boolean)]): DataFrame = {
    val dir = s"${cfg.root}/sigs"
    val (foldP, batchP) = parts.partition(_._3)
    // each piece needs a basePath ANCHOR for its bucket= level (a
    // multi-root read of bucket-partitioned dirs without one trips
    // partition-discovery conflicts): the batch dirs anchor at the
    // store root (batch + bucket as partition cols, batch dropped),
    // the fold dir — at most one — anchors at itself. ≤ 2-ary union.
    val pieces =
      foldP.map(p => s.read.option("basePath", p._2).schema(SigData).parquet(p._2)) ++
        (if (batchP.isEmpty) Seq.empty
         else Seq(s.read.option("basePath", dir).schema(SigSchema)
           .parquet(batchP.map(_._2): _*).drop("batch")))
    pieces.reduceOption(_.unionByName(_))
      .getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row], SigData))
  }

  /** Fold the effective parts into one `fold=<h>-<gen>` dir — the
    * [[LivePipeline.compact]] small-files story for the vector index,
    * under the shared [[BatchParts]] rename-commit + deferred-GC
    * protocol (stage to `.compact-<h>-<gen>`, bucket-partitioned so
    * pruning survives the fold; commit by one atomic rename; sources
    * GC'd from the next writer op, so concurrent serves keep
    * reading). Simpler here than the pipeline: the batch dir's
    * `_SUCCESS` IS the batch commit marker (single store), so any
    * committed dir is foldable — a crashed step leaves an uncommitted
    * dir this listing never sees, and its replay overwrites only that
    * dir. [[step]] completes interrupted folds before reading. The
    * fold applies and retires [[forget]]'s tombstones through the
    * [[BatchParts]] tombstone shelf.
    */
  def compact(s: SparkSession, cfg: Config): Unit = {
    val dir = s"${cfg.root}/sigs"
    BatchParts.recoverFold(s, dir)
    val parts = BatchParts.effectiveParts(s, dir)
    // the fold also applies forget()'s tombstones physically and
    // retires exactly the parts it anti-joined, AFTER the fold commits
    // (a crash before the commit leaves them in place, still masking;
    // the re-run's anti-join on the already-clean fold is a no-op). No
    // fold, no retirement: on an empty store a tombstone must keep
    // masking the forgotten id's later arrival. A tombstone-only fold
    // keeps the horizon and bumps the generation — committed under a
    // fresh fold= name, never overwriting the dir readers are on.
    val tombParts = BatchParts.tombstoneParts(s, cfg.root)
    if (parts.length > 1 || (parts.nonEmpty && tombParts.nonEmpty)) {
      val h = parts.last._1
      val gen = BatchParts.nextFoldGen(s, dir)
      rawIndexFrom(s, cfg, parts)
        .dropDuplicates("vec_id")
        .join(broadcast(BatchParts.tombstoneIds(s, cfg.root, "vec_id", tombParts)),
          Seq("vec_id"), "left_anti")
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(BatchParts.stagingPath(dir, h, gen))
      BatchParts.commitFold(s, dir, h, gen)
      BatchParts.retireTombstoneParts(s, cfg.root, tombParts)
    }
  }

  private def ad(a: Array[Float]) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(a.map(x => x: Any))

  /** Per-root memo of the frozen planes — planes never change for the
    * life of an index, and re-collecting them per query would put a
    * driver-side point-read job ahead of every serve (the round-9
    * probeParams lesson: at a ~0.2 s scheduling floor that doubles the
    * latency of a single-pruned-scan query).
    */
  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[(Long, Array[Float])]]

  /** Bucket-pruned top-k cosine serve: the query's signature is
    * `NumPlanes` driver-side DecimalDot products against the frozen
    * planes (bit-identical with the stored signatures), optionally
    * widened to its Hamming-1 neighbors (`probes` > 1, the n8
    * multi-probe recall recovery); the corpus-side work is one
    * partition-pruned scan of the probed `bucket=` directories.
    */
  def topK(s: SparkSession, cfg: Config, q: Array[Float], k: Int,
      probes: Int = 1): DataFrame = {
    val planes = planeCache.getOrElseUpdate(cfg.root,
      planesOf(s, cfg).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1))
    require(planes.length == NumPlanes, s"expected $NumPlanes stored planes")
    val qb = planes.map { case (_, hv) =>
      if (graft.functions.DecimalDot.dot(ad(q), ad(hv)) >= 0) "1" else "0"
    }.mkString
    val buckets = (qb +: (0 until NumPlanes).map(i =>
      qb.updated(i, if (qb(i) == '1') '0' else '1'))).take(math.max(1, probes))
    val qn = math.sqrt(graft.functions.DecimalDot.dot(ad(q), ad(q)))
    index(s, cfg)
      .filter(col("bucket").isin(buckets: _*))
      .withColumn("cos",
        Cols.fastDot(col("embedding"), typedLit(q)) / (col("norm") * lit(qn)))
      .select("vec_id", "bucket", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }
}
