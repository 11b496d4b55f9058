package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Cols, Tables}

/** Deduplication operator family over the `documents` / `embeddings`
  * tables — the training-data-pipeline extensions beyond the reference's
  * own surface (SURVEY.md §7.5 north star).
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is a single hash-shuffle on `md5(text)`;
  *  - MinHash-LSH is the standard shingle→signature→band pipeline: one
  *    explode + partial-aggregated groupBy(doc) for signatures, then a
  *    self-equi-join on (band_id, band_hash) — i.e. a shuffle keyed on
  *    band buckets, never an all-pairs product. Near-duplicate-heavy
  *    corpora skew individual buckets; AQE skew-join handles moderate
  *    skew, and the [[MaxBucketDocs]] bucket-size cap drops pathological
  *    buckets (with [[MaxShingleDf]] doing the same for d8's raw-shingle
  *    join) so one degenerate boilerplate bucket can't go quadratic;
  *  - SimHash is one explode + one groupBy(doc) — embarrassingly
  *    parallel, no pairwise stage at all;
  *  - embedding near-dup blocks pairs by `label` (stand-in for an IVF /
  *    coarse-quantizer cell at scale) so the pairwise stage is per-block.
  *
  * All hash material is md5 (identical in Spark and DuckDB), decimal-cast
  * dot products keep float results bit-identical cross-engine.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private val NumHashes = 8
  private val NumBands  = 4 // 2 rows per band

  /** Materialized signature store: `(doc_id, sh, sig)` — distinct 3-word
    * shingles (native one-pass [[graft.functions.WordShingles]]) and the
    * 8-hash MinHash signature (native [[graft.functions.MinHashSigs]];
    * h_i = min over shingles of md5(i || '|' || shingle), value-identical
    * with the SQL min-of-md5 spelling the oracle uses) — written ONCE per
    * (JVM, dataset) and read back by every dedup pass.
    *
    * This is the 100 TB pattern: signatures are a deterministic function
    * of the corpus, so they are computed at ingest time (the one-time
    * write below, where the repartition spreads digest CPU — the local
    * documents parquet is a single split/row-group, so read-split tuning
    * cannot) and every downstream pass (d2 candidates, d3 verify, d7
    * clustering) starts from a parallel parquet scan with NO shuffle and
    * no digest recompute. Docs with zero shingles are dropped, matching
    * the oracle's explode semantics.
    */
  private val storeCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def sigStore(s: SparkSession, d: String): DataFrame = {
    val path = storeCache.getOrElseUpdate(d, {
      val out = Stores.dir(s, d, "minhash-store")
      Tables.documents(s, d)
        .repartition(col("doc_id")) // one-time ingest cost, amortized over every pass
        .select(col("doc_id"), call_function("word_shingles", col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("sh"), call_function("minhash_sigs", col("sh")).as("sig"))
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
  }

  /** Exploded shingle rows (the n-gram Jaccard intersection join input). */
  private def shingles(s: SparkSession, d: String): DataFrame =
    sigStore(s, d).select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** (doc_id, band_id, band_hash) rows — LSH bucket keys, derived from the
    * materialized store (4 md5s per doc; no cache needed since the
    * expensive signatures are precomputed).
    */
  private def bands(s: SparkSession, d: String): DataFrame = {
    val bandCols = (0 until NumBands).map(j =>
      md5(concat(col("sig")(2 * j), col("sig")(2 * j + 1))))
    sigStore(s, d)
      .select(col("doc_id"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bh")
  }

  /** Map-side LSH band keys for ARRIVING documents — the probe-side
    * spelling of [[bands]] for rows that are NOT in any materialized
    * store yet (the d13 / streaming-ingest shape): `(doc_id, band_id,
    * bh)` derived straight from `text` with the same native expressions
    * the store build uses ([[graft.functions.WordShingles]] →
    * [[graft.functions.MinHashSigs]] → per-band md5), so probe keys are
    * value-identical with store keys. Zero-shingle docs (< 3 words)
    * emit no keys, matching the store's drop. Pure per-row expressions:
    * drops unchanged into batch and streaming plans.
    */
  def bandKeys(docs: DataFrame): DataFrame = {
    val sig = call_function("minhash_sigs",
      call_function("word_shingles", col("text")))
    val bandCols = (0 until NumBands).map(j =>
      md5(concat(col("sig")(2 * j), col("sig")(2 * j + 1))))
    // One shingle+sign pass per row: a zero-shingle doc yields an EMPTY
    // signature (MinHashSigs' empty-input contract), and the when()
    // routes it to an empty band array that posexplode drops — no
    // pre-filter, whose predicate-pushdown substitution would
    // re-evaluate word_shingles ahead of the projection (this is the
    // streaming intake's costliest per-doc expression). The two
    // projects stay separate because `sig` is referenced by all eight
    // band columns (CollapseProject keeps multi-referenced non-cheap
    // aliases materialized).
    docs
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), posexplode(
        when(size(col("sig")) === NumHashes, array(bandCols: _*))
          .otherwise(array().cast(
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType, containsNull = false)))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bh")
  }

  /** Distinct probe-able buckets of an existing band table with the
    * [[MaxBucketDocs]] skew cap applied — the "existing corpus" side of
    * the d13 incremental probe. A viral bucket (every page sharing a
    * banner) would fan each arriving member out by its size; buckets
    * over the cap are dropped via broadcast anti-join (the hot list is
    * tiny by construction).
    */
  def cappedBuckets(bandRows: DataFrame): DataFrame =
    bandRows.join(broadcast(hotBuckets(bandRows, distinctDocs = true)),
        Seq("band_id", "bh"), "left_anti")
      .select("band_id", "bh").distinct()

  /** The (band_id, bh) buckets over the [[MaxBucketDocs]] cap — the ONE
    * spelling of the LSH skew-cap hot list (previously three divergent
    * copies). `distinctDocs` picks the size measure: physical rows for
    * the batch/materialized-store spellings (matching their count(*)
    * oracles), distinct docs for the LIVE store read, where an
    * interrupted compaction may transiently duplicate rows and a
    * duplicate must not push a bucket over the cap.
    */
  private[graft] def hotBuckets(bandRows: DataFrame,
      distinctDocs: Boolean): DataFrame = {
    val bsz = if (distinctDocs) countDistinct(col("doc_id")) else count(lit(1))
    bandRows.groupBy("band_id", "bh").agg(bsz.as("bsz"))
      .filter(col("bsz") > MaxBucketDocs)
      .select("band_id", "bh")
  }

  /** Bucket-size cap for the LSH self-join: a band bucket holding more
    * than this many docs contributes O(n²) candidate pairs — on a
    * boilerplate-heavy corpus one degenerate bucket (every page sharing a
    * banner) can dwarf the rest of the job. Buckets above the cap are
    * dropped entirely: their members look alike in ≥2 of 8 MinHash
    * coordinates purely by mass, and true near-dup pairs inside them are
    * still recoverable from their other 3 band keys. Sized ~2× the
    * largest observed real bucket (sf0.1 max shingle df is 25), so it
    * only engages on pathological skew.
    */
  private[graft] val MaxBucketDocs = 50

  /** Document-frequency cap for the d8 shingle join, same rationale: a
    * stopword-like shingle ("the end of") present in df docs creates a
    * df² join blow-up while carrying no contamination signal. Shingles
    * with df above the cap are removed from the shingle universe before
    * splitting (so overlap denominators stay consistent).
    */
  private val MaxShingleDf = 100

  /** Candidate pairs: docs sharing at least one LSH band bucket, with the
    * [[MaxBucketDocs]] skew cap applied. The hot-bucket list is tiny by
    * construction (only pathological buckets exceed the cap), so the cap
    * is a broadcast anti-join — no extra shuffle of the band table.
    */
  private def candidatePairs(s: SparkSession, d: String): DataFrame = {
    val capped = bands(s, d)
      .join(broadcast(hotBuckets(bands(s, d), distinctDocs = false)),
        Seq("band_id", "bh"), "left_anti")
    val a = capped.select(col("doc_id").as("doc_a"), col("band_id"), col("bh"))
    val b = capped.select(col("doc_id").as("doc_b"), col("band_id"), col("bh"))
    a.join(b, Seq("band_id", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  // ── Shared oracle CTE fragments (DuckDB spelling of the same algebra;
  //    1-based list indexing there) ─────────────────────────────────────
  private val shinglesCte: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |shraw AS (SELECT doc_id, unnest(generate_series(1, len(l)-2)) AS i, l FROM w),
      |shingles AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM shraw)""".stripMargin
  private val mhCte: String =
    s"mh AS (SELECT doc_id, ${(0 until NumHashes)
      .map(i => s"min(md5('$i|' || shingle)) AS h$i").mkString(", ")} FROM shingles GROUP BY doc_id)"
  private val bandsCte: String =
    "bands AS (" + (0 until NumBands)
      .map(j => s"SELECT doc_id, $j AS band_id, md5(h${2 * j} || h${2 * j + 1}) AS bh FROM mh")
      .mkString(" UNION ALL ") + ")"
  private val candCte: String =
    s"""bhot AS (SELECT band_id, bh FROM bands GROUP BY band_id, bh
       |  HAVING count(*) > $MaxBucketDocs),
       |bcap AS (SELECT b.* FROM bands b ANTI JOIN bhot h
       |  ON b.band_id = h.band_id AND b.bh = h.bh),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bcap a JOIN bcap b ON a.band_id = b.band_id AND a.bh = b.bh
       |  WHERE a.doc_id < b.doc_id)""".stripMargin

  def queries: Map[String, Q] = Map(
    // Exact dedup: one hash-shuffle; canonical = min doc_id per content hash.
    "d1_exact_dedup" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("canonical_doc"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash")
    },
    // MinHash-LSH candidate pairs (8 hashes, 4 bands × 2 rows, 3-word shingles).
    "d2_minhash_lsh" -> { (s, d) =>
      candidatePairs(s, d).orderBy("doc_a", "doc_b")
    },
    // n-gram Jaccard verification of the LSH candidates (exact shingle-set
    // overlap computed only on candidate pairs — never all-pairs).
    "d3_ngram_jaccard" -> { (s, d) =>
      // referenced three times (two sides of the intersection join + the
      // per-doc sizes) — each reference is a cheap parallel re-read of the
      // materialized store, so no cache
      val toks = shingles(s, d)
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = candidatePairs(s, d)
        .join(toks.as("ta"), col("doc_a") === col("ta.doc_id"))
        .join(toks.as("tb"),
          col("doc_b") === col("tb.doc_id") && col("ta.shingle") === col("tb.shingle"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
        .withColumn("jaccard",
          col("n_common").cast("double") /
            (col("sa.sz") + col("sb.sz") - col("n_common")).cast("double"))
        .filter(col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "n_common", "jaccard")
        .orderBy("doc_a", "doc_b")
    },
    // SimHash: 32-bit fingerprint; per-bit pseudo-random sign from md5,
    // weighted by term frequency. No pairwise stage (pairs: d6).
    "d4_simhash" -> { (s, d) =>
      simhashes(s, d).orderBy("doc_id")
    },
    // Embedding cosine near-dup, blocked by label (per-block pairwise;
    // at scale the block key is an IVF cell id). Norms are computed once
    // per vector before the pairwise stage, and the per-pair dot runs as
    // the native DecimalDot expression — same values as the lambda
    // spelling, ~10× less per-pair work.
    "d5_embedding_neardup" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .withColumn("norm", sqrt(Cols.fastDot(col("embedding"), col("embedding"))))
      val a = e.select(col("label"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("norm").as("na"))
      val b = e.select(col("label"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("norm").as("nb"))
      a.join(b, Seq("label"))
        .filter(col("vec_a") < col("vec_b"))
        // filter-then-verify: cheap double dot prunes pairs clearly below
        // the threshold (margin ≫ decimal-vs-double divergence), the
        // exact decimal dot decides the survivors — bit-identical results
        // at a fraction of the pairwise cost.
        .filter(call_function("float_dot", col("ea"), col("eb")) / (col("na") * col("nb"))
          >= 0.35 - 1e-6)
        .withColumn("cos", Cols.fastDot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.35)
        .select("label", "vec_a", "vec_b", "cos")
        .orderBy("vec_a", "vec_b")
    }
  )

  private val SimBits = 32

  /** SimHash fingerprints (doc_id, simhash), shared by d4 and d6 —
    * materialized once per (JVM, dataset) like [[sigStore]]: the
    * fingerprint is a deterministic function of the corpus, so the
    * two-shuffle digest computation is ingest-time work and every
    * downstream pass is a parallel parquet scan.
    */
  private val simCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def simhashes(s: SparkSession, d: String): DataFrame =
    simCache.getOrElseUpdate(d, {
      val wc = Tables.documents(s, d)
        .repartition(col("doc_id")) // one-time: spread digest CPU off the single read split
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      // one md5 per word: hex digit i supplies the pseudo-random sign for
      // bit i (32 digits = 32 bits), instead of 32 digests per word
      val sums = (0 until SimBits).map(i =>
        sum(when(substring(md5(col("word")), i + 1, 1) < "8",
          col("cnt")).otherwise(-col("cnt"))).as(s"s$i"))
      val bits = (0 until SimBits).map(i => when(col(s"s$i") > 0, lit("1")).otherwise(lit("0")))
      val out = Stores.dir(s, d, "simhash-store")
      wc.groupBy("doc_id").agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), concat(bits: _*).as("simhash"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    })

  /** Force the one-time materializations (minhash signature store,
    * simhash fingerprint store) for `d` — called by Bench's warm-up so
    * recorded medians reflect steady-state serving, not ingest cost.
    */
  def ensureStores(s: SparkSession, d: String): Unit = {
    sigStore(s, d)
    simhashes(s, d)
  }

  /** Wall seconds the LAST `x37_intake_bucketed` invocation spent in its
    * store-BUILD phase (seed steps + compact, which run eagerly inside
    * the query function; the probe executes lazily at the caller's
    * action). Bench reads this after each timed x37 sample to split the
    * entry into `x37_build_sec` / `x37_probe_sec` (r14 verdict #3).
    * Single volatile slot — Bench times queries sequentially; -1 while
    * a build is in flight or if none ran.
    */
  @volatile private[graft] var lastX37BuildSec: Double = -1.0

  def queries2: Map[String, Q] = Map(
    // Dedup clustering: connected components over the LSH candidate
    // graph — pairs → clusters → canonical doc (min id). Iterative
    // min-label propagation, each round one self-join + aggregate; the
    // loop is driver-side control flow over distributed steps (the
    // Pregel shape; at 100 TB add per-round localCheckpoint to cut
    // lineage and AQE handles the skewed hub components).
    "d7_dedup_clusters" -> { (s, d) =>
      clusterLabels(s, d).orderBy("doc_id")
    },
    // Leakage-safe train/test split: the WHOLE near-dup cluster goes to
    // one side, so no near-dup pair can straddle the split — the
    // prevention counterpart of d8's contamination detection (a doc's
    // near-twin in the training set leaks its test answer even when the
    // exact text differs). Cluster = d7's connected component; a doc
    // outside the candidate graph is its own singleton cluster. The
    // side is the md5 of the CLUSTER id (not the doc id), so membership
    // and side are decided by the same deterministic coin for every
    // member; 205/256 ≈ 80% train. Scale shape: the label-prop loop
    // runs on the pair graph (near-dup-sized, not corpus-sized); the
    // corpus then takes ONE doc_id-keyed left join against the
    // cluster table and a per-row hash — no new corpus shuffle beyond
    // that join.
    "x33_leakage_split" -> { (s, d) =>
      val labels = clusterLabels(s, d).withColumnRenamed("cluster", "c")
      Tables.documents(s, d).select("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("c"), col("doc_id")))
        .withColumn("split",
          when(Cols.md5Prefix(concat(lit("split|"), col("cluster").cast("string")), 2) < 205,
            "train").otherwise("test"))
        .select("doc_id", "cluster", "split")
        .orderBy("doc_id")
    }
  )

  /** d7's core: connected-component labels over the LSH candidate graph
    * — `(doc_id, cluster)` with cluster = min reachable doc id; only
    * docs that appear in at least one candidate pair are present
    * (callers needing full-corpus coverage left-join and coalesce to
    * the doc's own id — x33). Iterative min-label propagation with
    * pointer doubling; the loop is driver-side control flow over
    * distributed steps (the Pregel shape).
    */
  private[operators] def clusterLabels(s: SparkSession, d: String): DataFrame = {
      // The candidate graph is small relative to the corpus (near-dup
      // pairs), so coalesce the iteration — per-round task overhead, not
      // data volume, dominates locally. The partition count is sized
      // from the ACTUAL pair count (r19 verdict #3: the former
      // `repartition(4)` was a local-mode constant in a query path — at
      // 100 TB the pair table is corpus-keyed and 4 partitions is a
      // bottleneck), capped at the session's shuffle parallelism: the
      // expensive LSH chain materializes ONCE (eager localCheckpoint),
      // the count rides that materialized RDD (one cheap job), and the
      // re-layout only runs when the count asks for a different width.
      // localCheckpoint(eager) truncates the per-round lineage (the
      // classic iterative-algorithm failure mode: exponentially growing
      // plans).
      val ck0 = candidatePairs(s, d).localCheckpoint(true)
      val rowsPerPart = 2000000L // (long, long) pairs ≈ 32 MB per task
      val nParts = math.max(1L, math.min(
        s.sessionState.conf.numShufflePartitions.toLong,
        (ck0.count() + rowsPerPart - 1) / rowsPerPart)).toInt
      val pairs =
        if (ck0.rdd.getNumPartitions == nParts) ck0
        else ck0.repartition(nParts).localCheckpoint(true)
      val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .localCheckpoint(true)
      var labels = edges.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("label")).localCheckpoint(true)
      // Round bound: label propagation converges in O(graph diameter)
      // rounds; near-dup clusters are shallow (docs similar to a common
      // ancestor), so 20 covers any realistic component. A pathological
      // 2^20-long chain would exit early with a partially-merged
      // labelling — acceptable for dedup (extra clusters, never wrong
      // merges); raise the bound for graphs with long path components.
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 20) {
        val neighborMin = edges
          .join(labels.withColumnRenamed("id", "v").withColumnRenamed("label", "nlabel"), "v")
          .groupBy(col("u").as("id")).agg(min(col("nlabel")).as("nmin"))
        // `prev` (the round's incoming label) rides along so convergence
        // is a FILTER over the checkpointed frame, not a re-join against
        // the previous labels table (r19 optimization: the old spelling
        // paid one extra keyed join + exchange per round just to count
        // changes; labels only ever decrease, so label ≠ prev is exactly
        // the old join's label ≠ old)
        val propagated = labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        // pointer doubling: label ← label(label). Neighbor-min alone needs
        // O(diameter) shuffle rounds; the shortcut halves every label
        // chain, so convergence is O(log diameter) rounds — the term that
        // matters at 100 TB, where each round is a full shuffle. (labels
        // only ever decrease, so label(label(x)) ≤ label(x) when present.)
        val short = propagated.as("a")
          .join(propagated.select(col("id").as("lid"), col("label").as("llabel")),
            col("a.label") === col("lid"), "left")
          .select(col("a.id").as("id"), col("a.prev").as("prev"),
            least(col("a.label"), coalesce(col("llabel"), col("a.label"))).as("label"))
        // lazy checkpoint: the convergence count below materializes it,
        // so each round is ONE job instead of checkpoint-job + count-job
        // (driver job-dispatch latency dominates on the tiny label table)
        val next = short.localCheckpoint(false)
        changed = next.filter(col("label") =!= col("prev")).count()
        labels = next.select("id", "label")
        rounds += 1
      }
      labels.select(col("id").as("doc_id"), col("label").as("cluster"))
  }

  def queries2b: Map[String, Q] = Map(
    // Test-set contamination sweep: split the corpus 80/20 by the same
    // deterministic md5-bucket trick as x6_hash_sampling, then find test
    // docs sharing ≥30% of their 3-gram shingles with any train doc.
    // Scale shape: one shuffle join keyed on shingle (the standard
    // contamination sweep over a training corpus) + a per-pair count —
    // both map-side combinable; shingles come from the materialized
    // store, so no digest recompute.
    "d8_contamination" -> { (s, d) =>
      // df-cap ([[MaxShingleDf]]): stopword-like shingles are removed
      // from the universe before the split, killing the quadratic bucket
      // a common shingle would create in the test×train join. The hot
      // list is tiny → broadcast anti-join.
      val hotShingles = shingles(s, d).groupBy("shingle")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxShingleDf)
        .select("shingle")
      // the split is a pure function of doc_id — computed on the DOC
      // frame BEFORE the shingle explode (one md5 per doc, carried
      // through the Generate) instead of the former join against a
      // corpus-sized (doc_id, split) dim, which only broadcast by luck
      // at local scale and is a full shuffle join of every shingle row
      // at corpus scale. Same expression, same values.
      val toks = sigStore(s, d)
        .withColumn("split",
          when(Cols.md5Prefix(concat(lit("smp|"), col("doc_id").cast("string")), 4)
            < lit(0.8) * 65536, "train").otherwise("test"))
        .select(col("doc_id"), col("split"), explode(col("sh")).as("shingle"))
        .join(broadcast(hotShingles), Seq("shingle"), "left_anti")
      val train = toks.filter(col("split") === "train")
        .select(col("doc_id").as("train_doc"), col("shingle"))
      val test = toks.filter(col("split") === "test")
        .select(col("doc_id").as("test_doc"), col("shingle"))
      val sizes = test.groupBy("test_doc").agg(count(lit(1)).as("test_sz"))
      test.join(train, "shingle")
        .groupBy("test_doc", "train_doc").agg(count(lit(1)).as("n_common"))
        .join(sizes, "test_doc")
        .withColumn("overlap", col("n_common").cast("double") / col("test_sz").cast("double"))
        .filter(col("overlap") >= 0.3)
        .select("test_doc", "train_doc", "n_common", "overlap")
        .orderBy("test_doc", "train_doc")
    },
    // SimHash near-dup pairs: hamming distance ≤ 1 over the 32-bit
    // fingerprints. Candidates via pigeonhole banding — split the
    // fingerprint into 8 nibbles; ≤1 differing bit touches ≤1 nibble, so
    // every true pair shares one of the 8 drop-one-nibble keys (28-bit
    // keys keep buckets selective) — then verify the exact bit distance.
    // Never all-pairs.
    "d6_simhash_pairs" -> { (s, d) =>
      val sh = simhashes(s, d) // materialized store: re-reads are cheap parallel scans
      val nNibs = SimBits / 4
      val combos = (0 until nNibs).map(drop => (0 until nNibs).filterNot(_ == drop))
      val keyCols = combos.zipWithIndex.map { case (nibs, c) =>
        struct(lit(c).as("combo") +:
          nibs.zipWithIndex.map { case (nib, pos) =>
            substring(col("simhash"), nib * 4 + 1, 4).as(s"n$pos")
          }: _*)
      }
      val keyed = sh.select(col("doc_id"), col("simhash"),
        explode(array(keyCols: _*)).as("k"))
      val a = keyed.select(col("doc_id").as("doc_a"), col("simhash").as("ha"), col("k"))
      val b = keyed.select(col("doc_id").as("doc_b"), col("simhash").as("hb"), col("k"))
      val hamming = (0 until SimBits).map(i =>
        when(substring(col("ha"), i + 1, 1) =!= substring(col("hb"), i + 1, 1), 1).otherwise(0))
        .reduce(_ + _)
      a.join(b, "k")
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb").distinct()
        .withColumn("hamming", hamming)
        .filter(col("hamming") <= 1)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },
    // Per-source dedup report — the sweep a pipeline runs before
    // training to decide where its duplicate mass lives: per `source`,
    // exact-duplicate rate (distinct md5(text)) and token-set-duplicate
    // rate (x4's order/multiplicity-insensitive fingerprint). One scan,
    // one combinable agg keyed by source; count(DISTINCT md5) is
    // two-level-agg-able at 100 TB (Spark plans it as such).
    "d9_dedup_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), md5(col("text")).as("th"),
          md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("th")).as("n_unique_texts"),
          countDistinct(col("fp")).as("n_unique_tokensets"))
        .withColumn("exact_dup_rate",
          lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs").cast("double"))
        .withColumn("tokenset_dup_rate",
          lit(1.0) - col("n_unique_tokensets").cast("double") / col("n_docs").cast("double"))
        .orderBy("source")
    }
  )

  def oracles2: Map[String, String] = Map(
    "x33_leakage_split" ->
      s"""WITH RECURSIVE $shinglesCte, $mhCte, $bandsCte, $candCte,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand),
         |reach(src, dst) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
         |full_lab AS (
         |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id)
         |SELECT doc_id, cluster,
         |  CASE WHEN CAST(('0x' || substr(md5('split|' || CAST(cluster AS VARCHAR)), 1, 2)) AS BIGINT) < 205
         |    THEN 'train' ELSE 'test' END AS split
         |FROM full_lab ORDER BY doc_id""".stripMargin,
    "d9_dedup_stats" ->
      """WITH f AS (SELECT source, md5(text) AS th,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT th) AS BIGINT) AS n_unique_texts,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_tokensets,
        |  1.0 - CAST(count(DISTINCT th) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS exact_dup_rate,
        |  1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS tokenset_dup_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "d8_contamination" ->
      s"""WITH $shinglesCte,
         |a AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS bucket
         |  FROM documents),
         |sp AS (SELECT doc_id,
         |    CASE WHEN bucket < 0.8 * 65536 THEN 'train' ELSE 'test' END AS split FROM a),
         |shot AS (SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) > $MaxShingleDf),
         |shf AS (SELECT s.* FROM shingles s ANTI JOIN shot h ON s.shingle = h.shingle),
         |tk AS (SELECT s.doc_id, shingle, split FROM shf s JOIN sp USING (doc_id)),
         |tr AS (SELECT doc_id AS train_doc, shingle FROM tk WHERE split = 'train'),
         |te AS (SELECT doc_id AS test_doc, shingle FROM tk WHERE split = 'test'),
         |sz AS (SELECT test_doc, CAST(count(*) AS BIGINT) AS test_sz FROM te GROUP BY test_doc),
         |ov AS (SELECT test_doc, train_doc, CAST(count(*) AS BIGINT) AS n_common
         |  FROM te JOIN tr USING (shingle) GROUP BY test_doc, train_doc)
         |SELECT test_doc, train_doc, n_common,
         |  CAST(n_common AS DOUBLE) / CAST(test_sz AS DOUBLE) AS overlap
         |FROM ov JOIN sz USING (test_doc)
         |WHERE CAST(n_common AS DOUBLE) / CAST(test_sz AS DOUBLE) >= 0.3
         |ORDER BY test_doc, train_doc""".stripMargin,
    "d7_dedup_clusters" ->
      s"""WITH RECURSIVE $shinglesCte, $mhCte, $bandsCte, $candCte,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand),
         |reach(src, dst) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
         |SELECT src AS doc_id, min(dst) AS cluster
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "d6_simhash_pairs" -> {
      val sums = (0 until 32).map(i =>
        s"SUM(CASE WHEN substr(md5(word), ${i + 1}, 1) < '8' THEN cnt ELSE -cnt END) AS s$i")
        .mkString(", ")
      val bits = (0 until 32).map(i => s"(CASE WHEN s$i > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      val combos = (0 until 8).map(drop => (0 until 8).filterNot(_ == drop))
      val keys = combos.zipWithIndex.map { case (nibs, c) =>
        val cols = nibs.zipWithIndex.map { case (nib, pos) =>
          s"substr(simhash, ${nib * 4 + 1}, 4) AS n$pos"
        }.mkString(", ")
        s"SELECT doc_id, simhash, $c AS combo, $cols FROM sh"
      }.mkString(" UNION ALL ")
      val hamming = (0 until 32)
        .map(i => s"(CASE WHEN substr(ha, ${i + 1}, 1) <> substr(hb, ${i + 1}, 1) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |wc AS (SELECT doc_id, word, count(*) AS cnt FROM toks
         |  WHERE length(word) > 0 GROUP BY doc_id, word),
         |sm AS (SELECT doc_id, $sums FROM wc GROUP BY doc_id),
         |sh AS (SELECT doc_id, $bits AS simhash FROM sm),
         |keyed AS ($keys),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ha, b.hb FROM
         |    (SELECT doc_id, simhash AS ha, combo, n0, n1, n2, n3, n4, n5, n6 FROM keyed) a
         |    JOIN (SELECT doc_id, simhash AS hb, combo, n0, n1, n2, n3, n4, n5, n6 FROM keyed) b
         |    USING (combo, n0, n1, n2, n3, n4, n5, n6)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, $hamming AS hamming
         |FROM cand a_b
         |WHERE ($hamming) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin
    }
  )

  /** Substring-level duplication: the n-gram-fingerprint approximation of
    * suffix-array substring dedup ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022 — their 50-token spans,
    * here word-5-grams sized to the synthetic docs). Every token position
    * contributes its 5-gram's md5; a position is duplicated if that gram
    * occurs in ≥ 2 distinct documents; a document is flagged when most of
    * its positions are covered by cross-document duplicated spans.
    *
    * Scale shape: one explode → fixed-width md5 shuffle keys → one
    * map-side-combinable (gh, doc_id) pre-aggregate → one gh-keyed
    * window for the distinct-doc counts → one doc-keyed fold. LINEAR:
    * the gram pipeline runs once, no occurrence-stream self-join, and
    * never pairwise — cost is O(total positions), not O(docs²). At
    * 100 TB the d8 hot-list cap applies unchanged to boilerplate grams
    * (they are also the window-skew keys), and positions can be strided
    * (every k-th gram) for a linear cost reduction at known recall.
    */
  /** Public substring-duplication operator: per-document duplicated-span
    * stats from word-`gramWords`-gram fingerprints over `docs` (needs
    * `doc_id`, `text`). Columns: `doc_id`, `n_grams`, `n_dup_grams`,
    * `dup_frac`, `is_contaminated` (dup_frac > `flagAt`).
    *
    * Two 100 TB cost levers, both default-off (defaults reproduce the
    * exact gate semantics):
    *  - `stride`: only every `stride`-th position contributes a gram —
    *    a linear cost reduction at known recall (a duplicated span of
    *    length L ≥ gramWords + stride − 1 still lands on a sampled
    *    position). `stride = 1` is exhaustive.
    *  - `maxGramDf`: grams in more than this many distinct documents
    *    (viral boilerplate — a banner paragraph repeated across millions
    *    of pages) are split off via a broadcast hot-list BEFORE the
    *    gram-keyed join, exactly like d8's [[MaxShingleDf]]. Unlike a
    *    lossy cap, the ANSWER is unchanged for any `maxGramDf ≥ 1`:
    *    a gram over the cap is in ≥ 2 documents, hence duplicated by
    *    definition, so its positions are counted as dup from the tiny
    *    hot list without carrying the hot key through the join.
    */
  def substringDupStats(docs: DataFrame, gramWords: Int, flagAt: Double = 0.5,
      stride: Int = 1, maxGramDf: Int = Int.MaxValue): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    require(maxGramDf >= 1, "maxGramDf must be >= 1 (over-cap grams are counted as dup)")
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("l"))
      .withColumn("n", size(col("l")))
    val positions = sequence(lit(0), col("n") - gramWords)
    val sampled =
      if (stride == 1) positions
      else filter(positions, i => i % stride === 0)
    val grams = toks.filter(col("n") >= gramWords)
      .select(col("doc_id"),
        explode(transform(sampled,
          i => md5(concat_ws(" ", slice(col("l"), i + 1, lit(gramWords)))))).as("gh"))
    val perDoc =
      if (maxGramDf == Int.MaxValue) {
        // LINEAR plan: pre-aggregate occurrences to (gh, doc_id, c),
        // derive each gram's distinct-doc count with one gh-partitioned
        // window over that aggregated table, fold per doc. The former
        // spelling joined the raw occurrence stream against its own
        // groupBy — two plan branches off the un-aggregated explode,
        // whose exchanges cannot be reused across the partial-agg
        // boundary, so the whole corpus-shaped gram pipeline (slice +
        // concat + md5 per position) executed TWICE. Viral-gram skew in
        // the window partition is what the `maxGramDf` lever below is
        // for, unchanged.
        val occ = grams.groupBy("gh", "doc_id").agg(count(lit(1)).as("c"))
        occ.withColumn("gdocs", count(lit(1)).over(Window.partitionBy("gh")))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_grams"),
            sum(when(col("gdocs") >= 2, col("c")).otherwise(0L)).as("n_dup_grams"))
      } else {
        val gdf = grams.groupBy("gh").agg(countDistinct(col("doc_id")).as("gdocs"))
        // hot list: tiny by construction (only boilerplate grams exceed
        // the cap); every hot gram is dup, so its positions bypass the
        // join and are tallied from the broadcast list directly
        val hot = gdf.filter(col("gdocs") > maxGramDf).select("gh")
        val cold = grams.join(broadcast(hot), Seq("gh"), "left_anti")
          .join(gdf, "gh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("c_grams"),
            sum(when(col("gdocs") >= 2, 1L).otherwise(0L)).as("c_dup"))
        val hotPerDoc = grams.join(broadcast(hot), Seq("gh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("h_grams"))
        cold.join(hotPerDoc, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("c_grams"), lit(0L)) + coalesce(col("h_grams"), lit(0L)))
              .as("n_grams"),
            (coalesce(col("c_dup"), lit(0L)) + coalesce(col("h_grams"), lit(0L)))
              .as("n_dup_grams"))
      }
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("is_contaminated", col("dup_frac") > flagAt)
  }

  /** Semantic dedup verdicts ("SemDeDup", Abbas et al. 2023): within
    * each cluster cell, a vector with a lower-id near-duplicate
    * (cosine ≥ `threshold`) is dropped in favor of that canonical
    * duplicate — the min-id-canonical convention d1/d4 use for text,
    * applied to embedding space. d5 reports the near-dup PAIRS; this is
    * the per-vector keep/drop decision a pipeline actually consumes.
    *
    * `vecs` needs `vec_id`, `embedding`, `norm`, `cell` — i.e. exactly
    * the quantizer stores ([[Ivf.kmeansVectors]]): the pairwise stage is
    * blocked on the k-means cell, which is the SemDeDup scale trick —
    * cluster first so the quadratic stage runs within cells (corpus/k
    * sized; k grows with the corpus), never across the corpus. Same
    * filter-then-verify cosine rungs as d5 (double prefilter with a
    * 1e-6 margin, exact decimal dot on survivors).
    *
    * Output per input vector: `vec_id`, `cell`, `dup_of` (lowest-id
    * in-cell near-duplicate, NULL if none), `is_kept`. Like d1's
    * canonical rule, chains are not transitively re-admitted: a vector
    * whose canonical was itself dropped stays dropped (determinism over
    * greedy-scan order-dependence).
    */
  def semanticDedupVerdicts(vecs: DataFrame, threshold: Double): DataFrame = {
    val a = vecs.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = vecs.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val dup = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(call_function("float_dot", col("ea"), col("eb")) / (col("na") * col("nb"))
        >= threshold - 1e-6)
      .filter(Cols.fastDot(col("ea"), col("eb")) / (col("na") * col("nb")) >= threshold)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    vecs.select("vec_id", "cell")
      .join(dup, Seq("vec_id"), "left")
      .withColumn("is_kept", col("dup_of").isNull)
  }

  /** Segment-level dedup, the C4/RefinedWeb "remove lines repeated
    * across documents" step generalized to delimiter-free text: each
    * document splits into consecutive non-overlapping `segWords`-word
    * segments (the "lines"), a segment appearing in ≥ `minDf` distinct
    * documents corpus-wide is boilerplate, and the cleaned text is the
    * document with its boilerplate segments removed (order preserved).
    *
    * Where d10 REPORTS span-level duplication, this operator REWRITES
    * the corpus — the actual curation transform a pipeline ships.
    * Scale shape (d8/d10's family): segment generation is map-side
    * (`transform` over the token array, no positional self-join); the
    * one corpus-shaped exchange is a combinable distinct-count agg on
    * fixed-width md5 keys; the hot list is boilerplate-sized by
    * construction and broadcasts back; the rebuild is one per-doc agg.
    * Output: `doc_id`, `n_segs`, `n_dropped`, `clean_text`.
    */
  /** (doc_id, seg_idx, seg) — each document's consecutive non-overlapping
    * `segWords`-word segments, generated map-side.
    */
  private def docSegments(docs: DataFrame, segWords: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("a"))
      .withColumn("n", size(col("a")))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ((n + ${segWords - 1}) div $segWords) - 1), " +
          s"i -> struct(i AS seg_idx, array_join(slice(a, i * $segWords + 1, $segWords), ' ') AS seg))")).as("s"))
      .select(col("doc_id"), col("s.seg_idx"), col("s.seg"))

  /** The d12 hot list on its own: md5 hashes (`gh`) of segments appearing
    * in ≥ `minDf` distinct documents. Built at ingest/index cadence;
    * boilerplate-sized, so it collects/broadcasts into
    * [[segmentDedup]]'s scrub.
    */
  def hotSegments(docs: DataFrame, segWords: Int = 4, minDf: Long = 2L): DataFrame = {
    // minDf >= 2 guards the public model-builder itself, not just
    // segmentDedup: with minDf <= 1 EVERY segment is "hot" and a
    // streaming scrub built on this model silently empties all documents
    require(segWords >= 1 && minDf >= 2, "segWords >= 1, minDf >= 2")
    docSegments(docs, segWords)
      .groupBy(md5(col("seg")).as("gh"))
      .agg(countDistinct(col("doc_id")).as("sdocs"))
      .filter(col("sdocs") >= minDf)
      .select("gh")
  }

  def segmentDedup(docs: DataFrame, segWords: Int = 4, minDf: Long = 2L): DataFrame = {
    // Deliberately TWO docSegments passes. The tempting one-pass spelling
    // (lag/sum over Window.partitionBy(gh) on a single explode) was tried
    // and reverted: it shuffles every segment row WITH its text and makes
    // a viral boilerplate segment one single-key window partition — the
    // exact skew d2's bucket cap exists for, with no cap lever here. This
    // shape's corpus exchange carries only fixed-width (gh, doc_id) keys,
    // partial-aggregates map-side, and broadcasts back a boilerplate-sized
    // hot list; the second explode is scan-bandwidth, not shuffle.
    val segs = docSegments(docs, segWords)
    val hot = hotSegments(docs, segWords, minDf).withColumn("dup", lit(true))
    val flagged = segs.withColumn("gh", md5(col("seg")))
      .join(broadcast(hot), Seq("gh"), "left")
      .select(col("doc_id"), col("seg_idx"), col("seg"),
        coalesce(col("dup"), lit(false)).as("dup"))
    // collect_list skips the CASE's NULLs, array_sort orders structs by
    // their first field (seg_idx) — kept segments rejoin in place
    flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_segs"),
      sum(when(col("dup"), 1L).otherwise(0L)).as("n_dropped"),
      concat_ws(" ", expr(
        "transform(array_sort(collect_list(CASE WHEN NOT dup THEN struct(seg_idx, seg) END)), x -> x.seg)"))
        .as("clean_text"))
  }

  def queries3: Map[String, Q] = Map(
    "d10_substring_dedup" -> { (s, d) =>
      substringDupStats(Tables.documents(s, d), gramWords = 5).orderBy("doc_id")
    },
    // C4-style boilerplate-segment removal: corpus-df over 4-word
    // segments, hot segments dropped, text rebuilt in order.
    "d12_line_dedup" -> { (s, d) =>
      segmentDedup(Tables.documents(s, d)).orderBy("doc_id")
    },
    // SemDeDup over the trained k-means cells: per-vector keep/drop
    // verdicts, pairwise only WITHIN a cell (the materialized quantizer
    // store supplies cell + norm; nothing corpus-quadratic anywhere).
    "d11_semantic_dedup" -> { (s, d) =>
      semanticDedupVerdicts(Ivf.kmeansVectors(s, d), threshold = 0.35)
        .orderBy("vec_id")
    },
    // Incremental dedup — the continuous-ingest shape: an ARRIVING batch
    // (deterministic 10% slice here) probed against the EXISTING corpus's
    // materialized LSH store, asymmetrically. The existing side is never
    // re-signed and never self-joined; the probe is a band-keyed join of
    // batch-sized bands against the store, with the d2 skew cap applied
    // to EXISTING bucket sizes (a viral existing bucket would otherwise
    // fan every arriving member out by its size). Emits, per new doc,
    // the nearest existing near-dup (min doc_id), the match count, and a
    // novelty verdict — the admit/reject signal an ingest pipeline gates
    // on. At 100 TB: store-side work is one pruned parquet scan per
    // batch, cost scales with the BATCH, not the corpus.
    "d13_incremental_dedup" -> { (s, d) =>
      val isNew = col("doc_id") % 10 === 7
      val ex = bands(s, d).filter(!isNew)
      val nw = bands(s, d).filter(isNew)
      val exCapped = ex.join(broadcast(hotBuckets(ex, distinctDocs = false)),
        Seq("band_id", "bh"), "left_anti")
      val matches = nw
        .join(exCapped.select(col("doc_id").as("dup_of"), col("band_id"), col("bh")),
          Seq("band_id", "bh"))
        .groupBy("doc_id")
        .agg(min(col("dup_of")).as("nearest_existing"),
          countDistinct(col("dup_of")).as("n_matches"))
      sigStore(s, d).filter(isNew).select("doc_id")
        .join(matches, Seq("doc_id"), "left")
        .withColumn("is_novel", col("nearest_existing").isNull)
        .orderBy("doc_id")
    },
    // Blocked edit-distance dedup — the fuzzy-match rung the fingerprint
    // family can't reach: d1/x4 need EXACT key collisions and d2's
    // shingle LSH dilutes under single-character edits spread through a
    // document, while Levenshtein counts them directly. Candidates must
    // share a (24-char prefix, length÷32) block, so the corpus never
    // self-joins unkeyed: the pair generation is a block-keyed shuffle
    // join and the quadratic term is bounded per block. Blocks larger
    // than MaxBlockDocs (boilerplate-prefix pathologies — the d2 skew
    // cap's analogue) are dropped via a broadcast anti-join before
    // pairing, so one viral prefix cannot go quadratic at corpus scale.
    // Prefix blocking trades recall (edits inside the first 24 chars
    // move a doc out of its block) for never-all-pairs — the standard
    // blocked-dedup bargain.
    "d14_fuzzy_dedup" -> { (s, d) =>
      fuzzyPairs(Tables.documents(s, d)).orderBy("doc_a", "doc_b")
    },
    // Shingle-containment near-dup — the DIRECTIONAL metric the
    // symmetric family (d2/d3 Jaccard) misses: a short document fully
    // quoted inside a long one has tiny Jaccard but containment ≈ 1.
    // Candidates come straight from the shingle posting lists (no LSH
    // round-trip — containment has no MinHash estimator), with the
    // standard two caps: posting lists longer than 16 docs are
    // boilerplate shingles and leave via broadcast anti-join BEFORE
    // pairing (pair volume ≤ df² per shingle, hard-bounded), and
    // containment divides by the SMALLER side's full shingle count, so
    // the score is the fraction of the smaller doc covered. Counts are
    // exact integers; the one division is reproducible double.
    "d15_containment" -> { (s, d) =>
      containmentPairs(Tables.documents(s, d)).orderBy("doc_a", "doc_b")
    },
    // The live intake's per-doc fate, as a batch query under the oracle
    // gate: the same curatePack the streaming pipeline runs per
    // micro-batch (graft.streaming.LivePipeline), driven with the d13
    // arriving/existing split — so the round's streaming centerpiece is
    // hash-verified against DuckDB, not only ScalaTest-verified. Fate =
    // first gate that claims the doc: within-batch canonical (min
    // doc_id per content hash), corpus hash membership, the x11
    // quality bar, the capped band-bucket novelty probe.
    "x30_intake_audit" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      val arriving = docs.filter(col("doc_id") % 10 === 7)
      val existing = docs.filter(col("doc_id") % 10 =!= 7)
      graft.streaming.LivePipeline.curatePack(
        arriving,
        existing.select(md5(col("text")).as("text_md5")),
        bandKeys(existing),
        existing.limit(0).select(col("lang"), col("doc_id").as("shard"),
          col("doc_id").as("cum")),
        // the existing corpus's admitted identities (arriving %10==7
        // ids are disjoint by construction, so the cross-batch id gate
        // is exercised but never fires — fates unchanged, oracle holds)
        existing.select(col("doc_id"), md5(col("text")).as("text_md5")),
        graft.streaming.LivePipeline.Config("unused-root"))
        .audit.orderBy("doc_id")
    },
    // The intake's INPUT CONTRACT under the oracle gate: documents with
    // deterministically injected violations — empty text (%100=13),
    // null lang (23), null text (33), an identical replayed row (43), a
    // same-id different-payload row (53), plus one null-id row — driven
    // through the same curatePack the stream runs, against empty stores
    // (cold start). Quarantine fates (malformed / id_collision) come
    // back beside the x11 fates, hash-verified against DuckDB spelling
    // the identical CASE ladder — so "an at-least-once producer cannot
    // double-pack" is cross-engine-checked, not only ScalaTest'd.
    "x31_intake_contract" -> { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "lang", "text")
        .filter(col("doc_id") % 10 === 3)
      def slice(m: Int) = base.filter(col("doc_id") % 100 === m)
      val arriving = base
        .unionByName(slice(13).select(col("doc_id"), col("lang"), lit("").as("text")))
        .unionByName(slice(23).select(col("doc_id"),
          lit(null).cast("string").as("lang"), col("text")))
        .unionByName(slice(33).select(col("doc_id"), col("lang"),
          lit(null).cast("string").as("text")))
        .unionByName(slice(43))
        .unionByName(slice(53).select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" variant")).as("text")))
        // same text under a fresh id (%100=63 clones, id-shifted past the
        // corpus) — the dup_in_batch arm, absent from the natural slice
        .unionByName(slice(63).select((col("doc_id") + 10000000L).as("doc_id"),
          col("lang"), col("text")))
        .unionByName(s.range(1).select(lit(null).cast("long").as("doc_id"),
          lit("en").as("lang"), lit("null id probe").as("text")))
      graft.streaming.LivePipeline.curatePack(
        arriving,
        arriving.limit(0).select(md5(col("text")).as("text_md5")),
        bandKeys(arriving.limit(0).select("doc_id", "text")),
        arriving.limit(0).select(col("lang"), col("doc_id").as("shard"),
          col("doc_id").as("cum")),
        arriving.limit(0).select(col("doc_id"), md5(col("text")).as("text_md5")),
        graft.streaming.LivePipeline.Config("unused-root"))
        .audit.orderBy("doc_id", "fate")
    },
    // The BUCKETED-store probe path under the oracle gate: unlike x30
    // (ad-hoc store frames), the existing corpus seeds REAL on-disk
    // stores via TWO LivePipeline.step calls — exact hashes recorded
    // pre-quality, bands/ids for the docs the seeding ladder admits
    // (canonical + quality; near-dup gating is OFF during seeding, see
    // the in-body comment) — compact() lays the bucket=hash(key)%64
    // folds (real, since round 14: two batches give it history), and
    // the arriving batch probes through probeFrames' pruned+broadcast
    // spelling (hit-bucket PartitionFilters, flipped joins). Arrivals
    // add an id-probe slice: seed ids re-sent with a different,
    // deliberately short unique payload — an ADMITTED seed id fires
    // the cross-batch identity gate (id_collision; x30 only exercises
    // it), while a NON-admitted seed id flows the normal ladder
    // (rejected ids are not burned). The DuckDB oracle spells the full
    // pipeline: seed admission (canonical + quality), the
    // admitted-only band store, capped buckets, the prior-id collision
    // arm, and the fate CASE — so the pruned probes are hash-verified
    // to lose nothing.
    "x37_intake_bucketed" -> { (s, d) =>
      // build/probe attribution (r14 verdict #3): the store build below
      // (seed steps + compact) runs EAGERLY inside this function, while
      // the returned probe frame executes lazily at the caller's
      // action — so the build's wall time is recorded here and Bench
      // subtracts it from each timed sample to report x37_build_sec /
      // x37_probe_sec separately (the probe carries the scale claim; a
      // probe regression must not hide inside build-phase noise)
      lastX37BuildSec = -1.0
      val tBuild0 = System.nanoTime()
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      val root = java.nio.file.Files.createTempDirectory("graft-x37").toString
      val cfg = graft.streaming.LivePipeline.Config(root)
      // TWO seed batches, split at the seed's median doc_id, so that
      // compact() has history to fold — a lone flat batch part skips
      // the refold, and the probe below would then run the flat keyed
      // spelling instead of the bucketed pruned+broadcast path this
      // gate exists to hash-verify (round-13's x37 covered only the
      // flat path for exactly this reason). The split MUST be
      // id-ordered (all of batch 0's ids below all of batch 1's): the
      // oracle models the seed as ONE batch whose canonical is the
      // global min doc_id per hash, and the live ladder admits the
      // EARLIEST batch's canonical — for a duplicate-hash group that
      // straddles the split, id order puts the global min in batch 0,
      // so the two spellings admit the same doc (and a batch-0
      // canonical that fails quality blocks the group in both: its
      // hash is recorded pre-quality, so batch 1's copy reads
      // dup_of_corpus). The median is one bounded agg job (a single
      // long of planning state, the o7 boundary-collect discipline);
      // its accuracy only balances the two seed batches, never the
      // result.
      //
      // Seeding runs `gateNearDups=false`: with the gate on, a batch-1
      // seed doc that band-collides with a batch-0 admission would be
      // kept OUT of the stores — a store content that depends on how
      // the seed was batched, which no single-batch oracle can spell
      // (sf0.1 exhibited exactly this: one batch-1 near-dup missing
      // from the band store flipped an arriving doc's fate). With the
      // gate off, near-dup seeds are still admitted (the documented
      // d13 posture: verdict kept as a column, stores complete), so
      // the final stores are exactly canonical+quality over the WHOLE
      // seed — the oracle's `adm` — for ANY batching. The arriving
      // batch's fates are unaffected by the flag (it gates store
      // commits, not the audit ladder), so the probe still exercises
      // every arm including near_dup.
      val seedCfg = cfg.copy(gateNearDups = false)
      val seed = docs.filter(col("doc_id") % 10 < 4)
      val mid = seed.agg(percentile_approx(col("doc_id"), lit(0.5), lit(10000)))
        .head().getLong(0)
      graft.streaming.LivePipeline.step(seed.filter(col("doc_id") <= mid), 0L, seedCfg)
      graft.streaming.LivePipeline.step(seed.filter(col("doc_id") > mid), 1L, seedCfg)
      graft.streaming.LivePipeline.compact(s, cfg)
      lastX37BuildSec = (System.nanoTime() - tBuild0) / 1e9
      val (exact, bands, ids, cursors) =
        graft.streaming.LivePipeline.probeFrames(s, cfg, 2L)
      val arriving = docs.filter(col("doc_id") % 10 === 7)
        .unionByName(docs
          .filter(col("doc_id") % 10 < 4 && col("doc_id") % 100 === 2)
          .select(col("doc_id"), col("lang"),
            concat(lit("idprobe "), col("doc_id").cast("string")).as("text")))
      graft.streaming.LivePipeline.curatePack(
        arriving, exact, bands, cursors, ids, cfg)
        .audit.orderBy("doc_id")
    },
    // LSH quality evaluation — n13's recall-eval discipline applied to
    // the dedup family: how much of the REACHABLE truth (pairs sharing
    // ≥1 non-boilerplate shingle with exact Jaccard ≥ 0.3 — the same
    // bar d3 enforces) does d2's banded-MinHash candidate generation
    // recover, and how clean is its candidate set? One summary row:
    // (n_truth, n_cand, n_hit, recall, precision). Truth enumeration
    // rides the df-capped posting lists (pair volume ≤ df² per
    // shingle, the d15 bound) — the eval itself must not all-pairs.
    //
    // The eval runs over a DETERMINISTIC HALF-SAMPLE of documents (the
    // x6 md5-bucket trick: both engines and every rerun pick identical
    // docs, purely map-side): a quality eval estimates a ratio, so it
    // does not need to pay full-corpus truth-enumeration cost per run —
    // a pair survives iff BOTH endpoints are sampled (p² of pairs, 4×
    // off the posting-list self-join, the eval's dominant term), and
    // recall/precision over the sub-corpus estimate the corpus ratios.
    // The df cap is computed within the sample — the eval is exactly
    // "run the d3 truth bar on the sub-corpus"; candidates keep their
    // full-corpus band buckets (the store is already materialized) and
    // are filtered to both-sampled endpoints.
    "d16_dedup_recall" -> { (s, d) =>
      def smp(c: Column) =
        substring(md5(concat(lit("d16|"), c.cast("string"))), 1, 1) < "8"
      // explicit isnotnull: pins the truth and sizes consumers to one
      // canonical chain so AQE exchange reuse holds (the d15/lmScore
      // alignment lesson; store doc_ids are never null — a no-op)
      val toks = shingles(s, d)
        .filter(smp(col("doc_id")) && col("doc_id").isNotNull)
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // truth pairs ride df-capped POSTING LISTS instead of a shingle
      // self-join (r20 — the d15 rewrite applied to the eval's truth
      // enumeration): one capped-set aggregation (cap 65 = threshold+1,
      // bounded per-group state; a full set is exactly "df > 64", the
      // old broadcast anti-join's hot class) and the bounded i<j
      // expansion of each surviving sorted list. (doc_id, shingle) rows
      // are distinct by construction (word_shingles dedups per doc), so
      // counts are bit-identical; df = 1 shingles exit before the pair
      // exchange instead of riding the self-join for zero output.
      val cappedSet = udaf(new graft.functions.CappedDistinctLongs(65))
      val truth = toks.groupBy("shingle").agg(cappedSet(col("doc_id")).as("ds"))
        .filter(size(col("ds")).between(2, 64))
        .select(explode(expr(
          "flatten(transform(ds, (a, i) -> " +
            "transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))")).as("p"))
        .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
        .filter(col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double") >= 0.3)
        .select("doc_a", "doc_b")
      val cand = candidatePairs(s, d)
        .filter(smp(col("doc_a")) && smp(col("doc_b")))
      // one FULL OUTER join + one aggregate: the previous spelling
      // (truth.agg ⨯ cand.agg ⨯ semi-join.agg) consumed `truth` and
      // `cand` twice each, so BOTH expensive chains (the posting-list
      // self-join and the LSH bucket pair generation) were planned —
      // and, when AQE's canonical reuse missed, run — twice. Both
      // sides are pair-distinct (groupBy / .distinct()), so the join
      // is 1:1 and the flag counts are exactly the old row counts.
      truth.select("doc_a", "doc_b").withColumn("t", lit(1))
        .join(cand.withColumn("c", lit(1)), Seq("doc_a", "doc_b"), "full_outer")
        .agg(count(col("t")).as("n_truth"),
          count(col("c")).as("n_cand"),
          count(when(col("t").isNotNull && col("c").isNotNull, 1)).as("n_hit"))
        .withColumn("lsh_recall",
          col("n_hit").cast("double") / col("n_truth").cast("double"))
        .withColumn("lsh_precision",
          col("n_hit").cast("double") / col("n_cand").cast("double"))
    }
  )

  /** d15's core: directional shingle-containment near-dup pairs.
    * Documents sharing ≥1 cold `shingleWords`-word shingle are paired;
    * shingles in more than `maxDf` documents (boilerplate) are dropped
    * via broadcast anti-join BEFORE pairing, so pair volume per shingle
    * is ≤ maxDf². Containment = shared cold shingles / the SMALLER
    * side's full shingle count — the fraction of the smaller document
    * covered, which catches quote/subset duplication symmetric Jaccard
    * dilutes. Pairs below `minContainment` are dropped.
    */
  def containmentPairs(docs: DataFrame, shingleWords: Int = 6,
      maxDf: Long = 16L, minContainment: Double = 0.5): DataFrame = {
    require(shingleWords >= 2 && maxDf >= 2 && minContainment > 0)
    require(maxDf < Int.MaxValue)
    // the explicit isnotnull pins every consumer's chain to ONE
    // canonical shape (the r19 lmScore lesson): the sizes joins INFER
    // isnotnull(doc_id) and push it below the distinct on their
    // branches, which breaks AQE's canonical-exchange reuse — without
    // it the corpus explode runs once per unaligned consumer. Values
    // unchanged at every call site (a null doc_id violates the intake
    // contract upstream; the old spelling dropped null pairs at the
    // self-join anyway).
    val sh = docs.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= shingleWords && col("doc_id").isNotNull)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws)-${shingleWords - 1}), " +
          s"i -> concat_ws(' ', slice(ws, i, $shingleWords)))")).as("sh"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // Pairs ride df-capped POSTING LISTS instead of a shingle self-join
    // (r20, guide §2.4): one capped-set aggregation per shingle — the
    // x26 CappedDistinctLongs discipline, bounded per-group state, cap
    // maxDf+1 so a full set is exactly "df > maxDf" (the old broadcast
    // anti-join's hot class, dropped identically) — then the bounded
    // i<j pair expansion of each surviving sorted list. df = 1 shingles
    // generate no pairs, so they exit BEFORE the pair exchange (the
    // self-join shuffled and sort-merged them for zero output — in a
    // natural corpus that is most of the shingle mass), and the
    // self-join's two corpus-wide exchanges of (doc_id, sh) disappear.
    // Σ df² ≤ maxDf × |postings| bounds the expansion; values are
    // bit-identical (same shingle universe, same pairs, same counts).
    val cappedSet = udaf(new graft.functions.CappedDistinctLongs(maxDf.toInt + 1))
    val pairs = sh.groupBy("sh").agg(cappedSet(col("doc_id")).as("ds"))
      // size ≤ maxDf ⇒ the set is complete and size IS the exact df;
      // size = maxDf+1 ⇒ df > maxDf — the hot class, dropped either way
      .filter(size(col("ds")).between(2, maxDf.toInt))
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))")).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    pairs
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= minContainment)
      .select("doc_a", "doc_b", "n_shared", "sz_a", "sz_b", "containment")
  }

  /** d14 block-size cap: blocks larger than this never generate pairs. */
  private val MaxBlockDocs = 64L

  /** Blocked edit-distance near-dup pairs (d14's core): documents
    * sharing a (`pfxLen`-char prefix, length÷`lenBucket`) block are
    * pair-compared with Levenshtein; pairs at distance ≤ `maxLev` are
    * emitted as (doc_a, doc_b, lev), doc_a < doc_b. Blocks larger than
    * `maxBlock` are dropped through a broadcast anti-join BEFORE
    * pairing, so the per-block quadratic term is hard-bounded and one
    * viral prefix cannot go corpus-quadratic. Prefix blocking trades
    * recall (edits inside the prefix move a doc out of its block) for
    * never-all-pairs.
    */
  def fuzzyPairs(docs: DataFrame, pfxLen: Int = 24, lenBucket: Int = 32,
      maxLev: Long = 5L, maxBlock: Long = MaxBlockDocs): DataFrame = {
    require(pfxLen >= 1 && lenBucket >= 1 && maxLev >= 0 && maxBlock >= 1)
    val keyed = docs.select(col("doc_id"), col("text"),
      substring(col("text"), 1, pfxLen).as("pfx"),
      floor(length(col("text")) / lit(lenBucket.toDouble)).cast("long").as("lb"))
    val hotBlocks = keyed.groupBy("pfx", "lb")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > maxBlock)
      .select("pfx", "lb")
    val capped = keyed.join(broadcast(hotBlocks), Seq("pfx", "lb"), "left_anti")
    // |len(a) − len(b)| is a Levenshtein lower bound: prune those pairs
    // in the join condition (before any O(len²) DP runs), and give the
    // surviving pairs the THRESHOLDED levenshtein, whose DP early-exits
    // once a row's minimum exceeds maxLev (returns −1 past the bound, so
    // the filter keeps the same pairs with the same distances). The
    // always-true monotonically_increasing_id() guard makes the
    // projection nondeterministic, which PINS the lev filter above the
    // join: pushed into the join condition, Catalyst evaluates the DP
    // per CANDIDATE (twice — once per BETWEEN bound) inside the
    // hash-join probe instead of once per surviving pair — measured 6×
    // slower at sf0.1. (rand() >= 0 does NOT work as the guard: the
    // optimizer knows rand's [0,1) bounds and folds it to true.)
    capped.as("a")
      .join(capped.as("b"),
        col("a.pfx") === col("b.pfx") && col("a.lb") === col("b.lb") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(length(col("a.text")) - length(col("b.text"))) <= maxLev)
      .withColumn("lev",
        when(monotonically_increasing_id() >= 0,
          levenshtein(col("a.text"), col("b.text"), maxLev.toInt))
          .otherwise(lit(-1)).cast("long"))
      .filter(col("lev").between(0L, maxLev))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("lev"))
  }

  def oracles3: Map[String, String] = Map(
    // The live intake's fate CASE, in d13's arriving/existing frame:
    // within-batch canonical → corpus hash membership → x11 quality bar
    // (same spelling as the x2 oracle) → capped-bucket band hit. The
    // CASE ordering makes the probe's "only gated docs" restriction
    // immaterial, exactly as in the Spark plan.
    "x30_intake_audit" -> {
      val q = TextAnalysis.qualityScoreSql("c.n_tokens", "c.n_alpha", "c.stop_hits")
      s"""WITH $shinglesCte, $mhCte, $bandsCte,
         |arr AS (SELECT doc_id, md5(text) AS h,
         |    CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |    CAST(length(regexp_extract_all(text, '${TextAnalysis.StopRe}')) AS BIGINT) AS stop_hits
         |  FROM documents WHERE doc_id % 10 = 7),
         |canon AS (SELECT *, min(doc_id) OVER (PARTITION BY h) AS canonical_doc FROM arr),
         |exh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7),
         |ex AS (SELECT * FROM bands WHERE doc_id % 10 <> 7),
         |ehot AS (SELECT band_id, bh FROM ex GROUP BY band_id, bh
         |  HAVING count(DISTINCT doc_id) > $MaxBucketDocs),
         |ecap AS (SELECT DISTINCT e.band_id, e.bh FROM ex e ANTI JOIN ehot h
         |  ON e.band_id = h.band_id AND e.bh = h.bh),
         |nw AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
         |hit AS (SELECT DISTINCT n.doc_id FROM nw n JOIN ecap e
         |  ON n.band_id = e.band_id AND n.bh = e.bh)
         |SELECT c.doc_id,
         |  CASE WHEN c.doc_id <> c.canonical_doc THEN 'dup_in_batch'
         |       WHEN c.h IN (SELECT h FROM exh) THEN 'dup_of_corpus'
         |       WHEN ($q) < ${TextAnalysis.QualityThreshold} THEN 'low_quality'
         |       WHEN c.doc_id IN (SELECT doc_id FROM hit) THEN 'near_dup'
         |       ELSE 'admitted' END AS fate,
         |  $q AS quality_score
         |FROM canon c ORDER BY c.doc_id""".stripMargin
    },
    // The contract ladder, spelled in SQL: malformed rows out first
    // (one audit row per ROW, like the engine), then id collisions
    // (min/max over an injective (lang, md5) encoding — equal iff all
    // payloads equal), identical replays collapsed by DISTINCT, then
    // the x11 canon/quality CASE over the survivors (empty stores: the
    // corpus/near-dup arms cannot fire on a cold start).
    "x31_intake_contract" -> {
      val q = TextAnalysis.qualityScoreSql("c.n_tokens", "c.n_alpha", "c.stop_hits")
      s"""WITH inj AS (
         |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 = 3
         |  UNION ALL SELECT doc_id, lang, '' FROM documents WHERE doc_id % 100 = 13
         |  UNION ALL SELECT doc_id, NULL, text FROM documents WHERE doc_id % 100 = 23
         |  UNION ALL SELECT doc_id, lang, NULL FROM documents WHERE doc_id % 100 = 33
         |  UNION ALL SELECT doc_id, lang, text FROM documents WHERE doc_id % 100 = 43
         |  UNION ALL SELECT doc_id, lang, text || ' variant' FROM documents
         |    WHERE doc_id % 100 = 53
         |  UNION ALL SELECT doc_id + 10000000, lang, text FROM documents
         |    WHERE doc_id % 100 = 63
         |  UNION ALL SELECT CAST(NULL AS BIGINT), 'en', 'null id probe'),
         |bad AS (SELECT doc_id FROM inj
         |  WHERE doc_id IS NULL OR lang IS NULL OR text IS NULL OR length(text) = 0),
         |wf AS (SELECT doc_id, lang, text, md5(text) AS h FROM inj
         |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL AND text IS NOT NULL
         |    AND length(text) > 0),
         |coll AS (SELECT doc_id FROM wf GROUP BY doc_id
         |  HAVING min(lang || '#' || h) <> max(lang || '#' || h)),
         |surv AS (SELECT DISTINCT w.doc_id, w.lang, w.text, w.h
         |  FROM wf w ANTI JOIN coll c USING (doc_id)),
         |feat AS (SELECT doc_id, h,
         |    CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |    CAST(length(regexp_extract_all(text, '${TextAnalysis.StopRe}')) AS BIGINT) AS stop_hits
         |  FROM surv),
         |canon AS (SELECT *, min(doc_id) OVER (PARTITION BY h) AS canonical_doc FROM feat)
         |SELECT c.doc_id,
         |  CASE WHEN c.doc_id <> c.canonical_doc THEN 'dup_in_batch'
         |       WHEN ($q) < ${TextAnalysis.QualityThreshold} THEN 'low_quality'
         |       ELSE 'admitted' END AS fate,
         |  $q AS quality_score
         |FROM canon c
         |UNION ALL SELECT doc_id, 'malformed', CAST(NULL AS DOUBLE) FROM bad
         |UNION ALL SELECT doc_id, 'id_collision', CAST(NULL AS DOUBLE) FROM coll
         |ORDER BY doc_id, fate""".stripMargin
    },
    // x37: the x30 CASE over REAL store semantics — the seed side is
    // itself admitted through the ladder (canonical + quality), the
    // band store holds ADMITTED docs only, the prior table is the
    // admitted identities, and the id-probe slice exercises both the
    // collision arm (admitted prior, different payload) and the
    // not-burned path (rejected prior id → normal ladder). Features of
    // the injected payloads are computed over the constructed text by
    // the same expressions, not hand-counted.
    "x37_intake_bucketed" -> {
      val qc = TextAnalysis.qualityScoreSql("c.n_tokens", "c.n_alpha", "c.stop_hits")
      val qs = TextAnalysis.qualityScoreSql("n_tokens", "n_alpha", "stop_hits")
      def feats(t: String) =
        s"""CAST(length(string_split_regex(trim($t), '\\s+')) AS BIGINT) AS n_tokens,
           |    CAST(length(regexp_replace($t, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
           |    CAST(length(regexp_extract_all($t, '${TextAnalysis.StopRe}')) AS BIGINT) AS stop_hits""".stripMargin
      s"""WITH $shinglesCte, $mhCte, $bandsCte,
         |sfeat AS (SELECT doc_id, md5(text) AS h,
         |    ${feats("text")}
         |  FROM documents WHERE doc_id % 10 < 4),
         |scanon AS (SELECT *, min(doc_id) OVER (PARTITION BY h) AS cd FROM sfeat),
         |adm AS (SELECT doc_id, h FROM scanon
         |  WHERE doc_id = cd AND ($qs) >= ${TextAnalysis.QualityThreshold}),
         |exh AS (SELECT DISTINCT h FROM sfeat),
         |ex AS (SELECT b.* FROM bands b SEMI JOIN adm a ON b.doc_id = a.doc_id),
         |ehot AS (SELECT band_id, bh FROM ex GROUP BY band_id, bh
         |  HAVING count(DISTINCT doc_id) > $MaxBucketDocs),
         |ecap AS (SELECT DISTINCT e.band_id, e.bh FROM ex e ANTI JOIN ehot h2
         |  ON e.band_id = h2.band_id AND e.bh = h2.bh),
         |nw AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
         |hit AS (SELECT DISTINCT n.doc_id FROM nw n JOIN ecap e
         |  ON n.band_id = e.band_id AND n.bh = e.bh),
         |arr AS (
         |  SELECT doc_id, md5(text) AS h, ${feats("text")}
         |  FROM documents WHERE doc_id % 10 = 7
         |  UNION ALL
         |  SELECT doc_id, md5(t) AS h, ${feats("t")}
         |  FROM (SELECT doc_id, 'idprobe ' || CAST(doc_id AS VARCHAR) AS t
         |    FROM documents WHERE doc_id % 10 < 4 AND doc_id % 100 = 2)),
         |coll AS (SELECT a.doc_id FROM arr a JOIN adm p
         |  ON a.doc_id = p.doc_id AND a.h <> p.h),
         |ok AS (SELECT * FROM arr ANTI JOIN coll USING (doc_id)),
         |canon AS (SELECT *, min(doc_id) OVER (PARTITION BY h) AS canonical_doc FROM ok)
         |SELECT c.doc_id,
         |  CASE WHEN c.doc_id <> c.canonical_doc THEN 'dup_in_batch'
         |       WHEN c.h IN (SELECT h FROM exh) THEN 'dup_of_corpus'
         |       WHEN ($qc) < ${TextAnalysis.QualityThreshold} THEN 'low_quality'
         |       WHEN c.doc_id IN (SELECT doc_id FROM hit) THEN 'near_dup'
         |       ELSE 'admitted' END AS fate,
         |  $qc AS quality_score
         |FROM canon c
         |UNION ALL SELECT doc_id, 'id_collision', CAST(NULL AS DOUBLE) FROM coll
         |ORDER BY doc_id""".stripMargin
    },
    // Same algebra: df-capped posting-list truth at Jaccard ≥ 0.3, the
    // d2 band candidates, semi-join hits, one summary row — all over
    // the same deterministic md5 half-sample of documents.
    "d16_dedup_recall" ->
      s"""WITH $shinglesCte, $mhCte, $bandsCte, $candCte,
         |ssmp AS (SELECT doc_id, shingle FROM shingles
         |  WHERE substr(md5('d16|' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
         |shot AS (SELECT shingle FROM ssmp GROUP BY shingle HAVING count(*) > 64),
         |coldsh AS (SELECT s.doc_id, s.shingle FROM ssmp s ANTI JOIN shot h USING (shingle)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM ssmp GROUP BY doc_id),
         |candf AS (SELECT doc_a, doc_b FROM cand
         |  WHERE substr(md5('d16|' || CAST(doc_a AS VARCHAR)), 1, 1) < '8'
         |    AND substr(md5('d16|' || CAST(doc_b AS VARCHAR)), 1, 1) < '8'),
         |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM coldsh a JOIN coldsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b
         |  FROM tp JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.3),
         |hit AS (SELECT t.doc_a, t.doc_b FROM truth t SEMI JOIN candf c
         |  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |  CAST((SELECT count(*) FROM candf) AS BIGINT) AS n_cand,
         |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |  CAST((SELECT count(*) FROM hit) AS DOUBLE) /
         |    CAST((SELECT count(*) FROM truth) AS DOUBLE) AS lsh_recall,
         |  CAST((SELECT count(*) FROM hit) AS DOUBLE) /
         |    CAST((SELECT count(*) FROM candf) AS DOUBLE) AS lsh_precision""".stripMargin,
    // Same ladder: distinct 6-word shingles, df-capped postings,
    // within-posting ordered pairs, containment vs the smaller side.
    "d15_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(ws, i, i + 5), ' ') AS sh
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 4)) AS i
        |    FROM w WHERE len(ws) >= 6)),
        |hot AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
        |  WHERE df > 16),
        |cold AS (SELECT s.doc_id, s.sh FROM sh s ANTI JOIN hot h USING (sh)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST(n_shared AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE) AS containment
        |FROM pairs JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |WHERE CAST(n_shared AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Same block ladder: prefix+length blocking, >64 blocks anti-joined
    // away, within-block ordered pairs under the edit-distance bar.
    "d14_fuzzy_dedup" ->
      """WITH d AS (SELECT doc_id, text, substr(text, 1, 24) AS pfx,
        |    length(text) // 32 AS lb FROM documents),
        |hot AS (SELECT pfx, lb FROM (
        |    SELECT pfx, lb, count(*) AS c FROM d GROUP BY pfx, lb) WHERE c > 64),
        |cap AS (SELECT d.doc_id, d.text, d.pfx, d.lb
        |  FROM d ANTI JOIN hot USING (pfx, lb))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
        |FROM cap a JOIN cap b
        |  ON a.pfx = b.pfx AND a.lb = b.lb AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // d12: same segment ladder — DuckDB keys the df count on the segment
    // string itself (Spark keys on its md5; same identity), string_agg
    // skips the dropped segments' NULLs, COALESCE matches Spark's ""
    // for fully-boilerplate documents.
    "d12_line_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |segs AS (SELECT doc_id, i AS seg_idx,
        |    array_to_string(list_slice(a, i * 4 + 1, i * 4 + 4), ' ') AS seg
        |  FROM (SELECT doc_id, a,
        |      unnest(generate_series(0, ((len(a) + 3) // 4) - 1)) AS i FROM w)),
        |hot AS (SELECT seg FROM (
        |    SELECT seg, count(DISTINCT doc_id) AS sdocs FROM segs GROUP BY seg)
        |  WHERE sdocs >= 2),
        |fl AS (SELECT s.doc_id, s.seg_idx, s.seg, (h.seg IS NOT NULL) AS dup
        |  FROM segs s LEFT JOIN hot h ON s.seg = h.seg)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN NOT dup THEN seg END, ' ' ORDER BY seg_idx), '') AS clean_text
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Reuses the n6 oracle's unrolled k-means assignment CTEs (aF is the
    // final (vec_id, cell) assignment), then mirrors the within-cell
    // pairwise + min-canonical verdict.
    "d11_semantic_dedup" ->
      s"""WITH ${Ivf.kmeansAssignCtes},
         |n AS (SELECT e.vec_id, a.cell, e.embedding
         |  FROM embeddings e JOIN aF a USING (vec_id)),
         |pr AS (SELECT * FROM (
         |    SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |      ${Cols.cosineSql("a.embedding", "b.embedding")} AS cos
         |    FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |  WHERE cos >= 0.35),
         |dup AS (SELECT vec_b AS vec_id, MIN(vec_a) AS dup_of FROM pr GROUP BY vec_b)
         |SELECT n.vec_id, n.cell, dup.dup_of, (dup.dup_of IS NULL) AS is_kept
         |FROM n LEFT JOIN dup USING (vec_id)
         |ORDER BY n.vec_id""".stripMargin,
    "d13_incremental_dedup" ->
      s"""WITH $shinglesCte, $mhCte, $bandsCte,
         |nw AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
         |ex AS (SELECT * FROM bands WHERE doc_id % 10 <> 7),
         |ehot AS (SELECT band_id, bh FROM ex GROUP BY band_id, bh
         |  HAVING count(*) > $MaxBucketDocs),
         |ecap AS (SELECT e.* FROM ex e ANTI JOIN ehot h
         |  ON e.band_id = h.band_id AND e.bh = h.bh),
         |m AS (SELECT n.doc_id, min(e.doc_id) AS nearest_existing,
         |    CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_matches
         |  FROM nw n JOIN ecap e ON n.band_id = e.band_id AND n.bh = e.bh
         |  GROUP BY n.doc_id),
         |nd AS (SELECT doc_id FROM mh WHERE doc_id % 10 = 7)
         |SELECT nd.doc_id, m.nearest_existing, m.n_matches,
         |  (m.nearest_existing IS NULL) AS is_novel
         |FROM nd LEFT JOIN m USING (doc_id)
         |ORDER BY nd.doc_id""".stripMargin,
    "d10_substring_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |pos AS (SELECT doc_id, l, unnest(generate_series(1, len(l)-4)) AS i
        |  FROM w WHERE len(l) >= 5),
        |g AS (SELECT doc_id, md5(array_to_string(l[i:i+4], ' ')) AS gh FROM pos),
        |gdf AS (SELECT gh, CAST(count(DISTINCT doc_id) AS BIGINT) AS gdocs
        |  FROM g GROUP BY gh),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN gdocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
        |  FROM g JOIN gdf USING (gh) GROUP BY doc_id),
        |j AS (SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
        |    COALESCE(n_dup_grams, 0) AS n_dup_grams
        |  FROM documents d LEFT JOIN pd USING (doc_id))
        |SELECT doc_id, n_grams, n_dup_grams,
        |  CASE WHEN n_grams > 0
        |    THEN CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |    ELSE 0.0 END AS dup_frac,
        |  (CASE WHEN n_grams > 0
        |    THEN CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |    ELSE 0.0 END) > 0.5 AS is_contaminated
        |FROM j ORDER BY doc_id""".stripMargin
  )

  def oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin,
    "d2_minhash_lsh" ->
      s"""WITH $shinglesCte, $mhCte, $bandsCte, $candCte
         |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin,
    "d3_ngram_jaccard" ->
      s"""WITH $shinglesCte, $mhCte, $bandsCte, $candCte,
         |sz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
         |inter AS (
         |  SELECT doc_a, doc_b, count(*) AS n_common
         |  FROM cand
         |  JOIN shingles ta ON doc_a = ta.doc_id
         |  JOIN shingles tb ON doc_b = tb.doc_id AND ta.shingle = tb.shingle
         |  GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b, n_common,
         |  CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
         |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d4_simhash" -> {
      val sums = (0 until 32).map(i =>
        s"SUM(CASE WHEN substr(md5(word), ${i + 1}, 1) < '8' THEN cnt ELSE -cnt END) AS s$i")
        .mkString(", ")
      val bits = (0 until 32).map(i => s"(CASE WHEN s$i > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |wc AS (SELECT doc_id, word, count(*) AS cnt FROM toks
         |  WHERE length(word) > 0 GROUP BY doc_id, word),
         |s AS (SELECT doc_id, $sums FROM wc GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash FROM s ORDER BY doc_id""".stripMargin
    },
    "d5_embedding_neardup" ->
      s"""SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${Cols.cosineSql("a.embedding", "b.embedding")} AS cos
         |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${Cols.cosineSql("a.embedding", "b.embedding")} >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin
  )
}
