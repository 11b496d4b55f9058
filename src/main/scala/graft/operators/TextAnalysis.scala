package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Cols, Tables}

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token counting, document fingerprinting
  * (SURVEY.md §7.5 training-data-pipeline extensions).
  *
  * Everything here is one scan + narrow transforms (optionally one
  * explode + re-agg keyed by doc_id), so it parallelizes trivially at
  * 100 TB; the only shuffle is the per-doc re-aggregation, which is
  * map-side combinable.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Demo marker-word lists (stand-in for real per-language stopword /
    * character-n-gram profiles, which this synthetic shared-vocabulary
    * corpus cannot exercise): each language scores by marker hits and the
    * argmax (ties → lexicographic) wins; zero hits → "und".
    */
  private val markers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "fast",
    "es" -> "data", "es" -> "query", "es" -> "row",
    "de" -> "merge", "de" -> "sort", "de" -> "window",
    "fr" -> "join", "fr" -> "filter", "fr" -> "stream",
    "zh" -> "hash", "zh" -> "batch", "zh" -> "scan")

  private[operators] val StopRe = "\\b(the|a|of|is|in)\\b"

  /** Sub-shards per language for x8 sequence packing: the prefix-sum
    * window is keyed (lang, shard) so parallelism is #langs × this, not
    * #langs. At 100 TB this would be sized so each shard's token stream
    * fits one task's sort (e.g. 2^10-2^14 shards); 8 keeps the sf fixture
    * readable.
    */
  private val NumPackShards = 8

  /** x29 window geometry: 32-token windows every 24 tokens (8 overlap). */
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** x32's budget: fixed (not scale-relative), so the selected set is
    * bounded by ~T/avg_tokens docs at any corpus size — the output of a
    * budget fill is budget-shaped by definition.
    */
  private val TokenBudget = 20000L

  // Shared expression spellings: x11 is defined as the COMPOSITION of
  // x2's score and x8's sharding, so all four spellings (Spark + SQL ×
  // score + shard) live here once — a tweak to either formula cannot
  // silently diverge the composed pipeline from its standalone stages.
  private def qualityScore(nTokens: Column, nAlpha: Column, stopHits: Column): Column =
    least(nTokens.cast("double") / 300.0, lit(1.0)) * 0.5 +
      least(nAlpha.cast("double") / nTokens.cast("double") / 5.0, lit(1.0)) * 0.2 +
      least(stopHits.cast("double") / nTokens.cast("double") * 5.0, lit(1.0)) * 0.3

  /** x11's admission bar: the corpus median score is ~0.37, so ≥ 0.35
    * keeps a meaningful survivor set while still filtering.
    */
  val QualityThreshold = 0.35

  /** x2/x11's per-doc feature + score columns as one narrow projection:
    * appends `n_tokens`, `n_alpha`, `stop_hits`, `quality_score` to
    * whatever columns `docs` carries (requires `text`). Pure per-row
    * expressions — drops unchanged into batch AND streaming plans, which
    * is why the streaming pipeline shares this exact spelling (a tweak
    * here cannot diverge live curation from the batch x11 stage).
    */
  def withQualityFeatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("n_alpha",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
      .withColumn("stop_hits", regexp_count(col("text"), lit(StopRe)).cast("long"))
      .withColumn("quality_score",
        qualityScore(col("n_tokens"), col("n_alpha"), col("stop_hits")))

  private[operators] def qualityScoreSql(nTokens: String, nAlpha: String, stopHits: String): String =
    s"""least(CAST($nTokens AS DOUBLE) / 300.0, 1.0) * 0.5 +
       |      least(CAST($nAlpha AS DOUBLE) / CAST($nTokens AS DOUBLE) / 5.0, 1.0) * 0.2 +
       |      least(CAST($stopHits AS DOUBLE) / CAST($nTokens AS DOUBLE) * 5.0, 1.0) * 0.3""".stripMargin

  /** Deterministic md5 pack-shard bucket (x8/x11 spelling); public so the
    * streaming pipeline assigns the SAME shard a batch re-pack would.
    */
  def packShard(docId: Column, shards: Int = NumPackShards): Column =
    Cols.md5Prefix(concat(lit("pk|"), docId.cast("string")), 2) % shards

  private def packShardSql(docId: String): String =
    s"CAST(('0x' || substr(md5('pk|' || CAST($docId AS VARCHAR)), 1, 2)) AS BIGINT) % $NumPackShards"

  /** Public sequence-packing operator (the parameterized form of x8):
    * given rows with `doc_id`, `lang`, and `n_tokens`, appends `shard`
    * (deterministic md5 bucket), `cum_before` (exclusive per-(lang,shard)
    * prefix sum in doc_id order), `chunk_id`, and `offset_in_chunk` for
    * fixed `blockSize`-token context windows. All other input columns
    * pass through. `shards` bounds each window partition's sort — size it
    * so one shard's token stream fits a task at the target scale.
    */
  def packTokens(rows: DataFrame, blockSize: Int, shards: Int): DataFrame =
    packTokensFrom(rows, blockSize, shards, None)

  /** [[packTokens]] with the per-(lang, shard) prefix sum offset by a
    * cursor relation `(lang, shard, cum)` — tokens already packed
    * before these rows arrived. This is the live pipeline's incremental
    * packing (graft.streaming.LivePipeline), kept HERE as the single
    * spelling of the window and chunk math so the streaming path
    * cannot silently diverge from the batch operator (their parity is
    * pinned in StreamingSpec). `None` keeps the self-contained batch
    * plan: no join at all.
    */
  def packTokensFrom(rows: DataFrame, blockSize: Int, shards: Int,
      cursors: Option[DataFrame]): DataFrame = {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = rows.withColumn("shard", packShard(col("doc_id"), shards))
    val withCum = cursors match {
      case None =>
        base.withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      case Some(c) =>
        base.withColumn("batch_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .join(c, Seq("lang", "shard"), "left")
          .withColumn("cum_before", coalesce(col("cum"), lit(0L)) + col("batch_before"))
          .drop("cum", "batch_before")
    }
    withCum
      .withColumn("chunk_id", expr(s"cum_before div $blockSize"))
      .withColumn("offset_in_chunk", col("cum_before") % blockSize)
  }

  /** Global per-domain md5-order rank, computed with sharded windows.
    *
    * A single `Window.partitionBy(domain)` serializes each domain onto
    * one task — the anti-pattern x8's prefix sum was rebuilt to avoid.
    * Instead the window is keyed `(domain, hshard)` where `hshard` is
    * the FIRST HEX CHAR of the md5 sort key itself: because the shard is
    * a monotone function of the key's prefix, ordering shard-major then
    * by key within a shard IS the global md5 order, so the global rank
    * is exactly `(docs in earlier shards) + (rank within my shard)`.
    * The correction term is a 16-row-per-domain prefix sum, broadcast
    * back. Result: identical output to the naive single window, 16×
    * its parallelism, and no quota-split approximation.
    *
    * Appends `rn` (1-based global rank in md5('salt|'||doc_id) order,
    * doc_id tiebreak); all input columns pass through.
    */
  def mixRank(docs: DataFrame, domainCol: String, salt: String = "mix"): DataFrame = {
    val base = docs
      .withColumn("h", md5(concat(lit(salt + "|"), col("doc_id").cast("string"))))
      .withColumn("hshard", substring(col("h"), 1, 1))
    val w = Window.partitionBy(col(domainCol), col("hshard"))
      .orderBy(col("h"), col("doc_id"))
    val ranked = base.withColumn("srn", row_number().over(w).cast("long"))
    val wb = Window.partitionBy(col(domainCol)).orderBy(col("hshard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = base.groupBy(col(domainCol), col("hshard"))
      .agg(count(lit(1)).as("c"))
      .withColumn("before", coalesce(sum(col("c")).over(wb), lit(0L)))
      .select(col(domainCol), col("hshard"), col("before"))
    ranked.join(broadcast(off), Seq(domainCol, "hshard"))
      .withColumn("rn", col("before") + col("srn"))
      .drop("h", "hshard", "srn", "before")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * `log(p_target/p_raw)` under bag-of-hashed-ngram unigram models.
    * Features are unigrams + adjacent bigrams hashed into `buckets`
    * cells (md5 prefix — engine-portable), so BOTH models are fixed
    * `buckets`-row tables regardless of corpus size: the target/raw
    * counts are two map-side-combinable aggregates, the log-ratio
    * table broadcasts, and a document's weight is one map-side join +
    * an exact DECIMAL(28,12) sum of per-occurrence rounded ratios.
    * Laplace smoothing (+1 over the hash space) keeps buckets unseen
    * in the target finite. Returns (doc_id, n_feats, log_w).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int = 256): DataFrame = {
    // the totals window below is single-partition, licensed ONLY by the
    // bounded model size — enforce the license so a future buckets=1e6
    // cannot silently create a one-task corpus-sized window (r19
    // verdict #4)
    require(buckets > 0 && buckets <= 65536,
      s"dsirWeights buckets=$buckets outside (0, 65536] — the totals " +
        "window is single-partition and licensed by this bound")
    val base = docs.select(col("doc_id"), isTarget.as("tgt"),
      split(col("text"), " ").as("a"))
    val feats = base.select(col("doc_id"), col("tgt"), explode(concat(
        col("a"),
        when(size(col("a")) >= 2, expr(
          "transform(sequence(1, size(a) - 1), " +
            "i -> concat(element_at(a, i), '_', element_at(a, i + 1)))"))
          .otherwise(array()))).as("feat"))
      .withColumn("bucket",
        Cols.md5Prefix(concat(lit("dsir|"), col("feat")), 2) % buckets)
    // One corpus-shaped pass: collapse the occurrence stream to
    // (doc, bucket, n) — at most `buckets` rows per document — then BOTH
    // the model counts and the scoring read that aggregate (identical
    // subplan, so the exchange is reused rather than the explode re-run).
    val db = feats.groupBy("doc_id", "tgt", "bucket").agg(count(lit(1)).as("n"))
    val counts = db.groupBy("bucket").agg(
      sum(when(col("tgt"), col("n")).otherwise(0L)).as("c_t"),
      sum(col("n")).as("c_r"))
    // totals ride a window over the ≤`buckets`-row counts table instead
    // of a second aggregate over it: a separate `counts.agg(...)` frame
    // re-plans (and re-runs, when AQE's canonical-exchange reuse misses)
    // the whole corpus chain — the before-plan had THREE explode+agg
    // chains, this leaves two planned / one executed. The single
    // -partition window is licensed by the bounded row count (exact
    // integer sums, order-independent — values unchanged).
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lr = counts
      .withColumn("t_t", sum(col("c_t")).over(wAll))
      .withColumn("t_r", sum(col("c_r")).over(wAll))
      .select(col("bucket"), round(
        log((col("c_t") + lit(1L)).cast("double") / (col("t_t") + lit(buckets.toLong)).cast("double")) -
          log((col("c_r") + lit(1L)).cast("double") / (col("t_r") + lit(buckets.toLong)).cast("double")),
        9).as("lr"))
    // n·lr in exact decimal (decimal × integral), bit-equal to summing
    // the per-occurrence rounded ratio n times
    db.join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_feats"),
        sum(col("lr").cast(DecimalType(28, 12)) * col("n").cast(DecimalType(8, 0)))
          .cast("double").as("log_w"))
  }

  /** Training-mixture control (the parameterized form of x15): resample
    * `docs` so each domain contributes exactly `targets(domain)` rows,
    * deterministically (md5 order, RNG-free, reproducible across runs
    * and engines). Down-sampling keeps the first `target` docs in md5
    * order; up-sampling (target > domain size) cycles through the domain
    * in md5 order emitting `replica` copies (0-based), so every doc
    * appears `target div n` or `target div n + 1` times and the total is
    * exact. Domains absent from `targets` are dropped.
    *
    * Shape at 100 TB: [[mixRank]]'s sharded windows + two broadcast
    * joins (the targets literal and a #domains-row size dim); the
    * up-sample explode is narrow.
    */
  def domainMix(docs: DataFrame, domainCol: String, targets: Map[String, Long],
      salt: String = "mix"): DataFrame =
    domainMixDf(docs, domainCol,
      docs.sparkSession.createDataFrame(targets.toSeq).toDF(domainCol, "target"), salt)

  /** [[domainMix]] with the targets as a `(domain, target)` DataFrame —
    * the fully-distributed form: when targets are DERIVED from the data
    * (x22's temperature formula), they stay a #domains-row relation that
    * broadcasts, never a driver collect.
    */
  def domainMixDf(docs: DataFrame, domainCol: String, targets: DataFrame,
      salt: String = "mix"): DataFrame = {
    val sizes = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("n_domain"))
    mixRank(docs, domainCol, salt)
      .join(broadcast(targets), Seq(domainCol))
      .join(broadcast(sizes), Seq(domainCol))
      .filter(col("rn") <= col("target"))
      .withColumn("replica",
        explode(sequence(lit(0L), expr("(target - rn) div n_domain"))))
      .drop("target", "n_domain")
  }

  /** x41's rank stage with its SKEW GUARD made real (round-14: the
    * scaladoc used to promise a swap no code performed). One bounded
    * agg job measures the largest source's share (two longs of
    * planning state — the o7 boundary-collect discipline, costing one
    * blocking job, same trade o6→o7 documented). Balanced sources
    * (share ≤ `skewShare`) keep the one-exchange two-window spelling;
    * a dominant source — where the keyed window becomes a single-task
    * sort of most of the corpus — routes BOTH ranks through
    * [[graft.queries.CoreRelational.keyedRankQuantile]]: global value
    * quantiles split the hot source ~evenly across (source, bucket)
    * tasks, and rk_worst stays DERIVED (n_src − rk + 1 under the
    * strict (score desc, doc_id) total order), so the swap changes
    * parallelism, never ranks — ScaleSpec asserts the two spellings
    * rank-identical under a 90%-one-source distribution. Emits
    * `rk_best`, `rk_worst`, `n_src` alongside `scored`'s columns.
    */
  private[graft] def prefRanked(scored: DataFrame,
      skewShare: Double = 0.5): DataFrame = {
    val st = scored.groupBy("source").agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("mx"),
        coalesce(sum(col("c")), lit(0L)).as("n")).head()
    val (mx, n) = (st.getLong(0), st.getLong(1))
    if (n == 0L || mx.toDouble <= skewShare * n.toDouble) {
      val bestW = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id").asc)
      // rk_worst is DERIVED, not a second window: (score DESC, doc_id
      // ASC) is a strict total order (doc_id unique), so its exact
      // reverse rank is n − rk_best + 1 for every row including score
      // ties — one corpus-sized sort instead of two
      scored
        .withColumn("rk_best", row_number().over(bestW).cast("long"))
        .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
        .withColumn("rk_worst", col("n_src") - col("rk_best") + 1L)
    } else
      // ascending (−score, doc_id) ≡ (score desc, doc_id asc); −0.0
      // and 0.0 compare equal under SQL ordering, so the negation
      // cannot reorder ties the tie column doesn't already break
      graft.queries.CoreRelational.keyedRankQuantile(
          scored, Seq("source"), col("score") * lit(-1.0), col("doc_id"))
        .withColumnRenamed("rnk", "rk_best")
        .withColumnRenamed("n_key", "n_src")
        .withColumn("rk_worst", col("n_src") - col("rk_best") + 1L)
  }

  /** x39's in-stratum selection rank with the same skew guard+route as
    * [[prefRanked]] (round-14 review: x39's scaladoc referenced the
    * x41 swap but no code here performed it). `joined` is the
    * quota-joined corpus; the rank orders by (md5("strat|"||doc_id),
    * doc_id) within (source, lang). The guard measures the largest
    * stratum's share with one bounded agg job; a dominant stratum
    * routes through [[graft.queries.CoreRelational.keyedRankQuantile]].
    * The quantile machinery needs a NUMERIC bucket value, and the
    * order key is an md5 STRING — bucketing uses a 15-hex-digit prefix
    * `conv` proxy, which is monotone (non-strict) in the full string
    * (lowercase hex compares identically as text and as digits), so
    * proxy buckets are order-consistent blocks and the full
    * (md5, doc_id) struct as the tie makes the within-bucket order
    * exactly the plain window's — rank-identical by construction,
    * pinned in ScaleSpec under a 90%-one-stratum distribution.
    */
  private[graft] def stratumRanked(joined: DataFrame,
      skewShare: Double = 0.5): DataFrame = {
    val stratKey = concat(lit("strat|"), col("doc_id").cast("string"))
    val strat = md5(stratKey)
    val st = joined.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("mx"),
        coalesce(sum(col("c")), lit(0L)).as("n")).head()
    val (mx, n) = (st.getLong(0), st.getLong(1))
    if (n == 0L || mx.toDouble <= skewShare * n.toDouble) {
      val w = Window.partitionBy("source", "lang").orderBy(strat, col("doc_id"))
      joined.withColumn("rk", row_number().over(w).cast("long"))
    } else
      graft.queries.CoreRelational.keyedRankQuantile(
          joined, Seq("source", "lang"),
          Cols.md5Prefix(stratKey, 15),
          struct(strat, col("doc_id")))
        .withColumnRenamed("rnk", "rk").drop("n_key")
  }

  def queries: Map[String, Q] = Map(
    // Inverted phrase index build — the exact-match retrieval backbone
    // (and the substring-search infra every contamination audit needs):
    // distinct (word-bigram, doc) postings, hot grams (df > 64 — the
    // boilerplate-phrase class) excluded, singletons dropped, surviving
    // lists serialized in doc order. Spelled as ONE aggregation: the
    // CappedDistinctLongs collector (cap 65 = threshold + 1) dedups,
    // counts, and collects in bounded per-group state, so df, the
    // postings, AND the hot-gram exclusion (a full collector is exactly
    // df > 64) ride a single exchange — the previous
    // distinct → df-count → broadcast-anti-join → collect spelling
    // planned the corpus explode once PER CONSUMER (and AQE's canonical
    // stage reuse missed the pair), three exchanges deep. A viral gram
    // ships ≤ 65 longs per task, so the one exchange cannot skew.
    "x26_inverted_index" -> { (s, d) =>
      val cappedSet = udaf(new graft.functions.CappedDistinctLongs(65))
      Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-1), " +
            "i -> concat(element_at(ws, i), ' ', element_at(ws, i+1)))")).as("gram"))
        .groupBy("gram")
        .agg(cappedSet(col("doc_id")).as("ids"))
        // size < 65 ⇒ the set is complete and size IS the exact df;
        // size = 65 ⇒ df ≥ 65 > 64 — the hot class, dropped either way
        .filter(size(col("ids")).between(2, 64))
        .select(col("gram"), size(col("ids")).cast("long").as("df"),
          array_join(transform(col("ids"), _.cast("string")), ",").as("postings"))
        .orderBy("gram")
    },
    // PMI collocation mining — the phrase-discovery primitive (corpus
    // tokenizer vocabularies, stop-phrase lists, NER gazetteers all
    // start here): pointwise mutual information ln(p(ab)/(p(a)p(b)))
    // over corpus unigram/bigram counts. Two combinable count aggs plus
    // a vocab-sized broadcast join of the unigram table into the bigram
    // stream — no corpus self-join; the c_ab >= 5 support floor is the
    // standard PMI low-count-blowup guard. Top 100 by rounded PMI with
    // a lexicographic tie-break so the cut is deterministic.
    "x27_pmi_collocations" -> { (s, d) =>
      pmiCollocations(Tables.documents(s, d))
    },
    // Corpus vocabulary profile — the pre-training health metrics a
    // curation sweep reports before anything trains on the data:
    // type/token counts, type-token ratio, hapax fraction (Zipf tail
    // mass — a collapsing TTR/hapax profile is the classic symptom of
    // duplication or synthetic text), and top-100-word coverage (head
    // concentration). One explode + one combinable vocab count; the
    // head probe is a TakeOrderedAndProject over the (vocab-sized)
    // count table; every ratio is a single division of exact longs, so
    // the row is bit-identical cross-engine with no decimal routing.
    "x19_vocab_stats" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val summary = counts.agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      val top = counts.orderBy(col("c").desc, col("word")).limit(100)
        .agg(coalesce(sum(col("c")), lit(0L)).as("top_c"))
      summary.crossJoin(broadcast(top))
        .select(col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("type_token_ratio"),
          (col("n_hapax").cast("double") / col("n_types").cast("double"))
            .as("hapax_frac"),
          (col("top_c").cast("double") / col("n_tokens").cast("double"))
            .as("top100_coverage"))
    },
    // Language ID: explode → broadcast-join marker table → per-(doc,lang)
    // hit counts → rank-1 per doc.
    "x1_langid" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = s.createDataFrame(markers).toDF("cand_lang", "word")
      val hits = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .join(broadcast(m), "word")
        .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("hits"))
      val w = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("cand_lang"))
      val best = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      docs.select("doc_id", "lang")
        .join(best.select(col("doc_id"), col("cand_lang"), col("hits")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("cand_lang"), lit("und")).as("pred_lang"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .orderBy("doc_id")
    },
    // Quality scoring: length / alpha-ratio / stopword-density heuristics.
    "x2_quality_score" -> { (s, d) =>
      withQualityFeatures(Tables.documents(s, d).select("doc_id", "n_chars", "text"))
        .drop("text")
        .withColumn("mean_token_len",
          col("n_alpha").cast("double") / col("n_tokens").cast("double"))
        .withColumn("stopword_ratio",
          col("stop_hits").cast("double") / col("n_tokens").cast("double"))
        .withColumn("is_quality", col("quality_score") >= 0.6)
        .orderBy("doc_id")
    },
    // Token counting: whitespace tokens, regex word tokens, and the
    // chars/4 BPE-ish estimate.
    "x3_token_count" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z0-9]+")).cast("long").as("re_tokens"),
          ceil(col("n_chars").cast("double") / 4.0).cast("long").as("approx_bpe_tokens"))
        .orderBy("doc_id")
    },
    // Deterministic hash sampling + stratified rates + train/test split:
    // md5-bucket the key so both engines (and reruns) select identical
    // rows — the reproducible alternative to RNG-based TABLESAMPLE, and
    // the standard trick for stable train/test assignment at 100 TB
    // (no global shuffle, no state, pure map-side).
    "x6_hash_sampling" -> { (s, d) =>
      val bucket = Cols.md5Prefix(concat(lit("smp|"), col("doc_id").cast("string")), 4)
      val rate = when(col("lang") === "en", lit(0.25)).otherwise(lit(0.5)) // stratified
      Tables.documents(s, d)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate * 65536)
        .withColumn("split",
          when(col("bucket") < lit(0.8) * rate * 65536, "train").otherwise("test"))
        .select("doc_id", "lang", "bucket", "split")
        .orderBy("doc_id")
    },
    // Exact-quota stratified sample — x6's rate-based Bernoulli cannot
    // hit a FIXED total (an eval set of exactly K docs, proportionally
    // allocated across strata): quotas come from largest-remainder
    // (Hamilton) apportionment of K over the (source, lang) strata,
    // computed entirely in INTEGER arithmetic (base = K·n_s div N; the
    // remainder rank compares the integer numerators K·n_s − base·N, so
    // the allocation is hash-exact — a double K·n_s/N would tie-break on
    // ulps). In-stratum selection is the x6 md5 order, so membership is
    // reproducible across engines and reruns. Shape at 100 TB: one
    // combinable strata count, the apportionment over the ≤|strata|-row
    // dim frame (dim-sized single-partition window — planning state, not
    // data), quotas broadcast back, and ONE keyed window partitioned by
    // stratum for the rank — via [[stratumRanked]], which GUARDS for a
    // dominant stratum and routes the rank through the o7 quantile
    // two-pass when one holds more than half the corpus (the x41
    // prefRanked discipline, rank-identical by construction and pinned
    // in ScaleSpec); quotas cap selected rows at K regardless.
    "x39_stratified_sample" -> { (s, d) =>
      val k = 200L
      val docs = Tables.documents(s, d)
      val strata = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_s"))
      val tot = docs.agg(count(lit(1)).as("n_total"))
      val alloc = strata.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($k * n_s) div n_total"))
        .withColumn("rem_num", expr(s"$k * n_s") - col("base") * col("n_total"))
      val ranked = alloc.withColumn("rk_rem", row_number().over(
        Window.orderBy(col("rem_num").desc, col("source"), col("lang"))))
      val deficit = alloc.agg((lit(k) - sum(col("base"))).as("deficit"))
      val quotas = ranked.crossJoin(broadcast(deficit))
        .select(col("source"), col("lang"),
          (col("base") +
            when(col("rk_rem") <= col("deficit"), 1L).otherwise(0L)).as("quota"))
      // quota > 0 pre-filter: zero-quota strata would otherwise flow
      // through the corpus-sized rank window only to be discarded —
      // pruning them on the broadcast side is free. The rank itself is
      // [[stratumRanked]]: the plain (source, lang)-keyed window, or
      // the o7 quantile two-pass when one stratum dominates.
      stratumRanked(
          docs.join(broadcast(quotas.filter(col("quota") > 0L)), Seq("source", "lang")))
        .filter(col("rk") <= col("quota"))
        .select("doc_id", "source", "lang", "rk", "quota")
        .orderBy("doc_id")
    },
    // Preference-pair construction — the RLHF/DPO data-prep step: per
    // source, pair the i-th best-scoring document with the i-th worst
    // as (chosen, rejected, margin), for i up to n/2 (so no row sits on
    // both sides) and only while the margin is strictly positive (ties
    // teach nothing). The quality proxy is the letter-density score —
    // deterministic and cross-engine (the real pipeline swaps in a
    // reward-model score column; the pairing plan is the operator).
    // Shape at 100 TB: BOTH ranks ride one (source)-keyed exchange (two
    // window sorts over the same partitioning — Catalyst reuses the
    // exchange), and the chosen↔rejected match is a (source, idx)-keyed
    // self-join of two already-filtered halves. A corpus-sized source
    // is the windows' skew bound — [[prefRanked]] GUARDS for it and
    // routes the rank through the o7 quantile two-pass
    // ([[graft.queries.CoreRelational.keyedRankQuantile]]) when one
    // source holds more than half the corpus; ScaleSpec pins the two
    // spellings rank-identical under pathological skew.
    "x41_preference_pairs" -> { (s, d) =>
      val scored = Tables.documents(s, d)
        .withColumn("score", round(
          length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
            greatest(col("n_chars"), lit(1L)).cast("double"), 9))
      val ranked = prefRanked(scored)
      val best = ranked.filter(col("rk_best") <= col("n_src") / 2)
        .select(col("source"), col("rk_best").as("pair_idx"),
          col("doc_id").as("chosen_id"), col("score").as("chosen_score"))
      val worst = ranked.filter(col("rk_worst") <= col("n_src") / 2)
        .select(col("source"), col("rk_worst").as("pair_idx"),
          col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
      best.join(worst, Seq("source", "pair_idx"))
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
        .filter(col("margin") > 0.0)
        .select("source", "pair_idx", "chosen_id", "rejected_id", "margin")
        .orderBy("source", "pair_idx")
    },
    // TF-IDF: term frequency × inverse document frequency, top-3 terms
    // per doc. Shape at 100 TB: one explode + map-side-combinable tf agg,
    // a df agg over the (already much smaller) distinct doc-term pairs,
    // a shuffle join keyed on term (df dim is vocabulary-sized — often
    // broadcastable; here joined), and a bounded per-doc top-k window.
    // ln() is libm in both engines, so the score is rounded to 9 digits
    // (same documented boundary-window class as a10's corr).
    "x7_tfidf" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "word")
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .withColumn("tfidf", round(
          col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")), 9))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("doc_id", "word", "tf", "df", "tfidf")
        .orderBy("doc_id", "word")
    },
    // Sequence packing (concat-then-chunk): documents are concatenated in
    // doc_id order and split into fixed 512-token context windows; each
    // doc learns its chunk id and offset from the exclusive prefix sum of
    // token counts. The window is PARTITIONED BY (lang, shard) where the
    // shard is a deterministic md5 bucket of doc_id: a global (or even
    // per-language — a corpus has a handful of languages) ordered prefix
    // sum would serialize onto one task at 100 TB, whereas (lang, shard)
    // gives #langs × NumPackShards independent windows, each packed in
    // parallel — how training pipelines shard this in practice (shards
    // are packed independently; chunk ids are per-shard).
    "x8_sequence_pack" -> { (s, d) =>
      packTokens(
        withQualityFeatures(Tables.documents(s, d).select("doc_id", "lang", "text"))
          .select("doc_id", "lang", "n_tokens"),
        blockSize = 512, shards = NumPackShards)
        .orderBy("doc_id")
    },
    // Overlapping context-window chunking — the retrieval/pretraining
    // chunker x8's disjoint packing deliberately isn't: windows of
    // `ChunkSize` tokens starting every `ChunkStride` (8-token overlap
    // preserves cross-boundary context for embedding/retrieval). Pure
    // map-side: per-doc `sequence` of starts exploded + an array slice,
    // no shuffle, no state — scales as scan bandwidth like x28. The
    // last window may be short (`n_toks` carries the actual length);
    // chunk_idx = start/stride keys re-assembly.
    "x29_chunk_overlap" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(0, greatest(size(toks) - 1, 0), $ChunkStride)")).as("start"))
        .select(col("doc_id"),
          (col("start") / ChunkStride).cast("long").as("chunk_idx"),
          expr(s"concat_ws(' ', slice(toks, start + 1, $ChunkSize))").as("chunk"),
          least(size(col("toks")) - col("start"), lit(ChunkSize)).cast("long").as("n_toks"))
        .orderBy("doc_id", "chunk_idx")
    },
    // Repetition signals (the published web-corpus quality heuristics:
    // duplicate-token and duplicate-n-gram fractions flag boilerplate /
    // keyword-stuffed pages). Per doc: distinct-token ratio, the mass of
    // the single most frequent token, and the duplicate-3-gram fraction
    // (1 − distinct/total 3-grams). One explode + two map-side-combinable
    // aggs keyed by doc_id — embarrassingly parallel at 100 TB; all
    // ratios are long/long double divisions (correctly rounded in both
    // engines, no decimal routing needed).
    "x9_repetition" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val wc = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      val perDoc = wc.groupBy("doc_id").agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      docs.select(col("doc_id"),
          size(call_function("word_shingles", col("text"))).cast("long").as("n_distinct_3grams"))
        .join(perDoc, "doc_id")
        .withColumn("distinct_ratio",
          col("n_distinct").cast("double") / col("n_tokens").cast("double"))
        .withColumn("top_token_frac",
          col("top_cnt").cast("double") / col("n_tokens").cast("double"))
        .withColumn("dup_3gram_frac",
          when(col("n_tokens") > 2,
            lit(1.0) - col("n_distinct_3grams").cast("double") /
              (col("n_tokens") - 2).cast("double"))
            .otherwise(lit(0.0)))
        .withColumn("is_repetitive",
          col("top_token_frac") > 0.2 || col("dup_3gram_frac") > 0.3)
        .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio",
          "top_token_frac", "dup_3gram_frac", "is_repetitive")
        .orderBy("doc_id")
    },
    // Corpus unigram language-model quality score: every token scores
    // ln p(w) under the corpus unigram distribution; a document's score
    // is the mean. Low scores → rare-token soup (lorem-ipsum, code,
    // mojibake); the cheap statistical stand-in for model-based fluency
    // filtering. Each ln is rounded to 9 digits BEFORE the decimal-exact
    // per-doc sum (the x7 pattern — summing raw libm values first would
    // accumulate cross-engine ulps past the rounding guard). Shape at
    // 100 TB: explode → combinable vocab agg, vocabulary-sized logp dim
    // joined back on term, one combinable per-doc re-agg.
    "x10_unigram_lm" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val cnts = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
      val total = toks.agg(count(lit(1)).as("total"))
      val logp = cnts.crossJoin(broadcast(total))
        .select(col("word"),
          round(log(col("cnt").cast("double") / col("total").cast("double")), 9).as("lp"))
      toks.join(logp, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          // DECIMAL(28,12): scale 12 holds the 9-digit-rounded lp exactly
          // (Cols.Dec's scale 6 would re-round it)
          (sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(28, 12))).cast("double") /
            count(lit(1)).cast("double")).as("avg_logp"))
        .withColumn("is_fluent", col("avg_logp") > -7.0)
        .orderBy("doc_id")
    },
    // End-to-end corpus pipeline — the composed user story of the
    // training-data engine, as ONE declarative plan Catalyst optimizes
    // whole: exact-dedup (keep the min-doc_id canonical per md5(text)
    // group) → quality filter (x2's score ≥ 0.35 — the corpus median is ~0.37, so the gate keeps a meaningful survivor set) → sequence packing of
    // the SURVIVORS (x8's (lang, shard)-keyed prefix sum — chunk ids
    // shift as upstream stages drop docs, which is why packing must run
    // last). Three chained stages, three shuffles (dedup window, the
    // packing window; the quality stage is narrow) — at 100 TB each
    // stage is the already-audited shape of its standalone operator.
    "x11_pipeline" -> { (s, d) =>
      val canonical = Window.partitionBy(md5(col("text")))
      val surv = withQualityFeatures(
          Tables.documents(s, d)
            .withColumn("canonical_doc", min(col("doc_id")).over(canonical))
            .filter(col("doc_id") === col("canonical_doc"))
            .select("doc_id", "lang", "n_chars", "text"))
        .filter(col("quality_score") >= QualityThreshold)
      packTokens(surv, blockSize = 512, shards = NumPackShards)
        .select("doc_id", "lang", "n_tokens", "quality_score", "shard",
          "cum_before", "chunk_id", "offset_in_chunk")
        .orderBy("doc_id")
    },
    // Domain mixing: balance the corpus across languages by deterministic
    // subsampling — every language contributes exactly `min(per-lang
    // count)` documents, selected by md5 order (reproducible, RNG-free,
    // same trick as x6). The general form is [[domainMix]] (per-domain
    // target counts, up- or down-sampling); this gate is the equal-target
    // special case. The rank is computed by [[mixRank]]'s sharded plan —
    // windows keyed (lang, first-hex-of-md5), never lang alone — so the
    // selection parallelism is #langs × 16 at any scale, with the global
    // md5-order rank reconstructed exactly from a 16-row-per-lang prefix
    // sum (see mixRank's scaladoc for why the output is identical to a
    // single per-lang window).
    "x15_domain_mix" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val target = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        .agg(min(col("n_lang")).as("target"))
      mixRank(docs.select("doc_id", "lang", "source"), "lang")
        .crossJoin(broadcast(target))
        .filter(col("rn") <= col("target"))
        .select("doc_id", "lang", "source", "rn")
        .orderBy("doc_id")
    },
    // Temperature-based mixture resampling (the XLM-R / mT5 recipe):
    // domains are re-weighted ∝ n^α with α = 0.5, so high-resource
    // languages down-sample and low-resource languages UP-sample
    // (replica > 0 rows — the domainMix path x15's equal-allocation
    // special case never exercises), holding total size ≈ constant.
    // Targets are derived fully in-plan — per-lang counts → √n weights
    // (decimal-summed so the normalizer is accumulation-order-exact) →
    // floor(T · w/Z) — a #langs-row relation that broadcasts into
    // [[domainMixDf]]'s sharded-rank selection. Nothing corpus-shaped
    // moves except the two count aggregates and the final narrow
    // explode; at 100 TB the mixture math is free and the resample is
    // one map-side join per doc.
    "x22_temperature_mix" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "source")
      val c = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val w = c.withColumn("wdec",
        sqrt(col("n_lang").cast("double")).cast(DecimalType(28, 12)))
      val z = w.agg(sum(col("wdec")).as("z"),
        sum(col("n_lang")).as("t"))
      val tgt = w.crossJoin(broadcast(z))
        .select(col("lang"),
          floor(col("t").cast("double") *
            (col("wdec").cast("double") / col("z").cast("double"))).cast("long").as("target"))
      domainMixDf(docs, "lang", tgt, salt = "tmix")
        .orderBy("doc_id", "replica")
    },
    // DSIR data selection: importance weights log(p_en/p_corpus) over
    // hashed unigram+bigram features, then Gumbel top-k — sampling
    // without replacement ∝ exp(log_w), derandomized through the same
    // md5 trick as x6 (u from a salted doc hash, g = −ln(−ln u)) so the
    // draw is reproducible across engines. The models are 256-row
    // tables whatever the corpus size; the draw is a distributed top-k
    // (TakeOrdered — no global sort); only the k winners ever leave the
    // executors.
    "x25_dsir_selection" -> { (s, d) =>
      val w = dsirWeights(Tables.documents(s, d), col("lang") === "en")
      val u = (Cols.md5Prefix(concat(lit("gum|"), col("doc_id").cast("string")), 8)
        .cast("double") + lit(1.0)) / lit(4294967297.0)
      val keyed = w.withColumn("gkey", round(col("log_w") + -log(-log(u)), 9))
      keyed.orderBy(col("gkey").desc, col("doc_id")).limit(100)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("gkey").desc, col("doc_id"))).cast("long"))
        .select("rank", "doc_id", "n_feats", "log_w", "gkey")
    },
    // Token-budget curriculum fill: take the BEST documents first —
    // quality decile major, deterministic md5 order within a decile —
    // until a fixed token budget is reached (the "give me exactly T
    // tokens of the best data" op every training run starts with;
    // budget-fill semantics: the straddling doc is included, so the
    // pack may overflow by < 1 doc). The greedy global order is spelled
    // WITHOUT a global window via the mixRank trick: the running token
    // sum is computed per (bucket, hshard) — hshard = first hex char of
    // the md5 sort key, a monotone function of the key — and corrected
    // by a ≤160-row (bucket × hshard) prefix-sum table broadcast back,
    // so the cumulative sum is exact at 16× the parallelism and the
    // output is bounded by T/avg_tokens docs at ANY corpus size.
    "x32_token_budget" -> { (s, d) =>
      val docs = withQualityFeatures(Tables.documents(s, d).select("doc_id", "text"))
        .withColumn("bucket",
          least(floor(col("quality_score") * 10).cast("long"), lit(9L)))
        .withColumn("h", md5(concat(lit("tb|"), col("doc_id").cast("string"))))
        .withColumn("hshard", substring(col("h"), 1, 1))
      val w = Window.partitionBy("bucket", "hshard").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = docs
        .withColumn("local_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // the correction table: tokens in strictly-earlier (bucket, hshard)
      // groups of the global (bucket DESC, h) order — planning-state
      // sized (≤ 10 × 16 rows), so its unpartitioned window is fine
      val wg = Window.orderBy(col("bucket").desc, col("hshard"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = docs.groupBy("bucket", "hshard")
        .agg(sum(col("n_tokens")).as("gtok"))
        .withColumn("before", coalesce(sum(col("gtok")).over(wg), lit(0L)))
        .select("bucket", "hshard", "before")
      local.join(broadcast(off), Seq("bucket", "hshard"))
        .withColumn("cum_before", col("before") + col("local_before"))
        .filter(col("cum_before") < TokenBudget)
        .select("doc_id", "bucket", "n_tokens", "quality_score", "cum_before")
        .orderBy("doc_id")
    },
    // Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003 —
    // the MOSS algorithm): hash every word-4-gram, slide a 5-gram
    // window, keep each window's minimal hash with RIGHTMOST tie-break.
    // Guarantees: any shared run of ≥ 8 words between two documents
    // yields at least one shared selected fingerprint (x4's whole-doc
    // fingerprint detects only exact token-set copies; winnowing
    // detects partial overlap with a density bound). The rightmost-min
    // selection is ONE window pass: min over the 5-row frame of the
    // string key hash||inverted-padded-pos — lexicographic min = (min
    // hash, then max pos), identically ordered in both engines because
    // the key is fixed-width. Per-doc windows → per-doc parallelism;
    // map-side distinct before the final projection.
    "x35_winnowing" -> { (s, d) =>
      val k = 4 // gram words
      val wlen = 5 // window grams
      // grams are built by a PURE MAP over the token array (slice per
      // position) rather than the former lead()-over-window spelling,
      // and maxp is just the array size — so of the three per-doc
      // windows only the one the ALGORITHM needs (min over the sliding
      // wlen frame) remains; same values (concat_ws over the same k
      // words), ~identical plan below the window
      val grams = Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        // docs shorter than one gram select nothing either way (the old
        // spelling filtered their rows out post-window); the explicit
        // filter also keeps sequence() from going descending on size<k
        .filter(size(col("ws")) >= k)
        .withColumn("maxp", size(col("ws")) - 1)
        .select(col("doc_id"), col("maxp"), posexplode(expr(
          s"transform(sequence(1, size(ws) - ${k - 1}), " +
            s"i -> concat_ws(' ', slice(ws, i, $k)))")))
        .toDF("doc_id", "maxp", "pos", "gram")
        // the (hash, latest-position) window key as ONE LONG instead of
        // a 15-char string (r20): the old key concatenated 8 lowercase
        // hex chars with a 7-decimal-digit inverted position and min'd
        // the strings — per-gram string building plus string compares
        // in the hot window. gh·10^7 + inv orders IDENTICALLY
        // (fixed-width lexicographic on (hex, decimal) segments ≡
        // numeric on the packed pair; gh < 2^32 so the pack fits a
        // long exactly), and the hash itself rides the native
        // md5-prefix kernel. fingerprint/pos unpack bit-identically
        // (%08x is the same lowercase zero-padded hex the substring
        // produced).
        .withColumn("ghl", Cols.md5Prefix(col("gram"), 8))
        .withColumn("key",
          col("ghl") * 10000000L + (lit(9999999L) - col("pos")))
      val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, wlen - 1)
      grams
        .withColumn("sel", min(col("key")).over(win))
        // only FULL windows select (a trailing 4-gram run shorter than
        // the window would otherwise add sparser, position-biased
        // picks); the last gram sits at maxp - (k-1), so full windows
        // end at maxp - (k-1) - (wlen-1) — no second max() window pass
        .filter(col("pos") <= col("maxp") - (k - 1) - (wlen - 1))
        .select(col("doc_id"),
          (lit(9999999L) - col("sel") % 10000000L).as("pos"),
          format_string("%08x", expr("sel DIV 10000000")).as("fingerprint"))
        .distinct()
        .orderBy("doc_id", "pos")
    },
    // Content-defined chunking (the Rabin/gear-CDC discipline at word
    // granularity): a word whose hash lands in 1/8 of the space STARTS
    // a new chunk, so boundaries are decided by LOCAL content only —
    // insert one word early in a document and every fixed-width chunk
    // after it shifts (x29), while CDC boundaries downstream of the
    // edit stay identical, which is what makes chunk-hash dedup robust
    // to prefix edits. One explode → per-doc cumulative boundary count
    // (keyed window) → per-chunk agg with an order-pinned digest.
    "x36_cdc_chunks" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "word")
        .withColumn("bdy",
          when(Cols.md5Prefix(col("word"), 2) % 8 === 0, 1L).otherwise(0L))
        .withColumn("chunk_id", sum(col("bdy"))
          .over(Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)))
      toks.groupBy("doc_id", "chunk_id")
        .agg(min(col("pos")).cast("long").as("start_pos"),
          count(lit(1)).as("n_words"),
          md5(concat_ws(" ", transform(
            sort_array(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word")))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
    // Fingerprint: md5 over the sorted distinct token set (key-collision
    // clustering); canonical doc per fingerprint via window min.
    "x4_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
            .as("fingerprint"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_tokens"))
        .withColumn("canonical_doc",
          min(col("doc_id")).over(Window.partitionBy("fingerprint")))
        .orderBy("doc_id")
    }
  )

  /** x27's core: PMI-scored word-bigram collocations. `minSupport` is
    * the standard low-count-blowup guard (rare pairs have wildly
    * inflated PMI); `topK` plans as a distributed TakeOrderedAndProject
    * on (rounded pmi desc, wa, wb) so the cut is deterministic and only
    * topK rows reach the driver.
    */
  def pmiCollocations(docs: DataFrame, minSupport: Long = 5L,
      topK: Int = 100): DataFrame = {
    require(minSupport >= 1 && topK >= 1)
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val n1 = toks.agg(count(lit(1)).as("n1"))
    val bi = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws)-1), " +
          "i -> struct(element_at(ws, i) AS wa, element_at(ws, i+1) AS wb))")).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    val biCnt = bi.groupBy("wa", "wb").agg(count(lit(1)).as("c_ab"))
    val n2 = bi.agg(count(lit(1)).as("n2"))
    biCnt.filter(col("c_ab") >= minSupport)
      .join(broadcast(uni.withColumnRenamed("w", "wa").withColumnRenamed("c", "c_a")), "wa")
      .join(broadcast(uni.withColumnRenamed("w", "wb").withColumnRenamed("c", "c_b")), "wb")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi", round(log(
        (col("c_ab").cast("double") / col("n2").cast("double")) /
          ((col("c_a").cast("double") / col("n1").cast("double")) *
            (col("c_b").cast("double") / col("n1").cast("double")))), 9))
      .select("wa", "wb", "c_ab", "pmi")
      .orderBy(col("pmi").desc, col("wa"), col("wb"))
      .limit(topK)
  }

  def oracles: Map[String, String] = Map(
    // DuckDB range() is end-exclusive where Spark's sequence(0, n-1) is
    // end-inclusive — range(0, n) enumerates the same starts; list_slice
    // is [a, b]-inclusive vs Spark's (start, length).
    "x29_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |st AS (SELECT doc_id, toks,
         |    unnest(range(0, greatest(len(toks), 1), $ChunkStride)) AS start FROM t)
         |SELECT doc_id, CAST(start // $ChunkStride AS BIGINT) AS chunk_idx,
         |  array_to_string(list_slice(toks, start + 1, start + $ChunkSize), ' ') AS chunk,
         |  CAST(least(len(toks) - start, $ChunkSize) AS BIGINT) AS n_toks
         |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    // Same counts, identical division/ln tree, same rounded-PMI cut.
    "x27_pmi_collocations" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w),
        |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM toks),
        |ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |bi AS (SELECT unnest(list_transform(range(1, len(ws)),
        |      i -> struct_pack(wa := ws[i], wb := ws[i+1]))) AS p
        |  FROM ws WHERE len(ws) >= 2),
        |bic AS (SELECT p.wa AS wa, p.wb AS wb, CAST(count(*) AS BIGINT) AS c_ab
        |  FROM bi GROUP BY 1, 2),
        |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM bi)
        |SELECT wa, wb, c_ab,
        |  round(ln((CAST(c_ab AS DOUBLE) / CAST(n2.n2 AS DOUBLE)) /
        |    ((CAST(ua.c AS DOUBLE) / CAST(n1.n1 AS DOUBLE)) *
        |     (CAST(ub.c AS DOUBLE) / CAST(n1.n1 AS DOUBLE)))), 9) AS pmi
        |FROM bic
        |JOIN uni ua ON bic.wa = ua.w
        |JOIN uni ub ON bic.wb = ub.w, n1, n2
        |WHERE c_ab >= 5
        |ORDER BY pmi DESC, wa, wb LIMIT 100""".stripMargin,
    // Same ladder: distinct bigram postings, df-capped hot list
    // anti-joined away, doc-ordered list serialization.
    "x26_inverted_index" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |raw AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram
        |  FROM w WHERE len(ws) >= 2),
        |toks AS (SELECT DISTINCT doc_id, gram FROM raw),
        |dfreq AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY gram),
        |keep AS (SELECT gram, df FROM dfreq WHERE df BETWEEN 2 AND 64)
        |SELECT t.gram, k.df,
        |  string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id) AS postings
        |FROM toks t JOIN keep k USING (gram)
        |GROUP BY t.gram, k.df ORDER BY t.gram""".stripMargin,
    "x19_vocab_stats" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |vc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY word),
        |s AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM vc),
        |t AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS top_c
        |  FROM (SELECT c FROM vc ORDER BY c DESC, word LIMIT 100))
        |SELECT n_tokens, n_types,
        |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
        |  CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_frac,
        |  CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top100_coverage
        |FROM s, t""".stripMargin,
    "x1_langid" -> {
      val vals = markers.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")
      s"""WITH m(cand_lang, word) AS (VALUES $vals),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |hits AS (SELECT doc_id, cand_lang, count(*) AS hits
         |  FROM toks JOIN m USING (word) GROUP BY doc_id, cand_lang),
         |best AS (SELECT doc_id, cand_lang, hits FROM (
         |    SELECT doc_id, cand_lang, hits,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
         |    FROM hits) WHERE rn = 1)
         |SELECT d.doc_id, d.lang,
         |  coalesce(b.cand_lang, 'und') AS pred_lang,
         |  coalesce(b.hits, 0) AS hits
         |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "x11_pipeline" ->
      s"""WITH c AS (
         |  SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc
         |  FROM documents),
         |s1 AS (
         |  SELECT doc_id, lang,
         |    CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |    CAST(length(regexp_extract_all(text, '$StopRe')) AS BIGINT) AS stop_hits
         |  FROM c WHERE doc_id = canonical_doc),
         |s2 AS (
         |  SELECT doc_id, lang, n_tokens,
         |    ${qualityScoreSql("n_tokens", "n_alpha", "stop_hits")}
         |      AS quality_score
         |  FROM s1),
         |s3 AS (
         |  SELECT *, ${packShardSql("doc_id")} AS shard
         |  FROM s2 WHERE quality_score >= 0.35),
         |p AS (
         |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM s3)
         |SELECT doc_id, lang, n_tokens, quality_score, shard, cum_before,
         |  cum_before // 512 AS chunk_id, cum_before % 512 AS offset_in_chunk
         |FROM p ORDER BY doc_id""".stripMargin,
    "x2_quality_score" ->
      s"""WITH base AS (
         |  SELECT doc_id, n_chars,
         |    CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |    CAST(length(regexp_extract_all(text, '$StopRe')) AS BIGINT) AS stop_hits
         |  FROM documents),
         |m AS (
         |  SELECT *, CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_len,
         |    CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio
         |  FROM base)
         |SELECT doc_id, n_chars, n_tokens, n_alpha, stop_hits, mean_token_len, stopword_ratio,
         |  ${qualityScoreSql("n_tokens", "n_alpha", "stop_hits")} AS quality_score,
         |  (${qualityScoreSql("n_tokens", "n_alpha", "stop_hits")}) >= 0.6 AS is_quality
         |FROM m ORDER BY doc_id""".stripMargin,
    "x32_token_budget" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |    CAST(length(regexp_extract_all(text, '$StopRe')) AS BIGINT) AS stop_hits
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |    ${qualityScoreSql("n_tokens", "n_alpha", "stop_hits")} AS quality_score,
         |    least(CAST(floor((${qualityScoreSql("n_tokens", "n_alpha", "stop_hits")}) * 10) AS BIGINT), 9) AS bucket,
         |    md5('tb|' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM base),
         |c AS (
         |  SELECT *, CAST(coalesce(SUM(n_tokens) OVER (
         |    ORDER BY bucket DESC, h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM q)
         |SELECT doc_id, bucket, n_tokens, quality_score, cum_before
         |FROM c WHERE cum_before < 20000 ORDER BY doc_id""".stripMargin,
    "x35_winnowing" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (SELECT doc_id, unnest(generate_series(1, len(l)-3)) AS i, l FROM w),
        |gr AS (SELECT doc_id, i,
        |  substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]), 1, 8) AS gh
        |  FROM g),
        |k AS (SELECT doc_id, i, gh,
        |  gh || lpad(CAST(9999999 - (i - 1) AS VARCHAR), 7, '0') AS key FROM gr),
        |s AS (SELECT doc_id, i,
        |  min(key) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel,
        |  max(i) OVER (PARTITION BY doc_id) AS maxi
        |  FROM k)
        |SELECT DISTINCT doc_id,
        |  CAST(9999999 - CAST(substr(sel, 9, 7) AS BIGINT) AS BIGINT) AS pos,
        |  substr(sel, 1, 8) AS fingerprint
        |FROM s WHERE i <= maxi - 4
        |ORDER BY doc_id, pos""".stripMargin,
    "x36_cdc_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |t AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM w),
        |tok AS (SELECT doc_id, i, l[i] AS word,
        |  CASE WHEN CAST(('0x' || substr(md5(l[i]), 1, 2)) AS BIGINT) % 8 = 0
        |    THEN 1 ELSE 0 END AS bdy
        |  FROM t),
        |c AS (SELECT doc_id, i, word,
        |  SUM(bdy) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
        |  FROM tok)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(min(i) - 1 AS BIGINT) AS start_pos,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  md5(string_agg(word, ' ' ORDER BY i)) AS chunk_md5
        |FROM c GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "x3_token_count" ->
      """SELECT doc_id,
        |  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(length(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
        |  CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS approx_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x6_hash_sampling" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS bucket,
        |    CASE WHEN lang = 'en' THEN 0.25 ELSE 0.5 END AS rate
        |  FROM documents)
        |SELECT doc_id, lang, bucket,
        |  CASE WHEN bucket < 0.8 * rate * 65536 THEN 'train' ELSE 'test' END AS split
        |FROM b WHERE bucket < rate * 65536 ORDER BY doc_id""".stripMargin,
    // The identical integer Hamilton apportionment + md5 in-stratum rank.
    "x39_stratified_sample" ->
      """WITH st AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_s
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
        |al AS (SELECT source, lang, n_s,
        |    (200 * n_s) // n_total AS base,
        |    200 * n_s - ((200 * n_s) // n_total) * n_total AS rem_num
        |  FROM st CROSS JOIN tot),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem_num DESC, source, lang) AS rk_rem
        |  FROM al),
        |de AS (SELECT 200 - sum(base) AS deficit FROM al),
        |q AS (SELECT source, lang,
        |    CAST(base + CASE WHEN rk_rem <= deficit THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM rk CROSS JOIN de),
        |sel AS (SELECT d.doc_id, d.source, d.lang, q.quota,
        |    row_number() OVER (PARTITION BY d.source, d.lang
        |      ORDER BY md5('strat|' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        |  FROM documents d JOIN q USING (source, lang))
        |SELECT doc_id, source, lang, CAST(rn AS BIGINT) AS rk, quota
        |FROM sel WHERE rn <= quota ORDER BY doc_id""".stripMargin,
    // The identical letter-density score, rank pairing, and margin cut.
    "x41_preference_pairs" ->
      """WITH sc AS (SELECT doc_id, source,
        |    round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
        |      CAST(greatest(n_chars, 1) AS DOUBLE), 9) AS score
        |  FROM documents),
        |r0 AS (SELECT doc_id, source, score,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk_best,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM sc),
        |rk AS (SELECT *, n_src - rk_best + 1 AS rk_worst FROM r0),
        |b AS (SELECT source, rk_best AS pair_idx, doc_id AS chosen_id,
        |    score AS chosen_score FROM rk WHERE rk_best <= n_src / 2),
        |w AS (SELECT source, rk_worst AS pair_idx, doc_id AS rejected_id,
        |    score AS rejected_score FROM rk WHERE rk_worst <= n_src / 2)
        |SELECT source, pair_idx, chosen_id, rejected_id,
        |  chosen_score - rejected_score AS margin
        |FROM b JOIN w USING (source, pair_idx)
        |WHERE chosen_score - rejected_score > 0.0
        |ORDER BY source, pair_idx""".stripMargin,
    "x7_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE length(word) > 0 GROUP BY doc_id, word),
        |dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, word, tf, df,
        |    round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 9) AS tfidf
        |  FROM tf JOIN dfreq USING (word), nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn FROM sc)
        |SELECT doc_id, word, tf, df, tfidf FROM r WHERE rn <= 3
        |ORDER BY doc_id, word""".stripMargin,
    "x8_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |    CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    ${packShardSql("doc_id")} AS shard
         |  FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens, shard,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT doc_id, lang, n_tokens, shard, cum_before,
         |  cum_before // 512 AS chunk_id, cum_before % 512 AS offset_in_chunk
         |FROM c ORDER BY doc_id""".stripMargin,
    "x9_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY doc_id, word),
        |pd AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct, MAX(cnt) AS top_cnt
        |  FROM wc GROUP BY doc_id),
        |w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |shraw AS (SELECT doc_id, unnest(generate_series(1, len(l)-2)) AS i, l FROM w),
        |sh AS (SELECT doc_id, CAST(count(DISTINCT l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS BIGINT)
        |    AS n_distinct_3grams
        |  FROM shraw GROUP BY doc_id),
        |j AS (SELECT p.doc_id, n_tokens, n_distinct, top_cnt,
        |    COALESCE(n_distinct_3grams, 0) AS n_distinct_3grams
        |  FROM pd p LEFT JOIN sh USING (doc_id))
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
        |  CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_frac,
        |  CASE WHEN n_tokens > 2
        |    THEN 1.0 - CAST(n_distinct_3grams AS DOUBLE) / CAST(n_tokens - 2 AS DOUBLE)
        |    ELSE 0.0 END AS dup_3gram_frac,
        |  (CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.2 OR
        |   (CASE WHEN n_tokens > 2
        |      THEN 1.0 - CAST(n_distinct_3grams AS DOUBLE) / CAST(n_tokens - 2 AS DOUBLE)
        |      ELSE 0.0 END) > 0.3) AS is_repetitive
        |FROM j ORDER BY doc_id""".stripMargin,
    "x10_unigram_lm" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |cnts AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY word),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks),
        |logp AS (SELECT word,
        |    round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 9) AS lp
        |  FROM cnts, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_logp,
        |  CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) > -7.0 AS is_fluent
        |FROM toks JOIN logp USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Mirrors mixRank's sharded spelling: windows keyed (lang, first hex
    // char of the md5 sort key), global rank = per-shard rank + prefix
    // sum of earlier shards' counts. Identical output to a single
    // per-lang window because the shard is a monotone prefix of the key.
    "x15_domain_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT min(n_lang) AS target FROM c),
        |base AS (SELECT doc_id, lang, source,
        |    md5('mix|' || CAST(doc_id AS VARCHAR)) AS h,
        |    substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 1) AS hshard
        |  FROM documents),
        |ranked AS (SELECT doc_id, lang, source, hshard,
        |    CAST(row_number() OVER (PARTITION BY lang, hshard
        |      ORDER BY h, doc_id) AS BIGINT) AS srn
        |  FROM base),
        |off AS (SELECT lang, hshard,
        |    CAST(COALESCE(SUM(sc) OVER (PARTITION BY lang ORDER BY hshard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM (SELECT lang, hshard, count(*) AS sc FROM base GROUP BY lang, hshard))
        |SELECT doc_id, lang, source, before + srn AS rn
        |FROM ranked JOIN off USING (lang, hshard), t
        |WHERE before + srn <= target ORDER BY doc_id""".stripMargin,
    // x15's sharded-rank spelling (salt 'tmix') + the temperature-target
    // CTEs: √n weights decimal-summed for the normalizer, targets
    // floor(T·w/Z) — identical IEEE op order to the Spark side — and the
    // up-sample leg unnesting replica copies.
    "x22_temperature_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_lang,
        |    CAST(sqrt(CAST(n_lang AS DOUBLE)) AS DECIMAL(28,12)) AS wdec FROM c),
        |z AS (SELECT SUM(wdec) AS z, CAST(SUM(n_lang) AS BIGINT) AS t FROM w),
        |tgt AS (SELECT lang,
        |    CAST(floor(CAST(t AS DOUBLE) * (CAST(wdec AS DOUBLE) / CAST(z AS DOUBLE))) AS BIGINT) AS target
        |  FROM w, z),
        |base AS (SELECT doc_id, lang, source,
        |    md5('tmix|' || CAST(doc_id AS VARCHAR)) AS h,
        |    substr(md5('tmix|' || CAST(doc_id AS VARCHAR)), 1, 1) AS hshard
        |  FROM documents),
        |ranked AS (SELECT doc_id, lang, source, hshard,
        |    CAST(row_number() OVER (PARTITION BY lang, hshard
        |      ORDER BY h, doc_id) AS BIGINT) AS srn
        |  FROM base),
        |off AS (SELECT lang, hshard,
        |    CAST(COALESCE(SUM(sc) OVER (PARTITION BY lang ORDER BY hshard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM (SELECT lang, hshard, count(*) AS sc FROM base GROUP BY lang, hshard)),
        |sel AS (SELECT r.doc_id, r.lang, r.source, before + srn AS rn, target, n_lang
        |  FROM ranked r JOIN off USING (lang, hshard) JOIN tgt USING (lang) JOIN c USING (lang)
        |  WHERE before + srn <= target)
        |SELECT doc_id, lang, source, rn,
        |  unnest(generate_series(0, (target - rn) // n_lang)) AS replica
        |FROM sel ORDER BY doc_id, replica""".stripMargin,
    // Same hashed-feature models, ratio rounding, decimal-exact doc
    // sums, and salted-hash Gumbel keys; rank over the top-100 draw.
    "x25_dsir_selection" ->
      """WITH base AS (SELECT doc_id, (lang = 'en') AS tgt, string_split(text, ' ') AS a FROM documents),
        |uni AS (SELECT doc_id, tgt, unnest(a) AS feat FROM base),
        |idx AS (SELECT doc_id, tgt, a, unnest(generate_series(1, len(a) - 1)) AS i
        |  FROM base WHERE len(a) >= 2),
        |bi AS (SELECT doc_id, tgt, a[i] || '_' || a[i + 1] AS feat FROM idx),
        |feats AS (SELECT doc_id, tgt, feat,
        |    CAST(('0x' || substr(md5('dsir|' || feat), 1, 2)) AS BIGINT) % 256 AS bucket
        |  FROM (SELECT doc_id, tgt, feat FROM uni UNION ALL SELECT doc_id, tgt, feat FROM bi)),
        |db AS (SELECT doc_id, tgt, bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM feats GROUP BY doc_id, tgt, bucket),
        |cnt AS (SELECT bucket, CAST(SUM(CASE WHEN tgt THEN n ELSE 0 END) AS BIGINT) AS c_t,
        |    CAST(SUM(n) AS BIGINT) AS c_r FROM db GROUP BY bucket),
        |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS t_t, CAST(SUM(c_r) AS BIGINT) AS t_r FROM cnt),
        |lr AS (SELECT bucket,
        |    round(ln(CAST(c_t + 1 AS DOUBLE) / CAST(t_t + 256 AS DOUBLE)) -
        |      ln(CAST(c_r + 1 AS DOUBLE) / CAST(t_r + 256 AS DOUBLE)), 9) AS lr
        |  FROM cnt, tot),
        |w AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats,
        |    CAST(SUM(CAST(lr AS DECIMAL(28,12)) * CAST(n AS DECIMAL(8,0))) AS DOUBLE) AS log_w
        |  FROM db JOIN lr USING (bucket) GROUP BY doc_id),
        |k AS (SELECT doc_id, n_feats, log_w,
        |    round(log_w + -ln(-ln(
        |      (CAST(('0x' || substr(md5('gum|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
        |        / 4294967297.0)), 9) AS gkey
        |  FROM w)
        |SELECT CAST(row_number() OVER (ORDER BY gkey DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, n_feats, log_w, gkey
        |FROM k ORDER BY gkey DESC, doc_id LIMIT 100""".stripMargin,
    "x4_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
        |  FROM documents)
        |SELECT doc_id, fingerprint, n_distinct_tokens,
        |  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc
        |FROM f ORDER BY doc_id""".stripMargin
  )
}
