package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Cols, Tables}

/** Corpus-curation operators beyond the dedup/ANN/privacy families:
  * rule-based quality filtering (Gopher-style), bigram language-model
  * fluency scoring, TextRank keyword weighting, LSH radius search, and
  * Z-order layout clustering.
  *
  * The reference stores every extracted operation unconditionally
  * (python/main.py:130-199); a training-data export of the same corpus
  * needs admission rules and fluency scores before rows are worth
  * shipping. Scale shapes:
  *  - x16 is a pure map (one projection per document, zero shuffle) —
  *    the cheapest possible admission filter, run first in any sweep.
  *  - x17 derives model tables that broadcast back to the corpus scan —
  *    the unigram/marginal tables are vocabulary-sized and the bigram
  *    table is min-df-capped (distinct bigrams are NOT vocab-bounded at
  *    corpus scale); x18 keeps its edge list fully distributed and only
  *    ever moves the vocab-sized rank table between rounds. The only
  *    corpus-shaped exchanges are map-side-combinable counts.
  *  - n12 serves from the materialized LSH bucket store, reading 9
  *    `bucket=` partitions instead of the corpus (the n8 serving path
  *    with a radius predicate instead of a top-k).
  *  - o4's Z-value is a per-row expression; clustering a 100 TB layout
  *    is `repartitionByRange(zval)` + `sortWithinPartitions(zval)` at
  *    write time, after which min/max file stats prune BOTH dimensions.
  *
  * Cross-engine determinism: every double is derived from exact integers
  * with an identical operation spelling in both engines (correctly-
  * rounded IEEE ops ⇒ bit-identical); `ln` outputs are rounded to 9
  * digits (the x10/x14 convention) and per-group sums of rounded terms
  * go through DECIMAL(28,12) so accumulation order cannot matter.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  // ── x16: Gopher-style quality rules ────────────────────────────────

  /** Stopword list for the repetition/fluency heuristics (Rae et al.
    * 2021 use a similar "must contain ≥2 stop words" rule; the corpus
    * vocabulary supplies `the`/`a`/`of`).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and")

  /** Rule thresholds (documented, parameterizable). */
  final case class QualityRules(
      minWords: Long = 20,
      maxWords: Long = 90,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      minStopFrac: Double = 0.04,
      minDistinctFrac: Double = 0.45)

  /** The four rule measures over a `text` column: token count, mean
    * word length (from `length(text)` and the token count alone —
    * tokens are single-space separated), stopword fraction, distinct
    * fraction. Exact-integer arithmetic until the final divisions.
    */
  private def ruleMeasures: (Column, Column, Column, Column) = {
    val arr = split(col("text"), " ")
    val n = size(arr).cast("long")
    val nD = n.cast("double")
    val meanLen = (length(col("text")).cast("double") - nD + lit(1.0)) / nD
    val stopFrac = size(filter(arr, w => w.isin(Stopwords: _*))).cast("double") / nD
    val distinctFrac = size(array_distinct(arr)).cast("double") / nD
    (n, meanLen, stopFrac, distinctFrac)
  }

  /** The x16 admission verdict as a standalone boolean Column over
    * `text` — a pure per-row expression, so it drops into any
    * projection without the full measures output.
    */
  def qualityVerdict(r: QualityRules = QualityRules()): Column = {
    val (n, meanLen, stopFrac, distinctFrac) = ruleMeasures
    n >= r.minWords && n <= r.maxWords &&
      meanLen >= r.minMeanWordLen && meanLen <= r.maxMeanWordLen &&
      stopFrac >= r.minStopFrac &&
      distinctFrac >= r.minDistinctFrac
  }

  /** Per-document rule measures + admission verdict over `docs`
    * (`doc_id`, `text`). Pure map: one projection, no shuffle at any
    * scale.
    */
  def qualityRules(docs: DataFrame, r: QualityRules = QualityRules()): DataFrame = {
    val (n, meanLen, stopFrac, distinctFrac) = ruleMeasures
    docs.select(col("doc_id"),
      n.as("n_words"),
      meanLen.as("mean_word_len"),
      stopFrac.as("stop_frac"),
      distinctFrac.as("distinct_frac"),
      qualityVerdict(r).as("pass"))
  }

  private def qualityRulesSql(r: QualityRules): String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    (CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) AS DOUBLE) + 1.0)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stops))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_frac,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_frac
       |  FROM documents)
       |SELECT doc_id, n_words, mean_word_len, stop_frac, distinct_frac,
       |  (n_words >= ${r.minWords} AND n_words <= ${r.maxWords}
       |    AND mean_word_len >= ${r.minMeanWordLen} AND mean_word_len <= ${r.maxMeanWordLen}
       |    AND stop_frac >= ${r.minStopFrac}
       |    AND distinct_frac >= ${r.minDistinctFrac}) AS pass
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ── x17: interpolated bigram language model ────────────────────────

  private val Lambda = 0.7       // bigram weight; (1-λ) backs off to unigram
  private val FluentAt = -3.4    // avg per-bigram log-prob admission bar

  /** (doc_id, w1, w2) adjacent-token pairs, generated map-side: a
    * per-row `transform(sequence(...))` over the token array, no
    * positional self-join. Documents with fewer than two tokens yield
    * no pairs (guarded — `sequence(1, 0)` would count DOWN in Spark).
    */
  def bigramPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(a) - 1), " +
          "i -> struct(element_at(a, i) AS w1, element_at(a, i + 1) AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))

  /** Per-document fluency under an interpolated bigram LM trained on the
    * corpus itself: each adjacent pair (w1,w2) scores
    * `ln(λ·p(w2|w1) + (1−λ)·p(w2))`, a document's score is the mean.
    * The model tables (bigram counts, w1 marginals, unigram counts) are
    * vocabulary-sized and broadcast back to the pair stream; corpus-
    * shaped work is two map-side-combinable counts. This is the x10
    * unigram score upgraded to the CCNet-style LM filter shape.
    *
    * `minDf` bounds the BROADCAST bigram table: the unigram and
    * w1-marginal tables are vocabulary-sized, but distinct bigrams grow
    * toward vocab² on a web-scale corpus, and an uncapped `broadcast(lp)`
    * eventually exceeds the executor broadcast limit. Bigrams seen fewer
    * than `minDf` times are dropped from the model and their pairs back
    * off to the unigram leg alone, `ln((1−λ)·p(w2))` — the standard
    * count-threshold LM pruning. The default `minDf = 1` keeps every
    * observed bigram (every observed pair has count ≥ 1, so the backoff
    * leg never fires and results are unchanged); at corpus scale set it
    * so the surviving table fits comfortably under the broadcast cap
    * (Zipf makes even `minDf = 2` cut the tail by most of its mass).
    */
  def bigramLm(docs: DataFrame, lambda: Double = Lambda,
      fluentAt: Double = FluentAt, minDf: Long = 1L): DataFrame =
    // exactly the cross-corpus scorer trained and applied on the SAME
    // corpus (every w2 is in-vocab, so the scorer's inner unigram join
    // is lossless here) — ONE spelling of the interpolation/rounding
    // ladder the oracle parity depends on, not two
    lmScoreCross(docs, docs, lambda, minDf)
      .withColumnRenamed("n_pairs", "n_bigrams")
      .withColumn("is_fluent", col("avg_logp") > fluentAt)

  // ── x24: Naive Bayes quality classifier ────────────────────────────

  /** Binary Naive Bayes over unigram features — the count-based
    * stand-in for the linear "quality classifier" step of GPT-3/LLaMA-
    * style curation (train on a high-quality target domain vs the rest,
    * keep documents the classifier scores positive). Training is
    * closed-form: per-class token counts with Laplace smoothing
    * (α = 1 over the joint vocabulary), so the whole model is two
    * vocabulary-sized count tables that broadcast — no gradient loop,
    * no driver-side state. Scoring is one map-side join over the token
    * stream: each token contributes
    * `ln((c_pos+1)/(T_pos+V)) − ln((c_neg+1)/(T_neg+V))` (rounded to 9
    * decimals; tokens unseen in training fall back to the smoothed
    * floor of both classes), summed exactly via DECIMAL(28,12) so
    * accumulation order can't flip the verdict, plus the class prior
    * `ln(N_pos/N_neg)`. Output: (doc_id, n_tokens, log_odds, pred_pos).
    *
    * At 100 TB: the corpus-shaped work is one explode + one count agg
    * and one broadcast-join scoring pass; the model is vocab-sized.
    * Same broadcast-cap caveat as [[bigramLm]] — prune the vocabulary
    * by document frequency if it outgrows the executor broadcast limit.
    */
  def nbClassifier(docs: DataFrame, isPos: Column): DataFrame = {
    val labeled = docs.select(col("doc_id"), col("text"), isPos.as("pos"))
    val toks = labeled.select(col("doc_id"), col("pos"),
      explode(split(col("text"), " ")).as("word"))
    val byClass = toks.groupBy("word").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("c_neg"))
    val prior = labeled.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
    nbScoreWith(docs, byClass, prior)
  }

  /** The model-derivation + scoring stages of [[nbClassifier]] over
    * COUNT TABLES — `byClass(word, c_pos, c_neg)` and
    * `prior(n_pos, n_neg)`. Every statistic the model needs is
    * additive over docs, which is what makes NB the classifier a
    * continuous intake can keep fresh: per-batch count partials
    * ([[graft.streaming.LiveCounts]]) re-aggregate to these exact
    * tables, and this entry point derives smoothing totals, per-word
    * log-odds, and the class prior from whichever frames arrive —
    * inline (the gate spelling above) or from committed partials (the
    * live refresh, parity-spec'd). Exact integer counts ⇒ bit-identical
    * scores either way.
    */
  def nbScoreWith(docs: DataFrame, byClass: DataFrame, prior: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    val totals = byClass.agg(
      sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"),
      count(lit(1)).as("v"))
    val wlp = byClass.crossJoin(broadcast(totals))
      .select(col("word"), round(
        log((col("c_pos") + lit(1L)).cast("double") / (col("t_pos") + col("v")).cast("double")) -
          log((col("c_neg") + lit(1L)).cast("double") / (col("t_neg") + col("v")).cast("double")),
        9).as("w_lo"))
    // the scaladoc's unseen-token contract, made real: a token outside
    // the training vocabulary scores the smoothed floor of both classes
    // (c=0 in the same Laplace formula), via LEFT join + coalesce — an
    // inner join would silently drop the token from n_tokens and the
    // sum, and a doc of ONLY unseen words would produce no verdict at
    // all (the live-intake serving path scores arbitrary novel docs)
    val floor = totals.select(round(
      log(lit(1.0) / (col("t_pos") + col("v")).cast("double")) -
        log(lit(1.0) / (col("t_neg") + col("v")).cast("double")), 9).as("floor_lo"))
    toks.join(broadcast(wlp), Seq("word"), "left")
      .crossJoin(broadcast(floor))
      .withColumn("w_lo", coalesce(col("w_lo"), col("floor_lo")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("w_lo").cast(DecimalType(28, 12))).cast("double").as("sum_lo"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_lo") +
          log(col("n_pos").cast("double") / col("n_neg").cast("double")), 9).as("log_odds"))
      .withColumn("pred_pos", col("log_odds") > 0.0)
  }

  /** Cross-corpus LM scoring — [[bigramLm]]'s model tables trained on
    * `train`, applied to `score` (CCNet's shape: the LM comes from the
    * target domain, the corpus being filtered is everything). Score
    * pairs whose bigram is unseen in training back off to the unigram
    * leg; pairs whose SECOND word is outside the training vocabulary
    * have no probability at all and are dropped (n_pairs counts only
    * scorable pairs — a document with none disappears here; x23's
    * bucket query left-joins it back as 'unscored'). Same `minDf`
    * broadcast-cap lever as [[bigramLm]].
    */
  def lmScoreCross(train: DataFrame, score: DataFrame, lambda: Double = Lambda,
      minDf: Long = 1L): DataFrame = {
    // w1/w2/word are never null (split output), but the explicit filters
    // pin every consumer's chain to ONE canonical shape: the model joins
    // INFER isnotnull on their branch and push it below the count
    // aggregates, which breaks AQE's canonical-exchange reuse — without
    // them each consumer re-runs the corpus explode (r19 census: the
    // x23 plan carried 7 scans / 6 explodes of the same corpus)
    val pairs = bigramPairs(train)
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val cBiAll = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_bi"))
    val cBi = cBiAll.filter(col("c_bi") >= minDf)
    // the per-first-word totals re-aggregate the bigram-vocab table
    // (c_w1 = Σ_w2 c_bi, exact) instead of running a SECOND corpus-wide
    // pair explode + shuffle
    val cW1 = cBiAll.groupBy("w1").agg(sum(col("c_bi")).as("c_w1"))
    val toks = train.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").isNotNull)
    val cUni = toks.groupBy("word").agg(count(lit(1)).as("c_uni"))
    // likewise the token total re-aggregates the vocab table (Σ c_uni)
    // instead of a second corpus explode + global count
    val total = cUni.agg(sum(col("c_uni")).as("total"))
    val lp = cBi.join(cW1, "w1")
      .join(cUni.withColumnRenamed("word", "w2"), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), round(log(
        lit(lambda) * (col("c_bi").cast("double") / col("c_w1").cast("double")) +
          lit(1.0 - lambda) * (col("c_uni").cast("double") / col("total").cast("double"))), 9).as("lp"))
    val uniLp = cUni.crossJoin(broadcast(total))
      .select(col("word").as("w2"), round(log(
        lit(1.0 - lambda) * (col("c_uni").cast("double") / col("total").cast("double"))), 9).as("lp_uni"))
    bigramPairs(score).join(broadcast(lp), Seq("w1", "w2"), "left")
      .join(broadcast(uniLp), Seq("w2"))
      .select(col("doc_id"), coalesce(col("lp"), col("lp_uni")).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        (sum(col("lp").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1)).cast("double")).as("avg_logp"))
  }

  /** Oracle CTE list ending in `pr(doc_id, w1, w2)` — the positional-
    * join SQL spelling of [[bigramPairs]] (DuckDB generates an empty
    * series for one-token docs, so no explicit guard is needed).
    */
  private def bigramPairCtes: String =
    """arrs AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |idx AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM arrs),
      |pr AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2 FROM idx)""".stripMargin

  private def bigramLmSql: String =
    s"""WITH $bigramPairCtes,
       |cbi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bi FROM pr GROUP BY w1, w2),
       |cw1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_w1 FROM pr GROUP BY w1),
       |toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |cuni AS (SELECT word AS w2, CAST(count(*) AS BIGINT) AS c_uni FROM toks GROUP BY word),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks),
       |lp AS (SELECT w1, w2,
       |    round(ln($Lambda * (CAST(c_bi AS DOUBLE) / CAST(c_w1 AS DOUBLE)) +
       |      ${1.0 - Lambda} * (CAST(c_uni AS DOUBLE) / CAST(total AS DOUBLE))), 9) AS lp
       |  FROM cbi JOIN cw1 USING (w1) JOIN cuni USING (w2), tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_logp,
       |  CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) > $FluentAt AS is_fluent
       |FROM pr JOIN lp USING (w1, w2)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ── x18: TextRank keyword weighting ────────────────────────────────

  private val Damping = 0.85
  private val TrIters = 3

  /** TextRank (Mihalcea & Tarau 2004): PageRank over the directed word
    * co-occurrence graph whose edges are adjacent-token pairs weighted
    * by corpus count. The RANK table is vocabulary-sized, but the EDGE
    * list is not — distinct adjacent-token pairs grow toward vocab² on
    * natural text (billions at a web-corpus scale), so edges stay a
    * distributed DataFrame, materialized once via `localCheckpoint` so
    * the rank rounds never re-derive the corpus pair stream. Each of
    * the `iters` fixed rounds broadcasts the (small) rank table to the
    * edge partitions and shuffles one vocab-sized flow aggregate — the
    * only thing that ever moves between rounds is vocabulary-sized
    * state, the standard distributed-PageRank shape.
    *
    * Numerics are the oracle's SQL ladder verbatim: per-edge terms are
    * 9-digit-rounded doubles cast to DECIMAL(28,12) (exact at scale 12:
    * |binary − decimal| < 1e-17 ≪ 5e-13) and decimal-summed so edge
    * order cannot matter; the damped update re-rounds to 9 digits with
    * the same IEEE op order as the SQL spelling. Dangling mass is not
    * redistributed (documented simplification; with a connected word
    * graph every node has out-edges). Returns (word, rank) after
    * `iters` rounds.
    */
  def textrank(docs: DataFrame, iters: Int = TrIters,
      damping: Double = Damping): DataFrame = {
    val pairs = bigramPairs(docs)
    val edges = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val outW = edges.groupBy("w1").agg(sum(col("c")).as("out_c"))
    val wEdges = edges.join(outW, "w1")
      .select(col("w1"), col("w2"),
        (col("c").cast("double") / col("out_c").cast("double")).as("wfrac"))
      .localCheckpoint()
    val nodes = wEdges.select(col("w1").as("word"))
      .union(wEdges.select(col("w2").as("word")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    def r9(x: Double): Double =
      BigDecimal.decimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val base = (1.0 - damping) / n.toDouble
    var rank = nodes.withColumn("rank", lit(r9(1.0 / n.toDouble)))
    (1 to iters).foreach { _ =>
      val flows = wEdges
        .join(broadcast(rank.withColumnRenamed("word", "w1")), "w1")
        .select(col("w2").as("word"),
          round(col("rank") * col("wfrac"), 9).cast(DecimalType(28, 12)).as("term"))
        .groupBy("word").agg(sum(col("term")).as("inflow"))
      // Checkpoint the vocab-sized rank each round: the next round's
      // broadcast would otherwise replay the whole lineage per round.
      rank = nodes.join(flows, Seq("word"), "left")
        .select(col("word"),
          round(lit(base) + lit(damping) *
            coalesce(col("inflow").cast("double"), lit(0.0)), 9).as("rank"))
        .localCheckpoint()
    }
    rank
  }

  /** One unrolled TextRank round in DuckDB: 9-digit-rounded edge flows
    * from `r{i-1}`, decimal-summed per node, damped and re-rounded.
    */
  private def textrankRoundSql(i: Int): String =
    s"""f$i AS (SELECT w2 AS word,
       |    CAST(SUM(CAST(round(r.rank * e.wfrac, 9) AS DECIMAL(28,12))) AS DOUBLE) AS inflow
       |  FROM r${i - 1} r JOIN we e ON r.word = e.w1 GROUP BY w2),
       |r$i AS (SELECT n.word, n.n_nodes,
       |    round(${1.0 - Damping} / CAST(n.n_nodes AS DOUBLE) +
       |      $Damping * COALESCE(f.inflow, 0.0), 9) AS rank
       |  FROM r0 n LEFT JOIN f$i f USING (word))""".stripMargin

  private def textrankSql: String =
    s"""WITH $bigramPairCtes,
       |e AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM pr GROUP BY w1, w2),
       |ow AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS out_c FROM e GROUP BY w1),
       |we AS (SELECT w1, w2, CAST(c AS DOUBLE) / CAST(out_c AS DOUBLE) AS wfrac
       |  FROM e JOIN ow USING (w1)),
       |nodes AS (SELECT DISTINCT word FROM (
       |  SELECT w1 AS word FROM pr UNION ALL SELECT w2 AS word FROM pr)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
       |r0 AS (SELECT word, n_nodes,
       |    round(1.0 / CAST(n_nodes AS DOUBLE), 9) AS rank FROM nodes, nn),
       |${(1 to TrIters).map(textrankRoundSql).mkString(",\n")}
       |SELECT word, rank FROM r$TrIters ORDER BY rank DESC, word""".stripMargin

  // ── n12: LSH radius search ─────────────────────────────────────────

  private val RadiusTau = 0.10

  // ── a13: Count-Min Sketch frequency estimation ─────────────────────

  private val CmsDepth = 4
  private val CmsWidth = 32

  /** Count-Min Sketch (Cormode & Muthukrishnan 2005) over a key column,
    * with the per-key estimate joined back against the true count. The
    * sketch is a `depth × width` count matrix — 128 cells here — built
    * from one explode over the `depth` hash rows + a combinable count:
    * partitions build partial sketches that merge by cell-wise addition
    * (what the two-level HashAggregate does), the canonical bounded-
    * state frequency structure for streams and 100 TB scans. Estimates
    * are `min` over the key's `depth` cells, always ≥ the true count.
    * Unlike a7's DataSketches entry the hashes are md5-derived (the x6
    * parity spelling), so the whole sketch is deterministic and
    * oracle-exact cross-engine.
    */
  /** Row `i`'s CMS cell for a key (md5-derived, the x6 parity spelling) —
    * public so the streaming heavy-hitter build can share it.
    */
  def cmsBucket(i: Int, c: Column, width: Int = CmsWidth): Column =
    Cols.md5Prefix(concat(lit(s"cms$i|"), c.cast("string")), 4) % width

  /** Exploded (h, b) cell coordinates for a key across all rows. */
  def cmsProbe(c: Column, depth: Int = CmsDepth, width: Int = CmsWidth): Column =
    explode(array((0 until depth).map(i =>
      struct(lit(i).as("h"), cmsBucket(i, c, width).as("b"))): _*))

  def cmsFreq(rows: DataFrame, keyCol: String,
      depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame = {
    def probe(c: Column): Column = cmsProbe(c, depth, width)
    val cells = rows.select(probe(col(keyCol)).as("hb"))
      .select(col("hb.h").as("h"), col("hb.b").as("b"))
      .groupBy("h", "b").agg(count(lit(1)).as("c"))
    val tru = rows.groupBy(keyCol).agg(count(lit(1)).as("true_n"))
    tru.select(col(keyCol), col("true_n"), probe(col(keyCol)).as("hb"))
      .select(col(keyCol), col("true_n"), col("hb.h").as("h"), col("hb.b").as("b"))
      .join(broadcast(cells), Seq("h", "b"))
      .groupBy(keyCol, "true_n")
      .agg(min(col("c")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("true_n"))
  }

  private def cmsFreqSql(keyCol: String, depth: Int = CmsDepth,
      width: Int = CmsWidth): String = {
    val hs = (0 until depth).map(i => s"($i)").mkString(", ")
    def b(expr: String) =
      s"CAST(('0x' || substr(md5('cms' || CAST(h AS VARCHAR) || '|' || CAST($expr AS VARCHAR)), 1, 4)) AS BIGINT) % $width"
    s"""WITH hs(h) AS (VALUES $hs),
       |cells AS (SELECT h, ${b(keyCol)} AS b, CAST(count(*) AS BIGINT) AS c
       |  FROM events, hs GROUP BY 1, 2),
       |tru AS (SELECT $keyCol, CAST(count(*) AS BIGINT) AS true_n
       |  FROM events GROUP BY $keyCol),
       |probes AS (SELECT $keyCol, true_n, h, ${b(keyCol)} AS b FROM tru, hs)
       |SELECT $keyCol, true_n, min(c) AS cms_est, min(c) - true_n AS overcount
       |FROM probes JOIN cells USING (h, b)
       |GROUP BY $keyCol, true_n ORDER BY $keyCol""".stripMargin
  }

  // ── a14: HyperLogLog distinct-count sketch ─────────────────────────

  private val HllM = 64 // registers; alpha_64 = 0.7213 / (1 + 1.079/64)

  /** The deterministic HLL register derivation — (register index j,
    * rank rho) from a salted md5 of the key — shared by a14
    * ([[hllDistinct]]) and a7 ([[approxSketch]]). ONE spelling: two
    * separate SQL oracles match it character for character, so a change
    * (hash prefix, rho width) must land here and in both oracles
    * together, never in one Scala copy.
    */
  private def hllRegisterCols(key: Column): (Column, Column) = {
    val salted = concat(lit("hll|"), key.cast("string"))
    val h = md5(salted)
    val j = Cols.md5Prefix(salted, 2) % HllM
    val w = conv(substring(h, 3, 8), 16, 10).cast("long") // 32-bit slice
    // rho = position of the first 1-bit of w in a 32-wide field; w=0 -> 33
    val rho = when(w === 0L, lit(33L))
      .otherwise(instr(lpad(bin(w), 32, "0"), "1").cast("long"))
    (j, rho)
  }

  /** HyperLogLog (Flajolet et al. 2007) as dataflow, deterministic and
    * oracle-exact like a13: register `j` holds the max over the bucket's
    * keys of ρ = 1 + leading zeros of a 32-bit md5 slice (string-ops
    * only, no libm). `max` is order- and duplicate-insensitive, so the
    * registers are partition-mergeable — the canonical distributed
    * distinct-count structure. The raw estimate αm²/Σ2^-ρ is dyadic-
    * exact in double (every 2^-ρ term and every partial sum fits in
    * 53 bits), so no decimal routing is needed; the small-range linear-
    * counting branch `m·ln(m/V)` carries the one libm call, rounded to
    * 9 digits (the x10 convention). Returns one row: registers used,
    * empty registers, raw and corrected estimates, true distinct count.
    */
  def hllDistinct(rows: DataFrame, keyCol: String): DataFrame = {
    val s = rows.sparkSession
    val m = HllM
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val (bucket, rho) = hllRegisterCols(col(keyCol))
    val regs = rows.select(bucket.as("j"), rho.as("rho"))
      .groupBy("j").agg(max(col("rho")).as("r"))
    val all = s.range(m).select(col("id").as("j"))
      .join(regs, Seq("j"), "left")
      .select(col("j"), coalesce(col("r"), lit(0L)).as("r"))
    val est = all.agg(
      sum(lit(1.0) /
        expr("shiftleft(cast(1 as bigint), cast(r as int))").cast("double")).as("ssum"),
      sum(when(col("r") === 0L, 1L).otherwise(0L)).as("v_empty"),
      sum(when(col("r") > 0L, 1L).otherwise(0L)).as("used"))
    val tru = rows.agg(countDistinct(col(keyCol)).as("true_distinct"))
    est.crossJoin(tru)
      .withColumn("raw_est", lit(alpha) * lit(m.toDouble * m.toDouble) / col("ssum"))
      .withColumn("hll_est",
        when(col("raw_est") <= lit(2.5 * m) && col("v_empty") > 0L,
          round(lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty").cast("double")), 9))
          .otherwise(col("raw_est")))
      .select("used", "v_empty", "raw_est", "hll_est", "true_distinct")
  }

  private def hllDistinctSql(keyCol: String): String = {
    val m = HllM
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    s"""WITH h AS (SELECT md5('hll|' || CAST($keyCol AS VARCHAR)) AS hx FROM events),
       |br AS (SELECT
       |    CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % $m AS j,
       |    CAST(('0x' || substr(hx, 3, 8)) AS BIGINT) AS w
       |  FROM h),
       |rh AS (SELECT j, CASE WHEN w = 0 THEN CAST(33 AS BIGINT)
       |    ELSE CAST(strpos(lpad(bin(w), 32, '0'), '1') AS BIGINT) END AS rho
       |  FROM br),
       |regs AS (SELECT j, max(rho) AS r FROM rh GROUP BY j),
       |al AS (SELECT t.j, COALESCE(regs.r, 0) AS r
       |  FROM (SELECT unnest(range(0, $m)) AS j) t LEFT JOIN regs USING (j)),
       |est AS (SELECT
       |    SUM(CAST(1.0 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << CAST(r AS INTEGER)) AS DOUBLE)) AS ssum,
       |    CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty,
       |    CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS used
       |  FROM al),
       |tru AS (SELECT CAST(count(DISTINCT $keyCol) AS BIGINT) AS true_distinct FROM events),
       |raw AS (SELECT used, v_empty, true_distinct,
       |    CAST($alpha AS DOUBLE) * CAST(${m.toDouble * m.toDouble} AS DOUBLE) / ssum AS raw_est
       |  FROM est, tru)
       |SELECT used, v_empty, raw_est,
       |  CASE WHEN raw_est <= CAST(${2.5 * m} AS DOUBLE) AND v_empty > 0
       |    THEN round(CAST(${m.toDouble} AS DOUBLE) * ln(CAST(${m.toDouble} AS DOUBLE) / CAST(v_empty AS DOUBLE)), 9)
       |    ELSE raw_est END AS hll_est,
       |  true_distinct
       |FROM raw""".stripMargin
  }

  // ── a7: grouped deterministic sketch (HLL + histogram median) ──────

  private val HistBuckets = 64

  /** Per-group approximate sketch pair: HLL distinct count of `idCol`
    * (the a14 machinery in grouped form — no m-row register join needed;
    * absent registers contribute 2⁰ = 1 to the harmonic sum and count
    * as empty) and an approximate median of `valCol` from a `buckets`-
    * bin equi-width histogram (cumulative counts to the lower-median
    * position, bucket midpoint as the estimate — the shape built-in
    * quantile sketches approximate, spelled deterministically).
    *
    * Replaces the original a7 DataSketches pair (approx_count_distinct /
    * percentile_approx), whose engine-internal hashing made a cross-
    * engine oracle impossible — these estimates are md5-derived and
    * arithmetic-identical in both engines, so the gate can hash-compare
    * them like any exact query. Everything is partition-mergeable
    * bounded state: registers by `max`, histogram cells by `sum`.
    */
  def approxSketch(rows: DataFrame, groupCol: String, idCol: String,
      valCol: String, buckets: Int = HistBuckets): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = HllM
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val (j, rho) = hllRegisterCols(col(idCol))
    // ONE corpus scan carries both sketches' partials: HLL registers
    // (max rho per (group, register)) ride the same combinable
    // pre-aggregate as the histogram's min/max/count, which roll up
    // exactly from the register level (min of mins, sum of counts).
    // The histogram CELL pass below is the only other corpus scan —
    // inherently second, since bucket width needs vmin/vmax first.
    val pre = rows.select(col(groupCol), j.as("j"), rho.as("rho"), col(valCol).as("v"))
      .groupBy(groupCol, "j")
      .agg(max(col("rho")).as("r"),
        min(col("v")).as("vmin_j"), max(col("v")).as("vmax_j"),
        count(lit(1)).as("c_j"))
    // ssum terms are dyadic (2^-r, r ≤ 33) with total < m: exact in
    // double in any accumulation order, so no decimal routing needed.
    val hll = pre.groupBy(groupCol).agg(
        sum(lit(1.0) /
          expr("shiftleft(cast(1 as bigint), cast(r as int))").cast("double")).as("ssum_p"),
        count(lit(1)).as("used"))
      .withColumn("v_empty", lit(m.toLong) - col("used"))
      .withColumn("raw_est", lit(alpha) * lit(m.toDouble * m.toDouble) /
        (col("ssum_p") + col("v_empty").cast("double")))
      .withColumn("approx_users",
        when(col("raw_est") <= lit(2.5 * m) && col("v_empty") > 0L,
          round(lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty").cast("double")), 9))
          .otherwise(col("raw_est")))
      .select(col(groupCol), col("approx_users"))
    val stats = pre.groupBy(groupCol).agg(
      min(col("vmin_j")).as("vmin"), max(col("vmax_j")).as("vmax"),
      sum(col("c_j")).as("n"))
    val width = (col("vmax") - col("vmin")) / lit(buckets.toDouble)
    val bucket = when(col("vmax") === col("vmin"), lit(0L))
      .otherwise(least(floor((col(valCol) - col("vmin")) / width),
        lit((buckets - 1).toLong)))
    val hist = rows.join(broadcast(stats), groupCol)
      .select(col(groupCol), bucket.as("bucket"))
      .groupBy(groupCol, "bucket").agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(groupCol).orderBy("bucket")
    val med = hist.withColumn("cum", sum(col("c")).over(wcum))
      .join(broadcast(stats), groupCol)
      .filter(col("cum") >= expr("(n + 1) div 2")) // lower-median position
      .groupBy(col(groupCol), col("vmin"), col("vmax"))
      .agg(min(col("bucket")).as("mbucket"))
      .withColumn("approx_median",
        when(col("vmax") === col("vmin"), col("vmin"))
          .otherwise(col("vmin") + (col("mbucket").cast("double") + lit(0.5)) *
            ((col("vmax") - col("vmin")) / lit(buckets.toDouble))))
      .select(col(groupCol), col("approx_median"))
    hll.join(med, groupCol)
  }

  /** The a7 oracle: the same HLL + histogram ladder over `events`. */
  def approxSketchSql(groupCol: String, idCol: String, valCol: String,
      buckets: Int = HistBuckets): String = {
    val m = HllM
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    s"""WITH br AS (SELECT $groupCol,
       |    CAST(('0x' || substr(md5('hll|' || CAST($idCol AS VARCHAR)), 1, 2)) AS BIGINT) % $m AS j,
       |    CAST(('0x' || substr(md5('hll|' || CAST($idCol AS VARCHAR)), 3, 8)) AS BIGINT) AS w
       |  FROM events),
       |rh AS (SELECT $groupCol, j, CASE WHEN w = 0 THEN CAST(33 AS BIGINT)
       |    ELSE CAST(strpos(lpad(bin(w), 32, '0'), '1') AS BIGINT) END AS rho
       |  FROM br),
       |regs AS (SELECT $groupCol, j, max(rho) AS r FROM rh GROUP BY 1, 2),
       |hll0 AS (SELECT $groupCol,
       |    SUM(CAST(1.0 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << CAST(r AS INTEGER)) AS DOUBLE)) AS ssum_p,
       |    CAST(count(*) AS BIGINT) AS used
       |  FROM regs GROUP BY $groupCol),
       |hll AS (SELECT $groupCol, $m - used AS v_empty,
       |    CAST($alpha AS DOUBLE) * CAST(${m.toDouble * m.toDouble} AS DOUBLE)
       |      / (ssum_p + CAST($m - used AS DOUBLE)) AS raw_est
       |  FROM hll0),
       |au AS (SELECT $groupCol,
       |    CASE WHEN raw_est <= CAST(${2.5 * m} AS DOUBLE) AND v_empty > 0
       |      THEN round(CAST(${m.toDouble} AS DOUBLE) * ln(CAST(${m.toDouble} AS DOUBLE) / CAST(v_empty AS DOUBLE)), 9)
       |      ELSE raw_est END AS approx_users
       |  FROM hll),
       |stats AS (SELECT $groupCol, min($valCol) AS vmin, max($valCol) AS vmax,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY $groupCol),
       |b AS (SELECT e.$groupCol, CASE WHEN s.vmax = s.vmin THEN CAST(0 AS BIGINT)
       |    ELSE CAST(least(floor((e.$valCol - s.vmin) / ((s.vmax - s.vmin) / $buckets.0)), ${buckets - 1}) AS BIGINT) END AS bucket
       |  FROM events e JOIN stats s USING ($groupCol)),
       |hist AS (SELECT $groupCol, bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
       |hcum AS (SELECT $groupCol, bucket,
       |    SUM(c) OVER (PARTITION BY $groupCol ORDER BY bucket) AS cum FROM hist),
       |mb AS (SELECT h.$groupCol, min(h.bucket) AS mbucket
       |  FROM hcum h JOIN stats s USING ($groupCol)
       |  WHERE h.cum >= (s.n + 1) // 2 GROUP BY h.$groupCol),
       |med AS (SELECT s.$groupCol, CASE WHEN s.vmax = s.vmin THEN s.vmin
       |    ELSE s.vmin + (CAST(mb.mbucket AS DOUBLE) + 0.5) * ((s.vmax - s.vmin) / $buckets.0) END AS approx_median
       |  FROM stats s JOIN mb USING ($groupCol))
       |SELECT au.$groupCol, au.approx_users, med.approx_median
       |FROM au JOIN med USING ($groupCol) ORDER BY $groupCol""".stripMargin
  }

  // ── o4: Z-order layout clustering ──────────────────────────────────

  private val ZBits = 11 // covers minute-of-day (0-1439 needs 11 bits)

  /** Morton/Z-order interleave of two `bits`-bit keys: bit i of `x` lands
    * at position 2i, bit i of `y` at 2i+1. Both engines spell it as the
    * same unrolled shift/mask/multiply sum over exact integers, so the
    * value is identical by construction. Keys outside [0, 2^bits) would
    * silently alias (high bits dropped — distant keys land in the same
    * Z range and the clustering contract breaks without any error), so
    * out-of-range inputs raise instead. At 100 TB the Z-value is the
    * write-time clustering key: `repartitionByRange(zval)` +
    * `sortWithinPartitions(zval)` gives parquet min/max stats that
    * prune BOTH underlying dimensions for range predicates — the
    * standard multi-dimensional layout trick (Databricks Z-ORDER,
    * Hudi/Iceberg space-filling curves) expressed as plain columns.
    */
  def zvalue(x: Column, y: Column, bits: Int = ZBits): Column = {
    val lim = lit(1L << bits)
    val interleaved = (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
    when(x.cast("long") < lit(0L) || x.cast("long") >= lim ||
        y.cast("long") < lit(0L) || y.cast("long") >= lim,
      raise_error(concat(lit(s"zvalue: key outside [0, ${1L << bits}): x="),
        x.cast("string"), lit(" y="), y.cast("string"))))
      .otherwise(interleaved)
  }

  private def zvalueSql(x: String, y: String, bits: Int = ZBits): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)} + (($y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  def queries: Map[String, Q] = Map(
    // Gopher-style rule filter: per-document admission measures +
    // verdict. Pure map — zero shuffle at any scale.
    "x16_quality_rules" -> { (s, d) =>
      qualityRules(Tables.documents(s, d)).orderBy("doc_id")
    },
    // Interpolated bigram-LM fluency (λ=0.7, backoff to unigram):
    // vocabulary-sized model tables broadcast to a map-side pair stream.
    "x17_bigram_lm" -> { (s, d) =>
      bigramLm(Tables.documents(s, d)).orderBy("doc_id")
    },
    // CCNet-style perplexity bucketing: the LM is trained on the
    // TARGET domain only (the English subset) and applied to the whole
    // corpus; documents land in head/middle/tail by their score's
    // z-position against the global (μ, σ) of scored docs — CCNet's
    // percentile split re-expressed as a moment split so the cutoffs
    // are a 1-row combinable aggregate (an exact percentile over all
    // scores would collect corpus-shaped state; moments broadcast).
    // Docs sharing no vocabulary with the training domain are kept and
    // labeled 'unscored' rather than silently dropped. Scale shape:
    // model tables broadcast (x17), scoring is a map-side pair stream,
    // stats are one tiny agg broadcast back — no global sort anywhere.
    "x23_ccnet_buckets" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // the isnotnull is a no-op (group key of the scoring aggregate)
      // that pins BOTH consumers of `scored` — the stats aggregate and
      // the left join, whose right side gets isnotnull(doc_id) INFERRED
      // and pushed down — to one canonical chain, so the whole scoring
      // pipeline is planned once and stage-reused instead of run twice
      val scored = lmScoreCross(docs.filter(col("lang") === "en"), docs)
        .filter(col("doc_id").isNotNull)
      val stats = scored.agg(
          count(lit(1)).as("n"),
          graft.Cols.dsum(col("avg_logp")).as("s1"),
          graft.Cols.dsum(col("avg_logp") * col("avg_logp")).as("s2"))
        .select(
          (col("s1") / col("n").cast("double")).as("mu"),
          sqrt(col("s2") / col("n").cast("double") -
            (col("s1") / col("n").cast("double")) * (col("s1") / col("n").cast("double")))
            .as("sigma"))
      docs.select("doc_id", "lang").join(scored, Seq("doc_id"), "left")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          col("avg_logp"),
          when(col("avg_logp").isNull, "unscored")
            .when(col("avg_logp") > col("mu") + lit(0.25) * col("sigma"), "head")
            .when(col("avg_logp") < col("mu") - lit(0.25) * col("sigma"), "tail")
            .otherwise("middle").as("bucket"))
        .orderBy("doc_id")
    },
    // Naive Bayes quality classifier, trained on the corpus itself with
    // lang='en' standing in for the high-quality target domain (the
    // GPT-3/LLaMA "looks like the reference corpus" admission filter).
    "x24_nb_classifier" -> { (s, d) =>
      nbClassifier(Tables.documents(s, d), col("lang") === "en")
        .orderBy("doc_id")
    },
    // TextRank keyword weights: 3 unrolled PageRank rounds over the
    // vocabulary-sized bigram co-occurrence graph.
    "x18_textrank" -> { (s, d) =>
      textrank(Tables.documents(s, d))
        .orderBy(col("rank").desc, col("word"))
    },
    // Radius (range) search: every CANDIDATE in the 9 probed LSH
    // buckets with cosine >= τ of the query (recall-bounded like any
    // LSH serve — vectors hashed outside the probe set are not seen),
    // served from the materialized bucket store via the n8 multi-probe
    // path — partition-pruned buckets, not a corpus scan.
    "n12_range_search" -> { (s, d) =>
      Similarity.multiProbeScores(s, d)
        .filter(col("cos") >= RadiusTau)
        .select("vec_id", "cos")
        .orderBy("vec_id")
    },
    // Count-Min Sketch frequency estimates for every user_id (150 keys
    // into a 4×32 sketch — real collisions), vs true counts. The sketch
    // build is one explode + combinable count; the probe joins the
    // 128-cell sketch back via broadcast.
    "a13_cms_freq" -> { (s, d) =>
      cmsFreq(Tables.events(s, d), "user_id").orderBy("user_id")
    },
    // HyperLogLog distinct-user estimate vs the true count: 64
    // registers, raw harmonic estimate + small-range linear-counting
    // correction, all deterministic (md5 registers, dyadic-exact sums).
    "a14_hll_distinct" -> { (s, d) =>
      hllDistinct(Tables.events(s, d), "user_id")
    },
    // Z-order layout clustering over (user bucket, minute-of-day):
    // per-bucket locality stats prove each Z range covers a narrow
    // rectangle in BOTH dimensions — the file-skipping contract.
    "o4_zorder" -> { (s, d) =>
      val x = pmod(col("user_id"), lit(1024L)).cast("long")
      val y = (hour(col("ts")).cast("long") * lit(60L) + minute(col("ts")).cast("long"))
      Tables.events(s, d)
        .select(col("event_id"), x.as("zx"), y.as("zy"))
        .withColumn("zval", zvalue(col("zx"), col("zy")))
        .withColumn("zbucket", shiftright(col("zval"), 8).cast("long"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min(col("zx")).as("min_x"), max(col("zx")).as("max_x"),
          min(col("zy")).as("min_y"), max(col("zy")).as("max_y"))
        .orderBy("zbucket")
    }
  )

  def oracles: Map[String, String] = Map(
    "x16_quality_rules" -> qualityRulesSql(QualityRules()),
    "x17_bigram_lm" -> bigramLmSql,
    // Train CTEs restricted to lang='en'; score pairs over all docs;
    // unigram backoff for pruned/unseen bigrams; moment-split buckets.
    "x23_ccnet_buckets" ->
      s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
         |arrs AS (SELECT doc_id, string_split(text, ' ') AS a FROM tr),
         |idx AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM arrs),
         |pr AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2 FROM idx),
         |cbi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bi FROM pr GROUP BY w1, w2),
         |cw1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_w1 FROM pr GROUP BY w1),
         |toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM tr),
         |cuni AS (SELECT word, CAST(count(*) AS BIGINT) AS c_uni FROM toks GROUP BY word),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks),
         |lp AS (SELECT w1, w2,
         |    round(ln($Lambda * (CAST(c_bi AS DOUBLE) / CAST(c_w1 AS DOUBLE)) +
         |      ${1.0 - Lambda} * (CAST(c_uni AS DOUBLE) / CAST(total AS DOUBLE))), 9) AS lp
         |  FROM cbi JOIN cw1 USING (w1) JOIN cuni ON cuni.word = cbi.w2, tot),
         |ulp AS (SELECT word AS w2,
         |    round(ln(${1.0 - Lambda} * (CAST(c_uni AS DOUBLE) / CAST(total AS DOUBLE))), 9) AS lp_uni
         |  FROM cuni, tot),
         |sarrs AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         |sidx AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM sarrs),
         |spr AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2 FROM sidx),
         |sc AS (SELECT p.doc_id, COALESCE(l.lp, u.lp_uni) AS lp
         |  FROM spr p LEFT JOIN lp l ON p.w1 = l.w1 AND p.w2 = l.w2
         |  JOIN ulp u ON p.w2 = u.w2),
         |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_logp
         |  FROM sc GROUP BY doc_id),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(avg_logp AS DECIMAL(28,6))) AS DOUBLE) AS s1,
         |    CAST(SUM(CAST(avg_logp * avg_logp AS DECIMAL(28,6))) AS DOUBLE) AS s2
         |  FROM scored),
         |stats AS (SELECT s1 / CAST(n AS DOUBLE) AS mu,
         |    sqrt(s2 / CAST(n AS DOUBLE) -
         |      (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))) AS sigma
         |  FROM st)
         |SELECT d.doc_id, d.lang, COALESCE(s.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
         |  s.avg_logp,
         |  CASE WHEN s.avg_logp IS NULL THEN 'unscored'
         |    WHEN s.avg_logp > mu + 0.25 * sigma THEN 'head'
         |    WHEN s.avg_logp < mu - 0.25 * sigma THEN 'tail'
         |    ELSE 'middle' END AS bucket
         |FROM documents d LEFT JOIN scored s USING (doc_id), stats
         |ORDER BY d.doc_id""".stripMargin,
    "x18_textrank" -> textrankSql,
    // Same closed-form training: per-class Laplace-smoothed counts over
    // the joint vocabulary, per-word log-odds rounded to 9 decimals,
    // decimal-exact per-doc sum + the class prior.
    "x24_nb_classifier" ->
      """WITH lab AS (SELECT doc_id, text, (lang = 'en') AS pos FROM documents),
        |toks AS (SELECT doc_id, pos, unnest(string_split(text, ' ')) AS word FROM lab),
        |bc AS (SELECT word,
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
        |  FROM toks GROUP BY word),
        |tot AS (SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
        |    CAST(SUM(c_neg) AS BIGINT) AS t_neg,
        |    CAST(count(*) AS BIGINT) AS v FROM bc),
        |pri AS (SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg FROM lab),
        |wlp AS (SELECT word,
        |    round(ln(CAST(c_pos + 1 AS DOUBLE) / CAST(t_pos + v AS DOUBLE)) -
        |      ln(CAST(c_neg + 1 AS DOUBLE) / CAST(t_neg + v AS DOUBLE)), 9) AS w_lo
        |  FROM bc, tot),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(w_lo AS DECIMAL(28,12))) AS DOUBLE) AS sum_lo
        |  FROM toks JOIN wlp USING (word) GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(sum_lo + ln(CAST(n_pos AS DOUBLE) / CAST(n_neg AS DOUBLE)), 9) AS log_odds,
        |  round(sum_lo + ln(CAST(n_pos AS DOUBLE) / CAST(n_neg AS DOUBLE)), 9) > 0.0 AS pred_pos
        |FROM sc, pri ORDER BY doc_id""".stripMargin,
    "a13_cms_freq" -> cmsFreqSql("user_id"),
    "a14_hll_distinct" -> hllDistinctSql("user_id"),
    "n12_range_search" ->
      s"""WITH ${Similarity.multiProbeCtes}
         |SELECT vec_id, cos FROM mp WHERE cos >= $RadiusTau
         |ORDER BY vec_id""".stripMargin,
    "o4_zorder" ->
      s"""WITH z AS (
         |  SELECT event_id,
         |    user_id % 1024 AS zx,
         |    CAST(hour(ts) AS BIGINT) * 60 + CAST(minute(ts) AS BIGINT) AS zy
         |  FROM events),
         |zv AS (SELECT event_id, zx, zy,
         |    ${zvalueSql("zx", "zy")} AS zval FROM z)
         |SELECT zval >> 8 AS zbucket, CAST(count(*) AS BIGINT) AS n,
         |  min(zx) AS min_x, max(zx) AS max_x,
         |  min(zy) AS min_y, max(zy) AS max_y
         |FROM zv GROUP BY 1 ORDER BY zbucket""".stripMargin
  )
}
