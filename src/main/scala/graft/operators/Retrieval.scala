package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Sparse (BM25) keyword retrieval and hybrid sparse+dense fusion — the
  * retrieval side of a training-data/RAG pipeline, complementing the
  * dense-only ANN family (n1..n9).
  *
  * Scale shapes:
  *  - BM25 index stats (dl, tf, df, avgdl) are the ingest-time
  *    materialization at 100 TB (an inverted index keyed by term); here
  *    they are derived inline from one explode + map-side-combinable aggs,
  *    a vocabulary-sized df dim, and one term-keyed join — x7's audited
  *    plan with a different scoring formula.
  *  - Fusion joins two bounded top-k lists (tiny by construction): both
  *    rankings arrive via TakeOrderedAndProject, the rank windows run over
  *    ≤ k rows, and the full-outer fuse join is a broadcast of 20-row sides.
  *
  * Cross-engine determinism: every division/multiplication chain is spelled
  * identically on both engines over exact integer inputs (correctly-rounded
  * IEEE ops ⇒ bit-identical); the one libm call (ln in idf) is rounded to
  * 9 digits on both sides, and per-term scores are rounded before the
  * order-independent decimal sum (the x10 pattern).
  */
object Retrieval {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed keyword query (terms from the corpus vocabulary). */
  val QueryTerms: Seq[String] = Seq("spark", "merge", "window")

  /** Wall seconds of the last x45 gate's STORE BUILD (LiveIndex seed +
    * compact), recorded by the query function so Bench can attribute
    * each timed sample into build vs serve (the x37 split, applied to
    * x45 per the r15 verdict); −1 until a build completes.
    */
  @volatile private[graft] var lastX45BuildSec: Double = -1.0

  /** Candidate-set size of the last [[bm25TopFromStore]] serve:
    * pass-1 (the rare term's df) + pass-2 (the non-essential-prefix
    * escapees), when both are bounded; −1 when the serve fell back to
    * full scoring or the pass-2 set overflowed `pushMax` (the degraded
    * ~naive regime). Bench reads it beside the scan-row metrics so the
    * pruning-I/O curve names its candidate sizes.
    */
  @volatile private[graft] var lastServeCands: Long = -1L

  /** Okapi defaults — shared with [[graft.streaming.LiveIndex]] so the
    * batch and live serving paths cannot silently diverge on
    * parameters.
    */
  private[graft] val K1 = 1.2
  private[graft] val B  = 0.75

  /** Public BM25 operator: top-`n` docs from `docs` (needs `doc_id`,
    * `text`) for keyword query `terms`, with Okapi parameters `k1`/`b`.
    * Columns: `doc_id`, `bm25`, `n_terms_hit`. Per-term contributions are
    * 9-digit-rounded and decimal-summed (order-independent, cross-engine
    * deterministic — see the object scaladoc).
    */
  def bm25(docs: DataFrame, terms: Seq[String], n: Int,
      k1: Double = K1, b: Double = B): DataFrame =
    bm25Scores(docs, terms, k1, b)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(n)

  /** Un-truncated per-document BM25 scores (the index-stats + scoring
    * stages of [[bm25]] without the final top-`n`), for callers that
    * filter or re-rank before truncating — e.g. n10's text leg, which
    * drops the query document itself before taking its top 20.
    */
  def bm25Scores(docs: DataFrame, terms: Seq[String],
      k1: Double = K1, b: Double = B): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = toks.filter(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    bm25FromIndex(tf, dl, k1, b)
  }

  /** The scoring stage of [[bm25Scores]] over PREPARED index frames —
    * `tf(doc_id, word, tf)` restricted to the query terms and
    * `dl(doc_id, dl)` for every indexed doc. Shared verbatim by the
    * inline spelling above and the continuously-maintained store
    * ([[graft.streaming.LiveIndex]]), so the two cannot diverge: df,
    * the corpus stats, and every rounding spelling are derived HERE
    * from whichever frames arrive. Exact integer inputs ⇒ bit-identical
    * scores whether the frames were computed inline or read back from
    * per-batch parquet commits.
    */
  def bm25FromIndex(tf: DataFrame, dl: DataFrame,
      k1: Double = K1, b: Double = B): DataFrame =
    bm25FromIndexWithDf(tf, dl,
      tf.groupBy("word").agg(count(lit(1)).as("df")), k1, b)

  /** [[bm25FromIndex]] with the document frequencies supplied by the
    * caller instead of derived from `tf` — the hook the pruned serving
    * path ([[bm25TopFromStore]]) needs: it scores a CANDIDATE-restricted
    * tf frame, but idf must come from the full index's df, or the
    * restricted frame would silently shift every weight. Callers must
    * pass `dfreq(word, df)` computed over the UNRESTRICTED matched
    * postings (post-tombstone), exactly what the one-argument form
    * derives itself.
    */
  def bm25FromIndexWithDf(tf: DataFrame, dl: DataFrame, dfreq: DataFrame,
      k1: Double = K1, b: Double = B,
      statsLit: Option[(Long, Long)] = None): DataFrame = {
    // statsLit: the corpus aggregates (n_docs, total_tokens) as exact
    // literals when the caller maintains them additively (LiveIndex's
    // fold-side _stats relation) — the in-plan aggregate over `dl` is
    // then skipped, and `dl` may arrive candidate-pruned (it only
    // feeds the per-doc join). Without it, `dl` MUST be the full
    // post-tombstone doclens frame, since the stats derive from it.
    val stats = statsLit match {
      case Some((n, t)) =>
        val s = dl.sparkSession
        import s.implicits._
        Seq((n, t)).toDF("n_docs", "total_tokens")
      case None =>
        dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    }
    tf.join(broadcast(dfreq), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", round(log(
        lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))), 9))
      .withColumn("w", round(
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))), 9))
      .groupBy("doc_id")
      .agg(sum(col("w").cast(DecimalType(28, 12))).cast("double").as("bm25"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** Exact top-`n` BM25 over a STORE-backed index with MaxScore-style
    * candidate pruning — the serving-path answer to "term-serve cost
    * grows with matched postings" (the r15 growth artifact's one
    * corpus-growing curve). Result is BIT-IDENTICAL to the unpruned
    * `bm25FromIndex(...).orderBy(bm25 desc, doc_id).limit(n)` (the
    * parity specs and the x45 oracle gate verify it); only the WORK is
    * bounded.
    *
    * The bound: every per-term weight satisfies w ≤ idf·(k1+1) — the
    * denominator `tf + k1·(1−b+b·dl/avgdl)` is ≥ tf for b ∈ [0,1] — so
    * with terms sorted by that upper bound ascending and P(j) the
    * prefix sum, a document matching ONLY terms in the j-prefix scores
    * ≤ P(j). Two passes:
    *   1. fully score the docs matching the RAREST term t* (the
    *      highest-ub, cheapest posting list); θ = its n-th best score.
    *   2. the largest prefix with P(j) < θ (strict — a pruned doc can
    *      therefore never even TIE the current n-th, so the
    *      (bm25, doc_id) tie-break cannot resurrect one) is
    *      non-essential: only docs matching a term OUTSIDE it can
    *      enter the top n. Score those remaining candidates fully,
    *      union, take n.
    * When every term is similarly common, θ rarely clears P(m−1) and
    * the pass-2 candidate set stays large — pruning degrades to ~the
    * naive cost plus a few bounded jobs. When the query mixes rare and
    * common terms (the zipfian norm), the common terms fall in the
    * non-essential prefix and their corpus-sized posting lists are
    * only ever read POINT-WISE for candidates — with doc-sorted
    * postings folds, an `In(doc_id, …)` row-group-pruned lookup.
    *
    * `tfFor(subset, pushIds)` is the store hook: it must return the
    * matched-postings frame `(doc_id, word, tf)` for the given term
    * subset, post-tombstone, applying `pushIds` as a literal
    * `In(doc_id, …)` data filter when present (superset-safe — every
    * use here also semi-joins the candidate frame). Driver-side state
    * stays bounded by the o7 discipline: df per query term (≤ |terms|
    * rows), one stats row, the n-row θ page, and candidate-id pushes
    * capped at `pushMax`.
    */
  def bm25TopFromStore(
      tfFor: (Seq[String], Option[Seq[Long]]) => DataFrame,
      dlFor: Option[Seq[Long]] => DataFrame, terms: Seq[String], n: Int,
      k1: Double = K1, b: Double = B, pushMax: Int = 1024,
      precomputed: Option[(Map[String, Long], (Long, Long))] = None): DataFrame = {
    // `dlFor(pushIds)` mirrors tfFor for the doclens side (optional
    // In(doc_id) push, superset-safe — the scoring join restricts);
    // `precomputed` carries (per-term df, (n_docs, total_tokens))
    // maintained ADDITIVELY by the store (LiveIndex's fold-side
    // _termdf/_stats relations + bounded batch/tombstone deltas).
    // With it, NOTHING on this path scans corpus-proportional data:
    // the rare postings, the candidate lookups, and the candidate
    // doclens reads are all key-pushed bounded scans.
    lastServeCands = -1L
    val dl = dlFor(None)
    val spark = dl.sparkSession
    def full(): DataFrame =
      bm25FromIndex(tfFor(terms, None), dl, k1, b)
        .orderBy(col("bm25").desc, col("doc_id")).limit(n)
    val distinctTerms = terms.distinct
    if (distinctTerms.size < 2 || n < 1) return full()
    // df + corpus stats: from the additive store relations when
    // supplied; otherwise aggregate-only column scans (no tf values,
    // no per-doc shuffle) — the fallback for unfolded/migrating stores
    val dfMap: Map[String, Long] = precomputed.map(_._1).getOrElse {
      tfFor(distinctTerms, None)
        .groupBy("word").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }.filter(_._2 > 0L)
    val present = distinctTerms.filter(dfMap.contains)
    if (present.size < 2) return full()
    val statsPair: (Long, Long) = precomputed.map(_._2).getOrElse {
      val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head()
      (st.getLong(0), st.getLong(1))
    }
    val nDocs = statsPair._1.toDouble
    // upper bounds on the driver: these steer PRUNING only — scores
    // always come from the engine's own spelling — so a safety margin
    // absorbs the engine-vs-driver libm ulp and the 9-digit rounding
    val ub: Map[String, Double] = present.map { t =>
      val df = dfMap(t).toDouble
      t -> (math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)) * (k1 + 1.0) + 1e-6)
    }.toMap
    val tStar = present.maxBy(t => (ub(t), t)) // deterministic tie-break
    val cand1 = tfFor(Seq(tStar), None).select("doc_id").distinct()
    val push1: Option[Seq[Long]] =
      if (dfMap(tStar) <= pushMax)
        Some(cand1.collect().map(_.getLong(0)).toSeq.sorted)
      else None
    import spark.implicits._
    val dfreqDF = dfMap.toSeq.toDF("word", "df")
    val statsLit = precomputed.map(_ => statsPair)
    def scoreFully(cands: DataFrame, pushIds: Option[Seq[Long]]): DataFrame =
      bm25FromIndexWithDf(
        tfFor(present, pushIds).join(cands, Seq("doc_id"), "left_semi"),
        // candidate-pruned doclens ONLY when the stats are literals;
        // otherwise the dl frame must stay full (it feeds the in-plan
        // corpus aggregate)
        if (statsLit.isDefined) dlFor(pushIds) else dl,
        dfreqDF, k1, b, statsLit)
    val scored1 = scoreFully(cand1, push1)
      .orderBy(col("bm25").desc, col("doc_id")).limit(n)
    val top1 = scored1.collect()
    // θ needs a FULL page of n scores; fewer candidates → no safe
    // threshold → naive path (which then does the whole job itself)
    if (top1.length < n) return full()
    val theta = top1.last.getAs[Double]("bm25")
    val sorted = present.sortBy(t => (ub(t), t))
    val prefix = sorted.scanLeft(0.0)((acc, t) => acc + ub(t)).drop(1)
    val jStar = sorted.indices.takeWhile(i => prefix(i) < theta).size
    if (jStar == 0) return full()
    // pass-1 page as a local relation: exact collected rows, no
    // recompute of the pass-1 scoring during the final union
    val scored1Local = spark.createDataFrame(
      spark.sparkContext.parallelize(top1.toIndexedSeq, 1), scored1.schema)
    val others = sorted.drop(jStar).filterNot(_ == tStar)
    if (others.isEmpty) lastServeCands = dfMap(tStar)
    val scored2 =
      if (others.isEmpty) None
      else {
        val cand2 = tfFor(others, None).select("doc_id").distinct()
          .join(cand1, Seq("doc_id"), "left_anti")
        val page = cand2.limit(pushMax + 1).collect()
        val push2 =
          if (page.length <= pushMax) Some(page.map(_.getLong(0)).toSeq.sorted)
          else None
        // bounded candidate accounting for the bench's pruning curve:
        // pass-1 = the rare term's exact df, pass-2 = the collected page
        // (−1 stays when the page overflowed — the degraded regime)
        if (push2.isDefined) lastServeCands = dfMap(tStar) + page.length
        val candFrame = push2 match {
          case Some(ids) => ids.toDF("doc_id")
          case None => cand2
        }
        Some(scoreFully(candFrame, push2))
      }
    scored2.fold(scored1Local)(scored1Local.unionByName(_))
      .orderBy(col("bm25").desc, col("doc_id")).limit(n)
  }

  /** Gate spelling: BM25 over the sf corpus with the fixed query. */
  private def bm25TopN(s: SparkSession, d: String, n: Int): DataFrame =
    bm25(Tables.documents(s, d), QueryTerms, n)

  /** Oracle CTEs shared by x14 and n10 (everything through per-doc BM25). */
  private def bm25Ctes: String = {
    val termVals = QueryTerms.map(t => s"('$t')").mkString(", ")
    s"""qt(term) AS (VALUES $termVals),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |tk AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
       |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       |  FROM tk JOIN qt ON word = term GROUP BY doc_id, word),
       |dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
       |sc AS (SELECT doc_id, word, tf, df, dl,
       |    CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
       |    round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
       |      (CAST(df AS DOUBLE) + 0.5)), 9) AS idf
       |  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id), stats),
       |ws AS (SELECT doc_id, word, tf, df,
       |    round(idf * (CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
       |      (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / avgdl)), 9) AS w
       |  FROM sc),
       |agg AS (SELECT doc_id,
       |    CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE) AS bm25,
       |    CAST(count(*) AS BIGINT) AS n_terms_hit
       |  FROM ws GROUP BY doc_id)""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    // BM25 (k1=1.2, b=0.75) for a fixed keyword query; top-15 docs.
    "x14_bm25" -> { (s, d) =>
      bm25TopN(s, d, 15).select("doc_id", "bm25", "n_terms_hit")
    },
    // The STORE-backed serving path under the same oracle as x14: seed
    // a LiveIndex from the corpus in TWO id-ordered batches, compact —
    // so the serve runs against the real bucketed, (word, doc_id)-
    // sorted postings fold — and serve the fixed query through
    // [[bm25TopFromStore]]'s MaxScore pruning. The oracle is the plain
    // full-scoring BM25 top-15: the pruned result must be bit-identical
    // (that IS the contract), so this key hash-verifies exactness of
    // the pruning bound, the θ page, the candidate union, and the
    // store round-trip in one gate. Two batches, not one: a lone flat
    // part never refolds, and the gate must cover the fold layout the
    // 100 TB serve reads (the x37 lesson).
    "x45_bm25_maxscore" -> { (s, d) =>
      // build/serve attribution (r15 verdict #1, the proven x37 move):
      // the LiveIndex seed (two id-ordered steps) + compact run EAGERLY
      // here and record their wall time; the MaxScore serve — the phase
      // with the 100 TB scale claim — executes after (its pruning jobs
      // eagerly inside bm25, the final union at the caller's action), so
      // Bench subtracts the build and gates the serve separately: a
      // serve regression must not hide inside build-phase noise.
      lastX45BuildSec = -1.0
      val tBuild0 = System.nanoTime()
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val root = java.nio.file.Files.createTempDirectory("graft-x45").toString
      val cfg = graft.streaming.LiveIndex.Config(root)
      val mid = docs.agg(
        percentile_approx(col("doc_id"), lit(0.5), lit(10000))).head().getLong(0)
      graft.streaming.LiveIndex.step(docs.filter(col("doc_id") <= mid), 0L, cfg)
      graft.streaming.LiveIndex.step(docs.filter(col("doc_id") > mid), 1L, cfg)
      graft.streaming.LiveIndex.compact(s, cfg)
      lastX45BuildSec = (System.nanoTime() - tBuild0) / 1e9
      graft.streaming.LiveIndex.bm25(s, cfg, QueryTerms, 15)
        .select("doc_id", "bm25", "n_terms_hit")
        .orderBy(col("bm25").desc, col("doc_id"))
    },
    // Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 top-20
    // and the dense cosine top-20 against doc/vec 0's embedding
    // (documents.doc_id ≡ embeddings.vec_id in this corpus). The dense
    // leg serves from the materialized LSH signature store via the n8
    // multi-probe path — a bucket-pruned scan of 9 `bucket=` directories,
    // NOT a full corpus scan: serving hybrid retrieval at scale is
    // exactly when the index must pay off. Both legs drop the query's own
    // document (vec_id/doc_id 0) so the two rankings are symmetric. Each
    // side is a bounded TakeOrderedAndProject; the rank windows and the
    // full-outer fuse join run over ≤ 20 rows. 1/(60+rank) is a
    // correctly-rounded double of exact integers and the two
    // contributions are added in a fixed spelled order, so the fused
    // score is bit-identical cross-engine without decimal routing.
    "n10_hybrid_rrf" -> { (s, d) =>
      val rrfK = 60
      val denseTop = Similarity.multiProbeScores(s, d)
        .select("vec_id", "cos")
        .orderBy(col("cos").desc, col("vec_id")).limit(20)
      val dense = denseTop.withColumn("vrank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      val text = bm25Scores(Tables.documents(s, d), QueryTerms)
        .filter(col("doc_id") =!= 0)
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .withColumn("trank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      dense.select(col("vec_id").as("id"), col("vrank"))
        .join(text.select(col("doc_id").as("id"), col("trank")), Seq("id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(rrfK).cast("double") + col("vrank").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK).cast("double") + col("trank").cast("double")), lit(0.0)))
        .select("id", "vrank", "trank", "rrf")
        .orderBy(col("rrf").desc, col("id"))
        .limit(10)
    },
    // MMR diversity re-rank (Carbonell & Goldstein 1998): greedily pick
    // K results maximizing λ·relevance − (1−λ)·max-similarity-to-picked,
    // so near-duplicate hits don't crowd the result list. Candidates are
    // the top-10 of the bucket-pruned multi-probe scores (the n8 serving
    // path — corpus-scale work stays indexed); the greedy selection then
    // runs DRIVER-locally over that ≤10-row collected list via the same
    // DecimalDot statics the distributed expression compiles to, so the
    // whole re-rank is zero extra Spark jobs (round 9 ran each greedy
    // round as its own crossJoin/collect job — ~20 jobs for a 10-row
    // re-rank, pure scheduling overhead at any scale). The score
    // 0.5·cos − 0.5·maxsim is fixed-spelling IEEE double in both
    // engines. At scale MMR cost is K·|candidates| cosine pairs — a
    // re-rank, by construction never corpus-shaped.
    "n11_mmr" -> { (s, d) =>
      val cand = Similarity.multiProbeScores(s, d)
        .orderBy(col("cos").desc, col("vec_id")).limit(MmrCand)
        .join(Tables.embeddings(s, d).select("vec_id", "embedding"), Seq("vec_id"))
        .select("vec_id", "cos", "embedding")
      mmrRerank(s, cand, k = MmrK, lambda = 0.5)
    }
  )

  /** MMR picks / candidate-pool size for the gate (λ fixed at 0.5). */
  private val MmrK = 5
  private val MmrCand = 10

  /** Public MMR re-rank: greedily select `k` of the `candidates`
    * (columns `vec_id`, `cos` = relevance, `embedding`) maximizing
    * `lambda·cos − (1−lambda)·max-cos-to-already-picked`. Collects the
    * candidate list up front — callers hand in a BOUNDED top-k list
    * (that is what a re-ranker is for) — then runs the whole greedy
    * selection driver-locally: every pairwise cosine goes through the
    * SAME [[graft.functions.DecimalDot]] static the distributed
    * expression compiles to (double products → DECIMAL(28,12) HALF_UP →
    * exact sum → double), so the numbers are bit-identical with both the
    * Spark spelling and the oracle's cosineSql, with zero per-round
    * Spark jobs. Returns (`pick` 1..k, `vec_id`, `cos`) in pick order.
    */
  def mmrRerank(s: SparkSession, candidates: DataFrame, k: Int, lambda: Double): DataFrame = {
    import s.implicits._
    val cand = candidates.select("vec_id", "cos", "embedding")
      .collect() // bounded by construction: candidates ARE a top-k list
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
      .sortBy { case (vid, cos, _) => (-cos, vid) }
    require(cand.nonEmpty, "mmrRerank needs a non-empty candidate list")
    def ad(a: Array[Float]) =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(a.map(x => x: Any))
    val arrs = cand.map(c => ad(c._3))
    val norms = arrs.map(a => math.sqrt(graft.functions.DecimalDot.dot(a, a)))
    // cosine spelled exactly like Cols.cosine / cosineSql: decimal dot,
    // double sqrt/division — max over doubles is order-independent
    def cosAt(i: Int, j: Int): Double =
      graft.functions.DecimalDot.dot(arrs(i), arrs(j)) / (norms(i) * norms(j))
    var picked = Vector(0) // most relevant candidate seeds the list
    while (picked.length < math.min(k, cand.length)) {
      val next = cand.indices.filterNot(picked.contains).minBy { i =>
        val maxsim = picked.map(j => cosAt(i, j)).max
        // same IEEE spelling as the oracle's 0.5*cos - 0.5*maxsim;
        // argmax of score, vec_id tie-break == ORDER BY score DESC, vec_id
        (-(lambda * cand(i)._2 - (1.0 - lambda) * maxsim), cand(i)._1)
      }
      picked :+= next
    }
    picked.zipWithIndex
      .map { case (ci, p) => ((p + 1).toLong, cand(ci)._1, cand(ci)._2) }
      .toDF("pick", "vec_id", "cos")
  }

  /** One unrolled MMR round in DuckDB: max similarity of each remaining
    * candidate to the picked set s{i-1}, then the argmax of the MMR
    * score — the same greedy step the Spark rounds run.
    */
  private def mmrRoundSql(i: Int): String =
    s"""ms$i AS (SELECT r.vec_id, MAX(${graft.Cols.cosineSql("r.embedding", "s.embedding")}) AS maxsim
       |  FROM cand r JOIN s${i - 1} s ON TRUE
       |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s${i - 1})
       |  GROUP BY r.vec_id),
       |p$i AS (SELECT c.vec_id, c.cos, c.embedding, CAST($i AS BIGINT) AS pick
       |  FROM cand c JOIN ms$i m USING (vec_id)
       |  ORDER BY 0.5 * c.cos - 0.5 * m.maxsim DESC, c.vec_id LIMIT 1),
       |s$i AS (SELECT * FROM s${i - 1} UNION ALL SELECT * FROM p$i)""".stripMargin

  def oracles: Map[String, String] = Map(
    // x45: the pruned store serve must equal plain full-scoring BM25 —
    // the oracle is x14's spelling verbatim
    "x45_bm25_maxscore" ->
      s"""WITH ${bm25Ctes}
         |SELECT doc_id, bm25, n_terms_hit FROM agg
         |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,
    "x14_bm25" ->
      s"""WITH ${bm25Ctes}
         |SELECT doc_id, bm25, n_terms_hit FROM agg
         |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,
    "n10_hybrid_rrf" ->
      s"""WITH ${bm25Ctes},
         |${Similarity.multiProbeCtes},
         |dtop AS (SELECT vec_id, cos,
         |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS vrank
         |  FROM mp ORDER BY cos DESC, vec_id LIMIT 20),
         |ttop AS (SELECT doc_id, bm25,
         |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS trank
         |  FROM agg WHERE doc_id <> 0 ORDER BY bm25 DESC, doc_id LIMIT 20),
         |fused AS (
         |  SELECT COALESCE(d.vec_id, t.doc_id) AS id, d.vrank, t.trank,
         |    COALESCE(1.0 / (CAST(60 AS DOUBLE) + CAST(d.vrank AS DOUBLE)), 0.0) +
         |    COALESCE(1.0 / (CAST(60 AS DOUBLE) + CAST(t.trank AS DOUBLE)), 0.0) AS rrf
         |  FROM dtop d FULL OUTER JOIN ttop t ON d.vec_id = t.doc_id)
         |SELECT id, vrank, trank, rrf FROM fused
         |ORDER BY rrf DESC, id LIMIT 10""".stripMargin,
    // Unrolled greedy MMR over the multi-probe top-10: s1 is the most
    // relevant candidate; each round adds the argmax of
    // 0.5·cos − 0.5·max-sim-to-picked (vec_id tie-break).
    "n11_mmr" ->
      s"""WITH ${Similarity.multiProbeCtes},
         |cand AS (SELECT m.vec_id, m.cos, e.embedding
         |  FROM mp m JOIN embeddings e USING (vec_id)
         |  ORDER BY m.cos DESC, m.vec_id LIMIT $MmrCand),
         |s1 AS (SELECT vec_id, cos, embedding, CAST(1 AS BIGINT) AS pick
         |  FROM cand ORDER BY cos DESC, vec_id LIMIT 1),
         |${(2 to MmrK).map(mmrRoundSql).mkString(",\n")}
         |SELECT pick, vec_id, cos FROM s$MmrK ORDER BY pick""".stripMargin
  )
}
