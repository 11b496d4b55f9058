package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ranking-behavior tests for BM25 and hybrid RRF — properties of the
  * scoring functions the oracle hash can't state (it certifies DuckDB
  * parity, not that the ranking is a sane retrieval ranking).
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("x14 BM25: scores positive, sorted, and term-frequency-sensitive") {
    val rows = SparkEntry.queries("x14_bm25")(spark, d).collect()
    assert(rows.length === 15)
    val scores = rows.map(_.getDouble(1))
    assert(scores.forall(_ > 0.0))
    assert(scores.sameElements(scores.sortBy(-_)), "not sorted by score desc")
    // every top doc matched at least one query term; hit counts bounded
    rows.foreach { r =>
      val hits = r.getLong(2)
      assert(hits >= 1 && hits <= graft.operators.Retrieval.QueryTerms.size)
    }
    // the top doc is better than the median scoring doc by construction
    assert(scores.head > scores.last)
  }

  test("n10 RRF: fused list rewards presence in both rankings") {
    val rows = SparkEntry.queries("n10_hybrid_rrf")(spark, d).collect()
    assert(rows.length === 10)
    val rrf = rows.map(_.getDouble(3))
    assert(rrf.sameElements(rrf.sortBy(-_)), "not sorted by rrf desc")
    rows.foreach { r =>
      val (vr, tr) = (Option(r.get(1)).map(_.toString.toLong),
        Option(r.get(2)).map(_.toString.toLong))
      val expected =
        vr.map(v => 1.0 / (60.0 + v)).getOrElse(0.0) +
          tr.map(t => 1.0 / (60.0 + t)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - expected) < 1e-12,
        s"id ${r.get(0)}: rrf ${r.getDouble(3)} != recomputed $expected")
      assert(vr.nonEmpty || tr.nonEmpty)
    }
    // any doc in both top-20 lists must outrank a doc in neither list's
    // top ranks: presence in two modalities dominates rank-20 of one
    val both = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2)).map(_.getDouble(3))
    if (both.nonEmpty) assert(both.max > 1.0 / 80.0)
  }

  test("d10 substring dedup: duplicated spans are localized correctly") {
    // Synthetic fixture (the sf corpora contain no exact duplicates):
    // docs 1/2 are identical → every position duplicated (dup_frac 1);
    // doc 3 shares only its first 8 words with doc 1 → exactly the 4
    // five-gram positions inside that shared span are duplicated;
    // doc 4 is unrelated → dup_frac 0.
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-d10").toString
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docA = s"$shared india juliet kilo lima mike november oscar papa"
    val doc3 = s"$shared quebec romeo sierra tango uniform victor whiskey xray"
    val doc4 = "one two three four five six seven eight nine ten eleven twelve"
    Seq((1L, docA), (2L, docA), (3L, doc3), (4L, doc4)).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'fix' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val rows = SparkEntry.queries("d10_substring_dedup")(spark, out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows(1L) === ((12L, 12L, 1.0)))
    assert(rows(2L) === ((12L, 12L, 1.0)))
    // 16 words → 12 positions; grams fully inside the 8-word shared
    // prefix start at positions 1..4
    assert(rows(3L) === ((12L, 4L, 4.0 / 12.0)))
    assert(rows(4L)._2 === 0L)
    assert(rows(4L)._3 === 0.0)
  }

  test("mmrRerank trades relevance for diversity; lambda=1 is pure relevance") {
    import spark.implicits._
    // v1 and v2: same direction (near-dups), highest relevance;
    // v3: orthogonal, lower relevance
    val cand = Seq(
      (1L, 0.99, Array(1.0f, 0.0f)),
      (2L, 0.98, Array(2.0f, 0.0f)),
      (3L, 0.50, Array(0.0f, 1.0f)))
      .toDF("vec_id", "cos", "embedding")
    // λ=0.5: round 2 scores v2 at 0.5·0.98 − 0.5·1.0 < 0 but v3 at
    // 0.5·0.5 − 0.5·0 = 0.25 → diversity wins over the near-dup
    val diverse = graft.operators.Retrieval.mmrRerank(spark, cand, k = 2, lambda = 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(diverse === Map(1L -> 1L, 2L -> 3L), s"got $diverse")
    // λ=1: redundancy penalty off → plain relevance order
    val plain = graft.operators.Retrieval.mmrRerank(spark, cand, k = 2, lambda = 1.0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain === Map(1L -> 1L, 2L -> 2L), s"got $plain")
  }

  test("n11 MMR gate: five distinct picks, first is the most relevant candidate") {
    val rows = SparkEntry.queries("n11_mmr")(spark, d).collect()
    assert(rows.length === 5)
    assert(rows.map(_.getLong(0)).toSeq === (1L to 5L), "pick column must be 1..5")
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length === 5, "picks must be distinct")
    // pick 1 is the relevance argmax: no candidate may outscore it
    val top = rows.head.getDouble(2)
    assert(rows.tail.forall(_.getDouble(2) <= top))
  }

  test("bm25TopFromStore: pruned top-n is bit-identical to the naive spelling across engagement regimes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Synthetic index with a zipfian shape: "common1"/"common2" in ~all
    // docs, "rare" in 3, "mid" in 12 — so a rare+common query actually
    // ENGAGES the pruning (non-essential prefix non-empty, pass 2
    // exercised), which the uniform-df gate corpus cannot do.
    val docs = (1L to 200L)
    // rare: 8 docs, mid: 18 — big enough that an n ≤ 8 query page
    // establishes θ and the pruned path genuinely ENGAGES (a rare df
    // below n silently falls back to the full path — the first version
    // of this fixture did exactly that and the wrong-df probe below
    // couldn't tell)
    val tfAll = docs.flatMap { id =>
      Seq((id, "common1", 1L + id % 3), (id, "common2", 1L + id % 2)) ++
        (if (id % 23 == 0) Seq((id, "rare", 2L)) else Nil) ++
        (if (id % 11 == 0) Seq((id, "mid", 1L)) else Nil)
    }.toDF("doc_id", "word", "tf")
    val dl = docs.map(id => (id, 20L + id % 50)).toDF("doc_id", "dl")
    def tfFor(sub: Seq[String], push: Option[Seq[Long]]): org.apache.spark.sql.DataFrame = {
      val m = tfAll.filter(col("word").isin(sub: _*))
      push match {
        case Some(ids) if ids.nonEmpty => m.filter(col("doc_id").isin(ids: _*))
        case _ => m
      }
    }
    def naive(terms: Seq[String], n: Int) =
      graft.operators.Retrieval.bm25FromIndex(tfFor(terms, None), dl)
        .orderBy(col("bm25").desc, col("doc_id")).limit(n)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    def dlFor(push: Option[Seq[Long]]): org.apache.spark.sql.DataFrame = push match {
      case Some(ids) if ids.nonEmpty => dl.filter(col("doc_id").isin(ids: _*))
      case _ => dl
    }
    def pruned(terms: Seq[String], n: Int, pushMax: Int = 1024,
        pre: Option[(Map[String, Long], (Long, Long))] = None) =
      graft.operators.Retrieval.bm25TopFromStore(tfFor, dlFor, terms, n,
        pushMax = pushMax, precomputed = pre)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    for ((terms, n) <- Seq(
        (Seq("rare", "common1", "common2"), 5),   // strong engagement: common terms non-essential
        (Seq("rare", "mid", "common1"), 7),       // pass 2 exercised (mid essential beyond t*)
        (Seq("common1", "common2"), 10),          // no engagement: similar ubs, falls back
        (Seq("rare", "common1"), 5),              // two terms
        (Seq("rare"), 4),                         // single term: plain path
        (Seq("rare", "ghost", "common1"), 5),     // absent term dropped like the naive join drops it
        (Seq("rare", "common1", "common2"), 50))) // n > rare df: theta page short -> full path
      assert(pruned(terms, n) === naive(terms, n), s"divergence for $terms n=$n")
    // pushMax=0 forces the un-pushed semi-join route on both passes
    assert(pruned(Seq("rare", "mid", "common1"), 7, pushMax = 0) ===
      naive(Seq("rare", "mid", "common1"), 7))
    // precomputed (additive-store) stats: identical result with the
    // df/stats scans replaced by supplied exact values — and a WRONG
    // supplied df must change scores (the parity would be vacuous if
    // the precomputed path silently ignored them)
    val trueDf = tfAll.groupBy("word").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trueStats = (200L, dl.agg(sum(col("dl"))).head().getLong(0))
    assert(pruned(Seq("rare", "mid", "common1"), 5, pre = Some((trueDf, trueStats))) ===
      naive(Seq("rare", "mid", "common1"), 5))
    assert(pruned(Seq("rare", "mid", "common1"), 5,
        pre = Some((trueDf.map { case (k, v) => k -> (v * 7) }, trueStats))) !==
      naive(Seq("rare", "mid", "common1"), 5))
  }
}
