package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The training-data-pipeline operators (`graft.operators.*`) with
  * NON-default parameters — proves the operators are a parameterized
  * library API, not gate-constant one-offs.
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("packSequences honors blockSize and shard count") {
    val rows = operators.TextAnalysis.packTokens(
      Tables.documents(spark, d).select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")),
      blockSize = 16, shards = 2).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (shard, cum, chunk, off) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(shard >= 0 && shard < 2)
      assert(chunk === cum / 16 && off === cum % 16)
    }
    assert(rows.map(_.getLong(3)).distinct.length === 2, "both shards used")
  }

  test("bm25 accepts arbitrary query terms and k1/b") {
    val docs = Tables.documents(spark, d)
    val top = operators.Retrieval.bm25(docs, Seq("vector", "stream"), n = 5).collect()
    assert(top.length === 5 && top.forall(_.getDouble(1) > 0))
    // b = 0 disables length normalization: score depends on tf only, so a
    // doc with equal tf but shorter length no longer outranks
    val noNorm = operators.Retrieval.bm25(docs, Seq("vector", "stream"), n = 5, b = 0.0).collect()
    assert(noNorm.length === 5)
    assert(!top.map(_.getLong(0)).sameElements(noNorm.map(_.getLong(0))) ||
      top.map(_.getDouble(1)).zip(noNorm.map(_.getDouble(1))).exists {
        case (a, bb) => math.abs(a - bb) > 1e-9
      }, "b=0 changed nothing — length normalization not wired")
  }

  test("kAnonymize floors any quasi-identifier set at any k") {
    val ev = Tables.events(spark, d)
      .withColumn("day", date_trunc("day", col("ts")))
    val k5 = operators.Privacy.kAnonymize(ev, Seq("event_type", "day"), k = 5).collect()
    assert(k5.nonEmpty)
    val sizes = k5.groupBy(r =>
      (r.getAs[String]("event_type"), r.getAs[java.sql.Timestamp]("day")))
    sizes.foreach { case (g, rs) =>
      assert(rs.length >= 5, s"group $g under k")
      rs.foreach(r => assert(r.getAs[Long]("group_n") === rs.length.toLong))
    }
  }

  test("substringDupStats honors gram width") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-eng-d10").toString
    // docs share a 3-word span only: 3-grams catch it, 6-grams must not
    Seq((1L, "red green blue cyan magenta yellow black"),
        (2L, "one two red green blue nine ten eleven"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val g3 = operators.Dedup.substringDupStats(docs, gramWords = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val g6 = operators.Dedup.substringDupStats(docs, gramWords = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(g3(1L) === 1L && g3(2L) === 1L, s"3-gram should find the shared span: $g3")
    assert(g6(1L) === 0L && g6(2L) === 0L, s"6-gram must not: $g6")
  }

  test("substringDupStats: hot-gram cap is answer-preserving; stride cuts positions") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-eng-d10cap").toString
    // a viral 5-gram ("alpha beta gamma delta epsilon") across many docs,
    // plus unique tails — the boilerplate-banner shape the cap targets
    val viral = (1L to 40L).map(i =>
      (i, s"alpha beta gamma delta epsilon unique$i tail$i words$i here$i now$i"))
    val clean = (41L to 50L).map(i =>
      (i, s"solo$i text$i with$i no$i shared$i spans$i at$i all$i nine$i ten$i"))
    (viral ++ clean).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val docs = spark.read.parquet(s"$out/documents.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
    val uncapped = operators.Dedup.substringDupStats(docs, gramWords = 5)
      .orderBy("doc_id").collect().map(key)
    val capped = operators.Dedup.substringDupStats(docs, gramWords = 5, maxGramDf = 3)
      .orderBy("doc_id").collect().map(key)
    assert(capped.toSeq === uncapped.toSeq,
      "over-cap grams are dup by definition — capping must not change the answer")
    // stride=2 samples every other position: fewer grams, never more
    val strided = operators.Dedup.substringDupStats(docs, gramWords = 5, stride = 2)
      .orderBy("doc_id").collect()
    val full = operators.Dedup.substringDupStats(docs, gramWords = 5).orderBy("doc_id").collect()
    strided.zip(full).foreach { case (s2, s1) =>
      assert(s2.getLong(1) <= s1.getLong(1) && s2.getLong(1) > 0,
        s"stride must reduce positions: ${s2.getLong(1)} vs ${s1.getLong(1)}")
    }
    // the viral span is >= gramWords + stride - 1 words, so stride=2
    // still flags every viral doc's shared prefix as duplicated
    val stridedDup = strided.filter(_.getLong(0) <= 40L)
    assert(stridedDup.forall(_.getLong(2) > 0), "strided run must still see the viral span")
  }

  test("semanticDedup keeps the min-id canonical per in-cell near-dup group, blocked by cell") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // v1≡v2 (same direction, cell 0) → v2 drops to v1; v3 orthogonal →
    // kept; v4 parallel to v1 but in ANOTHER cell → kept (blocking:
    // cross-cell pairs are never compared, the SemDeDup cost contract)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 1.0, 0),
      (2L, Array(2.0f, 0.0f), 2.0, 0),
      (3L, Array(0.0f, 1.0f), 1.0, 0),
      (4L, Array(1.0f, 0.0f), 1.0, 1))
      .toDF("vec_id", "embedding", "norm", "cell")
    val v = operators.Dedup.semanticDedupVerdicts(vecs, threshold = 0.9)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(3), Option(r.get(2)).map(_.asInstanceOf[Long])))
      .toMap
    assert(v(1L) === ((true, None)))
    assert(v(2L) === ((false, Some(1L))))
    assert(v(3L) === ((true, None)))
    assert(v(4L) === ((true, None)), "cross-cell near-dups must not merge")
  }

  test("segmentDedup drops cross-document boilerplate segments, keeps order") {
    import spark.implicits._
    // "a b c d" is the shared boilerplate (df 3); everything else unique.
    // doc 4 is ALL boilerplate → empty clean_text; doc 3 untouched.
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z w a b c d"),
      (3L, "p q r s"),
      (4L, "a b c d"))
      .toDF("doc_id", "text")
    val r = operators.Dedup.segmentDedup(docs, segWords = 4, minDf = 2L)
      .orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) === ((2L, 1L, "e f g h")))
    assert(r(2L) === ((2L, 1L, "x y z w")), "kept segment must stay in place")
    assert(r(3L) === ((1L, 0L, "p q r s")), "unique docs untouched")
    assert(r(4L) === ((1L, 1L, "")), "fully-boilerplate doc empties, not NULL")
    // a tail shorter than segWords is its own segment, deduped like any
    val tails = Seq((1L, "a b c d e"), (2L, "z z z a b c d e"), (3L, "e"))
      .toDF("doc_id", "text")
    val t = operators.Dedup.segmentDedup(tails, segWords = 4, minDf = 2L)
      .orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(t(1L) === "a b c d", "short tail 'e' is shared with doc 3 → dropped")
    assert(t(3L) === "")
  }

  test("segmentDedup matches an independent Scala reference on random corpora") {
    import spark.implicits._
    // tiny vocabulary → dense segment collisions; the reference model is
    // built from first principles (grouped = non-overlapping windows
    // with tail), not from the operator's own spelling
    val vocab = Vector("a", "b", "c", "d", "e")
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val corpus = (1 to 30).map { id =>
        val n = 1 + rnd.nextInt(12)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val segsOf = corpus.map { case (id, text) =>
        id -> text.split(" ").toSeq.grouped(4).map(_.mkString(" ")).toSeq
      }.toMap
      val df = segsOf.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size)
      val hot = df.filter(_._2 >= 2).keySet
      val expected = corpus.map { case (id, _) =>
        val segs = segsOf(id)
        id -> ((segs.size.toLong, segs.count(hot).toLong,
          segs.filterNot(hot).mkString(" ")))
      }.toMap
      val got = operators.Dedup.segmentDedup(corpus.toDF("doc_id", "text"), 4, 2L)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      corpus.foreach { case (id, text) =>
        assert(got(id) === expected(id), s"doc $id ('$text') diverged")
      }
    }
  }

  test("mixRank's sharded rank equals the naive single-window global rank") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, d).select("doc_id", "lang")
    val naive = docs.withColumn("rn",
      row_number().over(Window.partitionBy("lang")
        .orderBy(md5(concat(lit("mix|"), col("doc_id").cast("string"))), col("doc_id")))
        .cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sharded = operators.TextAnalysis.mixRank(docs, "lang")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rn")).toMap
    assert(sharded === naive, "shard-major + prefix-sum rank must reproduce the global md5 rank")
  }

  test("domainMix downsamples to exact targets in md5 order") {
    val docs = Tables.documents(spark, d).select("doc_id", "lang", "source")
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val targets = counts.map { case (l, n) => l -> math.max(1L, n / 2) }
    val mixed = operators.TextAnalysis.domainMix(docs, "lang", targets).collect()
    val got = mixed.groupBy(_.getAs[String]("lang")).view.mapValues(_.length.toLong).toMap
    assert(got === targets, s"expected $targets got $got")
    assert(mixed.forall(_.getAs[Long]("replica") === 0L), "downsample must not replicate")
    // deterministic: selected set is the rank-prefix, so re-running is identical
    val again = operators.TextAnalysis.domainMix(docs, "lang", targets).collect()
    assert(mixed.map(_.getAs[Long]("doc_id")).sorted.toSeq ===
      again.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("domainMix upsamples by cycling replicas to an exact total; absent domains drop") {
    val docs = Tables.documents(spark, d).select("doc_id", "lang", "source")
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lang = counts.keys.min
    val n = counts(lang)
    val target = n * 2 + 3 // forces uneven replica counts
    val mixed = operators.TextAnalysis.domainMix(docs, "lang", Map(lang -> target)).collect()
    assert(mixed.length.toLong === target, s"expected exactly $target rows")
    assert(mixed.forall(_.getAs[String]("lang") === lang), "other domains must drop")
    val perDoc = mixed.groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.length.toLong).toMap
    assert(perDoc.size.toLong === n, "every doc participates in an upsample")
    assert(perDoc.values.forall(c => c == target / n || c == target / n + 1),
      s"copies must be target div n or +1: ${perDoc.values.toSeq.distinct}")
    // the docs with the extra copy are exactly the lowest-ranked (md5-first)
    val extras = perDoc.filter(_._2 == target / n + 1).keySet
    val rankOrder = operators.TextAnalysis.mixRank(docs.filter(col("lang") === lang), "lang")
      .orderBy("rn").collect().map(_.getAs[Long]("doc_id"))
    assert(extras === rankOrder.take((target % n).toInt).toSet)
  }

  test("temperature mix (x22): targets are floor(T·√n/Z); low-resource langs upsample") {
    val docs = Tables.documents(spark, d).select("doc_id", "lang", "source")
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val z = counts.values.toSeq.sorted.map(n => BigDecimal.decimal(math.sqrt(n.toDouble))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
    val mixed = SparkEntry.queries("x22_temperature_mix")(spark, d).collect()
    val got = mixed.groupBy(_.getAs[String]("lang")).view.mapValues(_.length.toLong).toMap
    counts.foreach { case (lang, n) =>
      val want = math.floor(total.toDouble * (math.sqrt(n.toDouble) / z.toDouble)).toLong
      assert(math.abs(got(lang) - want) <= 1,
        s"$lang: expected ~$want (±1 for normalizer summation order) got ${got(lang)}")
      // α = 0.5 moves every domain toward the mean: smaller-than-average
      // langs up-sample (replicas appear), larger ones down-sample
      if (want > n)
        assert(mixed.exists(r => r.getAs[String]("lang") == lang && r.getAs[Long]("replica") > 0L),
          s"$lang is low-resource ($n -> $want) but produced no replica rows")
      else assert(got(lang) <= n)
    }
    // size-preserving up to per-domain floors
    assert(math.abs(mixed.length.toLong - total) <= counts.size.toLong)
  }

  test("dsirWeights favors target-like documents; selection keys are rank-ordered") {
    import spark.implicits._
    // target vocabulary {aa bb cc}, off-target {xx yy zz}; the probe docs
    // (201, 202) are excluded from the target class itself
    val docs = (Seq.tabulate(20)(i => (i.toLong, "aa bb cc aa bb", "en")) ++
      Seq.tabulate(20)(i => (100L + i, "xx yy zz xx yy", "de")) ++
      Seq((201L, "aa bb cc", "de"), (202L, "xx yy zz", "de")))
      .toDF("doc_id", "text", "lang")
    val w = operators.TextAnalysis.dsirWeights(docs, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(201L) > w(202L),
      s"target-vocabulary doc must outweigh off-target: ${w(201L)} vs ${w(202L)}")
    assert(w(0L) > 0.0 && w(100L) < 0.0,
      "in-target docs weigh positive, off-target negative (log ratio)")
    // the x25 draw: ranks 1..100, keys non-increasing in rank order
    val sel = SparkEntry.queries("x25_dsir_selection")(spark, d).collect()
    assert(sel.map(_.getLong(0)).toSeq === (1L to sel.length.toLong))
    val keys = sel.map(_.getDouble(4))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b }, "keys descend with rank")
  }

  test("merge upsert (u4): keys unique, updates win, untouched rows intact") {
    val merged = SparkEntry.queries("u4_merge_upsert")(spark, d).collect()
    val orders = Tables.orders(spark, d).collect()
    assert(merged.length === orders.length, "MERGE preserves the key set")
    assert(merged.map(_.getLong(0)).distinct.length === merged.length, "keys unique")
    val byKey = orders.map(r => r.getLong(0) -> r).toMap
    merged.foreach { m =>
      val o = byKey(m.getLong(0))
      if (m.getAs[Boolean]("was_updated")) {
        assert(m.getString(2) === "F" && o.getString(2) === "O",
          "updated rows are the re-priced closed batch")
        assert(m.getDouble(3) === o.getDouble(3) * 1.1)
      } else {
        assert(m.getString(2) === o.getString(2) && m.getDouble(3) === o.getDouble(3),
          "rows outside the batch pass through untouched")
      }
    }
  }

  test("table diff (u5): classification matches the null/price pattern") {
    val rows = SparkEntry.queries("u5_table_diff")(spark, d).collect()
    assert(rows.nonEmpty)
    val kinds = rows.map(_.getString(1)).toSet
    assert(kinds === Set("added", "removed", "changed"), s"all three classes surface: $kinds")
    rows.foreach { r =>
      r.getString(1) match {
        case "removed" => assert(!r.isNullAt(2) && r.isNullAt(3))
        case "added"   => assert(r.isNullAt(2) && !r.isNullAt(3))
        case "changed" => assert(!r.isNullAt(2) && !r.isNullAt(3) &&
          r.getDouble(2) != r.getDouble(3))
      }
    }
  }

  test("histogram (a15): buckets tile, counts total the table") {
    val rows = SparkEntry.queries("a15_histogram")(spark, d).collect()
    assert(rows.map(_.getLong(3)).sum === Tables.orders(spark, d).count())
    rows.foreach { r =>
      assert(r.getDouble(1) === r.getLong(0) * 20000.0 &&
        r.getDouble(2) === r.getDouble(1) + 20000.0, "bucket bounds tile")
    }
  }

  test("transitions (w13): probabilities normalize per source type") {
    val rows = SparkEntry.queries("w13_event_transitions")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (from, vs) =>
      val total = vs.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-9, s"$from rows must sum to 1: $total")
    }
  }

  test("phrase index (x26): df equals posting length, lists doc-ordered, capped") {
    val rows = SparkEntry.queries("x26_inverted_index")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ids = r.getString(2).split(",").map(_.toLong)
      assert(ids.length.toLong === r.getLong(1), "df counts the posting list")
      assert(ids.length >= 2 && ids.length <= 64, "singletons and hot grams excluded")
      assert(ids.sameElements(ids.sorted), "postings doc-ordered")
    }
  }

  test("anomaly z-score (w14): every flagged event exceeds the bar, history honored") {
    val rows = SparkEntry.queries("w14_anomaly_zscore")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(4)) > 2.5, "only |z| > 2.5 events surface")
    }
    // sanity: z sign tracks the deviation direction from the trailing mean
    rows.foreach { r =>
      assert((r.getDouble(2) - r.getDouble(3)) * r.getDouble(4) > 0,
        "z and (value - mu) must have the same sign")
    }
  }

  test("regression (a16): closed-form OLS matches a local two-pass fit") {
    val rows = SparkEntry.queries("a16_regression")(spark, d).collect()
    assert(rows.nonEmpty)
    val pts = Tables.events(spark, d)
      .select(col("event_type"), hour(col("ts")).cast("double").as("x"), col("value").as("y"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val data = pts(r.getString(0)).map(p => (p.getDouble(1), p.getDouble(2)))
      val n = data.length.toDouble
      val mx = data.map(_._1).sum / n; val my = data.map(_._2).sum / n
      val slope = data.map { case (x, y) => (x - mx) * (y - my) }.sum /
        data.map { case (x, _) => (x - mx) * (x - mx) }.sum
      assert(r.getLong(1) === data.length)
      assert(math.abs(r.getDouble(2) - slope) < 1e-6,
        s"${r.getString(0)}: slope ${r.getDouble(2)} vs local $slope")
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1 + 1e-9, "r2 in [0,1]")
    }
  }

  test("PMI collocations (x27): support floor holds, list internally consistent") {
    val rows = SparkEntry.queries("x27_pmi_collocations")(spark, d).collect()
    assert(rows.length === 100, "top-100 cut")
    rows.foreach(r => assert(r.getLong(2) >= 5, "support floor"))
    val pmis = rows.map(_.getDouble(3))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b }, "sorted by pmi desc")
  }

  test("containment (d15): directional score in (0,1], shared bounded by sizes") {
    val rows = SparkEntry.queries("d15_containment")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (shared, szA, szB, c) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(shared <= math.min(szA, szB), "shared shingles bounded by the smaller doc")
      assert(c >= 0.5 && c <= 1.0 + 1e-9, s"containment in [0.5, 1]: $c")
      assert(r.getLong(0) < r.getLong(1), "pairs ordered doc_a < doc_b")
    }
  }

  test("containmentPairs honors shingle width, df cap, and threshold") {
    val docs = Tables.documents(spark, d)
    val loose = operators.Dedup.containmentPairs(docs, shingleWords = 4, minContainment = 0.3)
    val tight = operators.Dedup.containmentPairs(docs, shingleWords = 4, minContainment = 0.9)
    val nLoose = loose.count(); val nTight = tight.count()
    assert(nLoose >= nTight, "raising the containment bar cannot add pairs")
    assert(nLoose > 0)
    tight.collect().foreach(r => assert(r.getDouble(5) >= 0.9))
  }

  test("anomalyZscores: wider frame and lower bar flag at least as much") {
    val ev = Tables.events(spark, d)
    val ord = Seq(col("ts"), col("event_id"))
    val strict = operators.EventAnalytics.anomalyZscores(
      ev, "user_id", "value", ord, threshold = 3.5).count()
    val lax = operators.EventAnalytics.anomalyZscores(
      ev, "user_id", "value", ord, threshold = 1.5).count()
    assert(lax >= strict && lax > 0, s"threshold monotone: lax=$lax strict=$strict")
  }

  test("olsTrend on a synthetic exact line recovers slope/intercept, r2 = 1") {
    import spark.implicits._
    val line = (1 to 50).map(i => ("g", i.toDouble, 3.0 * i + 7.0)).toDF("g", "x", "y")
    val r = operators.EventAnalytics.olsTrend(line, "g", col("x"), col("y")).collect()(0)
    assert(math.abs(r.getDouble(2) - 3.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 7.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9)
  }

  test("pmiCollocations: support floor and k are honored") {
    val docs = Tables.documents(spark, d)
    val top = operators.TextAnalysis.pmiCollocations(docs, minSupport = 10L, topK = 7).collect()
    assert(top.length === 7)
    top.foreach(r => assert(r.getLong(2) >= 10))
  }

  test("dedup recall (d16): metrics internally consistent, hits bounded") {
    val r = SparkEntry.queries("d16_dedup_recall")(spark, d).collect()(0)
    val (nT, nC, nH) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nT > 0 && nC > 0)
    assert(nH <= math.min(nT, nC), "hits bounded by both sides")
    assert(r.getDouble(3) === nH.toDouble / nT && r.getDouble(4) === nH.toDouble / nC)
    assert(r.getDouble(3) >= 0.9, s"banded LSH should recover near-all truth pairs: ${r.getDouble(3)}")
  }

  test("gap fill (w12): grid contiguous per user, LOCF never null, fills inherit") {
    val rows = SparkEntry.queries("w12_gap_fill")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, vs) =>
      val days = vs.map(_.getAs[String]("day")).sorted
      val d0 = java.time.LocalDate.parse(days.head)
      val d1 = java.time.LocalDate.parse(days.last)
      assert(days.length.toLong === java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1,
        s"user $u grid must be gapless: ${days.length} days for $d0..$d1")
      // first day is a real observation; every later day has a state
      val sorted = vs.sortBy(_.getAs[String]("day"))
      assert(!sorted.head.getAs[Boolean]("is_filled"), s"user $u first day must be observed")
      assert(sorted.forall(_.getAs[String]("filled_state") != null),
        s"user $u: LOCF leaves no null after the first observation")
      // a filled day carries exactly the previous day's state
      sorted.sliding(2).foreach {
        case Array(a, b) if b.getAs[Boolean]("is_filled") =>
          assert(b.getAs[String]("filled_state") === a.getAs[String]("filled_state"),
            s"user $u: filled day must inherit the prior state")
        case _ =>
      }
    }
  }

  test("scd2 intervals (w11): versions contiguous, chained, one open per user") {
    val rows = SparkEntry.queries("w11_scd2_intervals")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, vs) =>
      val sorted = vs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq ===
        (1L to sorted.length.toLong), s"user $u versions must be 1..n")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.sql.Timestamp]("valid_to") ===
            b.getAs[java.sql.Timestamp]("valid_from"),
            s"user $u: version chain must be gapless")
          assert(a.getAs[String]("state") != b.getAs[String]("state"),
            s"user $u: consecutive versions must change state")
        case _ =>
      }
      assert(sorted.count(_.getAs[Boolean]("is_current")) === 1, s"user $u: one open version")
      assert(sorted.last.getAs[Boolean]("is_current"), s"user $u: the LAST version is open")
    }
  }

  test("Engine.session binds file: to the chmod-free local filesystem") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(java.net.URI.create("file:///"), conf)
    try assert(fs.getClass === classOf[sinks.NioLocalFileSystem])
    finally fs.close()
    // FileContext's binding too, which Spark's streaming checkpoint log resolves
    assert(org.apache.hadoop.fs.AbstractFileSystem.get(java.net.URI.create("file:///"), conf)
      .getClass === classOf[sinks.NioLocalFs])
  }
}
