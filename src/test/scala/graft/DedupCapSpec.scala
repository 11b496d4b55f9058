package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The LSH bucket-size / shingle-df skew caps (Dedup.MaxBucketDocs,
  * Dedup.MaxShingleDf) on a pathological boilerplate corpus: 200 copies
  * of one banner text would make every one of its band buckets (and every
  * one of its shingles) quadratic — C(200,2) ≈ 20k candidate pairs from
  * content that carries no near-dup signal. With the caps, the degenerate
  * mass is dropped while genuinely near-duplicate small groups are still
  * found via their own (tiny) buckets.
  */
class DedupCapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Fixture: 200 identical boilerplate docs (ids 1000+) + one true
    * near-dup pair (ids 1, 2) with its own distinct content.
    */
  private lazy val fixtureDir: String = {
    val out = Files.createTempDirectory("graft-dedup-cap").toString
    import spark.implicits._
    val banner = "this page is part of the example corpus archive collection maintained here"
    val pair = "a genuinely unique document about spark native analytics engines and their tests"
    val rows =
      Seq((1L, pair), (2L, pair)) ++ (0 until 200).map(i => (1000L + i, banner))
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'fix' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  test("d2 drops quadratic boilerplate buckets but keeps true near-dup pairs") {
    val d2 = SparkEntry.queries("d2_minhash_lsh")(spark, fixtureDir)
    val pairs = d2.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)),
      s"expected only the true pair, got ${pairs.length} pairs (uncapped would be ~19900)")
  }

  test("d14 fuzzy pairs: in-block edits found, prefix edits missed, viral blocks capped") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (Seq(
      (1L, base), (2L, base + " zz"),        // same block, lev 3
      (3L, "XX" + base.drop(2)),             // prefix edit: different block, never paired
      (10L, "unrelated content entirely different words here okay")) ++
      // viral block: 70 same-prefix same-length-bucket docs > maxBlock=64
      Seq.tabulate(70)(i => (100L + i, f"boilerplate prefix shared by all docs $i%02d")))
      .toDF("doc_id", "text")
    val pairs = operators.Dedup.fuzzyPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 3L)),
      s"expected only the true in-block pair (viral block capped, prefix edit " +
        s"out of block): ${pairs.toSeq}")
    // the cap is the only reason the viral block is silent: lifting it
    // (maxBlock = 128) exposes its 70·69/2 near-identical pairs
    val uncapped = operators.Dedup.fuzzyPairs(docs, maxBlock = 128L).count()
    assert(uncapped === 70L * 69L / 2L + 1L, s"uncapped must pair the viral block: $uncapped")
  }

  test("d15 containment: boilerplate shingles capped, true containment found") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val short = "alpha beta gamma delta epsilon zeta eta theta"  // prefix of `long`
    val docs = (Seq((1L, long), (2L, short)) ++
      // 50 identical banner docs: every shingle has df 50 > maxDf=16 →
      // all their postings leave before pairing
      Seq.tabulate(50)(i => (100L + i, "shared banner text repeated across the whole corpus here")))
      .toDF("doc_id", "text")
    val pairs = operators.Dedup.containmentPairs(docs, shingleWords = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(pairs.length === 1 && pairs(0)._1 === 1L && pairs(0)._2 === 2L,
      s"only the true subset pair survives the df cap: ${pairs.toSeq}")
    assert(pairs(0)._3 === 1.0,
      s"doc 2 is a verbatim prefix of doc 1 → containment 1.0: ${pairs(0)._3}")
    // lifting the cap exposes the banner block's 50·49/2 pairs
    val uncapped = operators.Dedup.containmentPairs(docs, shingleWords = 4, maxDf = 64L).count()
    assert(uncapped === 50L * 49L / 2L + 1L, s"uncapped banner block must pair: $uncapped")
  }

  test("d8 drops stopword-like shingles from the contamination join") {
    val d8 = SparkEntry.queries("d8_contamination")(spark, fixtureDir)
    val rows = d8.collect()
    // boilerplate docs (ids >= 1000) all share every shingle; uncapped the
    // 80/20 split would emit ~160×40 full-overlap rows — the df cap must
    // remove them entirely
    assert(rows.forall(r => r.getLong(0) < 1000L && r.getLong(1) < 1000L),
      s"boilerplate contamination rows leaked: ${rows.take(5).mkString(", ")}")
  }
}
