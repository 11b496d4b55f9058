package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.NativeMd5Rule

/** [[graft.functions.Md5PrefixLong]] / [[graft.functions.NativeMd5Rule]]:
  * the native hash-bucket kernel must be VALUE-IDENTICAL with the
  * portable `CAST(conv(substring(md5(x), 1, n), 16, 10) AS BIGINT)`
  * spelling it replaces — every prefix length, null inputs, the
  * double-cast variant — and must leave spellings it cannot prove
  * (n = 16, other substring offsets, other bases) alone.
  */
class Md5PrefixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertIdentical(df: => DataFrame): Unit =
    TestSpark.assertBitIdentical(NativeMd5Rule)(df)

  // parquet-backed, NOT a LocalRelation: ConvertToLocalRelation folds
  // projections over local data during the main optimizer batch, before
  // user-provided rules run — a local frame would bit-compare the
  // portable spelling against itself and prove nothing
  private lazy val fuzz: DataFrame = {
    val rnd = new scala.util.Random(42)
    val rows: Seq[String] = (0 until 20000).map { i =>
      rnd.nextInt(4) match {
        case 0 => rnd.nextLong().toString
        case 1 => rnd.alphanumeric.take(rnd.nextInt(40)).mkString
        case 2 => s"dsir|${rnd.nextInt(1000)}_${rnd.nextInt(1000)}"
        case _ => new String(Array.fill(rnd.nextInt(12))(rnd.nextPrintableChar()))
      }
    } :+ "" // empty string too
    val dir = java.nio.file.Files.createTempDirectory("md5fuzz").toString
    rows.toDF("s").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("every prefix length 1..15 matches the portable spelling bit-for-bit") {
    (1 to 15).foreach { n =>
      assertIdentical(fuzz.select(
        conv(substring(md5(col("s")), 1, n), 16, 10).cast("long").as("v")))
    }
  }

  test("double-cast variant matches (the seeded-uniform spelling)") {
    assertIdentical(fuzz.select(
      (conv(substring(md5(concat(lit("gum|"), col("s"))), 1, 8), 16, 10)
        .cast("double") + lit(1.0)) / lit(4294967297.0)))
  }

  test("nulls propagate identically") {
    val dir = java.nio.file.Files.createTempDirectory("md5null").toString
    Seq[Option[String]](Some("a"), None, Some("b")).toDF("s")
      .write.mode("overwrite").parquet(dir)
    assertIdentical(spark.read.parquet(dir)
      .select(conv(substring(md5(col("s")), 1, 4), 16, 10).cast("long")))
  }

  test("modulo-bucket composition matches (the packShard/cms spelling)") {
    assertIdentical(fuzz.select(
      (conv(substring(md5(concat(lit("pk|"), col("s"))), 1, 2), 16, 10)
        .cast("long") % 8).as("shard"),
      (conv(substring(md5(concat(lit("cms0|"), col("s"))), 1, 4), 16, 10)
        .cast("long") % 512).as("cell")))
  }

  test("the rule fires on the long-cast spelling and skips n=16") {
    val hit = fuzz.select(
      conv(substring(md5(col("s")), 1, 4), 16, 10).cast("long"))
    assert(hit.queryExecution.optimizedPlan.toString.contains("md5_prefix_long"),
      hit.queryExecution.optimizedPlan.toString)
    // n = 16 can exceed a signed long — must stay on the portable path
    val miss = fuzz.select(
      conv(substring(md5(col("s")), 1, 16), 16, 10).cast("long"))
    assert(!miss.queryExecution.optimizedPlan.toString.contains("md5_prefix_long"))
    // substring not at position 1 — untouched
    val miss2 = fuzz.select(
      conv(substring(md5(col("s")), 2, 4), 16, 10).cast("long"))
    assert(!miss2.queryExecution.optimizedPlan.toString.contains("md5_prefix_long"))
  }

  test("the rewritten idiom compiles: CODEGEN_ONLY evaluates it without fallback") {
    // CODEGEN_ONLY turns a generated-code compile failure into a job
    // failure instead of a silent drop to the interpreted path, and
    // codegen.fallback=false does the same for whole-stage codegen
    // a fresh frame per use: a Dataset caches its optimized plan
    def q = fuzz.select(
      (conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long") % 97).as("b"))
    val expected = TestSpark.excluding(NativeMd5Rule)(q.collect())
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got = try {
      val rewritten = q
      assert(rewritten.queryExecution.optimizedPlan.toString.contains("md5_prefix_long"))
      rewritten.collect()
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
    assert(got.toSeq === expected.toSeq)
  }
}
