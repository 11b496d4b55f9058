package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.functions.Md5PrefixLong]] through [[Cols.md5Prefix]]: the
  * native hash-bucket kernel must be VALUE-IDENTICAL with the portable
  * `CAST(conv(substring(md5(x), 1, n), 16, 10) AS BIGINT)` spelling —
  * every prefix length, null inputs, the double-cast variant, modulo
  * buckets — and `md5_prefix_long` must reject an `n` it cannot honour.
  */
class Md5PrefixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def portable(x: Column, n: Int): Column =
    conv(substring(md5(x), 1, n), 16, 10).cast("long")

  private def assertIdentical(fast: DataFrame, slow: DataFrame): Unit = {
    val plan = fast.queryExecution.executedPlan.toString
    assert(plan.contains("md5_prefix_long"), plan)
    TestSpark.assertSameBits(fast.collect(), slow.collect())
  }

  // parquet-backed, NOT a LocalRelation: ConvertToLocalRelation would
  // evaluate the projections in the optimizer, so the kernel's
  // generated code would never run
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
      assertIdentical(fuzz.select(Cols.md5Prefix(col("s"), n)),
        fuzz.select(portable(col("s"), n)))
    }
  }

  test("double-cast variant matches (the seeded-uniform spelling)") {
    def u(v: Column) = (v.cast("double") + lit(1.0)) / lit(4294967297.0)
    val key = concat(lit("gum|"), col("s"))
    assertIdentical(fuzz.select(u(Cols.md5Prefix(key, 8))), fuzz.select(u(portable(key, 8))))
  }

  test("nulls propagate identically") {
    val dir = java.nio.file.Files.createTempDirectory("md5null").toString
    Seq[Option[String]](Some("a"), None, Some("b")).toDF("s")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assertIdentical(df.select(Cols.md5Prefix(col("s"), 4)), df.select(portable(col("s"), 4)))
  }

  test("modulo-bucket composition matches (the packShard/cms spelling)") {
    def buckets(p: (Column, Int) => Column) = fuzz.select(
      (p(concat(lit("pk|"), col("s")), 2) % 8).as("shard"),
      (p(concat(lit("cms0|"), col("s")), 4) % 512).as("cell"))
    assertIdentical(buckets(Cols.md5Prefix), buckets(portable))
  }

  test("md5_prefix_long rejects a non-literal or out-of-range n, naming the argument") {
    Seq(col("s").cast("int").as("n"), lit(0), lit(16), lit(4L)).foreach { n =>
      val e = intercept[AnalysisException](
        fuzz.select(call_function("md5_prefix_long", col("s"), n)).queryExecution.assertAnalyzed())
      assert(e.getMessage.contains("prefix length n must be an integer literal in 1..15"),
        e.getMessage)
    }
    val e = intercept[AnalysisException](spark.sql("SELECT md5_prefix_long('a')").collect())
    assert(e.getMessage.contains("md5_prefix_long expects exactly 2 argument(s)"), e.getMessage)
    assert(!e.getMessage.contains("8 hashes"), e.getMessage)
  }

  test("the kernel compiles: CODEGEN_ONLY evaluates it without fallback") {
    // CODEGEN_ONLY turns a generated-code compile failure into a job
    // failure instead of a silent drop to the interpreted path, and
    // codegen.fallback=false does the same for whole-stage codegen
    val expected = fuzz.select((portable(col("s"), 8) % 97).as("b")).collect()
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got = try {
      val q = fuzz.select((Cols.md5Prefix(col("s"), 8) % 97).as("b"))
      assert(q.queryExecution.optimizedPlan.toString.contains("md5_prefix_long"))
      q.collect()
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
    assert(got.toSeq === expected.toSeq)
  }
}
