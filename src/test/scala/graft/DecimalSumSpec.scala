package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DecimalSum128, NativeSumRule}

/** [[graft.functions.DecimalSum128]] / [[graft.functions.NativeSumRule]]:
  * the native dsum kernel must be VALUE-IDENTICAL (bit-identical doubles)
  * with the portable `CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)`
  * spelling it replaces — including null semantics, the FILTER clause,
  * sums past 64-bit unscaled, and sign-crossing carries — and must stay
  * its hands off spellings it cannot prove (DISTINCT, non-double child).
  */
class DecimalSumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertIdentical(df: => DataFrame): Unit =
    TestSpark.assertBitIdentical(NativeSumRule)(df)

  test("NativeSumRule rewrites the dsum spelling and leaves DISTINCT/int alone") {
    val df = Seq(1.5, 2.25).toDF("v").agg(Cols.dsum($"v").as("s"))
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_decimal_sum"),
      df.queryExecution.optimizedPlan.toString)
    // DISTINCT keeps the decimal path (the planner's distinct rewrite
    // is entitled to the original function)
    val dist = Seq(1.0, 1.0, 2.0).toDF("v")
      .agg(sum_distinct($"v".cast(Cols.Dec)).cast("double").as("s"))
    assert(!dist.queryExecution.optimizedPlan.toString.contains("graft_decimal_sum"))
    assert(dist.head.getDouble(0) === 3.0)
    // int child keeps the decimal path (only double inputs are proven)
    val ints = Seq(1, 2).toDF("v").agg(sum($"v".cast(Cols.Dec)).cast("double").as("s"))
    assert(!ints.queryExecution.optimizedPlan.toString.contains("graft_decimal_sum"))
    assert(ints.head.getDouble(0) === 3.0)
  }

  test("bit-identical with the portable spelling across value classes") {
    // deterministic pseudo-random doubles spanning magnitudes and signs,
    // including rounding-boundary shapes and sums far past 64-bit
    // unscaled (9e12-magnitude values force the 128-bit carry)
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(2000)(rnd.nextInt(5) match {
      case 0 => (rnd.nextDouble() - 0.5) * 2e6
      case 1 => (rnd.nextDouble() - 0.5) * 9e12 // near the unscaled-long edge
      case 2 => rnd.nextInt(1000000) / 100.0    // money-like
      case 3 => (rnd.nextDouble() - 0.5) * 1e-6 // below one unscaled unit
      case _ => rnd.nextGaussian()
    })
    val df = vals.zipWithIndex.map { case (v, i) => (i % 7, v) }.toDF("k", "v")
    assertIdentical(df.groupBy("k").agg(
      Cols.dsum($"v").as("s"), Cols.davg($"v").as("a")))
    // global (no grouping) aggregation path
    assertIdentical(df.agg(Cols.dsum($"v").as("s")))
  }

  test("null semantics: skipped rows, all-null and empty groups") {
    val df = Seq[(Int, Option[Double])](
      (1, Some(1.25)), (1, None), (2, None), (2, None))
      .toDF("k", "v")
    assertIdentical(df.groupBy("k").agg(Cols.dsum($"v").as("s")))
    assertIdentical(df.filter($"k" === 99).agg(Cols.dsum($"v").as("s")))
  }

  test("FILTER clause survives the rewrite") {
    val df = Seq((1, 1.5), (1, 2.5), (2, 4.0)).toDF("k", "v")
    df.createOrReplaceTempView("dsumf")
    assertIdentical(spark.sql(
      """SELECT k, CAST(SUM(CAST(v AS DECIMAL(28,6))) FILTER (WHERE v > 2.0)
        |  AS DOUBLE) AS s
        |FROM dsumf GROUP BY k ORDER BY k""".stripMargin))
  }

  test("merge path: many partitions with sign-crossing partial sums") {
    val df = (0 until 400).map(i => (i % 3, if (i % 2 == 0) 8.9e12 else -8.9e12))
      .toDF("k", "v").repartition(16)
    assertIdentical(df.groupBy("k").agg(Cols.dsum($"v").as("s")))
  }

  test("inputs beyond the exact unscaled-long window fail loudly") {
    val e = intercept[Exception] {
      Seq(1.0e13).toDF("v").agg(Cols.dsum($"v").as("s")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("unscaled-long window")), e.toString)
  }

  test("u6 fast path agrees with the BigDecimal reference across magnitudes") {
    val rnd = new scala.util.Random(7)
    def ref(x: Double): Long = graft.functions.DecimalSum128.u6Reference(x)
    val boundary = Seq(0.0, -0.0, 1e-7, -1e-7, 5e-7, -5e-7, 1.5e-6, 0.0000005,
      -0.0000005, 1.0000005, 2.1474835e9, -2.1474835e9, 2.2e9, 9.0e12,
      0.1, 0.3, 123.45, 1.0 / 3.0, math.Pi)
    val fuzz = Seq.fill(200000) {
      rnd.nextInt(6) match {
        case 0 => (rnd.nextDouble() - 0.5) * 2e6
        case 1 => rnd.nextInt() / 100.0
        case 2 => (rnd.nextDouble() - 0.5) * 1e-5
        case 3 => (rnd.nextDouble() - 0.5) * 5e9 // straddles the 2^31 gate
        case 4 => rnd.nextLong() % 1000000000L / 1e6 // exact scale-6 values
        case _ => rnd.nextGaussian()
      }
    }
    (boundary ++ fuzz).foreach { x =>
      assert(graft.functions.DecimalSum128.u6(x) === ref(x), s"u6 mismatch at $x")
    }
  }

  test("static helpers: rounding, reconstruction, decimal(38,6) overflow") {
    // HALF_UP on the shortest-decimal representation, like the cast
    assert(DecimalSum128.u6(1.0000005) === 1000001L)
    assert(DecimalSum128.u6(-1.0000005) === -1000001L)
    assert(DecimalSum128.u6(123.45) === 123450000L)
    // (hi, lo) reconstruction across the signed boundary
    assert(DecimalSum128.toDouble(0L, 1L) === 1e-6)
    assert(DecimalSum128.toDouble(-1L, -1L) === -1e-6)
    assert(DecimalSum128.toDouble(1L, 0L) ===
      new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64), 6).doubleValue())
    val over = intercept[ArithmeticException] {
      // 6e18·2^64 ≈ 1.1e38 > 10^38 − 1: past DECIMAL(38,6), where the
      // portable spelling overflows too
      DecimalSum128.toDouble(6000000000000000000L, 0L)
    }
    assert(over.getMessage.contains("DECIMAL(38,6)"))
  }
}
