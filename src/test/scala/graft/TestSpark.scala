package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.Assertions._

/** One shared local session for all suites: the engine's own session. */
object TestSpark {
  lazy val spark: SparkSession = {
    // a preset key wins over Engine.session's defaults
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    val s = Engine.session("local[4]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` with `rule` excluded from the optimizer: the portable leg
    * of a native-kernel parity spec.
    */
  def excluding[A](rule: Rule[_])(f: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", rule.ruleName)
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** Bit-compares `df` with `rule` on (the native kernel) against `df`
    * with it excluded (the portable spelling), row by row, on identical
    * input.
    */
  def assertBitIdentical(rule: Rule[_])(df: => DataFrame): Unit =
    assertSameBits(df.collect(), excluding(rule)(df.collect()))

  /** Row-by-row bit comparison of a native kernel's rows (`fast`) with
    * the portable spelling's (`slow`); doubles compare by their bits.
    */
  def assertSameBits(fast: Array[Row], slow: Array[Row]): Unit = {
    assert(fast.length === slow.length)
    fast.zip(slow).foreach { case (f, s) =>
      (0 until f.length).foreach { i =>
        if (f.isNullAt(i) || s.isNullAt(i)) assert(f.isNullAt(i) === s.isNullAt(i))
        else (f.get(i), s.get(i)) match {
          case (a: Double, b: Double) =>
            assert(java.lang.Double.doubleToLongBits(a) ===
              java.lang.Double.doubleToLongBits(b), s"col $i: $a vs $b")
          case (a, b) => assert(a === b, s"col $i")
        }
      }
    }
  }
}
