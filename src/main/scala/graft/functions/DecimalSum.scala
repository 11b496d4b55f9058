package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Native exact sum for the library's `Cols.dsum` spelling
  * `CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)` — value-identical by
  * construction, ~5× cheaper than Spark's generic decimal Sum.
  *
  * Why the generic path is slow: DECIMAL(28,6) is past the 18-digit
  * compact-long window, so every input value materializes a scala
  * BigDecimal, and every `+` in the sum buffer is a BigDecimal add
  * (measured at ~55% of dsum's cost; the double→decimal cast is most of
  * the rest — see OPTIMIZATION_r19.md §a10).
  *
  * This kernel keeps the SAME per-row rounding (the scale-6 unscaled
  * value of `BigDecimal.valueOf(x)` — exactly Spark's double→decimal
  * HALF_UP cast on the shortest-decimal representation) but accumulates
  * the unscaled values as a 128-bit two's-complement integer in two
  * plain longs: codegen-friendly wrapping adds, no per-row object churn
  * in the buffer, associative and order-independent like the decimal
  * spelling. The final per-group value rebuilds the exact
  * `BigDecimal(unscaled, 6)` and takes `.doubleValue()` — the identical
  * code path a decimal(38,6)→double cast runs.
  *
  * Domain (enforced, not assumed): each INPUT value must have a scale-6
  * unscaled magnitude that fits a long, i.e. |x| ≲ 9.223e12 — beyond it
  * the kernel throws ArithmeticException rather than silently wrapping
  * (the ANSI decimal spelling also errors on its own window, at 1e22;
  * the documented Cols.dsum domain is money/quantity/ratio columns, far
  * inside both). Group SUMS may exceed 64 bits freely — that is the
  * point of the 128-bit carry — and a sum past DECIMAL(38,6) throws
  * exactly where the ANSI decimal spelling overflows. NULL semantics
  * match SQL SUM: nulls are skipped, empty/all-null groups yield NULL.
  *
  * Injected by [[NativeSumRule]];
  * `spark.sql.optimizer.excludedRules=graft.functions.NativeSumRule`
  * turns the rewrite off per session.
  */
case class DecimalSum128(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_decimal_sum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_decimal_sum expects a DOUBLE child, got ${child.dataType.catalogString}")

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, cnt)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  // wrapping long add — the 128-bit carry needs two's-complement
  // wraparound, which ANSI Add would turn into an overflow error
  private def wadd(l: Expression, r: Expression): Expression =
    Add(l, r, EvalMode.LEGACY)

  /** Carry-out of the unsigned 64-bit add a+b (0 or 1). */
  private def carry(a: Expression, b: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(wadd(a, b)))),
      Literal(63))

  /** 128-bit signed accumulate of a (sign-extended) 64-bit addend `v`:
    * hi' = hi + (v >> 63) + carryOut(lo, v); lo' = lo + v.
    */
  private def acc128(v: Expression): Seq[Expression] = Seq(
    wadd(wadd(hi, ShiftRight(v, Literal(63))), carry(lo, v)),
    wadd(lo, v))

  override lazy val updateExpressions: Seq[Expression] = {
    val v = Coalesce(Seq(UnscaledDec6(child), Literal(0L)))
    acc128(v) :+ wadd(cnt, If(IsNull(child), Literal(0L), Literal(1L)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    wadd(wadd(hi.left, hi.right), carry(lo.left, lo.right)),
    wadd(lo.left, lo.right),
    wadd(cnt.left, cnt.right))

  override lazy val evaluateExpression: Expression = Dec128ToDouble(hi, lo, cnt)

  override protected def withNewChildInternal(newChild: Expression): DecimalSum128 =
    copy(child = newChild)
}

/** Scale-6 unscaled long of Spark's double→DECIMAL(28,6) cast —
  * `BigDecimal.valueOf(x).setScale(6, HALF_UP)` — as one static call.
  * Null-preserving; throws (rather than truncates) outside the exact
  * long window.
  */
case class UnscaledDec6(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "unscaled_dec6"

  override protected def nullSafeEval(x: Any): Any =
    DecimalSum128.u6(x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.DecimalSum128.u6($x)")

  override protected def withNewChildInternal(newChild: Expression): UnscaledDec6 =
    copy(child = newChild)
}

/** Final step of [[DecimalSum128]]: the exact 128-bit unscaled sum back
  * to double via `new BigDecimal(BigInteger, 6).doubleValue()` — the
  * same conversion a decimal→double cast performs. NULL when `cnt` is
  * zero (SQL SUM over no rows); throws where DECIMAL(38,6) overflows
  * (ANSI parity). Runs once per group.
  */
case class Dec128ToDouble(hi: Expression, lo: Expression, cnt: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(hi, lo, cnt)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dec128_to_double"

  override def eval(input: InternalRow): Any = {
    val c = cnt.eval(input).asInstanceOf[Long]
    if (c == 0L) null
    else DecimalSum128.toDouble(
      hi.eval(input).asInstanceOf[Long], lo.eval(input).asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = hi.genCode(ctx); val l = lo.genCode(ctx); val c = cnt.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
        ${h.code}
        ${l.code}
        ${c.code}
        boolean ${ev.isNull} = (${c.value} == 0L);
        double ${ev.value} = ${ev.isNull} ? 0.0D :
          graft.functions.DecimalSum128.toDouble(${h.value}, ${l.value});
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Dec128ToDouble =
    copy(hi = newChildren(0), lo = newChildren(1), cnt = newChildren(2))
}

object DecimalSum128 {

  /** Static per-row hot path shared by eval and generated code.
    *
    * Fast path (no BigDecimal, ~10× cheaper): for |x| < 2^31, if the
    * integer n = round(x·1e6) ROUND-TRIPS (n/1e6 == x as doubles), then
    * n IS `BigDecimal.valueOf(x).setScale(6, HALF_UP).unscaled`:
    * the round-trip makes x the nearest double to n·10⁻⁶, so the
    * shortest-decimal d (what valueOf yields) lies within ulp(x) of
    * n·10⁻⁶; below 2^31, ulp(x) ≤ 4.8e-7 < half a scale-6 unit, so d
    * cannot cross (or even touch — a tie would need distance exactly
    * 5e-7 > ulp) the rounding boundary, and no second integer can
    * round-trip (two would put decimals 1e-6 apart inside a width-ulp
    * interval). Values that fail the check (rounding-boundary
    * neighborhoods, magnitudes ≥ 2^31) take the exact BigDecimal path —
    * identical result, just slower. DecimalSumSpec fuzzes the two paths
    * against each other across magnitudes.
    */
  def u6(x: Double): Long = {
    if (x > -2.147e9 && x < 2.147e9) {
      val n = Math.round(x * 1e6)
      if (n.toDouble / 1e6 == x) return n
    }
    u6Slow(x)
  }

  private def u6Slow(x: Double): Long = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
      throw new ArithmeticException(
        s"graft_decimal_sum: non-finite input $x (the DECIMAL(28,6) cast rejects it too)")
    try JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
    catch {
      case _: ArithmeticException => throw new ArithmeticException(
        s"graft_decimal_sum: |$x| exceeds the exact unscaled-long window (~9.2e12); " +
          "set spark.sql.optimizer.excludedRules=graft.functions.NativeSumRule to use " +
          "the portable DECIMAL(28,6) spelling")
    }
  }

  /** Test hook: the always-exact reference path. */
  private[graft] def u6Reference(x: Double): Long = u6Slow(x)

  private val Max38 = new BigInteger("9" * 38)

  /** Static per-group finish shared by eval and generated code. */
  def toDouble(hi: Long, lo: Long): Double = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(8 + i) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    val bi = new BigInteger(bytes) // big-endian two's complement, exact
    if (bi.abs.compareTo(Max38) > 0)
      throw new ArithmeticException(
        s"graft_decimal_sum overflow: $bi exceeds DECIMAL(38,6) " +
          "(the portable spelling overflows here too)")
    new JBigDecimal(bi, 6).doubleValue()
  }
}
