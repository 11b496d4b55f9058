package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** First `n` hex digits of md5 as an unsigned long — the native kernel
  * behind the library's deterministic hash-bucket idiom
  *
  * {{{ CAST(conv(substring(md5(x), 1, n), 16, 10) AS BIGINT) }}}
  *
  * (sampling buckets, DSIR feature cells, CMS cells, pack shards,
  * train/test splits, seeded uniforms — every engine-portable
  * "deterministic coin" routes through it). Value-identical by
  * construction: the first `n` hex characters of the digest ARE the
  * first `n` nibbles of its bytes, and for n ≤ 15 their base-16 value
  * fits a non-negative long exactly, which is precisely what
  * conv(·,16,10) + CAST produce. The portable spelling materializes a
  * 32-char hex string, a substring, a base-16 parse and a string→long
  * cast per row — all allocation; this kernel folds the nibbles off
  * the digest bytes directly, with a thread-local MessageDigest
  * (DigestUtils inside Spark's Md5 looks the provider up per call).
  */
case class Md5PrefixLong(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 15, s"md5 prefix length $n outside [1, 15]")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  override protected def nullSafeEval(input: Any): Any =
    Md5PrefixLong.prefix(input.asInstanceOf[Array[Byte]], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5PrefixLong.prefix($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

object Md5PrefixLong {
  private val localMd = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Static hot path shared by eval and generated code. Not named
    * `eval`: the case class's inherited `eval(InternalRow)` would then
    * block the static forwarder the generated code calls.
    */
  def prefix(bytes: Array[Byte], n: Int): Long = {
    val md = localMd.get()
    md.reset()
    val dig = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < n) {
      val b = dig(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }
}

/** Optimizer rule: rewrite the portable hash-bucket spelling
  *
  * {{{ CAST(conv(substring(md5(x), 1, n), 16, 10) AS BIGINT) }}}   (n ≤ 15)
  *
  * (and its `AS DOUBLE` variant, exact for n ≤ 13 < 2^53) into
  * [[Md5PrefixLong]] — the [[NativeSumRule]] discipline: users keep the
  * declarative cross-engine spelling, the optimizer swaps the
  * implementation, and the DuckDB oracle re-validates every query with
  * the rule active (Verify and Bench both run [[graft.Engine.session]]).
  *
  * Guards: the exact Substring(·, 1, n)/Conv(·, 16, 10) literal shape
  * only, and n bounded so the value is exactly representable in the
  * target type;
  * `spark.sql.optimizer.excludedRules=graft.functions.NativeMd5Rule`
  * turns the rewrite off per session.
  */
object NativeMd5Rule extends Rule[LogicalPlan] {
  private object Pattern {
    def unapply(e: Expression): Option[(Expression, Int)] = e match {
      case Conv(Substring(Md5(c), Literal(1, IntegerType), Literal(len: Int, IntegerType)),
            Literal(16, IntegerType), Literal(10, IntegerType), _)
          if len >= 1 && len <= 15 =>
        Some((c, len))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Cast(Pattern(c, len), LongType, _, _) =>
      Md5PrefixLong(c, len)
    case cast @ Cast(Pattern(c, len), DoubleType, _, _) if len <= 13 =>
      cast.copy(child = Md5PrefixLong(c, len))
  }
}
