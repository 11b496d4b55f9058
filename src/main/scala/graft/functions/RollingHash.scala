package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash of a string column — the document-fingerprint
  * primitive (SURVEY.md §7.5 / §2.13 custom-expression surface) as a
  * native Catalyst expression: whole-stage-codegen'd (the generated code
  * is a single static call, no boxing, no UDF serialization), null-safe
  * via UnaryExpression's default eval.
  *
  * h₀ = 7; hᵢ = (hᵢ₋₁ · 31 + cᵢ) mod 1_000_000_007 over UTF-16 code units
  * (≡ code points for ASCII corpora; documented divergence for astral
  * planes vs codepoint-based oracles).
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val Seed = 7L
  final val Mult = 31L
  final val Mod = 1000000007L

  /** Static hot-path helper the generated code calls directly. */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = Seed
    var i = 0
    while (i < str.length) {
      h = (h * Mult + str.charAt(i)) % Mod
      i += 1
    }
    h
  }
}

/** Registration: per-session (temp function) or cluster-wide via
  * SparkSessionExtensions (`spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // arity is VALIDATED, not silently truncated: `minhash_sigs(sh, 16)`
    // previously used only the first argument and returned 8 signatures
    // with no warning — wrong LSH banding with no error is worse than a
    // loud failure, and decimal_dot(a) died with an opaque index error
    "rolling_hash" -> (exprs => { arity("rolling_hash", exprs, 1); RollingHash(exprs.head) }),
    "decimal_dot" -> (exprs => { arity("decimal_dot", exprs, 2); DecimalDot(exprs.head, exprs(1)) }),
    "float_dot" -> (exprs => { arity("float_dot", exprs, 2); FloatDot(exprs.head, exprs(1)) }),
    "minhash_sigs" -> (exprs => {
      arity("minhash_sigs", exprs, 1, " (the hash count is fixed at registration: 8)")
      MinHashSigs(exprs.head, 8) }),
    "word_shingles" -> (exprs => {
      arity("word_shingles", exprs, 1, " (the shingle width is fixed at registration: 3 words)")
      WordShingles(exprs.head, 3) }),
    "nfc_normalize" -> (exprs => { arity("nfc_normalize", exprs, 1); NormalizeNfc(exprs.head) }),
    "md5_prefix_long" -> (exprs => {
      arity("md5_prefix_long", exprs, 2); Md5PrefixLong(exprs.head, prefixLength(exprs(1))) }))

  private def arity(name: String, exprs: Seq[Expression], n: Int, fixed: String = ""): Unit =
    if (exprs.length != n)
      fail(s"$name expects exactly $n argument(s), got ${exprs.length}$fixed")

  // the kernel's own `require` would surface as an opaque
  // IllegalArgumentException from inside analysis; name the argument
  private def prefixLength(e: Expression): Int = e match {
    case Literal(n: Int, IntegerType) if n >= 1 && n <= 15 => n
    case other =>
      fail(s"md5_prefix_long's prefix length n must be an integer literal in 1..15, got ${other.sql}")
  }

  // an error class whose template is the bare `<message>`: any other
  // template turns the message into an INTERNAL_ERROR
  private def fail(message: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100", messageParameters = Map("message" -> message))

  /** Registers the functions the session's registry lacks; names that
    * [[GraftExtensions]] already injected stay as they are.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!registry.functionExists(new FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[RollingHash].getName, name),
        builder))
    }
    e.injectOptimizerRule(_ => NativeDotRule)
    e.injectOptimizerRule(_ => NativeSumRule)
  }
}
