package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** First `n` hex digits of md5 as an unsigned long — the native kernel
  * behind the library's deterministic hash-bucket idiom
  *
  * {{{ CAST(conv(h, 16, 10) AS BIGINT) }}}   with h = substring(md5(x), 1, n)
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
  *
  * Every coin site calls it through [[graft.Cols.md5Prefix]]
  * (`md5_prefix_long(x, n)`, registered by [[GraftFunctions]]); the
  * portable spelling above survives only in the specs, as the reference
  * the kernel is compared against. A string key is cast to binary
  * exactly as Spark's `Md5` casts it.
  */
case class Md5PrefixLong(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1 && n <= 15, s"md5 prefix length $n outside [1, 15]")

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
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
