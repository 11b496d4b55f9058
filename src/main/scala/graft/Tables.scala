package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Loaders for the driver-provided parquet star schema (TESTDATA.md) plus
  * shared column helpers used to keep results bit-identical with the
  * DuckDB oracle.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** `events.parquet` has shipped `ts` two ways across testdata refreshes:
    * INT64 TIMESTAMP(NANOS) — which Spark's parquet reader rejects outright,
    * so it is read as nanosecond longs and truncated to microseconds
    * (integer division; the values exceed double precision), exactly what
    * DuckDB's µs-resolution TIMESTAMP does on read — and plain
    * TIMESTAMP(MICROS) without a timezone, which Spark reads as
    * TIMESTAMP_NTZ. Both are normalized to session-local TIMESTAMP (the
    * session timezone is pinned to UTC everywhere, so the NTZ cast is
    * value-preserving and matches DuckDB's naive TIMESTAMP read).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case other =>
        // fail loudly: a silent cast would turn the NEXT testdata schema
        // drift (e.g. string ts) into nulls deep inside query results
        throw new IllegalStateException(
          s"events.ts has unexpected parquet type $other — " +
            "extend Tables.events for the new testdata schema")
    }
  }
}

/** Column helpers shared by the query inventory.
  *
  * Floating-point SUMs are order-dependent, and Spark's shuffle-merge order
  * is nondeterministic run-to-run, so any `sum(double)` can differ from the
  * DuckDB oracle (and from itself) in the last ulps. All summed doubles are
  * therefore routed through an exact DECIMAL(28,6) cast: the per-row cast is
  * a deterministic function of the double, decimal addition is associative,
  * and the final cast back to double is exact — giving identical results
  * in both engines regardless of aggregation order.
  *
  * Limitations (deliberate, documented): the double→decimal cast is only
  * guaranteed to agree between Spark (HALF_UP on the shortest-decimal
  * representation) and DuckDB (round of the exact binary value) for values
  * that are not within ~1 ulp of a 6-fractional-digit rounding boundary,
  * and Spark's non-ANSI cast nulls out |x| ≥ 1e22. Safe for the money/
  * quantity/ratio columns used here; not a universal guarantee.
  */
object Cols {
  val Dec: DecimalType = DecimalType(28, 6)

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Exact average with SQL AVG null semantics: decimal sum of non-null
    * values divided by the count of non-null values (not COUNT(*)).
    */
  def davg(c: Column): Column =
    sum(c.cast(Dec)).cast("double") / count(c).cast("double")

  /** First `n` (1..15) hex digits of `md5(key)` as a non-negative long:
    * the library's deterministic coin (shards, sketch cells, splits,
    * seeded uniforms), computed by [[graft.functions.Md5PrefixLong]] and
    * value-identical with the portable spelling its scaladoc shows.
    */
  def md5Prefix(key: Column, n: Int): Column = call_function("md5_prefix_long", key, lit(n))

  /** Oracle-SQL spelling of [[dsum]]. */
  def dsumSql(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(28,6))) AS DOUBLE)"

  /** Oracle-SQL spelling of [[davg]]. */
  def davgSql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(28,6))) AS DOUBLE) / CAST(COUNT($e) AS DOUBLE)"

  private val DotDec = DecimalType(28, 12)

  /** Exact, order-independent dot product of two float-array columns:
    * per-element products are computed in double (IEEE-identical in both
    * engines), cast to DECIMAL(28,12), and summed associatively.
    */
  def dotDec(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0).cast(DotDec),
      (acc, z) => (acc + z.cast(DotDec)).cast(DotDec)
    ).cast("double")

  /** Oracle-SQL spelling of [[dotDec]] for DuckDB list columns. */
  def dotDecSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"z -> CAST(CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE) AS DECIMAL(28,12)))) AS DOUBLE)"

  /** Bit-identical native spelling of [[dotDec]]
    * ([[graft.functions.DecimalDot]]); the session must come from
    * [[Engine.session]] (or carry GraftExtensions).
    */
  def fastDot(a: Column, b: Column): Column = call_function("decimal_dot", a, b)

  /** Cosine similarity from [[dotDec]] building blocks (deterministic:
    * decimal dots, then double sqrt/division — IEEE-identical per element).
    */
  def cosine(a: Column, b: Column): Column =
    dotDec(a, b) / (sqrt(dotDec(a, a)) * sqrt(dotDec(b, b)))

  def cosineSql(a: String, b: String): String =
    s"${dotDecSql(a, b)} / (sqrt(${dotDecSql(a, a)}) * sqrt(${dotDecSql(b, b)}))"

  /** Engine-neutral serialization of a double-array column: each element is
    * cast to DECIMAL(28,12) (scale 12 like [[dotDec]], so the window where
    * Spark's shortest-decimal HALF_UP and DuckDB's exact-binary rounding
    * could disagree is ~1e-12 wide instead of ~1e-6) and joined with ','.
    * Queries emit this instead of raw `array<double>`, which the driver's
    * pandas-based comparator cannot sort or hash.
    */
  def djoin(c: Column): Column =
    array_join(transform(c, x => x.cast(DotDec).cast("string")), ",")

  /** Oracle-SQL spelling of [[djoin]]. */
  def djoinSql(e: String): String =
    s"array_to_string(list_transform($e, x -> CAST(CAST(x AS DECIMAL(28,12)) AS VARCHAR)), ',')"

  /** As [[djoin]] for integer/long arrays: plain decimal-free rendering
    * (INT and BIGINT stringify identically in both engines).
    */
  def ijoin(c: Column): Column = array_join(transform(c, _.cast("string")), ",")

  /** Oracle-SQL spelling of [[ijoin]]. */
  def ijoinSql(e: String): String =
    s"array_to_string(list_transform($e, x -> CAST(x AS VARCHAR)), ',')"

  /** [[djoin]] for an already-string array. */
  def sjoin(c: Column): Column = array_join(c, ",")

  /** Driver-side decimal-exact squared distance, bit-matching the
    * in-engine spelling `SUM(CAST((q−c)² AS DECIMAL(28,12)))`: per-dim
    * diff and square in double (IEEE-identical), each term rounded via
    * HALF_UP on the shortest-decimal rendering (`BigDecimal.valueOf` =
    * Spark's `Decimal.set(double)` semantics), exact decimal sum. Used
    * by the IVF/PQ query planners (n4/n6/n7) so driver-side cell/code
    * scoring is value-identical with what the columnar plan computes.
    */
  def decimalSqDist(q: Array[Double], c: Array[Double], off: Int = 0): java.math.BigDecimal =
    c.indices.foldLeft(java.math.BigDecimal.ZERO) { (acc, i) =>
      val diff = q(off + i) - c(i)
      acc.add(java.math.BigDecimal.valueOf(diff * diff)
        .setScale(12, java.math.RoundingMode.HALF_UP))
    }
}
