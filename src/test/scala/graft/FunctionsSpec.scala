package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, NativeDotRule, NativeSumRule, RollingHash, TopKDoubles}
import org.apache.spark.unsafe.types.UTF8String

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("rolling_hash matches the reference recurrence and handles nulls") {
    import spark.implicits._
    def expected(s: String): Long = {
      var h = 7L
      s.foreach(c => h = (h * 31 + c) % 1000000007L)
      h
    }
    val rows = Seq(Some("abc"), Some(""), None, Some("the quick brown fox"))
      .toDF("s")
      .select(call_function("rolling_hash", col("s")).as("h"))
      .collect()
    assert(rows(0).getLong(0) === expected("abc"))
    assert(rows(1).getLong(0) === expected(""))
    assert(rows(2).isNullAt(0))
    assert(rows(3).getLong(0) === expected("the quick brown fox"))
    // direct hot-path helper (what generated code calls)
    assert(RollingHash.hash(UTF8String.fromString("abc")) === expected("abc"))
  }

  test("GraftExtensions wires functions and the optimizer rule") {
    // the shared test session is Engine.session: every rewrite rule runs,
    // and naming a rule in excludedRules keeps its kernel out of the plan
    val e = Tables.embeddings(spark, sf)
    val cases = Seq[(Rule[_], String, () => DataFrame)](
      (NativeSumRule, "graft_decimal_sum", () => e.agg(Cols.dsum(col("vec_id").cast("double")))),
      (NativeDotRule, "decimal_dot", () => e.select(Cols.dotDec(col("embedding"), col("embedding")))))
    cases.foreach { case (rule, kernel, df) =>
      def plan = df().queryExecution.optimizedPlan.toString
      assert(plan.contains(kernel), plan)
      val excluded = TestSpark.excluding(rule)(plan)
      assert(!excluded.contains(kernel), excluded)
    }
    val out = spark.sql("SELECT rolling_hash('abc') AS h").collect()
    assert(out(0).getLong(0) === {
      var h = 7L; "abc".foreach(c => h = (h * 31 + c) % 1000000007L); h
    })
  }

  test("register is idempotent: functions already in the registry stay as they are") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def infos = GraftFunctions.all.map { case (name, _) =>
      registry.lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name)).get
    }
    GraftFunctions.register(s)
    val first = infos
    GraftFunctions.register(s) // a second call must not replace anything
    assert(infos.zip(first).forall { case (a, b) => a eq b })
  }

  test("TopKDoubles keeps a bounded buffer and returns sorted top-k") {
    import spark.implicits._
    val topk = udaf(new TopKDoubles(3))
    val out = Seq(("a", 1.0), ("a", 9.0), ("a", 5.0), ("a", 7.0), ("b", 2.0))
      .toDF("k", "v")
      .repartition(4) // force partial + merge paths
      .groupBy("k").agg(topk(col("v")).as("top"))
      .orderBy("k")
      .collect()
    assert(out(0).getAs[Seq[Double]]("top") === Seq(9.0, 7.0, 5.0))
    assert(out(1).getAs[Seq[Double]]("top") === Seq(2.0))
  }

  test("NativeDotRule rewrites the lambda spelling into DecimalDot") {
    val df = Tables.embeddings(spark, sf)
      .select(Cols.dotDec(col("embedding"), col("embedding")).as("dot"))
    assert(df.queryExecution.optimizedPlan.toString.contains("decimal_dot"),
      df.queryExecution.optimizedPlan.toString)
    // and the rewritten plan computes the same values as the raw kernel
    val direct = Tables.embeddings(spark, sf)
      .select(call_function("decimal_dot", col("embedding"), col("embedding")).as("dot"))
    assert(df.collect().map(_.getDouble(0)).toSeq === direct.collect().map(_.getDouble(0)).toSeq)
  }

  test("DecimalDot is bit-identical with the Catalyst lambda spelling") {
    val e = Tables.embeddings(spark, sf)
    val pairs = e.crossJoin(
      e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
    def dots(dot: (Column, Column) => Column) =
      pairs.select(col("vec_id"), dot(col("embedding"), col("qv"))).collect()
        .map(r => r.get(0) -> java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap
    // the lambda leg runs with NativeDotRule excluded, or it would be
    // rewritten into the kernel it is checked against
    val slow = TestSpark.excluding(NativeDotRule)(dots(Cols.dotDec))
    assert(slow.nonEmpty)
    assert(dots(Cols.fastDot) === slow)
  }

  test("WordShingles edge cases match the declarative spelling") {
    import graft.functions.WordShingles
    def sh(text: String, n: Int = 3): Seq[String] =
      WordShingles.shingles(UTF8String.fromString(text), n).array.toSeq
        .map(_.asInstanceOf[UTF8String].toString)
    assert(sh("a b c d") === Seq("a b c", "b c d"))
    assert(sh("a b") === Nil)                    // shorter than n
    assert(sh("") === Nil)                       // one empty token
    assert(sh("a  b c") === Seq("a  b", " b c")) // double space → empty token kept
    assert(sh("x x x x") === Seq("x x x"))       // duplicates collapse
    assert(sh("a b c", 1) === Seq("a", "b", "c"))
  }

  test("MinHashSigs equals the min-of-md5 aggregate spelling") {
    import graft.functions.MinHashSigs
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val shingles = Seq("a b c", "b c d", "c d e")
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      shingles.map(UTF8String.fromString).toArray[Any])
    val got = MinHashSigs.sigs(arr, 8).array.toSeq.map(_.asInstanceOf[UTF8String].toString)
    val expected = (0 until 8).map(i => shingles.map(s => md5hex(s"$i|$s")).min)
    assert(got === expected)
  }

  test("nfc_normalize: composition, fast path, nulls, SQL codegen, invalid UTF-8") {
    import spark.implicits._
    import graft.functions.NormalizeNfc
    GraftFunctions.register(spark)
    val decomposed = "e\u0301"   // 'e' + COMBINING ACUTE ACCENT
    val composed = "\u00e9"
    // composed/decomposed equivalence through the full expression path
    val rows = Seq(Some(decomposed), Some("plain ascii"), None)
      .toDF("s").select(call_function("nfc_normalize", col("s")).as("n"))
      .collect()
    assert(rows(0).getString(0) === composed)
    assert(rows(1).getString(0) === "plain ascii") // fast path: unchanged
    assert(rows(2).isNullAt(0))
    // SQL spelling exercises the codegen static-call path
    val sql = spark.sql(s"SELECT nfc_normalize('$decomposed') AS n").collect()
    assert(sql(0).getString(0) === composed)
    // already-normalized ASCII returns the ORIGINAL UTF8String (no copy)
    val ascii = UTF8String.fromString("abc")
    assert(NormalizeNfc.nfc(ascii) eq ascii)
    // invalid UTF-8 (lone continuation byte): both paths agree on the
    // U+FFFD-replaced result instead of leaking raw bytes from the
    // fast path — the path-consistency contract in the scaladoc
    val invalid = UTF8String.fromBytes(Array[Byte]('a', 0x80.toByte, 'b'))
    val out = NormalizeNfc.nfc(invalid)
    assert(out.toString === "a\ufffdb")
    assert(out !== invalid)
  }

  test("approx sketches stay within documented error bounds at sf0.001") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a7_approx_sketch")(spark, d).collect()
    val exact = Tables.events(spark, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"),
        expr("percentile(value, 0.5)").as("med"),
        (max(col("value")) - min(col("value"))).as("range"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1).toDouble, r.getDouble(2), r.getDouble(3)))
      .toMap
    got.foreach { r =>
      val (exactN, exactMed, range) = exact(r.getString(0))
      // 64-register HLL: standard error 1.04/√64 ≈ 13%; allow 3σ
      val users = r.getAs[Double]("approx_users")
      assert(math.abs(users - exactN) / exactN < 0.39, s"HLL off for ${r.getString(0)}: $users vs $exactN")
      // histogram median: off by at most one 64th-of-range bucket width
      val med = r.getAs[Double]("approx_median")
      assert(math.abs(med - exactMed) <= range / 64.0 + 1e-9,
        s"median off for ${r.getString(0)}: $med vs $exactMed")
    }
  }

  test("VARIANT canonical render sorts object keys lexicographically at every level") {
    // The t21 oracle contract: Spark's to_json(parse_json(...)) orders
    // object keys lexicographically — pinned here on a hand-built
    // multi-key payload with a nested object (out of insertion order at
    // both levels) so a Spark behavior change or a wrong oracle
    // spelling fails THIS spec, not a silent hash-mismatch at the gate.
    val canon = spark.sql(
      """SELECT to_json(parse_json(
        |  '{"b": 2, "a": {"z": 1, "y": [1, 2]}, "k": 5}')) AS c""".stripMargin)
      .head.getString(0)
    assert(canon === """{"a":{"y":[1,2],"z":1},"b":2,"k":5}""")
  }
}
