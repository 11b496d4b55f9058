package graft.serve

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.pipeline.Serve

/** Thin HTTP facade over [[graft.pipeline.Serve]] mirroring the
  * reference's sample API (sample/main.py:19-53):
  *
  *  - `GET /payments?source=<addr>&limit=<n>` — payments sent from one
  *    account (limit defaults to 20, sample/main.py:24-25);
  *  - `GET /tx?id=<hash>` — one transaction by id (sample/main.py:40-42).
  *
  * Rows serialize with `time` as a `yyyy-MM-dd` string exactly like the
  * sample's strftime (sample/main.py:31,45). Every response carries
  * `Access-Control-Allow-Origin: *` — the sample wraps the app in
  * flask_cors.CORS (sample/main.py:6,11), so browser clients depend on
  * it. By default the body is a well-formed JSON array (a deliberate
  * improvement: the sample's output is unparseable as a whole);
  * `referenceShape = true` reproduces the sample's exact concatenated
  * `json.dumps(result, indent=2)` objects (sample/main.py:28-34,46) for
  * byte-level drop-in fidelity. Built on the JDK's HttpServer so the
  * library adds no dependency — this is the demo-serving tier (the
  * reference's equivalent is a Flask dev server); production serving
  * belongs behind a real gateway reading the same collected table.
  *
  * The served rows are fixed when the server is built. The constructor
  * runs one Spark job over [[Serve.ordered]], renders every row's body
  * once, and keeps two maps: source → bodies in served order, and hash
  * → bodies by `operation_index` (nulls first, ties in served order).
  * A request runs no Spark code. Rows written to the table later are
  * served by the next server built over it; a file-backed frame already
  * fixed its file listing when it was created, so this extends that
  * snapshot to the rows, JDBC-backed frames included. The build brings
  * the whole table to the driver, so `spark.driver.maxResultSize`
  * bounds it: past that the constructor fails. The sockets run with
  * TCP_NODELAY ([[Facade.server]]).
  */
final class HttpServe(payments: DataFrame, port: Int = 0,
    referenceShape: Boolean = false) {

  import HttpServe.{pretty, Keyed}

  private val (bySource, byHash) = {
    // one partition: the global sort then needs no range-partition
    // exchange, whose sampling and shuffle would be jobs of their own
    val shaped = Serve.ordered(payments.coalesce(1))
      .withColumn("time", col("date")).drop("date")
    val cols = shaped.columns
    val body = if (referenceShape) struct(cols.map(col): _*) else Facade.jsonRow(shaped)
    val rows = shaped
      .select(col("source"), col("hash"), col("operation_index").cast("long"), body)
      .collect().map { r =>
        Keyed(r.getString(0), r.getString(1), Option(r.getAs[java.lang.Long](2)).map(_.longValue),
          if (referenceShape) pretty(cols, r.getStruct(3)) else r.getString(3))
      }
    (rows.groupMap(_.source)(_.body),
      rows.groupBy(_.hash).view.mapValues(_.sortBy(_.opIndex).map(_.body)).toMap)
  }

  private val server = Facade.server(port)

  /** Actual bound port (pass port=0 for an ephemeral one). */
  def boundPort: Int = server.getAddress.getPort

  /** A response body: a JSON array of the rows, or in the reference
    * shape the rows concatenated with NO separator (sample/main.py:28-34).
    */
  private def join(bodies: Array[String]): String =
    if (referenceShape) bodies.mkString else bodies.mkString("[", ",", "]")

  server.createContext("/payments", (ex: HttpExchange) => Facade.handle(ex) { p =>
    val limit = p.getOrElse("limit", "20").toInt
    // validated HERE so a negative limit is a 400 like any other
    // badly-shaped param, not an empty body
    require(limit >= 0, s"limit must be >= 0, got $limit")
    join(bySource.getOrElse(p("source"), Array.empty[String]).take(limit))
  })
  server.createContext("/tx", (ex: HttpExchange) => Facade.handle(ex) { p =>
    join(byHash.getOrElse(p("id"), Array.empty[String]))
  })

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
}

object HttpServe {
  /** One served row: its two lookup keys, its order within a tx, and
    * its rendered body.
    */
  private final case class Keyed(source: String, hash: String, opIndex: Option[Long], body: String)

  /** CPython `json.dumps` escaping for the byte-fidelity path —
    * distinct from [[graft.Jsons.escape]] because the sample's default
    * `ensure_ascii=True` ALSO escapes every non-ASCII character as
    * `\uXXXX` (astral chars as surrogate pairs — Scala strings are
    * UTF-16, so flatMap already visits each surrogate half), and spells
    * `\b`/`\f` with their shorthands. memo_text is user-controlled and
    * frequently non-ASCII, so the generic escaper would diverge
    * bytewise from the reference exactly where fidelity matters.
    */
  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\b' => "\\b"
    case '\f' => "\\f"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** One row as the sample renders it: `json.dumps(result, indent=2)`
    * — two-space indent, keys in column order (RealDictCursor preserves
    * SELECT * order). Doubles go through [[pyDouble]] so large/small
    * magnitudes keep Python's spelling.
    */
  private[graft] def pretty(cols: Array[String], r: Row): String =
    cols.zipWithIndex.map { case (c, i) =>
      val v = r.get(i) match {
        case null => "null"
        case s: String => "\"" + jsonEscape(s) + "\""
        case d: java.lang.Double => pyDouble(d)
        case f: java.lang.Float => pyDouble(f.toDouble)
        case x => x.toString
      }
      s"""  "$c": $v"""
    }.mkString("{\n", ",\n", "\n}")

  /** Render a double exactly like CPython's `float.__repr__` (what
    * `json.dumps` emits): shortest round-trip digits, fixed notation for
    * decimal exponents in [-4, 16), otherwise `1e+16`-style scientific
    * with a sign and ≥2 exponent digits. Java's `Double.toString`
    * produces the same shortest digits but different formatting
    * ("2.1E7" where Python writes "21000000.0"), which broke the
    * byte-fidelity claim for |amount| ≥ 1e7. NaN/Infinity render as
    * Python's `NaN`/`Infinity`/`-Infinity` — like the reference's
    * json.dumps output, NOT strict JSON (fidelity wins here). Known
    * residual divergence: extreme subnormals where the two shortest-digit
    * algorithms legitimately differ (Java 4.9E-324 vs Python 5e-324) —
    * twelve orders of magnitude below any representable payment amount.
    */
  private[graft] def pyDouble(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == Double.PositiveInfinity) return "Infinity"
    if (d == Double.NegativeInfinity) return "-Infinity"
    val raw = java.lang.Double.toString(d)
    val (sign, s) = if (raw.startsWith("-")) ("-", raw.substring(1)) else ("", raw)
    val (mant, e) = s.indexOf('E') match {
      case -1 => (s, 0)
      case i => (s.substring(0, i), s.substring(i + 1).toInt)
    }
    val dot = mant.indexOf('.') // Java guarantees digits on both sides
    val digitsRaw = mant.replace(".", "")
    val firstSig = digitsRaw.indexWhere(_ != '0')
    if (firstSig == -1) return sign + "0.0"
    // exponent of the leading significant digit: value = d1.rest × 10^exp10
    val exp10 = e + dot - 1 - firstSig
    val digits = {
      val trimmed = digitsRaw.substring(firstSig).reverse.dropWhile(_ == '0').reverse
      if (trimmed.isEmpty) "0" else trimmed
    }
    if (exp10 >= -4 && exp10 < 16) {
      val fixed =
        if (exp10 >= digits.length - 1) digits + "0" * (exp10 - digits.length + 1) + ".0"
        else if (exp10 >= 0) digits.substring(0, exp10 + 1) + "." + digits.substring(exp10 + 1)
        else "0." + "0" * (-exp10 - 1) + digits
      sign + fixed
    } else {
      val m = if (digits.length == 1) digits else digits.substring(0, 1) + "." + digits.substring(1)
      sign + m + "e" + (if (exp10 < 0) "-" else "+") + f"${math.abs(exp10)}%02d"
    }
  }
}
