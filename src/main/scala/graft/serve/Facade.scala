package graft.serve

import java.net.{InetSocketAddress, URLDecoder}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.Jsons

/** The request/response plumbing shared by the HTTP facades
  * ([[HttpServe]], [[IntakeServe]]): query-param parsing, the
  * try→200/400/500 dispatch with JSON content type and the wildcard
  * CORS grant, JSON string escaping, the plain JSON-array body
  * rendering, and the server itself. One place, so a fix to any of it
  * (error mapping, headers, escaping) cannot silently diverge between
  * facades.
  */
private[graft] object Facade {

  /** A JDK HttpServer on loopback `port` (0: an ephemeral one), with
    * TCP_NODELAY on its sockets unless the operator set the property
    * already. The JDK server sends headers and body as two writes, so
    * Nagle's algorithm plus the client's delayed ACK holds every
    * response about 40 ms. `sun.net.httpserver.nodelay` is the JDK's
    * only switch for it and is read once per JVM, when the first
    * server is created, so it is set before the create.
    */
  def server(port: Int): HttpServer = {
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
      }.toMap

  def handle(ex: HttpExchange)(body: Map[String, String] => String): Unit = {
    val (code, bytes) =
      try (200, body(params(ex)).getBytes("UTF-8"))
      catch {
        // client errors → 400: a missing param (Map.apply), a
        // non-numeric/badly-shaped param (toLong/toFloat/toInt), or
        // invalid %-encoding (URLDecoder) are all the caller's input,
        // not a server fault
        case e: NoSuchElementException =>
          (400, s"""{"error":"missing parameter: ${Jsons.escape(
            Option(e.getMessage).getOrElse(""))}"}""".getBytes("UTF-8"))
        case e @ (_: NumberFormatException | _: IllegalArgumentException) =>
          (400, s"""{"error":"bad request: ${Jsons.escape(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}"}"""
            .getBytes("UTF-8"))
        // a DP budget refusal (DpLedger.charge, the charge-then-release
        // wrapper) is neither a client fault nor a server fault — it is
        // the privacy policy answering "not anymore": 429, message
        // included (the ledger's refusal line carries only public
        // schedule state — spent/proposed/budget — never data). Matched
        // by TYPE so an unrelated IllegalStateException (a writer-path
        // fault) still reads as the 500 it is, and a refusal-message
        // rewording cannot silently break the 429 contract.
        case e: graft.operators.DpLedger.BudgetRefused =>
          (429, s"""{"error":"${Jsons.escape(
            Option(e.getMessage).getOrElse("refused"))}"}""".getBytes("UTF-8"))
        case e: Exception =>
          (500, s"""{"error":"${Jsons.escape(e.getClass.getSimpleName)}"}"""
            .getBytes("UTF-8"))
      }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // flask_cors.CORS(app) parity (sample/main.py:11): browser clients
    // of the sample API rely on the wildcard CORS grant
    ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Each row of `df` as one JSON object. Null-valued fields are KEPT
    * (`"quality_score":null`) — Spark's to_json drops them by default,
    * which made a field's presence depend on its value and broke
    * clients indexing into the object (and diverged from the
    * hand-rendered endpoints, which emit explicit nulls).
    */
  def jsonRow(df: DataFrame): Column =
    to_json(struct(df.columns.map(col): _*),
      java.util.Collections.singletonMap("ignoreNullFields", "false"))

  /** Rows as one well-formed JSON array of [[jsonRow]] objects. */
  def arrayJson(df: DataFrame): String =
    df.select(jsonRow(df)).as[String](Encoders.STRING).collect().mkString("[", ",", "]")
}
