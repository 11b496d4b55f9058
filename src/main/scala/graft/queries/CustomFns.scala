package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TopKDoubles

/** Queries exercising the custom extension surface (SURVEY.md §2.13/§7.5):
  * a native codegen'd Catalyst expression, a typed Aggregator, and the
  * built-in sketch aggregates.
  */
object CustomFns {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // Custom Catalyst expression (whole-stage codegen) — polynomial
    // rolling hash as a per-doc fingerprint.
    "x5_rolling_hash" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), call_function("rolling_hash", col("text")).as("rhash"))
        .orderBy("doc_id")
    },
    // Typed Aggregator with bounded per-group state (top-3 values).
    // Output serialized via Cols.djoin: the driver's comparator cannot
    // hash a raw array<double> cell (round-2 gate error). The djoin
    // DECIMAL(28,12) rendering is guaranteed exact here because
    // events.value carries 2 decimal digits (verified over the full
    // table), far from the documented ~1-ulp-of-a-rounding-boundary
    // window where Spark's shortest-decimal HALF_UP and DuckDB's
    // exact-binary rounding could diverge; a wider scale would not help
    // (beyond ~15 fractional digits the two rounding sources disagree
    // systematically, e.g. on 0.1).
    "n3_topk_agg" -> { (s, d) =>
      val topk = udaf(new TopKDoubles(3))
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(graft.Cols.djoin(topk(col("value"))).as("top_values"))
        .orderBy("event_type")
    },
    // Unicode NFC canonicalization at the scan (the text-normalization
    // rung before any hash-based dedup) via the codegen'd NormalizeNfc
    // expression. The corpus is ASCII, so each text is decorated with a
    // decomposed 'e'+COMBINING ACUTE suffix to make the fixture
    // genuinely recompose; DuckDB's native nfc_normalize is the oracle
    // (both delegate to Unicode canonical composition).
    "x28_nfc_normalize" -> { (s, d) =>
      def deco = concat(substring(col("text"), 1, 24), lit("e\u0301"))
      def norm = call_function("nfc_normalize", deco)
      Tables.documents(s, d).select(
        col("doc_id"),
        norm.as("norm"),
        length(norm).cast("long").as("n_chars"),
        (norm === concat(substring(col("text"), 1, 24), lit("\u00e9"))).as("composed"))
        .orderBy("doc_id")
    },
    // Sketch aggregates — deterministic HLL distinct + histogram median
    // (the a13/a14 md5-derived pattern), so even the APPROXIMATE query
    // is hash-oracled. The built-in approx_count_distinct /
    // percentile_approx compute the same shapes but hash engine-
    // internally, which made them the inventory's only rows-only entry;
    // FunctionsSpec still asserts the error bounds vs exact answers.
    "a7_approx_sketch" -> { (s, d) =>
      graft.operators.Curation
        .approxSketch(Tables.events(s, d), "event_type", "user_id", "value")
        .orderBy("event_type")
    }
  )

  def oracles: Map[String, String] = Map(
    "x5_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(7 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "n3_topk_agg" ->
      s"""SELECT event_type,
         |  ${graft.Cols.djoinSql("(list_sort(list(value), 'DESC'))[1:3]")} AS top_values
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a7_approx_sketch" ->
      graft.operators.Curation.approxSketchSql("event_type", "user_id", "value"),
    // chr(769) = U+0301 COMBINING ACUTE, chr(233) = U+00E9 — spelled as
    // codepoints so the SQL text stays ASCII-safe end to end
    "x28_nfc_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize(substr(text, 1, 24) || 'e' || chr(769)) AS norm,
        |  length(nfc_normalize(substr(text, 1, 24) || 'e' || chr(769))) AS n_chars,
        |  nfc_normalize(substr(text, 1, 24) || 'e' || chr(769)) =
        |    (substr(text, 1, 24) || chr(233)) AS composed
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
