package graft.pipeline

import java.sql.Timestamp
import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's procedural per-file loop (python/main.py:126-199):
  * one checkpoint's decoded triple to its payment and creation rows,
  * joined in memory by [[checkpointRows]]. Every ingest runner and the
  * explicit-files extract run it inside one task per checkpoint
  * ([[graft.Engine.extract]]), so a checkpoint has no exchange and no
  * nested plan to build. The specs keep the same extract spelled as a
  * Catalyst plan (`ExtractPlan`) as its parity reference.
  *
  * Fidelity decisions (SURVEY.md §7.4):
  *  - zip truncation: `zip(ops, results.get('results', []))`
  *    (python/main.py:155) emits no rows when the result list is missing
  *    and truncates to the shorter side;
  *  - `result_operation` falsy guard (:157,169,188): a present-but-null
  *    result element yields NULL op_status;
  *  - op-level source override (:172-176): the op's `sourceAccount`,
  *    else the tx's;
  *  - missing ledger/result rows survive as NULLs (dict `.get` semantics)
  *    instead of the reference's KeyError on a missing result (:152).
  */
object Extract {

  /** One checkpoint's rows in [[Schemas.operations]], the discriminated
    * union of both op kinds (the S3 adapter's single per-ledger table,
    * python/adapters/s3_storage_adapter.py:57-62), joined in memory: the
    * reference's close-time and tx-result dicts (python/main.py:108-123)
    * as multimaps, so a duplicate ledger or tx hash multiplies rows
    * exactly as a left join does. Every fidelity decision above holds:
    *  - a tx without a result row, or whose result has no op list,
    *    emits nothing (a zip over no list);
    *  - ops and result legs zip to the shorter side;
    *  - a null result leg yields NULL op_status;
    *  - a missing ledger row leaves `time` NULL.
    */
  def checkpointRows(
      txs: Seq[TxHistoryEntry],
      ledgers: Seq[LedgerEntry],
      results: Seq[TxResultEntry],
      cfg: ExtractConfig): Iterator[Row] = {
    val closeTimes = ledgers.groupMap(_.header.ledgerSeq)(l =>
      new Timestamp(l.header.scpValue.closeTime * 1000L))
    val txResults = results.flatMap(_.txResultSet.results).groupMap(_.transactionHash)(_.result)
    val appMemo: Option[String] => Boolean = cfg.appId match {
      case Some(app) =>
        val re = Pattern.compile(cfg.appIdRegex) // RLIKE: find(), not matches()
        _.exists(m => re.matcher(m).find() && m.split("-", -1).lift(1).contains(app))
      case None => _ => true
    }
    for {
      entry <- txs.iterator
      t <- entry.txSet.txs.iterator if appMemo(t.tx.memoText)
      time <- closeTimes.getOrElse(entry.ledgerSeq, Seq(null)).iterator
      r <- txResults.getOrElse(t.hash, Nil).iterator
      legs <- r.result.results.iterator
      ((op, res), pos) <- t.tx.operations.iterator.zip(legs).zipWithIndex
      body = op.body
      isPayment = body.opType == 1 && body.paymentOp.exists(_.asset.alphaNum4.exists(a =>
        a.assetCode == cfg.assetCode && a.issuer.ed25519 == cfg.assetIssuer))
      if isPayment || body.opType == 0
    } yield {
      val src = op.sourceAccount.headOption.fold(t.tx.sourceAccount.ed25519)(_.ed25519)
      val tr = Option(res).map(_.tr)
      if (isPayment) {
        val p = body.paymentOp.get
        Row("payment", src, p.destination.ed25519, p.amount, null, t.tx.memoText.orNull,
          t.tx.fee, r.feeCharged, pos, r.result.code,
          tr.flatMap(_.paymentResult).orNull, t.hash, time)
      } else {
        val c = body.createAccountOp
        Row("creation", src, c.map(_.destination.ed25519).orNull, null,
          c.map[Any](_.startingBalance).orNull, t.tx.memoText.orNull,
          t.tx.fee, r.feeCharged, pos, r.result.code,
          tr.flatMap(_.createAccountResult).orNull, t.hash, time)
      }
    }
  }

  /** Kin3 fidelity variant (SURVEY.md §7.4): the reference stores raw
    * int64 quark amounts in a FLOAT column with a "TODO: change for Kin3"
    * (postgres_storage_adapter.py:100). This carries amounts as exact
    * DECIMAL(20,5) whole-unit values (quarks / 1e5) instead; emit
    * `.cast("double")` at a sink that needs reference parity.
    */
  def withDecimalAmounts(ops: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 5)
    Seq("amount", "starting_balance").filter(ops.columns.contains).foldLeft(ops) {
      (df, c) => df.withColumn(c, (col(c).cast(dec) / lit(100000).cast(dec)).cast(dec))
    }
  }

  /** The S3 adapter's column-name variant of the same logical schema
    * (python/adapters/s3_storage_adapter.py:110-144; SURVEY.md §1.2) —
    * one canonical StructType, mapped at the sink.
    */
  def toS3Naming(ops: DataFrame): DataFrame =
    ops.withColumnsRenamed(Map(
      "memo_text" -> "memo",
      "fee" -> "tx_fee",
      "fee_charged" -> "tx_charged_fee",
      "operation_index" -> "op_index",
      "hash" -> "tx_hash",
      "time" -> "timestamp"))
}

/** Serving queries (sample/main.py:19-48) as DataFrame functions —
  * point/filter lookups with pushed-down predicates plus the deterministic
  * ordering the reference omits.
  */
object Serve {
  /** Payments in served order `(time, hash, operation_index)`, with a
    * `date` column: `time` as the sample's `yyyy-MM-dd` strftime
    * (sample/main.py:31,45). The one spelling of both, shared by the
    * per-key queries below and by [[graft.serve.HttpServe]]'s index.
    */
  def ordered(payments: DataFrame): DataFrame =
    payments.withColumn("date", date_format(col("time"), "yyyy-MM-dd"))
      .orderBy(col("time"), col("hash"), col("operation_index"))

  /** GET /payments?source=&limit= (sample/main.py:25). */
  def paymentsBySource(payments: DataFrame, source: String, limit: Int = 20): DataFrame =
    ordered(payments.filter(col("source") === source)).limit(limit)

  /** GET /tx?id= (sample/main.py:42). */
  def txByHash(payments: DataFrame, hash: String): DataFrame =
    ordered(payments.filter(col("hash") === hash)).orderBy(col("operation_index"))
}
