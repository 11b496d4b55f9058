package graft.pipeline

import java.sql.Timestamp
import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's procedural per-file loop (python/main.py:126-199)
  * re-expressed as one declarative Catalyst plan:
  *
  * {{{
  *   txs  ──explode txSet.txs──▶ ⋈ broadcast(ledgers on ledgerSeq, left)
  *        ──▶ ⋈ broadcast(exploded results on hash, left)
  *        ──▶ [app-id memo filter]
  *        ──▶ posexplode(arrays_zip(ops, op_results)) + zip-truncation filter
  *        ──▶ per-type when() projections, one row per payment/creation
  * }}}
  *
  * Scale notes: this plan is the batch and SQL surface's spelling, for
  * inputs of any size: the dimension joins broadcast and the plan is
  * otherwise one narrow pipeline, with the nested schema pruned to the
  * ~15 consumed paths. The ingest runners commit one checkpoint at a
  * time, whose three files are small, so they read it through
  * [[checkpointRows]] instead: the same rows from in-task lookups, with
  * no exchange and no nested plan to build per checkpoint.
  *
  * Fidelity decisions (SURVEY.md §7.4):
  *  - zip truncation: `zip(ops, results.get('results', []))`
  *    (python/main.py:155) emits no rows when the result list is missing
  *    and truncates to the shorter side — reproduced with
  *    `pos < least(size(ops), size(op_results))`;
  *  - `result_operation` falsy guard (:157,169,188): a present-but-null
  *    result element yields NULL op_status;
  *  - op-level source override (:172-176):
  *    `coalesce(element_at(op.sourceAccount, 1).ed25519, tx.sourceAccount)`;
  *  - missing ledger/result rows survive as NULLs (dict `.get` semantics)
  *    instead of the reference's KeyError on a missing result (:152).
  */
object Extract {

  /** Exploded (tx × op) rows with joined close-time and result columns —
    * the trunk of [[operations]].
    */
  private[pipeline] def opRows(
      txs: Dataset[TxHistoryEntry],
      ledgers: Dataset[LedgerEntry],
      results: Dataset[TxResultEntry],
      cfg: ExtractConfig): DataFrame = {
    val ledgerDim = ledgers.select(
      col("header.ledgerSeq").as("lseq"),
      col("header.scpValue.closeTime").as("closeTime"))
    val resultDim = results
      .select(explode(col("txResultSet.results")).as("r"))
      .select(
        col("r.transactionHash").as("rhash"),
        col("r.result.feeCharged").as("fee_charged"),
        col("r.result.result.code").as("tx_status"),
        col("r.result.result.results").as("op_results"))

    val base = txs
      .select(col("ledgerSeq"), explode(col("txSet.txs")).as("t"))
      .join(broadcast(ledgerDim), col("ledgerSeq") === col("lseq"), "left")
      .join(broadcast(resultDim), col("t.hash") === col("rhash"), "left")

    val appFiltered = cfg.appId match {
      case Some(app) =>
        // get() instead of (1): Catalyst may evaluate both conjuncts, and
        // ANSI-mode array indexing throws on a dash-less memo.
        base.filter(col("t.tx.memoText").rlike(cfg.appIdRegex) &&
          get(split(col("t.tx.memoText"), "-"), lit(1)) === app)
      case None => base
    }

    appFiltered
      .select(col("ledgerSeq"), col("t"), col("closeTime"),
        col("fee_charged"), col("tx_status"), col("op_results"),
        posexplode(arrays_zip(
          col("t.tx.operations").as("op"), col("op_results").as("res"))))
      .filter(col("pos") < least(size(col("t.tx.operations")), size(col("op_results"))))
      .select(col("ledgerSeq"), col("closeTime"), col("fee_charged"),
        col("tx_status"),
        col("t.hash").as("hash"),
        col("t.tx.memoText").as("memo_text"),
        col("t.tx.fee").as("fee"),
        col("pos").as("operation_index"),
        // get() (0-based) is OOB-null-safe even under ANSI mode, matching
        // the reference's KeyError/IndexError fallback (:173-176).
        coalesce(get(col("col.op.sourceAccount"), lit(0)).getField("ed25519"),
          col("t.tx.sourceAccount.ed25519")).as("src"),
        col("col.op").as("op"),
        col("col.res").as("res"))
  }

  /** KIN payments (python/main.py:160-181): the payment rows of
    * [[operations]], projected to [[Schemas.payments]].
    */
  def payments(
      txs: Dataset[TxHistoryEntry],
      ledgers: Dataset[LedgerEntry],
      results: Dataset[TxResultEntry],
      cfg: ExtractConfig): DataFrame =
    ofType(operations(txs, ledgers, results, cfg), "payment", Schemas.payments)

  /** Account creations (python/main.py:184-199): the creation rows of
    * [[operations]], projected to [[Schemas.creations]].
    */
  def creations(
      txs: Dataset[TxHistoryEntry],
      ledgers: Dataset[LedgerEntry],
      results: Dataset[TxResultEntry],
      cfg: ExtractConfig): DataFrame =
    ofType(operations(txs, ledgers, results, cfg), "creation", Schemas.creations)

  private def ofType(ops: DataFrame, kind: String, schema: StructType): DataFrame =
    ops.filter(col("type") === kind).select(schema.fieldNames.map(col).toSeq: _*)

  /** Discriminated union of both op kinds — the S3 adapter's single
    * per-ledger table (python/adapters/s3_storage_adapter.py:57-62), with
    * the column-order drift quirk fixed by a deterministic select
    * (SURVEY.md §7.4).
    */
  def operations(
      txs: Dataset[TxHistoryEntry],
      ledgers: Dataset[LedgerEntry],
      results: Dataset[TxResultEntry],
      cfg: ExtractConfig): DataFrame = {
    // ONE opRows trunk, branched per row with when() — a
    // payments/creations union would build the whole decode + joins
    // + explodes subtree TWICE (Catalyst does not dedup a union's
    // independent legs). The per-type predicates and projections are
    // spelled here only; [[payments]] and [[creations]] select from it.
    val isPayment = col("op.body.opType") === 1 &&
      col("op.body.paymentOp.asset.alphaNum4").isNotNull &&
      col("op.body.paymentOp.asset.alphaNum4.assetCode") === cfg.assetCode &&
      col("op.body.paymentOp.asset.alphaNum4.issuer.ed25519") === cfg.assetIssuer
    val isCreation = col("op.body.opType") === 0
    opRows(txs, ledgers, results, cfg)
      .filter(isPayment || isCreation)
      .select(
        when(isPayment, lit("payment")).otherwise(lit("creation")).as("type"),
        col("src").as("source"),
        when(isPayment, col("op.body.paymentOp.destination.ed25519"))
          .otherwise(col("op.body.createAccountOp.destination.ed25519")).as("destination"),
        when(isPayment, col("op.body.paymentOp.amount")).as("amount"),
        when(!isPayment, col("op.body.createAccountOp.startingBalance"))
          .as("starting_balance"),
        col("memo_text"),
        col("fee"),
        col("fee_charged"),
        col("operation_index"),
        col("tx_status"),
        when(isPayment, col("res.tr.paymentResult"))
          .otherwise(col("res.tr.createAccountResult")).as("op_status"),
        col("hash"),
        timestamp_seconds(col("closeTime")).as("time"))
  }

  /** One checkpoint's [[operations]] rows, joined in memory: the
    * reference's close-time and tx-result dicts (python/main.py:108-123)
    * as multimaps, so a duplicate ledger or tx hash multiplies rows
    * exactly as the left joins of [[operations]] do. Rows follow
    * [[Schemas.operations]]; every fidelity decision above holds:
    *  - a tx without a result row, or whose result has no op list,
    *    emits nothing (the NULL zip of the plan);
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
