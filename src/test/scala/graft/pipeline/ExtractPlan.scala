package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.Archive
import graft.xdr.Stellar

/** The extract spelled as one declarative Catalyst plan: the parity
  * reference the specs hold [[Extract.checkpointRows]] and
  * [[graft.Engine.extract]] to.
  *
  * {{{
  *   txs  ──explode txSet.txs──▶ ⋈ broadcast(ledgers on ledgerSeq, left)
  *        ──▶ ⋈ broadcast(exploded results on hash, left)
  *        ──▶ [app-id memo filter]
  *        ──▶ posexplode(arrays_zip(ops, op_results)) + zip-truncation filter
  *        ──▶ per-type when() projections, one row per payment/creation
  * }}}
  *
  * The fidelity decisions of [[Extract]] in plan form: zip truncation is
  * `pos < least(size(ops), size(op_results))`; the op-level source
  * override is `coalesce(element_at(op.sourceAccount, 1).ed25519,
  * tx.sourceAccount)`; the left joins keep a missing ledger or result
  * as NULLs.
  */
object ExtractPlan {

  /** Exploded (tx × op) rows with joined close-time and result columns —
    * the trunk of [[operations]].
    */
  private def opRows(
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

  /** Discriminated union of both op kinds in [[Schemas.operations]], with
    * a deterministic select (SURVEY.md §7.4).
    */
  def operations(
      txs: Dataset[TxHistoryEntry],
      ledgers: Dataset[LedgerEntry],
      results: Dataset[TxResultEntry],
      cfg: ExtractConfig): DataFrame = {
    // ONE opRows trunk, branched per row with when(): a
    // payments/creations union would build the trunk twice
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

  /** [[operations]] over explicit archive files, each category decoded
    * from one binaryFile split per file.
    */
  def operations(spark: SparkSession, txPaths: Seq[String], ledgerPaths: Seq[String],
      resultPaths: Seq[String], passphrase: String, cfg: ExtractConfig): DataFrame = {
    def decoded[T](paths: Seq[String], decode: Array[Byte] => Seq[T])(
        implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
      spark.read.format("binaryFile").load(paths: _*).select(col("content"))
        .as(Encoders.BINARY).flatMap(b => decode(Archive.gunzip(b)))
    operations(
      decoded(txPaths, Stellar.decodeTxEntries(_, passphrase))(
        Encoders.product[TxHistoryEntry]),
      decoded(ledgerPaths, Stellar.decodeLedgerEntries)(Encoders.product[LedgerEntry]),
      decoded(resultPaths, Stellar.decodeResultEntries)(Encoders.product[TxResultEntry]),
      cfg)
  }
}
