package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._
import graft.xdr.Stellar

/** Golden end-to-end fixtures replicating the reference sample's
  * documented serving outputs (reference sample/README.md:20-65): three
  * payments from one source with memos `1-kit-…`, amounts 21/13/10, date
  * 2018-10-20 — driven through encode→decode→ExtractPlan→Serve with the
  * README's real addresses (their strkey checksums validate our codec).
  * Tx hashes necessarily differ (the originals hashed real network
  * envelopes), asserted 64-hex instead.
  */
class GoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Src = "GDNM52OBYPX7TAOTFRPEED4DSOE6C7HSWFHCB5G45J2KDNZVUK335FVM"
  private val Dests = Seq(
    "GBWGUWBD5U55OTRBTS5SZJFGGIXTQQVAZJNC43GXZGKTGLPWRFT4VEBZ",
    "GDDZMV3ZE3IUBLEA53WQCC7LGBREBJ7JBAGNFLYXDPRJQ4KNLB3XS5IQ",
    "GB7FGPEYS6EXWOSCSJ5YSR7LLHGLOKQFJSUHZ2MMDUNLPLBVCHRSQBXG")
  private val Memos = Seq(
    "1-kit-peeb41ec5ef79404aa9ca3",
    "1-kit-p49564228265448e68f633",
    "1-kit-pbf9a00cef83e4c699c3ad")
  private val Amounts = Seq(21.0, 13.0, 10.0)
  private val Issuer = Stellar.strkeyEncode(Array.tabulate(32)(_.toByte))
  // 2018-10-20 (UTC)
  private val CloseTime = 1540000000L

  private def fixture(): (Seq[TxHistoryEntry], Seq[LedgerEntry], Seq[TxResultEntry]) = {
    val txs = Dests.lazyZip(Memos).lazyZip(Amounts).toSeq.zipWithIndex.map {
      case ((dest, memo, amount), i) =>
        TxWithHash(f"$i%064x", TxCore(Some(memo), 100, Ed25519(Src), Seq(
          Operation(Nil, OpBody(1, Some(PaymentOp(
            Asset(Some(AssetAlphaNum4("KIN", Ed25519(Issuer)))), Ed25519(dest), amount)), None)))))
    }
    val results = txs.map(t => TxResultPair(t.hash, TxResultOuter(100,
      TxResultInner("txSUCCESS", Some(Seq(OpResult(OpResultTr(Some("PAYMENT_SUCCESS"), None))))))))
    (Seq(TxHistoryEntry(100L, TxSet(txs))),
      Seq(LedgerEntry(LedgerHeader(100L, ScpValue(CloseTime)))),
      Seq(TxResultEntry(TxResultSet(results))))
  }

  test("README strkeys round-trip our codec (checksum validation)") {
    (Src +: Dests).foreach { a =>
      assert(Stellar.strkeyEncode(Stellar.strkeyDecode(a)) === a)
    }
  }

  test("reference quirk: the README's own 3-char app id fails its 4-char regex") {
    // python/main.py:58 requires exactly four [A-z0-9] chars between the
    // dashes, so the sample's `1-kit-…` memos would be dropped by an
    // APP_ID-filtered collector — the demo necessarily ran unfiltered.
    val (txs, ledgers, results) = fixture()
    val cfg = ExtractConfig(assetIssuer = Issuer, appId = Some("kit"))
    import spark.implicits._
    assert(ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg).count() === 0)
  }

  test("golden /payments output: fields match the documented README rows") {
    val (txs, ledgers, results) = fixture()
    // unfiltered, like the demo (see quirk test above)
    val cfg = ExtractConfig(assetIssuer = Issuer)
    val pays = ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg)
    val served = Serve.paymentsBySource(pays, Src, limit = 3)
      .select(to_json(struct(
        col("destination"), col("memo_text"), col("date").as("time"),
        col("amount").cast("int").as("amount"), col("source"), col("hash"))).as("payload"),
        col("destination"), col("memo_text"), col("date"), col("amount"), col("hash"))
      .collect()
    assert(served.length === 3)
    val byDest = served.map(r => r.getAs[String]("destination") -> r).toMap
    Dests.lazyZip(Memos).lazyZip(Amounts).foreach { (dest, memo, amount) =>
      val r = byDest(dest)
      assert(r.getAs[String]("memo_text") === memo)
      assert(r.getAs[String]("date") === "2018-10-20")
      assert(r.getAs[Double]("amount") === amount)
      assert(r.getAs[String]("hash").matches("^[0-9a-f]{64}$"))
      val payload = r.getAs[String]("payload")
      assert(payload.contains(s""""destination":"$dest""""))
      assert(payload.contains(s""""memo_text":"$memo""""))
      assert(payload.contains(""""time":"2018-10-20""""))
    }
  }

  test("golden /tx output: lookup by hash returns the single payment") {
    val (txs, ledgers, results) = fixture()
    val cfg = ExtractConfig(assetIssuer = Issuer)
    val pays = ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg)
    val one = Serve.txByHash(pays, f"${0}%064x").collect()
    assert(one.length === 1)
    assert(one(0).getAs[String]("destination") === Dests.head)
    assert(one(0).getAs[Double]("amount") === 21.0)
  }
}
