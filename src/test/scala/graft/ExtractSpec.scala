package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._
import graft.sources.Archive
import graft.xdr.{Stellar, StellarWriter}

/** Extract semantics against the edge-case fixtures of FIXTURES.md §3
  * (reference behavior: python/main.py:126-199), spelled by the
  * test-side Catalyst plan [[ExtractPlan]]. Every fixture also runs
  * through the in-task join, [[Extract.checkpointRows]], and encoded
  * archive triples through [[Engine.extract]]'s task-side read: both
  * must give the plan's rows.
  */
class ExtractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Issuer = "GKINISSUERXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXXX"
  private val cfg = ExtractConfig(assetIssuer = Issuer)

  private def ed(s: String) = Ed25519(s)
  private def kinPay(dest: String, amount: Double, opSrc: Option[String] = None) =
    Operation(opSrc.map(ed).toSeq,
      OpBody(1, Some(PaymentOp(Asset(Some(AssetAlphaNum4("KIN", ed(Issuer)))), ed(dest), amount)), None))
  private def otherAssetPay(dest: String, amount: Double) =
    Operation(Nil,
      OpBody(1, Some(PaymentOp(Asset(Some(AssetAlphaNum4("USD", ed("GOTHERISSUER")))), ed(dest), amount)), None))
  private def nativePay(dest: String, amount: Double) =
    Operation(Nil, OpBody(1, Some(PaymentOp(Asset(None), ed(dest), amount)), None))
  private def create(dest: String, bal: Double, opSrc: Option[String] = None) =
    Operation(opSrc.map(ed).toSeq, OpBody(0, None, Some(CreateAccountOp(ed(dest), bal))))
  private def otherOp = Operation(Nil, OpBody(7, None, None))

  private def tx(hash: String, memo: Option[String], ops: Seq[Operation], src: String = "GSRC") =
    TxWithHash(hash, TxCore(memo, 100, ed(src), ops))
  private def res(hash: String, code: String, legs: Option[Seq[OpResult]], feeCharged: Int = 90) =
    TxResultPair(hash, TxResultOuter(feeCharged, TxResultInner(code, legs)))
  private def payLeg(code: String) = OpResult(OpResultTr(Some(code), None))
  private def createLeg(code: String) = OpResult(OpResultTr(None, Some(code)))

  private val ledgers = Seq(LedgerEntry(LedgerHeader(100L, ScpValue(1535594286L))))

  private def bag(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** [[Extract.checkpointRows]] gives the row multiset of
    * [[ExtractPlan.operations]] on the same input; returns that row count.
    */
  private def assertParity(txs: Seq[TxHistoryEntry], results: Seq[TxResultEntry],
      c: ExtractConfig = cfg, leds: Seq[LedgerEntry] = ledgers): Int = {
    val plan = ExtractPlan.operations(txs.toDS(), leds.toDS(), results.toDS(), c).collect().toSeq
    assert(bag(Extract.checkpointRows(txs, leds, results, c).toSeq) === bag(plan))
    plan.length
  }

  test("payment + creation extraction: filters, zip, result legs, time join") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(
      tx("h1", Some("1-abcd-x"), Seq(
        kinPay("GD1", 12.5),        // kept: payment row, op_index 0
        otherAssetPay("GD2", 1.0),  // dropped: non-KIN asset (main.py:162-164)
        create("GD3", 10.0),        // kept: creation row, op_index 2
        otherOp))))))               // dropped: op type ∉ {0,1}
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("h1", "txSUCCESS", Some(Seq(
        payLeg("PAYMENT_SUCCESS"), payLeg("PAYMENT_SUCCESS"),
        createLeg("CREATE_ACCOUNT_SUCCESS"), OpResult(OpResultTr(None, None)))))))))

    val out = ExtractPlan.operations(txs.toDS(), ledgers.toDS(), results.toDS(), cfg)
      .orderBy("operation_index").collect()
    assert(out.length === 2)
    val p = out(0); val c = out(1)
    assert(p.getAs[String]("type") === "payment")
    assert(p.getAs[String]("source") === "GSRC")
    assert(p.getAs[String]("destination") === "GD1")
    assert(p.getAs[Double]("amount") === 12.5)
    assert(p.getAs[Int]("operation_index") === 0)
    assert(p.getAs[String]("tx_status") === "txSUCCESS")
    assert(p.getAs[String]("op_status") === "PAYMENT_SUCCESS")
    assert(p.getAs[Int]("fee") === 100)
    assert(p.getAs[Int]("fee_charged") === 90)
    assert(p.getAs[java.sql.Timestamp]("time").toInstant.getEpochSecond === 1535594286L)
    assert(c.getAs[String]("type") === "creation")
    assert(c.getAs[Double]("starting_balance") === 10.0)
    assert(c.getAs[Int]("operation_index") === 2)
    assert(c.getAs[String]("op_status") === "CREATE_ACCOUNT_SUCCESS")
    assert(assertParity(txs, results) === 2)
  }

  test("failed tx with no per-op results emits zero rows (zip truncation)") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(
      tx("h2", None, Seq(kinPay("GD1", 5.0), create("GD2", 1.0)))))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(res("h2", "txFAILED", None)))))
    assert(ExtractPlan.operations(txs.toDS(), ledgers.toDS(), results.toDS(), cfg).count() === 0)
    assert(assertParity(txs, results) === 0)
  }

  test("result list shorter than ops truncates to the shorter side") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(
      tx("h3", None, Seq(kinPay("GD1", 1.0), kinPay("GD2", 2.0)))))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("h3", "txSUCCESS", Some(Seq(payLeg("PAYMENT_SUCCESS"))))))))
    val out = ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg).collect()
    assert(out.map(_.getAs[String]("destination")).toSeq === Seq("GD1"))
    assert(assertParity(txs, results) === 1)
  }

  test("null result element yields NULL op_status (falsy guard)") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(tx("h5", None, Seq(kinPay("GD1", 1.0)))))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("h5", "txSUCCESS", Some(Seq(null.asInstanceOf[OpResult])))))))
    val out = ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg).collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("op_status") === null)
    assert(out(0).getAs[String]("tx_status") === "txSUCCESS")
    assert(assertParity(txs, results) === 1)
  }

  test("op-level source override wins; absent falls back to tx source") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(
      tx("h4", None, Seq(kinPay("GD1", 1.0, opSrc = Some("GOVERRIDE")), kinPay("GD2", 2.0)))))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("h4", "txSUCCESS", Some(Seq(payLeg("ok"), payLeg("ok"))))))))
    val out = ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg)
      .orderBy("operation_index").collect()
    assert(out.map(_.getAs[String]("source")).toSeq === Seq("GOVERRIDE", "GSRC"))
    assert(assertParity(txs, results) === 2)
  }

  test("missing ledger row leaves time NULL (dict .get fidelity)") {
    val txs = Seq(TxHistoryEntry(999L, TxSet(Seq(tx("h6", None, Seq(kinPay("GD1", 1.0)))))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("h6", "txSUCCESS", Some(Seq(payLeg("ok"))))))))
    val out = ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg).collect()
    assert(out.length === 1)
    assert(out(0).getAs[java.sql.Timestamp]("time") === null)
    assert(assertParity(txs, results) === 1)
  }

  test("app-id memo filter keeps only matching-app txs") {
    val appCfg = cfg.copy(appId = Some("abcd"))
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(
      tx("m1", Some("1-abcd-keep"), Seq(kinPay("GD1", 1.0))),
      tx("m2", Some("1-zzzz-drop"), Seq(kinPay("GD2", 1.0))),
      tx("m3", None, Seq(kinPay("GD3", 1.0))),
      tx("m4", Some("no-dash-match"), Seq(kinPay("GD4", 1.0))),
      tx("m5", Some("plain"), Seq(kinPay("GD5", 1.0)))))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("m1", "txSUCCESS", Some(Seq(payLeg("ok")))),
      res("m2", "txSUCCESS", Some(Seq(payLeg("ok")))),
      res("m3", "txSUCCESS", Some(Seq(payLeg("ok")))),
      res("m4", "txSUCCESS", Some(Seq(payLeg("ok")))),
      res("m5", "txSUCCESS", Some(Seq(payLeg("ok"))))))))
    val out = ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), appCfg).collect()
    assert(out.map(_.getAs[String]("destination")).toSeq === Seq("GD1"))
    assert(assertParity(txs, results, appCfg) === 1)
  }

  test("S3 naming variant maps the canonical schema (SURVEY §1.2)") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(tx("h9", None, Seq(kinPay("GD1", 1.0)))))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("h9", "txSUCCESS", Some(Seq(payLeg("ok"))))))))
    val out = Extract.toS3Naming(
      ExtractPlan.operations(txs.toDS(), ledgers.toDS(), results.toDS(), cfg))
    assert(out.columns.toSeq === Seq("type", "source", "destination", "amount",
      "starting_balance", "memo", "tx_fee", "tx_charged_fee", "op_index",
      "tx_status", "op_status", "tx_hash", "timestamp"))
  }

  test("legacyAzClass=false uses the sane [A-Za-z0-9] class (SURVEY §7.4)") {
    // '^' (between Z and a in ASCII) passes the reference's quirky [A-z]
    // class but not the sane variant
    val quirkMemo = Some("1-ab^d-x")
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(tx("hz", quirkMemo, Seq(kinPay("GD1", 1.0)))))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("hz", "txSUCCESS", Some(Seq(payLeg("ok"))))))))
    def count(legacy: Boolean): Long =
      ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(),
        cfg.copy(appId = Some("ab^d"), legacyAzClass = legacy)).count()
    assert(count(legacy = true) === 1)  // reference fidelity: [A-z] admits '^'
    assert(count(legacy = false) === 0) // the opt-in [A-Za-z] class rejects it
    Seq(true, false).foreach { legacy =>
      assertParity(txs, results, cfg.copy(appId = Some("ab^d"), legacyAzClass = legacy))
    }
  }

  test("in-task join multiplies duplicate tx hashes and ledgers like the left joins") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(
      tx("dup", Some("a"), Seq(kinPay("GD1", 1.0), create("GD2", 2.0))),
      tx("dup", Some("b"), Seq(kinPay("GD3", 3.0)))))))
    val results = Seq(
      TxResultEntry(TxResultSet(Seq(res("dup", "txSUCCESS", Some(Seq(payLeg("ok"), createLeg("ok"))))))),
      TxResultEntry(TxResultSet(Seq(res("dup", "txFAILED", Some(Seq(payLeg("no"))), 7)))))
    val twoCloses = ledgers :+ LedgerEntry(LedgerHeader(100L, ScpValue(1535594300L)))
    // per ledger row: tx 1 zips 2 ops with the 2-leg result and 1 op
    // with the 1-leg one; tx 2 zips 1 op with each
    assert(assertParity(txs, results, leds = twoCloses) === 2 * (3 + 2))
  }

  test("in-task join of an encoded archive triple equals the plan (Engine.extract)") {
    // XdrSpec's round-trip triple, read back by the task-side body and
    // by the plan over the same files; a second checkpoint checks the
    // explicit-files read over both
    def addr(seed: Int): String =
      Stellar.strkeyEncode(Array.tabulate(32)(i => ((seed * 31 + i) & 0xff).toByte))
    val issuer = addr(1)
    def kin(dest: Int, amount: Double) =
      OpBody(1, Some(PaymentOp(Asset(Some(AssetAlphaNum4("KIN", Ed25519(issuer)))), Ed25519(addr(dest)), amount)), None)
    val dir = Files.createTempDirectory("graft-parity").toString
    // checkpoint `seq` as one tx of `ops`, every op succeeding: its three file paths
    def checkpoint(seq: Long, closeTime: Long, ops: Seq[Operation]): Seq[String] = {
      val txGz = Archive.gzip(StellarWriter.encodeTxEntry(TxHistoryEntry(seq, TxSet(Seq(
        TxWithHash("", TxCore(Some("1-abcd-test"), 100, Ed25519(addr(2)), ops)))))))
      val hash = Stellar.decodeTxEntries(Archive.gunzip(txGz), "Test Net").head.txSet.txs.head.hash
      val legs = ops.map(op =>
        if (op.body.opType == 1) OpResult(OpResultTr(Some("PAYMENT_SUCCESS"), None))
        else OpResult(OpResultTr(None, Some("CREATE_ACCOUNT_SUCCESS"))))
      val resEntry = TxResultEntry(TxResultSet(Seq(
        TxResultPair(hash, TxResultOuter(90, TxResultInner("txSUCCESS", Some(legs)))))))
      def put(cat: String, bytes: Array[Byte]): String = {
        val p = Paths.get(Archive.pathFor(dir, cat, seq))
        Files.createDirectories(p.getParent)
        Files.write(p, bytes).toString
      }
      Seq(put("transactions", txGz),
        put("ledger", Archive.gzip(StellarWriter.encodeLedgerEntry(
          LedgerEntry(LedgerHeader(seq, ScpValue(closeTime)))))),
        put("results", Archive.gzip(StellarWriter.encodeResultEntry(resEntry, seq))))
    }
    val first = checkpoint(127L, 1535594286L, Seq(
      Operation(Seq(Ed25519(addr(5))), kin(3, 1250000.0)),
      Operation(Nil, OpBody(0, None, Some(CreateAccountOp(Ed25519(addr(4)), 500.0))))))
    val second = checkpoint(191L, 1535594600L, Seq(Operation(Nil, kin(6, 42.0))))
    val xcfg = ExtractConfig(assetIssuer = issuer, appId = Some("abcd"))
    def inTask(seq: Long) = Engine.extract(spark, dir, seq, "Test Net", xcfg).collect().toSeq
    def files(triples: Seq[String]*) = Engine.extract(spark, triples.map(_(0)),
      triples.map(_(1)), triples.map(_(2)), "Test Net", xcfg).collect().toSeq
    def plan(triples: Seq[String]*) = ExtractPlan.operations(spark, triples.map(_(0)),
      triples.map(_(1)), triples.map(_(2)), "Test Net", xcfg).collect().toSeq
    val (inTask1, inTask2) = (inTask(127L), inTask(191L))
    assert(inTask1.length === 2 && inTask2.length === 1)
    assert(bag(inTask1) === bag(plan(first)))
    assert(bag(inTask2) === bag(plan(second)))
    assert(bag(files(first, second)) === bag(plan(first, second)))
  }

  test("explicit-files extract rejects a checkpoint that is not a whole triple") {
    // the reference joins within one triple; files of two checkpoints
    // are grouped by sequence, and one lacking its results file throws
    // on the driver, before any file is opened
    val Seq(tx, ledger, _) = Archive.triple("/archive", 0x7fL)
    val whole = Archive.triple("/archive", 0xbfL)
    val e = intercept[IllegalArgumentException](Engine.extract(spark,
      Seq(tx, whole(0)), Seq(ledger, whole(1)), Seq(whole(2)), "Test Net", cfg))
    assert(e.getMessage.contains("checkpoint 0000007f") && e.getMessage.contains("results"))
  }

  test("Kin3 decimal amounts: quarks → exact DECIMAL(20,5) whole units") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(
      tx("hk", None, Seq(kinPay("GD1", 123456789.0)))))))  // raw quarks
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("hk", "txSUCCESS", Some(Seq(payLeg("ok"))))))))
    val out = Extract.withDecimalAmounts(
      ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg)).collect()
    val amt = out(0).getAs[java.math.BigDecimal]("amount")
    assert(amt.compareTo(new java.math.BigDecimal("1234.56789")) === 0)
  }

  test("serving queries filter, format and order") {
    val txs = Seq(TxHistoryEntry(100L, TxSet(Seq(
      tx("s1", None, Seq(kinPay("GD1", 1.0))),
      tx("s2", None, Seq(kinPay("GD2", 2.0)), src = "GOTHER")))))
    val results = Seq(TxResultEntry(TxResultSet(Seq(
      res("s1", "txSUCCESS", Some(Seq(payLeg("ok")))),
      res("s2", "txSUCCESS", Some(Seq(payLeg("ok"))))))))
    val pays = ExtractPlan.payments(txs.toDS(), ledgers.toDS(), results.toDS(), cfg)
    val bySrc = Serve.paymentsBySource(pays, "GSRC").collect()
    assert(bySrc.map(_.getAs[String]("hash")).toSeq === Seq("s1"))
    assert(bySrc(0).getAs[String]("date") === "2018-08-30")
    assert(Serve.txByHash(pays, "s2").collect().map(_.getAs[String]("destination")).toSeq === Seq("GD2"))
  }
}
