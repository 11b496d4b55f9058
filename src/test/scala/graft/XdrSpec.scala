package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._
import graft.sources.Archive
import graft.xdr.{RecordMark, Stellar, StellarWriter, XdrReader, XdrWriter}

class XdrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 56-char account strkeys from the reference's canned probe row
  // (FIXTURES.md §2; python/adapters/s3_storage_adapter.py:180-185).
  private val RefSrc  = "GCQTAWULBNFLBAEQLEN6FDGGCPYTVZ3Y55AB4F7HSTMQKNX3HZINMQJM"
  private val RefDest = "GDDFYG3OSTSHADS7SP6TZ4XM62EQ522CI7UYJSNAETGJJCGOX66TP5Q5"

  private def addr(seed: Int): String =
    Stellar.strkeyEncode(Array.tabulate(32)(i => ((seed * 31 + i) & 0xff).toByte))

  test("XDR primitives round-trip with 4-byte padding") {
    val w = new XdrWriter
    w.int(-7).uint(0xffffffffL).hyper(Long.MinValue).bool(true)
      .opaque(Array[Byte](1, 2, 3)).string("hello").varOpaque(Array[Byte](9))
    val r = new XdrReader(w.bytes)
    assert(r.int() === -7)
    assert(r.uint() === 0xffffffffL)
    assert(r.hyper() === Long.MinValue)
    assert(r.bool())
    assert(r.opaque(3).toSeq === Seq[Byte](1, 2, 3))
    assert(r.string() === "hello")
    assert(r.varOpaque().toSeq === Seq[Byte](9))
    assert(r.remaining === 0) // padding fully consumed
  }

  test("record marking frames and unframes") {
    val recs = Seq(Array[Byte](1, 2, 3), Array[Byte](4), Array.fill[Byte](100)(7))
    val stream = recs.flatMap(r => RecordMark.frame(r).toSeq).toArray
    assert(RecordMark.unframe(stream).map(_.toSeq) === recs.map(_.toSeq))
  }

  test("strkey decodes/encodes real-world addresses (checksum + base32)") {
    for (a <- Seq(RefSrc, RefDest)) {
      val key = Stellar.strkeyDecode(a)
      assert(key.length === 32)
      assert(Stellar.strkeyEncode(key) === a)
    }
    val mutated = RefSrc.dropRight(1) + (if (RefSrc.last == 'A') 'B' else 'A')
    intercept[IllegalArgumentException](Stellar.strkeyDecode(mutated))
  }

  test("archive triple round-trips through encode → gzip → decode") {
    val issuer = addr(1); val src = addr(2); val d1 = addr(3); val d2 = addr(4)
    val ops = Seq(
      Operation(Seq(Ed25519(addr(5))),
        OpBody(1, Some(PaymentOp(Asset(Some(AssetAlphaNum4("KIN", Ed25519(issuer)))), Ed25519(d1), 1250000.0)), None)),
      Operation(Nil, OpBody(0, None, Some(CreateAccountOp(Ed25519(d2), 500.0)))))
    val entry = TxHistoryEntry(127L, TxSet(Seq(
      TxWithHash("", TxCore(Some("1-abcd-test"), 100, Ed25519(src), ops)))))
    val ledger = LedgerEntry(LedgerHeader(127L, ScpValue(1535594286L)))

    val txBytes = Archive.gzip(StellarWriter.encodeTxEntry(entry))
    val decodedTx = Stellar.decodeTxEntries(Archive.gunzip(txBytes), "Test Net")
    assert(decodedTx.length === 1)
    val t = decodedTx.head
    assert(t.ledgerSeq === 127L)
    val got = t.txSet.txs.head
    assert(got.hash.matches("^[0-9a-f]{64}$"))
    assert(got.tx === entry.txSet.txs.head.tx) // full structural fidelity
    // hash is passphrase-dependent and deterministic
    assert(Stellar.decodeTxEntries(Archive.gunzip(txBytes), "Test Net").head.txSet.txs.head.hash === got.hash)
    assert(Stellar.decodeTxEntries(Archive.gunzip(txBytes), "Other Net").head.txSet.txs.head.hash !== got.hash)

    val ledBytes = Archive.gzip(StellarWriter.encodeLedgerEntry(ledger))
    assert(Stellar.decodeLedgerEntries(Archive.gunzip(ledBytes)) === Vector(ledger))

    val resEntry = TxResultEntry(TxResultSet(Seq(
      TxResultPair(got.hash, TxResultOuter(90, TxResultInner("txSUCCESS", Some(Seq(
        OpResult(OpResultTr(Some("PAYMENT_SUCCESS"), None)),
        OpResult(OpResultTr(None, Some("CREATE_ACCOUNT_SUCCESS")))))))))))
    val resBytes = Archive.gzip(StellarWriter.encodeResultEntry(resEntry, 127L))
    assert(Stellar.decodeResultEntries(Archive.gunzip(resBytes)) === Vector(resEntry))
  }

  test("sequence math and nibble-pair fan-out match the reference") {
    assert(Archive.seqString(0x3fL) === "0000003f")
    assert(Archive.isCheckpoint(0x3fL))
    assert(!Archive.isCheckpoint(0x40L))
    assert(Archive.nextSeq(0x3fL) === 0x7fL)
    assert(Archive.pathFor("s3://b/core", "transactions", 0xabcdefL)
      === "s3://b/core/transactions/00/ab/cd/transactions-00abcdef.xdr.gz")
  }

  test("end-to-end: archive files on disk → decode → Extract plan") {
    val dir = Files.createTempDirectory("graft-archive").toString
    val issuer = addr(1); val src = addr(2)
    val seq = 0x3fL
    val tx = TxHistoryEntry(seq, TxSet(Seq(TxWithHash("",
      TxCore(None, 100, Ed25519(src), Seq(
        Operation(Nil, OpBody(1, Some(PaymentOp(
          Asset(Some(AssetAlphaNum4("KIN", Ed25519(issuer)))), Ed25519(addr(3)), 2100000.0)), None))))))))
    val txGz = Archive.gzip(StellarWriter.encodeTxEntry(tx))
    // result hash must match the decoder's computed hash → decode once first
    val hash = Stellar.decodeTxEntries(Archive.gunzip(txGz), "Test Net").head.txSet.txs.head.hash
    val res = TxResultEntry(TxResultSet(Seq(TxResultPair(hash,
      TxResultOuter(100, TxResultInner("txSUCCESS", Some(Seq(
        OpResult(OpResultTr(Some("PAYMENT_SUCCESS"), None))))))))))
    val ledger = LedgerEntry(LedgerHeader(seq, ScpValue(1600000000L)))

    def write(cat: String, bytes: Array[Byte]): String = {
      val p = Paths.get(Archive.pathFor(dir, cat, seq))
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      p.toString
    }
    val txPath = write("transactions", txGz)
    val ledPath = write("ledger", Archive.gzip(StellarWriter.encodeLedgerEntry(ledger)))
    val resPath = write("results", Archive.gzip(StellarWriter.encodeResultEntry(res, seq)))

    val out = ExtractPlan.operations(spark, Seq(txPath), Seq(ledPath), Seq(resPath),
      "Test Net", ExtractConfig(assetIssuer = issuer)).collect()
    assert(out.length === 1)
    val row = out(0)
    assert(row.getAs[String]("type") === "payment")
    assert(row.getAs[String]("source") === src)
    assert(row.getAs[Double]("amount") === 2100000.0)
    assert(row.getAs[String]("op_status") === "PAYMENT_SUCCESS")
    assert(row.getAs[String]("hash") === hash)
    assert(row.getAs[java.sql.Timestamp]("time").toInstant.getEpochSecond === 1600000000L)
  }
}
