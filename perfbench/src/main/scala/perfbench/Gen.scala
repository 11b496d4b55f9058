package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream
import scala.util.Random
import graft.pipeline._
import graft.xdr.StellarWriter

/** One committed row as the reference's extraction defines it, computed
  * from the generator's own model (never through `Extract`). `ck` is the
  * checkpoint sequence whose `ledger=` partition holds the row; `time` is
  * the close time in epoch seconds.
  */
final case class Row(
    ck: Long, kind: String, source: String, destination: String,
    amount: Option[Double], startingBalance: Option[Double], memo: Option[String],
    fee: Int, feeCharged: Int, opIndex: Int, txStatus: String, opStatus: Option[String],
    hash: String, time: Long) {

  /** Canonical text form: the unit of every digest and comparison. */
  def canon: String = Seq[Any](ck, kind, source, destination, amount, startingBalance, memo,
    fee, feeCharged, opIndex, txStatus, opStatus, hash, time).mkString("|")
}

/** What the generator wrote and what a correct ingest must commit. */
final case class GenArchive(
    root: Path,
    seqs: Vector[Long],
    rows: Map[Long, Vector[Row]],
    ledgers: Long,
    txs: Long,
    ops: Long) {
  def allRows: Vector[Row] = seqs.flatMap(rows)
}

/** Shape of one generated archive: `checkpoints` checkpoints of 64
  * ledgers each from `firstSeq` on, about `opsPerCk` operations per
  * non-empty checkpoint, and checkpoint index `emptyAt` (if any) with no
  * transactions at all.
  */
final case class GenSpec(checkpoints: Int, opsPerCk: Int, accounts: Int = 384,
    emptyAt: Option[Int] = Some(1), firstSeq: Long = Gen.FirstSeq) {
  /** The same shape over the next `n`-th block of sequences. */
  def block(n: Int): GenSpec = copy(firstSeq = firstSeq + 64L * checkpoints * n)
}

/** Seeded history-archive generator on top of `StellarWriter`.
  *
  * It writes the real layout: `<cat>/XX/YY/ZZ/<cat>-<hexseq>.xdr.gz`,
  * gzipped record-marked XDR, one triple per 64-ledger checkpoint. The op
  * mix covers everything the extraction filter decides on: KIN payments
  * of the configured issuer, account creations, native payments, KIN of
  * another issuer and other asset codes (all dropped), failed
  * transactions, transactions without per-op results, void op results and
  * op-level source overrides.
  *
  * Tx hashes, strkeys and paths are computed here independently of the
  * program's decoder, so the oracle does not inherit a decoder fault.
  *
  * The shares of the mix (op kinds, tx statuses, memos, op-source
  * overrides, ops per tx, the Zipf skew of accounts) are assumptions, not
  * measurements of the Kin ledger; perfbench/README.md lists each one
  * with the reason for its value.
  */
object Gen {
  val Passphrase = "Perfbench Network ; 2026"
  val FirstSeq = 0x3fL

  /** 32 key bytes of account `i` of the pool (deterministic in `i`). */
  def key(i: Int): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s"perfbench-account-$i".getBytes("UTF-8"))

  private val B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  /** SEP-23 G-address: base32(version ‖ key ‖ crc16-xmodem little-endian). */
  def strkey(k: Array[Byte]): String = {
    val payload = Array((6 << 3).toByte) ++ k
    var crc = 0
    payload.foreach { b =>
      crc ^= (b & 0xff) << 8
      (0 until 8).foreach { _ =>
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x1021) & 0xffff else (crc << 1) & 0xffff
      }
    }
    val data = payload ++ Array((crc & 0xff).toByte, ((crc >> 8) & 0xff).toByte)
    val sb = new StringBuilder
    var buf = 0; var bits = 0
    data.foreach { b =>
      buf = (buf << 8) | (b & 0xff); bits += 8
      while (bits >= 5) { sb.append(B32((buf >> (bits - 5)) & 31)); bits -= 5 }
    }
    if (bits > 0) sb.append(B32((buf << (5 - bits)) & 31))
    sb.toString
  }

  def path(root: Path, cat: String, seq: Long): Path = {
    val s = f"$seq%08x"
    root.resolve(cat).resolve(s.substring(0, 2)).resolve(s.substring(2, 4))
      .resolve(s.substring(4, 6)).resolve(s"$cat-$s.xdr.gz")
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  /** SHA-256(networkId ‖ ENVELOPE_TYPE_TX ‖ Transaction XDR), the tx body
    * encoded here field by field (the layout `StellarWriter` writes).
    */
  private def txHash(nid: Array[Byte], src: Array[Byte], fee: Int, memo: Option[String],
      ops: Seq[(Option[Array[Byte]], GOp)], keys: Int => Array[Byte]): String = {
    val bos = new ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    def opaque(a: Array[Byte]): Unit = { o.write(a); (0 until (4 - a.length % 4) % 4).foreach(_ => o.writeByte(0)) }
    def account(k: Array[Byte]): Unit = { o.writeInt(0); opaque(k) }
    o.writeInt(2) // ENVELOPE_TYPE_TX
    account(src); o.writeInt(fee); o.writeLong(1L); o.writeInt(0)
    memo match {
      case None => o.writeInt(0)
      case Some(t) => val b = t.getBytes("UTF-8"); o.writeInt(1); o.writeInt(b.length); opaque(b)
    }
    o.writeInt(ops.size)
    ops.foreach { case (opSrc, op) =>
      opSrc match { case None => o.writeInt(0); case Some(k) => o.writeInt(1); account(k) }
      op.kind match {
        case GOp.Create => o.writeInt(0); account(keys(op.dest)); o.writeLong(op.amount)
        case _ =>
          o.writeInt(1); account(keys(op.dest))
          op.asset match {
            case None => o.writeInt(0)
            case Some((code, issuer)) =>
              o.writeInt(1); opaque(code.getBytes("UTF-8").padTo(4, 0.toByte)); account(keys(issuer))
          }
          o.writeLong(op.amount)
      }
    }
    o.writeInt(0)
    o.flush()
    val md = MessageDigest.getInstance("SHA-256")
    md.update(nid); md.update(bos.toByteArray)
    md.digest().map(b => f"$b%02x").mkString
  }

  /** One generated operation; `asset` is (code, issuer account) or None for native. */
  private final case class GOp(kind: Int, dest: Int, amount: Long, asset: Option[(String, Int)])
  private object GOp { val Create = 0; val Payment = 1 }

  private val Apps = Vector("kik0", "tipc", "pera", "kinw", "xpmo")

  /** Zipf(s) sampler over [0, n): the few busy accounts of a real ledger. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The configured issuer is account 0; account 1 issues a KIN the filter drops. */
  def issuer: String = strkey(key(0))
  def config: ExtractConfig = ExtractConfig(assetIssuer = issuer)

  /** Write the archive for `spec` under `root` from `seed`. */
  def write(root: Path, spec: GenSpec, seed: Long): GenArchive = {
    val r = new Random(seed)
    val keys = Vector.tabulate(spec.accounts)(key)
    val addrs = keys.map(strkey)
    val zipf = new Zipf(spec.accounts - 2, 1.1)
    def account() = 2 + zipf.draw(r)
    val nid = MessageDigest.getInstance("SHA-256").digest(Passphrase.getBytes("UTF-8"))
    val seen = scala.collection.mutable.HashSet[String]()
    var nLedgers, nTxs, nOps = 0L
    val rows = Vector.newBuilder[(Long, Vector[Row])]
    val seqs = Vector.tabulate(spec.checkpoints)(k => spec.firstSeq + 64L * k)
    seqs.zipWithIndex.foreach { case (seq, k) =>
      val firstLedger = math.max(1L, seq - 63)
      val ledgerSeqs = (firstLedger to seq).toVector
      val closeOf = ledgerSeqs.map(l => l -> (1_600_000_000L + l * 5)).toMap
      val empty = spec.emptyAt.contains(k)
      // ~opsPerCk ops spread over the checkpoint's ledgers, 1-8 per tx
      val txsByLedger = scala.collection.mutable.LinkedHashMap[Long, Vector[(TxWithHash, TxResultPair)]]()
      val ckRows = Vector.newBuilder[Row]
      var budget = if (empty) 0 else spec.opsPerCk
      while (budget > 0) {
        val ledger = ledgerSeqs(r.nextInt(ledgerSeqs.size))
        val nOpsTx = math.min(budget, 1 + r.nextInt(8))
        val src = account()
        val memo =
          if (r.nextDouble() < 0.7) Some(s"1-${Apps(r.nextInt(Apps.size))}-${r.alphanumeric.take(6).mkString}")
          else None
        val ops = Vector.fill(nOpsTx) {
          val opSrc = if (r.nextDouble() < 0.15) Some(account()) else None
          val dest = 2 + r.nextInt(spec.accounts - 2)
          val amount = 1L + r.nextInt(1_000_000_000)
          val u = r.nextDouble()
          val op =
            if (u < 0.55) GOp(GOp.Payment, dest, amount, Some(("KIN", 0)))
            else if (u < 0.70) GOp(GOp.Create, dest, amount, None)
            else if (u < 0.80) GOp(GOp.Payment, dest, amount, None)
            else if (u < 0.90) GOp(GOp.Payment, dest, amount, Some(("KIN", 1)))
            else GOp(GOp.Payment, dest, amount, Some(("USD", 0)))
          (opSrc, op)
        }
        val fee = 100 * nOpsTx
        val hash = txHash(nid, keys(src), fee, memo, ops.map { case (s, o) => (s.map(keys), o) }, keys)
        if (seen.add(hash)) {
          budget -= nOpsTx
          val u = r.nextDouble()
          val txStatus = if (u < 0.85) "txSUCCESS" else if (u < 0.95) "txFAILED" else "txBAD_SEQ"
          val opResults: Option[Vector[OpResult]] = txStatus match {
            case "txBAD_SEQ" => None
            case st => Some(ops.map { case (_, op) =>
              if (st == "txFAILED" && r.nextDouble() < 0.2) OpResult(OpResultTr(None, None))
              else if (op.kind == GOp.Create)
                OpResult(OpResultTr(None, Some(if (st == "txSUCCESS") "CREATE_ACCOUNT_SUCCESS" else "CREATE_ACCOUNT_LOW_RESERVE")))
              else
                OpResult(OpResultTr(Some(if (st == "txSUCCESS") "PAYMENT_SUCCESS" else "PAYMENT_UNDERFUNDED"), None))
            })
          }
          val feeCharged = if (txStatus == "txBAD_SEQ") 0 else fee
          val core = TxCore(memo, fee, Ed25519(addrs(src)), ops.map { case (s, op) =>
            val body =
              if (op.kind == GOp.Create)
                OpBody(0, None, Some(CreateAccountOp(Ed25519(addrs(op.dest)), op.amount.toDouble)))
              else OpBody(1, Some(PaymentOp(
                Asset(op.asset.map { case (c, i) => AssetAlphaNum4(c, Ed25519(addrs(i))) }),
                Ed25519(addrs(op.dest)), op.amount.toDouble)), None)
            Operation(s.map(a => Ed25519(addrs(a))).toSeq, body)
          })
          val pair = TxResultPair(hash, TxResultOuter(feeCharged, TxResultInner(txStatus, opResults)))
          txsByLedger(ledger) = txsByLedger.getOrElse(ledger, Vector.empty) :+ (TxWithHash("", core) -> pair)
          nTxs += 1; nOps += nOpsTx
          // the oracle: the reference's per-op rules, straight from the model
          opResults.foreach { res =>
            ops.zip(res).zipWithIndex.foreach { case (((opSrc, op), rr), pos) =>
              val source = addrs(opSrc.getOrElse(src))
              if (op.kind == GOp.Create)
                ckRows += Row(seq, "creation", source, addrs(op.dest), None, Some(op.amount.toDouble),
                  memo, fee, feeCharged, pos, txStatus, rr.tr.createAccountResult, hash, closeOf(ledger))
              else if (op.asset.contains(("KIN", 0)))
                ckRows += Row(seq, "payment", source, addrs(op.dest), Some(op.amount.toDouble), None,
                  memo, fee, feeCharged, pos, txStatus, rr.tr.paymentResult, hash, closeOf(ledger))
            }
          }
        }
      }
      val ledgersInTxOrder = txsByLedger.keys.toVector.sorted
      val txBytes = ledgersInTxOrder.flatMap(l => StellarWriter.encodeTxEntry(
        TxHistoryEntry(l, TxSet(txsByLedger(l).map(_._1))))).toArray
      val resBytes = ledgersInTxOrder.flatMap(l => StellarWriter.encodeResultEntry(
        TxResultEntry(TxResultSet(txsByLedger(l).map(_._2))), l)).toArray
      val ledBytes = ledgerSeqs.flatMap(l => StellarWriter.encodeLedgerEntry(
        LedgerEntry(LedgerHeader(l, ScpValue(closeOf(l)))))).toArray
      Seq("transactions" -> txBytes, "ledger" -> ledBytes, "results" -> resBytes).foreach {
        case (cat, raw) =>
          val p = path(root, cat, seq)
          Files.createDirectories(p.getParent)
          Files.write(p, gzip(raw))
      }
      nLedgers += ledgerSeqs.size
      rows += seq -> ckRows.result()
    }
    GenArchive(root, seqs, rows.result().toMap, nLedgers, nTxs, nOps)
  }
}
