package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._
import graft.sources.Archive
import graft.xdr.StellarWriter

/** The extraction plan conforms to the declared canonical schemas. */
class SchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = ExtractConfig(assetIssuer = "GISS")
  private def empty[T: org.apache.spark.sql.Encoder](xs: Seq[T]) = xs.toDS()

  test("payments/creations/operations schemas match Schemas declarations") {
    val txs = empty(Seq.empty[TxHistoryEntry])
    val ledgers = empty(Seq.empty[LedgerEntry])
    val results = empty(Seq.empty[TxResultEntry])
    assert(ExtractPlan.payments(txs, ledgers, results, cfg).schema === Schemas.payments)
    assert(ExtractPlan.creations(txs, ledgers, results, cfg).schema === Schemas.creations)
    assert(ExtractPlan.operations(txs, ledgers, results, cfg).schema === Schemas.operations)
  }

  test("the per-checkpoint Engine.extract emits exactly the operations schema") {
    val root = Files.createTempDirectory("graft-schema").toString
    val seq = 0x3fL
    Seq(
      "transactions" -> StellarWriter.encodeTxEntry(TxHistoryEntry(seq, TxSet(Nil))),
      "ledger" -> StellarWriter.encodeLedgerEntry(LedgerEntry(LedgerHeader(seq, ScpValue(0L)))),
      "results" -> StellarWriter.encodeResultEntry(TxResultEntry(TxResultSet(Nil)), seq)
    ).foreach { case (cat, bytes) =>
      val p = Paths.get(Archive.pathFor(root, cat, seq))
      Files.createDirectories(p.getParent)
      Files.write(p, Archive.gzip(bytes))
    }
    val ops = Engine.extract(spark, root, seq, "Test Net", cfg)
    assert(ops.schema === Schemas.operations)
    assert(ops.isEmpty)
  }
}
