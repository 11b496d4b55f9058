package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import graft.Engine
import graft.sinks.PartitionedFileSink
import graft.sources.Archive
import graft.xdr.Stellar

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  *
  * Covers the generator against the program's decoder, the oracle against
  * the program's extraction, the output checks (a corrupted oracle row
  * must fail them) and the metric helpers. Exits non-zero on any failure.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()

  private def test(name: String)(body: => Unit): Unit = {
    val ok = try { body; true } catch {
      case e: Throwable => failures += s"$name: $e"; false
    }
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
  }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv.headOption.getOrElse("perfbench-selftest"))
    try run(work) finally Io.rmrf(work)
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[selftest] $f"))
      sys.exit(1)
    }
  }

  private def run(work: Path): Unit = {
    val spec = GenSpec(checkpoints = 3, opsPerCk = 96)
    val arch = Gen.write(work.resolve("archive"), spec, 7L)

    test("metric helpers: percentile, median, ratio, interval union") {
      val xs = (1 to 10).map(_.toDouble)
      expect(Stats.percentile(xs, 50) == 5.5, "p50 of 1..10")
      expect(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-9, "p90 of 1..10")
      expect(Stats.percentile(Seq(3.0), 90) == 3.0, "p90 of one sample")
      expect(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0, "median is order-free")
      expect(Stats.percentile(Nil, 50).isNaN, "no samples")
      expect(Stats.ratio(3, 4) == 0.75 && Stats.ratio(1, 0) == 0.0, "ratio")
      expect(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) == 25L, "union")
    }

    test("call-site attribution names this repository's modules") {
      val cases = Map(
        "save at Sinks.scala:108" -> "sinks",
        "isEmpty at Sinks.scala:100" -> "sinks",
        "collect at ArchiveStream.scala:263" -> "sources",
        "start at ArchiveStream.scala:292" -> "sources",
        "collect at Facade.scala:78" -> "serve",
        "runOnce at ArchiveTail.scala:118" -> "streaming",
        "collect at Main.scala:12" -> "other",
        "" -> "other")
      cases.foreach { case (site, m) => expect(Stats.module(site) == m, s"$site -> ${Stats.module(site)}") }
      expect(Stats.module(null) == "other", "null call site")
    }

    test("generator writes the archive layout the program addresses") {
      arch.seqs.foreach { s =>
        Seq("transactions", "ledger", "results").foreach { c =>
          expect(Gen.path(arch.root, c, s).toString == Archive.pathFor(arch.root.toString, c, s), s"path $c $s")
          expect(Files.exists(Gen.path(arch.root, c, s)), s"missing $c $s")
        }
      }
      (0 until 20).foreach(i => expect(Gen.strkey(Gen.key(i)) == Stellar.strkeyEncode(Gen.key(i)), s"strkey $i"))
    }

    test("generator round-trips through Stellar.decode*") {
      var txs, ops, ledgers = 0L
      val hashes = mutable.Set[String]()
      arch.seqs.foreach { s =>
        def bytes(c: String) = Archive.gunzip(Files.readAllBytes(Gen.path(arch.root, c, s)))
        val tx = Stellar.decodeTxEntries(bytes("transactions"), Gen.Passphrase)
        val res = Stellar.decodeResultEntries(bytes("results"))
        ledgers += Stellar.decodeLedgerEntries(bytes("ledger")).size
        txs += tx.map(_.txSet.txs.size).sum
        ops += tx.flatMap(_.txSet.txs).map(_.tx.operations.size).sum
        val txHashes = tx.flatMap(_.txSet.txs).map(_.hash).toSet
        val resHashes = res.flatMap(_.txResultSet.results).map(_.transactionHash).toSet
        expect(txHashes == resHashes, s"checkpoint $s: decoded tx hashes differ from the result hashes")
        hashes ++= txHashes
      }
      expect(txs == arch.txs && ops == arch.ops && ledgers == arch.ledgers,
        s"decoded $txs txs / $ops ops / $ledgers ledgers, generated ${arch.txs} / ${arch.ops} / ${arch.ledgers}")
      expect(arch.allRows.forall(r => hashes.contains(r.hash)), "an oracle hash the decoder does not produce")
      expect(arch.rows(arch.seqs(1)).isEmpty, "the empty checkpoint has rows")
      val kinds = arch.allRows.groupBy(_.kind).keySet
      expect(kinds == Set("payment", "creation"), s"row kinds $kinds")
      expect(arch.allRows.exists(_.txStatus == "txFAILED"), "no failed tx rows")
      expect(arch.allRows.exists(_.opStatus.isEmpty), "no void op result rows")
    }

    val spark = Main.session()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("oracle equals Extract.operations") {
        arch.seqs.foreach { s =>
          def p(c: String) = Seq(Gen.path(arch.root, c, s).toString)
          val got = Engine.extract(spark, p("transactions"), p("ledger"), p("results"),
            Gen.Passphrase, Gen.config).collect().toVector.map { r =>
            def o[A](i: Int): Option[A] = if (r.isNullAt(i)) None else Some(r.getAs[A](i))
            Row(s, r.getString(0), r.getString(1), r.getString(2), o[Double](3), o[Double](4),
              o[String](5), r.getInt(6), r.getInt(7), r.getInt(8), r.getString(9), o[String](10),
              r.getString(11), r.getTimestamp(12).getTime / 1000)
          }
          expect(Check.digest(got) == Check.digest(arch.rows(s)),
            s"checkpoint $s: Extract gave ${got.size} rows, the oracle ${arch.rows(s).size}")
        }
      }

      test("ingest check passes a correct layout and fails a corrupted oracle row") {
        val out = work.resolve("layout")
        Engine.collect(spark, arch.root.toString, Gen.Passphrase, Gen.config,
          new PartitionedFileSink(out.toString), tailIterations = 0)
        val clean = Check.ingest(out, arch, Check.layoutRows(out))
        expect(clean.isEmpty, s"correct layout failed: $clean")
        val victim = arch.seqs.head
        val rows = arch.rows(victim)
        val corrupted = arch.copy(rows = arch.rows.updated(victim,
          rows.updated(0, rows(0).copy(fee = rows(0).fee + 1))))
        expect(Check.ingest(out, corrupted, Check.layoutRows(out)).keySet == Set(victim),
          "a corrupted oracle row passed")
        Files.delete(out.resolve("completed_ledgers").resolve(f"${arch.seqs.last}%08x"))
        expect(Check.ingest(out, arch, Check.layoutRows(out)).keySet == Set(arch.seqs.last),
          "a missing marker passed")
      }

      test("serve check compares response rows with the oracle") {
        val oracle = new Check.ServeOracle(arch.allRows)
        val src = arch.allRows.filter(_.kind == "payment").groupBy(_.source).maxBy(_._2.size)._1
        val srv = new graft.serve.HttpServe(ServeLoad.payments(spark, work.resolve("layout")))
        srv.start()
        try {
          def get(path: String): String = {
            val c = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}$path").toURL.openStream()
            try new String(c.readAllBytes(), "UTF-8") finally c.close()
          }
          val body = get(s"/payments?source=$src&limit=20")
          val got = Check.responseRows(body)
          expect(got.contains(oracle.paymentsBySource(src, 20)), s"/payments rows differ: $body")
          expect(got.get.nonEmpty, "the busiest source has no payments")
          val h = oracle.hashes.head
          expect(Check.responseRows(get(s"/tx?id=$h")).contains(oracle.txByHash(h)), "/tx rows differ")
          expect(Check.responseRows(get(s"/tx?id=${"0" * 64}")).contains(Vector.empty), "/tx miss")
          val corrupt = new Check.ServeOracle(arch.allRows.map(r =>
            if (r.source == src && r.kind == "payment") r.copy(amount = r.amount.map(_ + 1)) else r))
          expect(!got.contains(corrupt.paymentsBySource(src, 20)), "a corrupted oracle row passed")
          expect(Check.responseRows("{\"error\":\"x\"}").isEmpty, "a non-array body parsed")
        } finally srv.stop()
      }
    } finally spark.stop()
  }
}
