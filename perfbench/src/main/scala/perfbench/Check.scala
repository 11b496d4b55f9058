package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Output checks: what the sinks committed and what the server answered,
  * against the generator's oracle. Reads files with plain Java I/O, not
  * through the program.
  */
object Check {

  /** Order-insensitive digest of a set of rows. */
  def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.canon).sorted.foreach(s => md.update((s + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def opt(s: String): Option[String] = if (s.isEmpty) None else Some(s)

  /** One line of the sink's 13-column headerless CSV (no field the
    * generator writes needs quoting).
    */
  def csvRow(ck: Long, line: String): Row = {
    val f = line.split(",", -1)
    require(f.length == 13, s"expected 13 CSV fields, got ${f.length}: $line")
    Row(ck, f(0), f(1), f(2), opt(f(3)).map(_.toDouble), opt(f(4)).map(_.toDouble), opt(f(5)),
      f(6).toInt, f(7).toInt, f(8).toInt, f(9), opt(f(10)), f(11),
      Instant.parse(f(12)).getEpochSecond)
  }

  private def list(p: Path): Vector[Path] =
    if (!Files.isDirectory(p)) Vector.empty
    else { val s = Files.list(p); try s.iterator().asScala.toVector.sorted finally s.close() }

  /** Committed rows per checkpoint, from `ledgers/ledger=<hexseq>/part-*`. */
  def layoutRows(sinkRoot: Path): Map[Long, Vector[Row]] =
    list(sinkRoot.resolve("ledgers"))
      .filter(_.getFileName.toString.startsWith("ledger="))
      .map { dir =>
        val ck = java.lang.Long.parseLong(dir.getFileName.toString.stripPrefix("ledger="), 16)
        ck -> list(dir).filter(_.getFileName.toString.startsWith("part-")).flatMap { f =>
          Files.readAllLines(f, UTF_8).asScala.filter(_.nonEmpty).map(csvRow(ck, _))
        }
      }.toMap

  /** Regular files and their total bytes under `dir`. */
  def du(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  /** Checkpoints of `arch` whose committed state under `sinkRoot` is
    * wrong, with the reason (`got` is that layout's rows, as
    * [[layoutRows]] reads them): rows whose digest differs from the
    * oracle's or a missing `completed_ledgers` marker. A `last_file` that
    * is not the last sequence, or rows under a checkpoint the archive does
    * not hold, fail the last checkpoint.
    */
  def ingest(sinkRoot: Path, arch: GenArchive, got: Map[Long, Vector[Row]]): Map[Long, String] = {
    val hex = (s: Long) => f"$s%08x"
    val perCk = arch.seqs.flatMap { seq =>
      val want = arch.rows(seq)
      val have = got.getOrElse(seq, Vector.empty)
      val problems =
        (if (digest(want) != digest(have)) Seq(s"rows differ (${have.size} committed, ${want.size} expected)") else Nil) ++
        (if (!Files.exists(sinkRoot.resolve("completed_ledgers").resolve(hex(seq)))) Seq("marker missing") else Nil)
      if (problems.isEmpty) None else Some(seq -> problems.mkString(", "))
    }.toMap
    val lastFile = sinkRoot.resolve("last_file")
    val last = if (Files.exists(lastFile)) new String(Files.readAllBytes(lastFile), UTF_8).trim else "<none>"
    val stray = got.keySet -- arch.seqs
    val global =
      (if (last != hex(arch.seqs.last)) Seq(s"last_file is $last") else Nil) ++
      (if (stray.nonEmpty) Seq(s"rows under unknown checkpoints ${stray.map(hex).mkString(",")}") else Nil)
    if (global.isEmpty) perCk
    else perCk.updated(arch.seqs.last, (perCk.get(arch.seqs.last).toSeq ++ global).mkString(", "))
  }

  // ── serve ──────────────────────────────────────────────────────────

  private val mapper = new ObjectMapper()

  private def day(epochSecond: Long): String =
    Instant.ofEpochSecond(epochSecond).atZone(ZoneOffset.UTC).toLocalDate.toString

  /** The fields a served payment row carries, in one canonical string. */
  def servedCanon(r: Row): String =
    Seq[Any](r.source, r.destination, r.amount, r.memo, r.fee, r.feeCharged, r.opIndex,
      r.txStatus, r.opStatus, r.hash, day(r.time)).mkString("|")

  private def servedCanon(n: JsonNode): String = {
    def s(f: String): Option[String] = Option(n.get(f)).filterNot(_.isNull).map(_.asText)
    def d(f: String): Option[Double] = Option(n.get(f)).filterNot(_.isNull).map(_.asDouble)
    def i(f: String): Int = n.get(f).asInt
    Seq[Any](s("source").orNull, s("destination").orNull, d("amount"), s("memo_text"), i("fee"),
      i("fee_charged"), i("operation_index"), s("tx_status").orNull, s("op_status"),
      s("hash").orNull, s("time").orNull).mkString("|")
  }

  /** Rows of a JSON-array response body, canonicalised; None if the body
    * is not a JSON array of objects.
    */
  def responseRows(body: String): Option[Vector[String]] =
    try {
      val n = mapper.readTree(body)
      if (!n.isArray) None else Some(n.elements().asScala.map(servedCanon).toVector)
    } catch { case _: Exception => None }

  /** Expected responses from the oracle's payment rows. */
  final class ServeOracle(rows: Seq[Row]) {
    private val payments = rows.filter(_.kind == "payment")
    private val bySource = payments.groupBy(_.source).map { case (k, v) =>
      k -> v.sortBy(r => (r.time, r.hash, r.opIndex)) }
    private val byHash = payments.groupBy(_.hash).map { case (k, v) => k -> v.sortBy(_.opIndex) }

    def paymentsBySource(source: String, limit: Int): Vector[String] =
      bySource.getOrElse(source, Nil).take(limit).map(servedCanon).toVector

    def txByHash(hash: String): Vector[String] =
      byHash.getOrElse(hash, Nil).map(servedCanon).toVector

    def hashes: Vector[String] = byHash.keys.toVector.sorted
  }
}
