package graft.sinks

import java.sql.{Connection, Statement}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import graft.sources.Archive

/** Sink contract mirroring the reference's storage-adapter ABC
  * (python/adapters/hc_storage_adapter.py:12-59): save a checkpoint's
  * rows and advance the offset atomically (or as close as the medium
  * allows), and recover the last committed sequence on restart.
  */
trait CheckpointSink {
  /** Persist one checkpoint's operations and record `seq` as committed.
    * Must be idempotent per `seq` (replays overwrite, never duplicate).
    */
  def save(ops: DataFrame, seq: Long): Unit

  /** Last committed sequence, if any (offset recovery, S5). */
  def lastSequence: Option[Long]

  /** Startup connection probe (K6): dry-run the medium's read/write/
    * delete permissions with a canned row and leave no trace, throwing
    * BEFORE any ingest if the sink is misconfigured — the reference's
    * `__test_connection` (python/adapters/s3_storage_adapter.py:169-192).
    */
  def selfTest(): Unit
}

/** Hive-partitioned file sink (K3/K4/K5 of SURVEY.md §2.11):
  * `<root>/ledgers/ledger=<hexseq>/` part files + an empty
  * `completed_ledgers/<hexseq>` marker + `last_file` pointer.
  *
  * Exactly-once comes from partition-overwrite idempotence: a replayed
  * checkpoint rewrites its own `ledger=` partition (INSERT OVERWRITE
  * semantics) before the marker lands — the manual rollback/compensating
  * deletes of the reference (s3_storage_adapter.py:80-108) disappear.
  * Empty checkpoints leave the marker only (P4,
  * s3_storage_adapter.py:201-203). Part files are header-less CSV, the
  * reference's layout.
  *
  * ALL I/O — the Spark partition write and the marker/pointer/probe
  * side-files — goes through the Hadoop `FileSystem` resolved from
  * `root`'s scheme, so the sink addresses any Hadoop-supported store
  * uniformly: `file:///...` or a bare local path, `hdfs://...`, or an
  * object store like `s3a://bucket/prefix` (the reference's native
  * medium, python/adapters/s3_storage_adapter.py:27-78). `java.nio`
  * would silently only ever work on local disk.
  */
final class PartitionedFileSink(root: String) extends CheckpointSink {
  private val rootPath = new HPath(root)
  private val markers = new HPath(rootPath, "completed_ledgers")
  private val lastFile = new HPath(rootPath, "last_file")

  /** FileSystem for `root`'s scheme through [[graft.Engine.fileSystem]]
    * when a Spark session exists — the conf the partition write itself
    * uses, so s3a credentials / endpoint settings set on the session
    * (`spark.conf.set`, `spark.hadoop.*`) reach the side-files too. A
    * sink probed before any session exists (`selfTest` at startup)
    * falls back to a plain Hadoop conf.
    */
  private def fs: FileSystem =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(graft.Engine.fileSystem(_, rootPath))
      .getOrElse(rootPath.getFileSystem(new Configuration()))

  private def writeFile(f: FileSystem, p: HPath, bytes: Array[Byte]): Unit = {
    val out = f.create(p, true) // overwrite: markers/pointer are idempotent
    try out.write(bytes) finally out.close()
  }

  private def readFile(f: FileSystem, p: HPath): Array[Byte] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      Iterator.continually(in.read(chunk)).takeWhile(_ >= 0)
        .foreach(n => buf.write(chunk, 0, n))
      buf.toByteArray
    } finally in.close()
  }

  override def save(ops: DataFrame, seq: Long): Unit = {
    val s = Archive.seqString(seq)
    val f = fs
    // One job: the write counts its own rows, and an empty checkpoint's
    // partition is removed after it. The `ledger` value lives ONLY in the
    // directory name (Hive partition discovery restores it on read):
    // writing it as a data column too would duplicate the partition
    // column, and the reference's 13-column CSV layout has none. A frame
    // with no columns is a marker-only commit: a file source cannot
    // write it.
    if (ops.columns.nonEmpty) {
      val target = new HPath(rootPath, s"ledgers/ledger=$s")
      val written = Observation()
      ops.observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").option("header", "false").csv(target.toString)
      if (written.get.get("rows").contains(0L)) f.delete(target, true)
    }
    f.mkdirs(markers)
    writeFile(f, new HPath(markers, s), Array.emptyByteArray)
    writeFile(f, lastFile, s.getBytes("UTF-8"))
  }

  override def lastSequence: Option[Long] = {
    val f = fs
    if (f.exists(lastFile))
      Some(java.lang.Long.parseLong(new String(readFile(f, lastFile), "UTF-8").trim, 16))
    else None
  }

  /** R/W/D probe: read the offset, write a probe file, read it back,
    * delete it (s3_storage_adapter.py:169-192 — save a canned row, then
    * roll it back).
    */
  override def selfTest(): Unit =
    try {
      lastSequence // read permission on the offset pointer
      val f = fs
      val dir = new HPath(rootPath, ".connection_probe")
      f.mkdirs(dir)
      val probe = new HPath(dir, "probe")
      val payload = "graft-selftest".getBytes("UTF-8")
      writeFile(f, probe, payload)
      if (!java.util.Arrays.equals(readFile(f, probe), payload))
        throw new IllegalStateException("probe payload did not round-trip")
      f.delete(probe, false)
      f.delete(dir, false)
    } catch {
      case e: Exception => throw new IllegalStateException(
        s"file sink self-test failed for $root (requires read/write/delete)", e)
    }

  /** Completion markers present (external-consumer parity, K4). */
  def completed: Seq[String] = {
    val f = fs
    if (f.exists(markers))
      f.listStatus(markers).map(_.getPath.getName).toSeq.sorted
    else Nil
  }
}

/** One table of a [[JdbcSink]]'s layout: its name, its columns as
  * `name -> SQL type` (NOT NULL spelled in the type), and the `type`
  * value whose rows it takes (`None`: every row).
  */
final case class JdbcTable(name: String, takes: Option[String], columns: Seq[(String, String)]) {
  def accepts(kind: String): Boolean = takes.forall(_ == kind)
  def columnNames: Seq[String] = columns.map(_._1)
  def insertSql: String =
    s"INSERT INTO $name (${columnNames.mkString(", ")}) VALUES (${columnNames.map(_ => "?").mkString(", ")})"
}

/** The two table layouts a [[JdbcSink]] writes a checkpoint's rows into. */
object JdbcLayout {
  /** One `operations` table with a `type` discriminator: the canonical
    * layout (SURVEY §1.2 documents the canonicalization).
    */
  val Unified: Seq[JdbcTable] = Seq(JdbcTable("operations", None, Seq(
    "type" -> "VARCHAR(8)", "source" -> "VARCHAR(56)", "destination" -> "VARCHAR(56)",
    "amount" -> "DOUBLE PRECISION", "starting_balance" -> "DOUBLE PRECISION",
    "memo_text" -> "VARCHAR(28)", "fee" -> "INT", "fee_charged" -> "INT",
    "operation_index" -> "INT", "tx_status" -> "TEXT", "op_status" -> "TEXT",
    "hash" -> "VARCHAR(64)", "time" -> "TIMESTAMP")))

  /** The reference adapter's own shape: payment rows in `payments`,
    * creation rows in `creations`, with its per-table columns
    * (python/adapters/postgres_storage_adapter.py:90-130), so reference
    * SQL pointed at the sink sees the tables it expects.
    */
  val TwoTable: Seq[JdbcTable] = {
    def table(name: String, kind: String, amount: String) = JdbcTable(name, Some(kind), Seq(
      "source" -> "VARCHAR(56) NOT NULL", "destination" -> "VARCHAR(56) NOT NULL",
      amount -> "DOUBLE PRECISION NOT NULL", "memo_text" -> "VARCHAR(28)",
      "fee" -> "INT NOT NULL", "fee_charged" -> "INT NOT NULL",
      "operation_index" -> "INT NOT NULL", "tx_status" -> "TEXT", "op_status" -> "TEXT",
      "hash" -> "VARCHAR(64) NOT NULL", "time" -> "TIMESTAMP NOT NULL"))
    Seq(table("payments", "payment", "amount"),
      table("creations", "creation", "starting_balance"))
  }
}

/** Transactional JDBC sink (K1/K2/K8): one database transaction inserts
  * the checkpoint's rows into the layout's tables, routed by their
  * `type`, and writes the `lastfile` pointer, then commits — the
  * reference's exactly-once contract
  * (python/adapters/postgres_storage_adapter.py:28-54). Idempotent on
  * replay: a checkpoint older than the committed `lastfile` is skipped.
  * `save` expects the unified extract (`Schemas.operations`).
  *
  * Row delivery happens on the driver via `collect()` by design: a
  * checkpoint is ≤64 ledgers of extracted ops (bounded small); for bulk
  * backfills use [[PartitionedFileSink]] or
  * `df.write.format("jdbc").option("batchsize", …)` instead.
  */
final class JdbcSink(connect: () => Connection, val layout: Seq[JdbcTable]) extends CheckpointSink {

  /** Creates the layout's tables and `lastfile`; existing tables are
    * left as they are.
    */
  def ensureSchema(): Unit = autocommit(connect) { st =>
    layout.foreach(t => st.execute(s"CREATE TABLE IF NOT EXISTS ${t.name} (" +
      t.columns.map { case (n, ty) => s"$n $ty" }.mkString(", ") + ")"))
    st.execute("CREATE TABLE IF NOT EXISTS lastfile (name VARCHAR(8) NOT NULL)")
  }

  /** One-time database bootstrap (build_database.py:30-83). Returns false
    * without touching anything if `lastfile` is already seeded (the
    * reference's "using existing database" path). Otherwise it validates
    * the first file sequence (`(seq+1) % 64 == 0` — checkpoints close at
    * 64-ledger boundaries), creates database, user and tables, grants
    * the ingest user INSERT/SELECT/DELETE on the layout's tables (the
    * reference grants INSERT/SELECT; [[selfTest]] and [[save]]'s
    * overwrite also delete) and
    * INSERT/SELECT/UPDATE on `lastfile`, and seeds `lastfile` with the
    * first file.
    *
    * Connection semantics mirror the reference's two-phase connect: the
    * server-level CREATE DATABASE / CREATE USER and the grants run only
    * when `adminConnect` is given (build_database.py connects to the
    * postgres admin DB first, then RECONNECTS to /kin for the table DDL,
    * :17-22, :63-64), the former on `adminConnect`; everything else runs
    * on the sink's own `connect`, which must point at the destination
    * database. All statements run in autocommit mode — DDL is
    * self-committing on Postgres and an explicit commit() on an
    * autocommit connection throws there.
    */
  def bootstrap(firstFile: String, adminConnect: Option[() => Connection] = None): Boolean = {
    // probe must tolerate the destination database NOT EXISTING yet (the
    // fresh-server two-phase flow: kin is only created below) — a failed
    // connect means "not seeded", not an error
    val seeded = try lastSequence.isDefined catch { case _: Exception => false }
    if (seeded) return false // existing database: leave as-is
    val seq = java.lang.Long.parseLong(firstFile.trim, 16)
    // seed validation (build_database.py:25-28): the first scanned file
    // must be the last ledger of a 64-ledger checkpoint span
    if (!Archive.isCheckpoint(seq))
      throw new IllegalArgumentException(
        s"first file $firstFile is not a checkpoint boundary ((seq+1) % 64 != 0)")
    adminConnect.foreach(autocommit(_) { st =>
      st.execute("CREATE DATABASE kin") // cannot run in a txn block
      st.execute("CREATE USER python")
    })
    ensureSchema()
    autocommit(connect) { st =>
      if (adminConnect.isDefined) {
        // DELETE too: the self-test probe and the lastfile == seq
        // overwrite both delete from the data tables
        for (t <- layout; g <- Seq("INSERT", "SELECT", "DELETE"))
          st.execute(s"GRANT $g ON ${t.name} TO python")
        Seq("INSERT", "SELECT", "UPDATE").foreach(g =>
          st.execute(s"GRANT $g ON lastfile TO python"))
      }
      // the lastfile seed runs LAST as the completion marker: with
      // autocommit DDL, a failure mid-bootstrap (e.g. in the grants)
      // must leave the database re-bootstrappable — an early seed would
      // make every retry return false at the seeded check above while
      // the ingest user permanently lacked its grants
      st.execute(s"INSERT INTO lastfile VALUES ('${firstFile.trim}')")
    }
    true
  }

  override def save(ops: DataFrame, seq: Long): Unit = {
    // STRICTLY-older checkpoints are committed replays and skip; lastfile
    // == seq is AMBIGUOUS — the reference's build_database seeds lastfile
    // with FIRST_FILE meaning "not yet ingested" (main.py:247 processes
    // it), while a restart right after this checkpoint's commit means
    // "fully ingested" — so the == case runs as an OVERWRITE: this
    // batch's row identities (hash, operation_index) are deleted in the
    // same transaction before the insert, making either reading land the
    // data exactly once. (The reference itself double-inserts in this
    // window; the overwrite keeps its semantics without its bug.)
    val last = lastSequence
    if (last.exists(_ > seq)) return // replay: already committed
    val names = ("type" +: layout.flatMap(_.columnNames)).distinct
    val at = names.zipWithIndex.toMap
    val rows = ops.select(names.map(col): _*).collect().toSeq
    transaction { c =>
      layout.foreach { t =>
        val batch = rows.filter(r => t.accepts(r.getString(at("type"))))
        if (last.contains(seq))
          executeBatch(c, s"DELETE FROM ${t.name} WHERE hash = ? AND operation_index = ?",
            batch.map(r => Seq(r.get(at("hash")), r.get(at("operation_index")))))
        executeBatch(c, t.insertSql, batch.map(r => t.columnNames.map(n => r.get(at(n)))))
      }
      // UPDATE keeps the bootstrap-seeded single row; on an unseeded
      // lastfile it touches 0 rows and the offset would never advance
      // (infinite re-ingest), so it falls back to INSERT
      val s = Archive.seqString(seq)
      val st = c.createStatement()
      if (st.executeUpdate(s"UPDATE lastfile SET name = '$s'") == 0)
        st.execute(s"INSERT INTO lastfile VALUES ('$s')")
      c.commit() // data + offset atomically (K2)
    }
  }

  // None means exactly "no offset committed yet" (lastfile exists and
  // is empty). A FAILED read — missing table, lock timeout, revoked
  // SELECT — propagates instead of masquerading as None: the save
  // guard would otherwise re-insert a committed checkpoint and the
  // tail would silently restart from the beginning (run
  // ensureSchema/bootstrap before first use; the Collector chain
  // does).
  override def lastSequence: Option[Long] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery("SELECT name FROM lastfile")
      if (rs.next()) Some(java.lang.Long.parseLong(rs.getString(1), 16)) else None
    } finally c.close()
  }

  /** Insert/select/delete probe inside one rolled-back transaction: the
    * reference's canned creation row (s3_storage_adapter.py:180-188),
    * projected into the table that takes creations, written, read back
    * by hash, deleted, then the whole transaction rolled back so no
    * trace remains even on a partially-permissioned database.
    */
  override def selfTest(): Unit = {
    val t = layout.find(_.accepts("creation")).get
    val probeHash = "a17aa64d4f0ae434dceb16501dd1d2217a59e42d555e24fdf7e17fffa13a1331"
    val row = Map[String, Any](
      "type" -> "creation",
      "source" -> "GCQTAWULBNFLBAEQLEN6FDGGCPYTVZ3Y55AB4F7HSTMQKNX3HZINMQJM",
      "destination" -> "GDDFYG3OSTSHADS7SP6TZ4XM62EQ522CI7UYJSNAETGJJCGOX66TP5Q5",
      "starting_balance" -> 10.0, "fee" -> 100, "fee_charged" -> 100, "operation_index" -> 0,
      "tx_status" -> "txFAILED", "op_status" -> "CREATE_ACCOUNT_LOW_RESERVE",
      "hash" -> probeHash, "time" -> java.sql.Timestamp.valueOf("2018-06-20 12:47:21"))
    try transaction { c =>
      executeBatch(c, t.insertSql, Seq(t.columnNames.map(row.getOrElse(_, null))))
      val rs = c.createStatement().executeQuery(
        s"SELECT hash FROM ${t.name} WHERE hash = '$probeHash'")
      if (!rs.next()) throw new IllegalStateException("probe row did not round-trip")
      c.createStatement().execute(s"DELETE FROM ${t.name} WHERE hash = '$probeHash'")
      c.rollback() // leave no trace
    } catch {
      case e: Throwable => throw new IllegalStateException(
        s"jdbc sink self-test failed for table ${t.name} (requires insert/select/delete)", e)
    }
  }

  /** Runs `body`, which ends the transaction itself, on a fresh
    * connection with autocommit off. Any throwable rolls back and is
    * rethrown: a rollback on a broken connection must not mask it.
    */
  private def transaction(body: Connection => Unit): Unit = {
    val c = connect()
    try {
      c.setAutoCommit(false)
      body(c)
    } catch {
      case e: Throwable =>
        try c.rollback() catch { case _: Throwable => () }
        throw e
    } finally c.close()
  }

  // autocommit: DDL is self-committing; an explicit commit() on a
  // fresh (autocommit-on) connection throws on Postgres
  private def autocommit(connect: () => Connection)(body: Statement => Unit): Unit = {
    val c = connect()
    try {
      c.setAutoCommit(true)
      body(c.createStatement())
    } finally c.close()
  }

  private def executeBatch(c: Connection, sql: String, rows: Seq[Seq[Any]]): Unit =
    if (rows.nonEmpty) {
      val ps = c.prepareStatement(sql)
      rows.foreach { r =>
        r.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
        ps.addBatch()
      }
      ps.executeBatch()
    }
}
