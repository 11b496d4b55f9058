package graft.sinks

import java.sql.Connection
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
  private def seqStr(seq: Long) = f"$seq%08x"
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
    val s = seqStr(seq)
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

/** The JDBC sinks' offset read: the single-row `lastfile` pointer. */
private[sinks] object LastFile {
  // None means exactly "no offset committed yet" (lastfile exists and
  // is empty). A FAILED read — missing table, lock timeout, revoked
  // SELECT — propagates instead of masquerading as None: the save
  // guard would otherwise re-insert a committed checkpoint and the
  // tail would silently restart from the beginning (run
  // ensureSchema/bootstrap before first use; the Collector chain
  // does).
  def read(connect: () => Connection): Option[Long] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery("SELECT name FROM lastfile")
      if (rs.next()) Some(java.lang.Long.parseLong(rs.getString(1), 16)) else None
    } finally c.close()
  }
}

/** Transactional JDBC sink (K1/K2): one database transaction inserts the
  * checkpoint's rows and upserts the `lastfile` pointer, then commits —
  * the reference's exactly-once contract
  * (python/adapters/postgres_storage_adapter.py:28-54). Idempotent on
  * replay: a checkpoint ≤ the committed `lastfile` is skipped.
  *
  * Row delivery happens on the driver via `collect()` by design: a
  * checkpoint is ≤64 ledgers of extracted ops (bounded small); for bulk
  * backfills use [[PartitionedFileSink]] or
  * `df.write.format("jdbc").option("batchsize", …)` instead.
  */
final class JdbcTxnSink(
    connect: () => Connection,
    table: String = "operations") extends CheckpointSink {

  def ensureSchema(): Unit = {
    val c = connect()
    try {
      // autocommit: DDL is self-committing; an explicit commit() on a
      // fresh (autocommit-on) connection throws on Postgres
      c.setAutoCommit(true)
      val st = c.createStatement()
      st.execute(
        s"""CREATE TABLE IF NOT EXISTS $table (
           |  type VARCHAR(8), source VARCHAR(56), destination VARCHAR(56),
           |  amount DOUBLE PRECISION, starting_balance DOUBLE PRECISION,
           |  memo_text VARCHAR(28), fee INT, fee_charged INT,
           |  operation_index INT, tx_status TEXT, op_status TEXT,
           |  hash VARCHAR(64), time TIMESTAMP)""".stripMargin)
      st.execute("CREATE TABLE IF NOT EXISTS lastfile (name VARCHAR(8))")
    } finally c.close()
  }

  private val columns = Seq("type", "source", "destination", "amount",
    "starting_balance", "memo_text", "fee", "fee_charged",
    "operation_index", "tx_status", "op_status", "hash", "time")

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
    val rows = ops.select(columns.map(col): _*).collect()
    val hashIdx = columns.indexOf("hash")
    val opIdx = columns.indexOf("operation_index")
    val c = connect()
    try {
      c.setAutoCommit(false)
      if (last.contains(seq) && rows.nonEmpty) {
        val del = c.prepareStatement(
          s"DELETE FROM $table WHERE hash = ? AND operation_index = ?")
        rows.foreach { r =>
          del.setObject(1, r.get(hashIdx)); del.setObject(2, r.get(opIdx))
          del.addBatch()
        }
        del.executeBatch()
      }
      val ps = c.prepareStatement(
        s"INSERT INTO $table (${columns.mkString(", ")}) VALUES (${columns.map(_ => "?").mkString(", ")})")
      rows.foreach { r =>
        columns.indices.foreach(i => ps.setObject(i + 1, r.get(i)))
        ps.addBatch()
      }
      ps.executeBatch()
      val st = c.createStatement()
      st.execute("DELETE FROM lastfile")
      st.execute(s"INSERT INTO lastfile (name) VALUES ('${f"$seq%08x"}')")
      c.commit() // data + offset atomically (K2)
    } catch {
      case e: Throwable =>
        // a rollback on a broken connection must not mask the original
        // failure (the selfTest methods already guard theirs)
        try c.rollback() catch { case _: Throwable => () }
        throw e
    } finally c.close()
  }

  override def lastSequence: Option[Long] = LastFile.read(connect)

  /** Insert/select/delete probe inside one rolled-back transaction: the
    * reference's canned creation row (s3_storage_adapter.py:180-188),
    * written, read back, deleted, then the whole transaction rolled back
    * so no trace remains even on a partially-permissioned database.
    */
  override def selfTest(): Unit = {
    val probeHash = "a17aa64d4f0ae434dceb16501dd1d2217a59e42d555e24fdf7e17fffa13a1331"
    val row: Seq[Any] = Seq(
      "creation",
      "GCQTAWULBNFLBAEQLEN6FDGGCPYTVZ3Y55AB4F7HSTMQKNX3HZINMQJM",
      "GDDFYG3OSTSHADS7SP6TZ4XM62EQ522CI7UYJSNAETGJJCGOX66TP5Q5",
      null, 10.0, null, 100, 100, 0,
      "txFAILED", "CREATE_ACCOUNT_LOW_RESERVE",
      probeHash, java.sql.Timestamp.valueOf("2018-06-20 12:47:21"))
    val c = connect()
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(
        s"INSERT INTO $table (${columns.mkString(", ")}) VALUES (${columns.map(_ => "?").mkString(", ")})")
      row.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
      ps.addBatch()
      ps.executeBatch()
      val rs = c.createStatement().executeQuery(
        s"SELECT hash FROM $table WHERE hash = '$probeHash'")
      if (!rs.next()) throw new IllegalStateException("probe row did not round-trip")
      c.createStatement().execute(s"DELETE FROM $table WHERE hash = '$probeHash'")
      c.rollback() // leave no trace
    } catch {
      case e: Throwable =>
        try c.rollback() catch { case _: Throwable => () }
        throw new IllegalStateException(
          s"jdbc sink self-test failed for table $table (requires insert/select/delete)", e)
    } finally c.close()
  }
}

/** Reference-fidelity two-table JDBC sink: payment rows land in
  * `payments`, creation rows in `creations`, with the exact per-table
  * column sets of the reference's Postgres adapter
  * (python/adapters/postgres_storage_adapter.py:90-130) — one database
  * transaction per checkpoint inserts both batches and UPDATEs the
  * seeded single-row `lastfile` pointer
  * (postgres_storage_adapter.py:49-52), then commits.
  *
  * [[JdbcTxnSink]]'s unified `operations` table remains the canonical
  * layout (SURVEY §1.2 documents the canonicalization); this variant
  * exists so a consumer pointing reference SQL at the sink sees the
  * reference's own shape. `save` expects the unified extract (the
  * `type`-discriminated union from Extract.operations) and routes rows
  * by discriminator.
  *
  * [[bootstrap]] mirrors build_database.py:30-83: skip if the database
  * is already seeded, validate the first file sequence
  * (`(seq+1) % 64 == 0` — checkpoints close at 64-ledger boundaries),
  * create database/user/tables, seed `lastfile` with the first file, and
  * grant the ingest user its minimal INSERT/SELECT/UPDATE set.
  */
final class JdbcTwoTableSink(connect: () => Connection) extends CheckpointSink {
  private val paymentCols = Seq("source", "destination", "amount", "memo_text",
    "fee", "fee_charged", "operation_index", "tx_status", "op_status", "hash", "time")
  private val creationCols = Seq("source", "destination", "starting_balance", "memo_text",
    "fee", "fee_charged", "operation_index", "tx_status", "op_status", "hash", "time")

  /** One-time database bootstrap (build_database.py:30-83). Returns false
    * without touching anything if `lastfile` is already seeded (the
    * reference's "using existing database" path).
    *
    * Connection semantics mirror the reference's two-phase connect: the
    * server-level CREATE DATABASE / CREATE USER run on `adminConnect`
    * when provided (build_database.py connects to the postgres admin DB
    * first, then RECONNECTS to /kin for the table DDL, :17-22, :63-64);
    * everything else runs on the sink's own `connect`, which must point
    * at the destination database. All statements run in autocommit mode
    * — DDL is self-committing on Postgres and an explicit commit() on an
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
    adminConnect.foreach { ac =>
      val a = ac()
      try {
        a.setAutoCommit(true) // CREATE DATABASE cannot run in a txn block
        val st = a.createStatement()
        st.execute("CREATE DATABASE kin")
        st.execute("CREATE USER python")
      } finally a.close()
    }
    val c = connect()
    try {
      c.setAutoCommit(true)
      val st = c.createStatement()
      def ddl(tbl: String, amountCol: String): Unit =
        st.execute(s"""CREATE TABLE IF NOT EXISTS $tbl (
          |  source VARCHAR(56) NOT NULL, destination VARCHAR(56) NOT NULL,
          |  $amountCol DOUBLE PRECISION NOT NULL, memo_text VARCHAR(28),
          |  fee INT NOT NULL, fee_charged INT NOT NULL, operation_index INT NOT NULL,
          |  tx_status TEXT, op_status TEXT, hash VARCHAR(64) NOT NULL,
          |  time TIMESTAMP NOT NULL)""".stripMargin)
      ddl("payments", "amount")
      ddl("creations", "starting_balance")
      st.execute("CREATE TABLE IF NOT EXISTS lastfile (name VARCHAR(8) NOT NULL)")
      if (adminConnect.isDefined) {
        for {
          tbl <- Seq("payments", "creations")
          g <- Seq("INSERT", "SELECT")
        } st.execute(s"GRANT $g ON $tbl TO python")
        Seq("INSERT", "SELECT", "UPDATE").foreach(g =>
          st.execute(s"GRANT $g ON lastfile TO python"))
      }
      // the lastfile seed runs LAST as the completion marker: with
      // autocommit DDL, a failure mid-bootstrap (e.g. in the grants)
      // must leave the database re-bootstrappable — an early seed would
      // make every retry return false at the seeded check above while
      // the ingest user permanently lacked its grants
      st.execute(s"INSERT INTO lastfile VALUES ('${firstFile.trim}')")
      true
    } finally c.close()
  }

  override def save(ops: DataFrame, seq: Long): Unit = {
    // same first-file/replay adjudication as JdbcTxnSink.save: strictly
    // older → skip; == seq → overwrite this batch's row identities in
    // the same transaction (the bootstrap-seeded lastfile names a file
    // the reference considers NOT yet ingested)
    val last = lastSequence
    if (last.exists(_ > seq)) return // replay: already committed
    val unified = Seq("type", "source", "destination", "amount", "starting_balance",
      "memo_text", "fee", "fee_charged", "operation_index", "tx_status", "op_status",
      "hash", "time")
    val rows = ops.select(unified.map(col): _*).collect()
    val byName = unified.zipWithIndex.toMap
    val c = connect()
    try {
      c.setAutoCommit(false)
      def insert(tbl: String, cols: Seq[String], kind: String): Unit = {
        val batch = rows.filter(_.getString(byName("type")) == kind)
        if (batch.nonEmpty) {
          if (last.contains(seq)) {
            val del = c.prepareStatement(
              s"DELETE FROM $tbl WHERE hash = ? AND operation_index = ?")
            batch.foreach { r =>
              del.setObject(1, r.get(byName("hash")))
              del.setObject(2, r.get(byName("operation_index")))
              del.addBatch()
            }
            del.executeBatch()
          }
          val ps = c.prepareStatement(
            s"INSERT INTO $tbl (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})")
          batch.foreach { r =>
            cols.zipWithIndex.foreach { case (cn, i) => ps.setObject(i + 1, r.get(byName(cn))) }
            ps.addBatch()
          }
          ps.executeBatch()
        }
      }
      insert("payments", paymentCols, "payment")
      insert("creations", creationCols, "creation")
      // UPDATE assumes the bootstrap-seeded single row; on an unseeded
      // lastfile it would silently touch 0 rows and the offset would
      // never advance (infinite re-ingest), so fall back to INSERT
      val st = c.createStatement()
      if (st.executeUpdate(s"UPDATE lastfile SET name = '${f"$seq%08x"}'") == 0)
        st.execute(s"INSERT INTO lastfile VALUES ('${f"$seq%08x"}')")
      c.commit() // both tables + offset atomically (K2)
    } catch {
      case e: Throwable =>
        try c.rollback() catch { case _: Throwable => () }
        throw e
    } finally c.close()
  }

  override def lastSequence: Option[Long] = LastFile.read(connect)

  /** Canned creation row written to `creations`, read back, deleted, all
    * inside one rolled-back transaction (the reference's probe uses a
    * creation row too, s3_storage_adapter.py:180-188).
    */
  override def selfTest(): Unit = {
    val probeHash = "a17aa64d4f0ae434dceb16501dd1d2217a59e42d555e24fdf7e17fffa13a1331"
    val row: Seq[Any] = Seq(
      "GCQTAWULBNFLBAEQLEN6FDGGCPYTVZ3Y55AB4F7HSTMQKNX3HZINMQJM",
      "GDDFYG3OSTSHADS7SP6TZ4XM62EQ522CI7UYJSNAETGJJCGOX66TP5Q5",
      10.0, null, 100, 100, 0,
      "txFAILED", "CREATE_ACCOUNT_LOW_RESERVE",
      probeHash, java.sql.Timestamp.valueOf("2018-06-20 12:47:21"))
    val c = connect()
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(
        s"INSERT INTO creations (${creationCols.mkString(", ")}) VALUES (${creationCols.map(_ => "?").mkString(", ")})")
      row.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
      ps.addBatch()
      ps.executeBatch()
      val rs = c.createStatement().executeQuery(
        s"SELECT hash FROM creations WHERE hash = '$probeHash'")
      if (!rs.next()) throw new IllegalStateException("probe row did not round-trip")
      c.createStatement().execute(s"DELETE FROM creations WHERE hash = '$probeHash'")
      c.rollback() // leave no trace
    } catch {
      case e: Throwable =>
        try c.rollback() catch { case _: Throwable => () }
        throw new IllegalStateException(
          "jdbc two-table self-test failed (requires insert/select/delete on creations)", e)
    } finally c.close()
  }
}
