package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement, ResultSet, Statement}
import scala.collection.mutable

/** Minimal in-memory transactional JDBC fake (reflection proxies) — just
  * enough surface for the JDBC sinks' protocol: staged per-table writes
  * that only become visible on commit, discarded on rollback, plus the
  * bootstrap DDL/GRANT statements (accepted and logged).
  */
final class FakeDb {
  val tables: mutable.Map[String, Vector[Seq[Any]]] =
    mutable.Map.empty.withDefaultValue(Vector.empty)
  var lastfile: Option[String] = None
  /** CREATE DATABASE/USER, ALTER, GRANT statements seen (bootstrap log). */
  val ddl: mutable.Buffer[String] = mutable.Buffer.empty
  /** Every SQL text run or prepared, in order. */
  val statements: mutable.Buffer[String] = mutable.Buffer.empty
  /** when set, executeBatch throws — fault injection for rollback tests */
  @volatile var failBatch: Boolean = false
  /** when set, only INSERT batches throw: a failure after a staged DELETE */
  @volatile var failInserts: Boolean = false
  var commits: Int = 0
  var rollbacks: Int = 0

  /** The unified single-table sink's rows (back-compat accessor). */
  def ops: Vector[Seq[Any]] = tables("operations")

  def connection(): Connection = new FakeConn(this).asConnection
}

private final class FakeConn(db: FakeDb) {
  private val staged: mutable.Map[String, Vector[Seq[Any]]] =
    mutable.Map.empty.withDefaultValue(Vector.empty)
  private var stagedLast: Option[Option[String]] = None
  /** prepared DELETEs of this txn: per table, the parameter rows whose
    * committed matches go on commit
    */
  private val stagedDeletes: mutable.Map[String, Vector[Seq[Any]]] =
    mutable.Map.empty.withDefaultValue(Vector.empty)
  // JDBC default: autocommit on — each statement flushes immediately;
  // sinks opt into transactions with setAutoCommit(false)
  private var autoCommit: Boolean = true

  // a fake-fidelity positional match on the DELETE's (hash, op_index)
  // parameter values
  private def deleted(tbl: String)(row: Seq[Any]): Boolean =
    stagedDeletes(tbl).exists(_.forall(p => row.contains(p)))

  /** What this connection sees of `tbl`: committed rows less its staged
    * deletes, plus its staged inserts.
    */
  private def visible(tbl: String): Vector[Seq[Any]] =
    db.tables(tbl).filterNot(deleted(tbl)) ++ staged(tbl)

  private def flush(): Unit = {
    (stagedDeletes.keySet ++ staged.keySet).foreach(tbl => db.tables(tbl) = visible(tbl))
    stagedLast.foreach(v => db.lastfile = v)
    staged.clear(); stagedDeletes.clear(); stagedLast = None
  }

  private def maybeAutoFlush(): Unit = if (autoCommit) flush()

  private val insertTableRe = "INSERT INTO (\\w+)".r
  private val hashTableRe = "FROM (\\w+)".r

  private def proxy[T](cls: Class[T])(handle: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(cls.getClassLoader, Array(cls), new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
        val a = if (args == null) Array.empty[AnyRef] else args
        handle.applyOrElse((m.getName, a), { (_: (String, Array[AnyRef])) =>
          m.getReturnType match {
            case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
            case java.lang.Integer.TYPE => Integer.valueOf(0)
            case _ => null
          }
        })
      }
    }).asInstanceOf[T]

  private def resultSet(rows: Seq[Seq[Any]]): ResultSet = {
    var idx = -1
    proxy(classOf[ResultSet]) {
      case ("next", _) =>
        idx += 1; java.lang.Boolean.valueOf(idx < rows.size)
      case ("getString", Array(i: Integer)) =>
        rows(idx)(i - 1).asInstanceOf[AnyRef].toString
    }
  }

  private def exec(sql: String): AnyRef = {
    val s = sql.trim
    db.statements += s
    if (s.startsWith("CREATE TABLE")) java.lang.Boolean.TRUE
    else if (s.startsWith("CREATE") || s.startsWith("GRANT") || s.startsWith("ALTER")) {
      db.ddl += s; java.lang.Boolean.TRUE // bootstrap DDL: accept and log
    } else if (s.startsWith("DELETE FROM lastfile")) { stagedLast = Some(None); java.lang.Boolean.TRUE }
    else if (s.startsWith("INSERT INTO lastfile")) {
      val v = "'([0-9a-f]{8})'".r.findFirstMatchIn(s).get.group(1)
      stagedLast = Some(Some(v)); java.lang.Boolean.TRUE
    } else if (s.startsWith("UPDATE lastfile")) {
      // real UPDATE semantics: touches the row only if one exists
      // (committed, or staged in this txn) — applying unconditionally
      // would make the sink's INSERT-fallback test vacuous
      if (stagedLast.map(_.isDefined).getOrElse(db.lastfile.isDefined)) {
        val v = "'([0-9a-f]{8})'".r.findFirstMatchIn(s).get.group(1)
        stagedLast = Some(Some(v))
      }
      java.lang.Boolean.TRUE
    } else if (s.startsWith("SELECT name FROM lastfile")) resultSet(db.lastfile.map(Seq[Any](_)).toSeq)
    else if (s.startsWith("SELECT hash FROM")) {
      // self-test probe lookup: rows of that table (committed or staged in
      // this txn) whose any column equals the quoted hash
      val tbl = hashTableRe.findFirstMatchIn(s).get.group(1)
      val h = "'([0-9a-f]{64})'".r.findFirstMatchIn(s).get.group(1)
      resultSet(visible(tbl).filter(_.contains(h)).map(_ => Seq[Any](h)))
    } else if (s.startsWith("DELETE FROM")) {
      val tbl = hashTableRe.findFirstMatchIn(s).get.group(1)
      val h = "'([0-9a-f]{64})'".r.findFirstMatchIn(s).map(_.group(1))
      h.foreach(hash => staged(tbl) = staged(tbl).filterNot(_.contains(hash)))
      java.lang.Boolean.TRUE
    } else throw new IllegalArgumentException(s"FakeDb cannot handle: $s")
  }

  private def statement(): Statement = proxy(classOf[Statement]) {
    case ("execute", Array(sql: String)) =>
      val r = exec(sql) match {
        case b: java.lang.Boolean => b
        case _ => java.lang.Boolean.TRUE
      }
      maybeAutoFlush(); r
    case ("executeUpdate", Array(sql: String)) =>
      // row-count semantics for the UPDATE-vs-INSERT offset fallback:
      // UPDATE lastfile touches 1 row iff a row exists (committed or
      // staged in this txn), 0 otherwise
      val existed = sql.trim.startsWith("UPDATE lastfile") &&
        (stagedLast.map(_.isDefined).getOrElse(db.lastfile.isDefined))
      exec(sql)
      maybeAutoFlush()
      Integer.valueOf(if (sql.trim.startsWith("UPDATE lastfile") && !existed) 0 else 1)
    case ("executeQuery", Array(sql: String)) => exec(sql)
  }

  private def prepared(sql: String): PreparedStatement = {
    db.statements += sql.trim
    val isDelete = sql.trim.startsWith("DELETE FROM")
    val tbl =
      if (isDelete) hashTableRe.findFirstMatchIn(sql).map(_.group(1)).getOrElse("operations")
      else insertTableRe.findFirstMatchIn(sql).map(_.group(1)).getOrElse("operations")
    val current = mutable.Map[Int, Any]()
    val batch = mutable.Buffer[Seq[Any]]()
    proxy(classOf[PreparedStatement]) {
      case ("setObject", Array(i: Integer, v)) => current(i.toInt) = v; null
      case ("addBatch", _) =>
        batch += (1 to current.keys.max).map(current.getOrElse(_, null)); current.clear(); null
      case ("executeBatch", _) =>
        if (db.failBatch || (db.failInserts && !isDelete))
          throw new java.sql.SQLException("injected failure")
        if (isDelete) {
          // prepared DELETE ... WHERE hash = ? AND operation_index = ?
          // (the sinks' first-file overwrite path): this txn's staged
          // rows go now, the committed ones on commit
          stagedDeletes(tbl) = stagedDeletes(tbl) ++ batch.toVector
          staged(tbl) = staged(tbl).filterNot(deleted(tbl))
          batch.clear()
        } else {
          staged(tbl) = staged(tbl) ++ batch.toVector; batch.clear()
        }
        maybeAutoFlush(); Array.emptyIntArray
    }
  }

  def asConnection: Connection = proxy(classOf[Connection]) {
    case ("createStatement", _) => statement()
    case ("prepareStatement", Array(sql: String)) => prepared(sql)
    case ("setAutoCommit", Array(b: java.lang.Boolean)) =>
      autoCommit = b.booleanValue(); null
    case ("commit", _) =>
      if (autoCommit) throw new java.sql.SQLException("cannot commit when autoCommit is enabled")
      flush()
      db.commits += 1; null
    case ("rollback", _) =>
      staged.clear(); stagedDeletes.clear(); stagedLast = None; db.rollbacks += 1; null
    case ("close", _) => null
  }
}
