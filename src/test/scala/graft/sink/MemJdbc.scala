package graft.sink

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, PreparedStatement}
import java.util.Properties

import scala.collection.mutable

/** Minimal in-memory JDBC double for exercising [[UpsertWriter]]'s real
  * runtime path (foreachPartition → DriverManager → prepared statements →
  * batch → commit) without an external RDBMS. Interprets exactly the SQL
  * shapes UpsertWriter generates: `INSERT … ON DUPLICATE KEY UPDATE`,
  * `DELETE … WHERE pk = ?`, and the state-table upsert. Transactional:
  * statements stage into the connection and apply atomically on commit;
  * rollback discards. Thread-safe (many partitions write concurrently).
  */
object MemJdbc {
  val UrlPrefix = "jdbc:graftmem:"

  /** db name → table name → pk → row (column → value). */
  private val dbs = mutable.Map.empty[String, mutable.Map[String, mutable.Map[String, Map[String, Any]]]]

  /** db name → table name → ordered (column, declaredType) — tracked from
    * executed DDL so `Connection.getMetaData` can serve the observed
    * catalog like a real server (the `SHOW TABLES`/`SHOW COLUMNS` leg). */
  private val catalogs = mutable.Map.empty[String, mutable.Map[String, Vector[(String, String)]]]

  def catalog(db: String): Map[String, Seq[(String, String)]] =
    dbs.synchronized { catalogs.getOrElse(db, mutable.Map.empty).toMap }

  /** db → JDBC-call counters ("prepare", "executeBatch", "executeUpdate",
    * "addBatch", "close" of a statement) — lets specs assert statement
    * reuse, batching and that statements are closed. */
  private val counters = mutable.Map.empty[String, mutable.Map[String, Int]]

  def table(db: String, name: String): Map[String, Map[String, Any]] =
    dbs.synchronized {
      dbs.getOrElse(db, mutable.Map.empty).getOrElse(name, mutable.Map.empty).toMap
    }

  def stats(db: String): Map[String, Int] =
    dbs.synchronized { counters.getOrElse(db, mutable.Map.empty).toMap }

  def reset(db: String): Unit =
    dbs.synchronized { dbs.remove(db); counters.remove(db); catalogs.remove(db) }

  private def bump(db: String, key: String): Unit = dbs.synchronized {
    val c = counters.getOrElseUpdate(db, mutable.Map.empty)
    c(key) = c.getOrElse(key, 0) + 1
  }

  private case class StagedRow(table: String, cols: Seq[String], values: Seq[Any])
  private case class StagedDelete(table: String, id: Any)

  private val InsertRe =
    """INSERT INTO `([^`]+)` \(([^)]+)\) VALUES \(([^)]*)\).*""".r
  private val DeleteRe =
    """DELETE FROM `([^`]+)` WHERE `[^`]+` = \?""".r

  // Registered once; DriverManager then serves every partition's connect.
  DriverManager.registerDriver(proxy[Driver] {
    case ("acceptsURL", Seq(url: String)) => java.lang.Boolean.valueOf(url.startsWith(UrlPrefix))
    case ("connect", Seq(url: String, _)) =>
      if (url.startsWith(UrlPrefix)) connection(url.stripPrefix(UrlPrefix)) else null
  })

  def connect(db: String): Connection =
    DriverManager.getConnection(UrlPrefix + db, new Properties())

  private def connection(db: String): Connection = {
    val staged = mutable.ArrayBuffer.empty[Any]
    proxy[Connection] {
      case ("prepareStatement", Seq(sql: String)) => bump(db, "prepare"); statement(db, sql, staged)
      case ("getMetaData", _)                     => metaData(db)
      case ("getCatalog", _)                      => db
      case ("setAutoCommit", _) | ("close", _)    => null
      case ("rollback", _)                        => staged.clear(); null
      case ("commit", _) =>
        dbs.synchronized {
          val tables = dbs.getOrElseUpdate(db, mutable.Map.empty)
          staged.foreach {
            case StagedRow(t, cols, values) =>
              val rows = tables.getOrElseUpdate(t, mutable.Map.empty)
              val pk = values.head.toString
              val updates = cols.zip(values).toMap
              // INSERT … ON DUPLICATE KEY UPDATE col=VALUES(col):
              // new row wins for the provided columns, old values survive
              rows(pk) = rows.getOrElse(pk, Map.empty) ++ updates
            case StagedDelete(t, id) =>
              tables.get(t).foreach(_.remove(id.toString))
          }
        }
        staged.clear(); null
    }
  }

  private val SelectRe =
    """SELECT `([^`]+)` FROM `([^`]+)` WHERE `([^`]+)` = '([^']*)'""".r

  // ---- DDL interpretation into the tracked catalog ----------------------
  private val CreateRe = """CREATE TABLE (?:IF NOT EXISTS )?`([^`]+)` \((.*)\)""".r
  private val DropTableRe = """DROP TABLE `([^`]+)`""".r
  private val AddColRe = """ALTER TABLE `([^`]+)` ADD COLUMN `([^`]+)` (.+?)(?: NULL| NOT NULL)?""".r
  private val DropColRe = """ALTER TABLE `([^`]+)` DROP COLUMN `([^`]+)`""".r
  private val ChangeColRe =
    """ALTER TABLE `([^`]+)` CHANGE `([^`]+)` `([^`]+)` (.+?)(?: NULL| NOT NULL)?(?: AFTER `([^`]+)`| FIRST)?""".r

  private def applyDdl(db: String, sql: String): Unit = dbs.synchronized {
    val cat = catalogs.getOrElseUpdate(db, mutable.Map.empty)
    sql match {
      case CreateRe(t, body) =>
        if (cat.contains(t)) {
          if (!sql.contains("IF NOT EXISTS"))
            throw new java.sql.SQLSyntaxErrorException(s"table $t already exists")
        } else {
          cat(t) = body.split(", (?=`|PRIMARY KEY)").toVector
            .filterNot(_.startsWith("PRIMARY KEY"))
            .map { d =>
              val m = """`([^`]+)` (.+?)(?: NOT NULL| NULL)?$""".r
                .findFirstMatchIn(d).get
              m.group(1) -> m.group(2)
            }
        }
      case DropTableRe(t) =>
        cat.remove(t); dbs.getOrElse(db, mutable.Map.empty).remove(t)
      case AddColRe(t, c, typ) =>
        cat(t) = cat.getOrElse(t, Vector.empty) :+ (c -> typ)
      case DropColRe(t, c) =>
        cat(t) = cat.getOrElse(t, Vector.empty).filterNot(_._1 == c)
      case ChangeColRe(t, from, to, typ, after) =>
        val without = cat.getOrElse(t, Vector.empty).filterNot(_._1 == from)
        val idx = Option(after).map(a => without.indexWhere(_._1 == a) + 1).getOrElse(0)
        cat(t) = (without.take(idx) :+ (to -> typ)) ++ without.drop(idx)
      case _ => () // unreachable: grammar gate admits only the shapes above
    }
  }

  /** LIKE-pattern (with escape) → regex — the JDBC metadata pattern
    * semantics a real driver implements; `_`/`%` are wildcards UNLESS
    * escaped, which is exactly what Daemon.observedCatalog must get
    * right for underscore-bearing table names. */
  private def likeToRegex(pattern: String, esc: String): String = {
    val e = esc.headOption.getOrElse('\\')
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == e && i + 1 < pattern.length) {
        sb ++= java.util.regex.Pattern.quote(pattern.charAt(i + 1).toString); i += 2
      } else {
        c match {
          case '%'   => sb ++= ".*"
          case '_'   => sb += '.'
          case other => sb ++= java.util.regex.Pattern.quote(other.toString)
        }
        i += 1
      }
    }
    sb.toString
  }

  /** One-row-at-a-time ResultSet over (columnLabel → value) maps. */
  private def resultSet(rows: Seq[Map[String, Any]]): java.sql.ResultSet = {
    var i = -1
    proxy[java.sql.ResultSet] {
      case ("next", _) =>
        i += 1; java.lang.Boolean.valueOf(i < rows.length)
      case ("getString", Seq(label: String)) => rows(i)(label).asInstanceOf[AnyRef]
      case ("getInt", Seq(label: String)) =>
        Integer.valueOf(rows(i)(label).asInstanceOf[Int])
    }
  }

  private def metaData(db: String): java.sql.DatabaseMetaData =
    proxy[java.sql.DatabaseMetaData] {
      case ("getSearchStringEscape", _) => "\\"
      case ("getTables", Seq(_, _, pattern: String, _)) =>
        val re = likeToRegex(pattern, "\\").r
        val names = dbs.synchronized {
          catalogs.getOrElse(db, mutable.Map.empty).keys.toSeq.sorted
        }
        resultSet(names.filter(re.matches).map(t => Map("TABLE_NAME" -> t)))
      case ("getColumns", Seq(_, _, tablePattern: String, colPattern: String)) =>
        val tre = likeToRegex(tablePattern, "\\").r
        val cre = likeToRegex(colPattern, "\\").r
        val rows = dbs.synchronized {
          catalogs.getOrElse(db, mutable.Map.empty).toSeq.sortBy(_._1).flatMap {
            case (t, cols) if tre.matches(t) =>
              cols.collect { case (c, typ) if cre.matches(c) =>
                // real drivers report the base TYPE_NAME + COLUMN_SIZE
                val m = """([a-z]+)(?:\((\d+)[^)]*\))?""".r.findFirstMatchIn(typ).get
                Map[String, Any]("COLUMN_NAME" -> c,
                  "TYPE_NAME" -> m.group(1),
                  "COLUMN_SIZE" -> Option(m.group(2)).map(_.toInt).getOrElse(0))
              }
            case _ => Seq.empty
          }
        }
        resultSet(rows)
    }

  private def statement(db: String, sql: String, staged: mutable.ArrayBuffer[Any]): PreparedStatement = {
    // Grammar gate BEFORE interpretation: any statement a MySQL 8 server
    // would reject fails here, in every spec that touches the JDBC path.
    MySqlGrammar.validate(sql)
    val params = mutable.Map.empty[Int, Any]
    def stage(): Unit = sql match {
      case InsertRe(table, collist, valuelist) =>
        val cols = collist.split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
        // value items are either ? placeholders (bound params, in order) or
        // inline 'literals' (the state-table key, mysql.go:541)
        var p = 0
        val values = valuelist.split(",").map(_.trim).toSeq.map {
          case "?" => p += 1; params.getOrElse(p, null)
          case lit => lit.stripPrefix("'").stripSuffix("'")
        }
        staged += StagedRow(table, cols, values)
      case DeleteRe(table) =>
        staged += StagedDelete(table, params(1))
      case SelectRe(_, _, _, _) => // read-only, nothing staged
      case ddl if ddl.startsWith("CREATE") || ddl.startsWith("ALTER") ||
                  ddl.startsWith("DROP") => applyDdl(db, ddl) // catalog tracked
      case other => throw new IllegalArgumentException(s"MemJdbc: unsupported SQL: $other")
    }
    // point SELECT against COMMITTED state (offset read, mysql.go:108-123)
    def query(): AnyRef = sql match {
      case SelectRe(valueCol, table, keyCol, keyLit) =>
        val hit = dbs.synchronized {
          dbs.getOrElse(db, mutable.Map.empty).getOrElse(table, mutable.Map.empty)
            .values.find(_.get(keyCol).exists(_.toString == keyLit))
            .flatMap(_.get(valueCol))
        }
        var consumed = false
        proxy[java.sql.ResultSet] {
          case ("next", _) =>
            val has = hit.isDefined && !consumed; consumed = true
            java.lang.Boolean.valueOf(has)
          case ("getObject", Seq(_: Integer)) => hit.orNull.asInstanceOf[AnyRef]
        }
      case other => throw new IllegalArgumentException(s"MemJdbc: unsupported query: $other")
    }
    proxy[PreparedStatement] {
      case ("setObject", Seq(i: Integer, v)) => params(i.toInt) = v; null
      case ("setBytes", Seq(i: Integer, v))  => params(i.toInt) = v; null
      case ("addBatch", _)                   => bump(db, "addBatch"); stage(); params.clear(); null
      case ("executeBatch", _)               => bump(db, "executeBatch"); Array.emptyIntArray
      case ("executeQuery", _)               => query()
      case ("executeUpdate", _)              => bump(db, "executeUpdate"); stage(); params.clear(); Integer.valueOf(1)
      case ("close", _)                      => bump(db, "close"); null
    }
  }

  /** Interface proxy: partial function handles the calls we care about;
    * anything unhandled returns a type-appropriate default. */
  private def proxy[T](handler: PartialFunction[(String, Seq[AnyRef]), AnyRef])(
      implicit ct: scala.reflect.ClassTag[T]): T =
    Proxy.newProxyInstance(
      getClass.getClassLoader,
      Array(ct.runtimeClass),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
          val key = (m.getName, Option(args).map(_.toSeq).getOrElse(Seq.empty))
          if (handler.isDefinedAt(key)) handler(key)
          else m.getReturnType match {
            case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
            case java.lang.Integer.TYPE => Integer.valueOf(0)
            case _                      => null
          }
        }
      }).asInstanceOf[T]
}
