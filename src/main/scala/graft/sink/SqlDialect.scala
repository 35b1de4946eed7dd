package graft.sink

import graft.config.TableSpec

import java.sql.{Connection, SQLException}

/** One sink statement plus its BIND ORDER: `params` names the logical
  * value bound at each `?` position (the pk may legitimately appear more
  * than once — e.g. a MERGE binds it in the ON clause and again in the
  * NOT-MATCHED insert). Writers bind by looking each name up in the row,
  * so the same writer loop drives every dialect. */
final case class SinkStatement(sql: String, params: Seq[String])

/** SQL dialect abstraction for the JDBC apply path. The reference speaks
  * exactly one dialect (MySQL ODKU, `mysql.go:357-431`); factoring the
  * statement shapes out lets the SAME runtime path — prepared-statement
  * cache, shape-batched execution, offset co-commit, replay guard — run
  * against any engine. [[MySqlDialect]] preserves the reference's grammar
  * byte-for-byte (golden-tested); [[DerbyDialect]] targets embedded Apache
  * Derby with standard `MERGE INTO`, so the transactional apply + offset
  * co-commit contract is EXECUTED by a real SQL engine in tests rather
  * than only simulated by the in-memory double. */
trait SqlDialect extends Serializable {

  def name: String

  /** Upsert of `present` columns (empty = key-only touch): insert the row,
    * or on key conflict update exactly the present columns, preserving the
    * rest — the reference's partial-image contract (`mysql.go:449-476`). */
  def upsert(spec: TableSpec, present: Seq[String]): SinkStatement

  /** Full-image upsert over every declared column. */
  def upsertAll(spec: TableSpec): SinkStatement =
    upsert(spec, spec.columns.map(_.sinkName))

  def delete(spec: TableSpec): SinkStatement

  /** Offset (checkpoint) upsert; every param slot binds the offset's
    * decimal-text bytes (`mysql.go:541`). */
  def offsetUpsert: SinkStatement

  def readOffsetSql: String

  /** Idempotent state-table bootstrap (`mysql.go:128-144`). */
  def ensureStateTable(conn: Connection): Unit

  /** Render one [[SchemaSync.Ddl]] step in this dialect's grammar; None =
    * not applicable here (e.g. Derby cannot reorder columns — column
    * order is cosmetic surface from the reference's `mysql.go:267-285`,
    * so skipping it loses no data semantics). */
  def renderDdl(ddl: SchemaSync.Ddl): Option[String]

  /** Cap on concurrent sink connections for the partitioned write paths
    * (snapshot writeBatch, orphan delete, streamed apply); None = one
    * connection per input partition. A bounded fan-in is what a real
    * deployment wants anyway — a 1000-executor cluster must not open
    * 1000 connections against one sink — and the cap is applied with
    * `coalesce`, which concatenates whole parent partitions, so the
    * per-key ordered-apply contract (O1) survives: a key's ops live in
    * one parent partition and stay contiguous and in order. */
  def maxWriteConnections: Option[Int] = None

  /** One statement, closed deterministically — the state-table bootstrap
    * runs on connections the driver reuses, and an unclosed handle per
    * call eventually exhausts the server's cursor limit. */
  protected def executeUpdate(conn: Connection, sql: String): Unit = {
    val st = conn.prepareStatement(sql)
    try st.executeUpdate() finally st.close()
  }
}

/** The reference dialect: backtick quoting, `INSERT … ON DUPLICATE KEY
  * UPDATE`, `CREATE TABLE IF NOT EXISTS`. Statement text is produced by
  * [[UpsertWriter]]'s builders — the golden-tested grammar; the full-image
  * upsert is the partial one over every declared column. */
object MySqlDialect extends SqlDialect {
  override def name: String = "mysql"

  override def upsert(spec: TableSpec, present: Seq[String]): SinkStatement =
    SinkStatement(UpsertWriter.partialUpsertSql(spec, present), spec.pk +: present)

  override def delete(spec: TableSpec): SinkStatement =
    SinkStatement(UpsertWriter.deleteSql(spec), Seq(spec.pk))

  override def offsetUpsert: SinkStatement =
    SinkStatement(UpsertWriter.offsetUpsertSql, Seq("value"))

  override def readOffsetSql: String = UpsertWriter.readOffsetSql

  override def ensureStateTable(conn: Connection): Unit =
    executeUpdate(conn, UpsertWriter.createStateTableSql)

  /** The planner's own grammar IS MySQL (reference parity,
    * `mysql.go:146-290`) — rendered verbatim. */
  override def renderDdl(ddl: SchemaSync.Ddl): Option[String] = Some(ddl.sql)
}

/** Embedded Apache Derby: double-quote identifiers, ANSI `MERGE INTO` over
  * `SYSIBM.SYSDUMMY1` (Derby has no ODKU and no `CREATE TABLE IF NOT
  * EXISTS`). Used by the runtime specs to execute the apply/co-commit
  * path against a real transactional engine in-process. */
object DerbyDialect extends SqlDialect {
  override def name: String = "derby"

  private def q(ident: String): String = "\"" + ident + "\""

  /** The pk is `_id varchar(24)` everywhere (TableSpec.structType,
    * reference `mysql.go:183-198`); Derby requires a CAST on the untyped
    * `?` in the MERGE ON clause. */
  private def pkCast: String = "CAST(? AS VARCHAR(24))"

  override def upsert(spec: TableSpec, present: Seq[String]): SinkStatement = {
    val t = q(spec.name)
    val on = s"$t.${q(spec.pk)} = $pkCast"
    if (present.isEmpty) {
      // key-only touch: nothing to update on match (MySQL's no-op
      // `pk=VALUES(pk)` assignment has no Derby analog; omitting the
      // MATCHED branch is the same end state)
      SinkStatement(
        s"MERGE INTO $t USING SYSIBM.SYSDUMMY1 ON $on " +
          s"WHEN NOT MATCHED THEN INSERT (${q(spec.pk)}) VALUES (?)",
        Seq(spec.pk, spec.pk))
    } else {
      val sets = present.map(c => s"${q(c)} = ?").mkString(", ")
      val cols = (spec.pk +: present).map(q).mkString(", ")
      val vals = ("?" +: present.map(_ => "?")).mkString(", ")
      SinkStatement(
        s"MERGE INTO $t USING SYSIBM.SYSDUMMY1 ON $on " +
          s"WHEN MATCHED THEN UPDATE SET $sets " +
          s"WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($vals)",
        (spec.pk +: present) ++ (spec.pk +: present))
    }
  }

  override def delete(spec: TableSpec): SinkStatement =
    SinkStatement(
      s"DELETE FROM ${q(spec.name)} WHERE ${q(spec.pk)} = ?", Seq(spec.pk))

  override def offsetUpsert: SinkStatement =
    SinkStatement(
      s"MERGE INTO ${q(UpsertWriter.StateTable)} USING SYSIBM.SYSDUMMY1 " +
        s"ON ${q(UpsertWriter.StateTable)}.${q("name")} = '${UpsertWriter.OffsetKey}' " +
        s"WHEN MATCHED THEN UPDATE SET ${q("value")} = ? " +
        s"WHEN NOT MATCHED THEN INSERT (${q("name")}, ${q("value")}) " +
        s"VALUES ('${UpsertWriter.OffsetKey}', ?)",
      Seq("value", "value"))

  override def readOffsetSql: String =
    s"SELECT ${q("value")} FROM ${q(UpsertWriter.StateTable)} " +
      s"WHERE ${q("name")} = '${UpsertWriter.OffsetKey}'"

  /** Derby has no IF NOT EXISTS: create and swallow the
    * table-already-exists state (X0Y32). The value column is
    * `VARCHAR FOR BIT DATA` so the offset's decimal-text BYTES round-trip
    * exactly like the reference's blob (`mysql.go:541`). */
  override def ensureStateTable(conn: Connection): Unit =
    try {
      executeUpdate(conn,
        s"CREATE TABLE ${q(UpsertWriter.StateTable)} (" +
          s"${q("name")} VARCHAR(100) NOT NULL PRIMARY KEY, " +
          s"${q("value")} VARCHAR (100) FOR BIT DATA)")
    } catch {
      case e: SQLException if e.getSQLState == "X0Y32" => () // already exists
    }

  /** MySQL-declared type string → Derby column type. Families per
    * [[graft.config.SqlTypes]]; JSON-text composites land in VARCHAR. */
  private[sink] def derbyColumnType(declared: String): String = {
    val d = declared.trim.toLowerCase
    d.takeWhile(_.isLetter) match {
      case "bigint"            => "BIGINT"
      case "int" | "integer"   => "INTEGER"
      case "smallint"          => "SMALLINT"
      case "double" | "real"   => "DOUBLE"
      case "float"             => "REAL"
      case "varchar" | "char"  => d.toUpperCase
      case _                   => "VARCHAR(32672)" // blob/text/json → text
    }
  }

  /** Derby DDL for a declared table — test-harness surface (production
    * schema sync speaks the sink's own dialect; the MySQL planner is the
    * reference-parity one). */
  def createTableSql(spec: TableSpec): String = {
    val cols = spec.columns.map(c => s"${q(c.sinkName)} ${derbyColumnType(c.declaredType)}")
    s"CREATE TABLE ${q(spec.name)} (${q(spec.pk)} VARCHAR(24) NOT NULL PRIMARY KEY" +
      (if (cols.isEmpty) "" else cols.mkString(", ", ", ", "")) + ")"
  }

  /** Embedded Derby is one in-process store: many writer connections gain
    * nothing (every commit funnels into the same page cache and log) and
    * its page-write path has been observed to fail under 32-way
    * concurrent inserts (XSDAJ wrapping an internal EOFException from
    * `StoredPage.logColumn`). One connection is also reference-faithful —
    * the original applies over a single connection (`run.go:235-246`). */
  override def maxWriteConnections: Option[Int] = Some(1)

  /** [[SchemaSync.Ddl]] in Derby grammar. ReorderColumn is None: Derby
    * has no `CHANGE … AFTER`; declared-order placement is cosmetic
    * reference surface, not data semantics. */
  override def renderDdl(ddl: SchemaSync.Ddl): Option[String] = ddl match {
    case SchemaSync.CreateTable(t, pk) =>
      Some(s"CREATE TABLE ${q(t)} (${q(pk)} VARCHAR(24) NOT NULL, PRIMARY KEY (${q(pk)}))")
    case SchemaSync.DropTable(t) =>
      Some(s"DROP TABLE ${q(t)}")
    case SchemaSync.AddColumn(t, c, typ) =>
      Some(s"ALTER TABLE ${q(t)} ADD COLUMN ${q(c)} ${derbyColumnType(typ)}")
    case SchemaSync.DropColumn(t, c) =>
      Some(s"ALTER TABLE ${q(t)} DROP COLUMN ${q(c)} RESTRICT")
    case _: SchemaSync.ReorderColumn => None
  }

  /** Observed sink catalog from JDBC metadata, type strings reconstructed
    * so [[SchemaSync.typeEq]] can compare them against the declared MySQL
    * forms (width-insensitive for ints; `varchar(n)` keeps its size).
    * Declared configs executed on Derby should use the names Derby
    * reports back — `integer`/`bigint`/`smallint`/`double`/`varchar(n)`. */
  def observeCatalog(conn: Connection): SchemaSync.Catalog = {
    val md = conn.getMetaData
    val tables = scala.collection.mutable.ArrayBuffer.empty[String]
    val tr = md.getTables(null, "APP", null, Array("TABLE"))
    try while (tr.next()) tables += tr.getString("TABLE_NAME")
    finally tr.close()
    tables.map { t =>
      val cols = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      // '_' and '%' are LIKE wildcards in the getColumns table pattern:
      // unescaped, "orders_repl" would also match "ordersXrepl" and the
      // fabricated catalog would interleave a sibling table's columns —
      // which a forced plan would then DROP as strays from real data
      val esc = md.getSearchStringEscape
      val pattern = t.replace(esc, esc + esc)
        .replace("_", esc + "_").replace("%", esc + "%")
      val cr = md.getColumns(null, "APP", pattern, null) // ordered by ORDINAL_POSITION
      try while (cr.next()) {
        val name = cr.getString("COLUMN_NAME")
        val typeName = cr.getString("TYPE_NAME").toLowerCase
        val size = cr.getInt("COLUMN_SIZE")
        val rendered = typeName match {
          case "varchar" | "char" => s"$typeName($size)"
          case other              => other
        }
        cols += name -> rendered
      } finally cr.close()
      t -> cols.toSeq
    }.toMap
  }
}
