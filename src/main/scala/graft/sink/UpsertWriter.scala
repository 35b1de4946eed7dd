package graft.sink

import graft.config.TableSpec
import org.apache.spark.sql.{Column, DataFrame, Row}

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Types}
import java.util.Properties

import scala.collection.mutable
import scala.reflect.ClassTag

/** W1/W2/W3/C1: the transactional JDBC apply path (reference
  * `mysql.go:292-588`). Spark's built-in JDBC sink is append/overwrite
  * only, so upsert-with-offset-co-commit is necessarily custom — but the
  * custom part is confined to ONE executor-side loop ([[writeRows]]) and
  * one driver-side connection pair ([[withConnection]], [[inTransaction]]):
  * the plan upstream stays declarative.
  *
  * Exactly-once contract (SURVEY §7 "hard parts"): `foreachBatch` may
  * replay a micro-batch after failure. Safety =
  *   (a) idempotent statements (`INSERT … ON DUPLICATE KEY UPDATE`,
  *       keyed DELETE — replays converge, `mysql.go:357-374`), plus
  *   (b) the batch's max offset committed AFTER all partitions' data
  *       transactions, in its own driver-side transaction (the C1
  *       ordering; the reference co-commits on its ONE connection,
  *       `mysql.go:563-588` — with parallel executor connections the
  *       window between data-commit and offset-commit is closed by (a)
  *       and (c), not by a shared transaction), plus
  *   (c) skip-if-already-applied: the apply skips ops STRICTLY below the
  *       stored offset ([[readOffset]], read once per query by
  *       `Replicator.startStream`) — replays after a crash in the
  *       (b)-window re-apply only the unrecorded suffix plus the
  *       boundary-ts ops, which (a) makes free; ops AT the stored ts are
  *       never skipped because a later entry may legally share that ts.
  *
  * SQL generation is pure and golden-tested against the MySQL grammar;
  * the connection path is executed by the in-memory JDBC double and by
  * embedded Derby ([[DerbyDialect]]).
  */
object UpsertWriter {

  val StateTable = "momyre" // reference mysql.go:128-144
  val OffsetKey  = "timestamp"

  /** Partial-image upsert: only `present` columns are written on conflict
    * (parity with `mysql.go:449-476`, absent field → column omitted). An
    * empty present set (an update touching only unmapped columns) uses
    * the `pk=VALUES(pk)` no-op assignment — MySQL rejects a bare
    * `ON DUPLICATE KEY UPDATE` with no assignment list. */
  def partialUpsertSql(spec: TableSpec, present: Seq[String]): String = {
    val cols = spec.pk +: present
    val collist = cols.map(c => s"`$c`").mkString(", ")
    val placeholders = cols.map(_ => "?").mkString(", ")
    val updates =
      if (present.isEmpty) s"`${spec.pk}`=VALUES(`${spec.pk}`)"
      else present.map(c => s"`$c`=VALUES(`$c`)").mkString(", ")
    s"INSERT INTO `${spec.name}` ($collist) VALUES ($placeholders) ON DUPLICATE KEY UPDATE $updates"
  }

  def deleteSql(spec: TableSpec): String =
    s"DELETE FROM `${spec.name}` WHERE `${spec.pk}` = ?" // mysql.go:516-523

  /** C1: offset upsert, co-committed with data (reference `mysql.go:563-588`). */
  def offsetUpsertSql: String =
    s"INSERT INTO `$StateTable` (`name`, `value`) VALUES ('$OffsetKey', ?) " +
      "ON DUPLICATE KEY UPDATE `value`=VALUES(`value`)"

  def readOffsetSql: String =
    s"SELECT `value` FROM `$StateTable` WHERE `name` = '$OffsetKey'" // mysql.go:108-123

  /** Read the stored offset (checkpoint), None if absent/unparseable —
    * the resume position (`mysql.go:108-126`: missing row → 0) and the
    * replay guard's comparison point. The blob value is decimal text,
    * parity with `mysql.go:541`.
    *
    * Only a MISSING state table maps to None (a syntax-class error, what
    * MySQL raises for ER_NO_SUCH_TABLE and Derby for 42X05). Any other
    * SQLException — a transient connection/lock failure — propagates:
    * swallowing it as None would read as offset 0 and trigger a spurious
    * full from-scratch resync of every table. */
  def readOffset(conn: Connection, dialect: SqlDialect = MySqlDialect): Option[Long] =
    try {
      // close statement + cursor deterministically: callers reuse one
      // driver-side connection across micro-batches, and an unclosed
      // handle per batch eventually exhausts the server's cursor limit
      val ps = conn.prepareStatement(dialect.readOffsetSql)
      try {
        val rs = ps.executeQuery()
        try {
          if (rs.next()) {
            val v = rs.getObject(1) match {
              case b: Array[Byte] => new String(b, "UTF-8")
              case s: String      => s
              case other          => String.valueOf(other)
            }
            v.toLongOption
          } else None
        } finally rs.close()
      } finally ps.close()
    } catch { case _: java.sql.SQLSyntaxErrorException => None } // state table absent

  def createStateTableSql: String = // mysql.go:128-144
    s"CREATE TABLE IF NOT EXISTS `$StateTable` (`name` varchar(100) NOT NULL, " +
      "`value` blob, PRIMARY KEY (`name`))"

  /** Rows per JDBC batch: each statement's open batch is flushed at this
    * size (≈ `rewriteBatchedStatements`). */
  private[graft] val applyBatchSize = 1000

  /** One connection for `f`, closed after it (auto-commit left on). */
  def withConnection[A](url: String, props: Properties)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  /** `f` in one transaction: commit on return, roll back on any throw.
    * The rollback runs before the close, so a failure surfaces its own
    * error — closing over an open transaction throws instead (Derby
    * `25001`) and would hide it — and leaves no locks held. */
  def inTransaction[A](url: String, props: Properties)(f: Connection => A): A =
    withConnection(url, props) { conn =>
      conn.setAutoCommit(false)
      try {
        val a = f(conn)
        conn.commit()
        a
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
          throw e
      }
    }

  /** The executor-side write loop every sink path runs (snapshot, orphan
    * delete, streamed apply), as ONE Spark action. `partition` maps a
    * partition's rows to the writes they make (a row may make none; a
    * write is a statement and the value bound to each named param) and to
    * a summary, read once the rows are consumed and returned from the
    * same job. A partition that writes applies its writes in ONE
    * transaction on one connection.
    *
    * Partitioning is decided here, from the sink's writer cap
    * (`dialect.maxWriteConnections`). Without a `key` (snapshot, orphan
    * delete) the frame keeps its partitions, coalesced to the cap. With a
    * `key` (the streamed apply) each partition receives whole keys, sorted
    * by `key ++ order`, and the exchange width is the sink's writer cap:
    * no cap hash-partitions by `key` at the session's shuffle width; a cap
    * `n > 1` hash-partitions into `n`; a cap of 1 coalesces to one
    * partition with no exchange at all, since every key is then already in
    * that partition and the sort makes its run contiguous and ordered. The
    * trade-off of one writer: the batch's input splits are read and
    * decoded in the writer's one task, not in parallel map tasks ahead of
    * it (those ran before the writer, one stage after the other, anyway).
    *
    * Caller contract: the writes of one partition COMMUTE. Each prepared
    * statement (cached per SQL text) keeps its own open JDBC batch, flushed
    * at [[applyBatchSize]] rows and at partition end, so writes run grouped
    * by statement, not in the order they were made. The snapshot and the
    * orphan delete make one statement each; the streamed apply folds each
    * key's ops to one net write first (`Replicator.applyBatch`). About one
    * round trip per statement per [[applyBatchSize]] rows, not one per row
    * (the reference round-trips per op, `mysql.go:410-415`). */
  private[graft] def writeRows[A: ClassTag](df: DataFrame, url: String, props: Properties,
      dialect: SqlDialect, key: Seq[Column] = Nil, order: Seq[Column] = Nil)(
      partition: Iterator[Row] => (Iterator[(SinkStatement, String => Any)], () => A)): Array[A] = {
    val bounded = forWriters(df, dialect, key, order)
    bounded.rdd.mapPartitions { rows =>
      val (writes, summary) = partition(rows)
      if (writes.hasNext) inTransaction(url, props) { conn =>
        // first-use order, so the end-of-partition flushes are deterministic
        val open = mutable.LinkedHashMap.empty[String, OpenBatch]
        writes.foreach { case (stmt, valueOf) =>
          val batch = open.getOrElseUpdate(stmt.sql,
            new OpenBatch(conn.prepareStatement(stmt.sql), stmt.params.length))
          batch.add(stmt.params, valueOf)
          if (batch.pending >= applyBatchSize) batch.flush()
        }
        open.valuesIterator.foreach(_.flush())
      }
      Iterator.single(summary())
    }.collect()
  }

  /** The frame [[writeRows]] writes: `df` spread over the sink's writers. */
  private[sink] def forWriters(df: DataFrame, dialect: SqlDialect, key: Seq[Column],
      order: Seq[Column]): DataFrame =
    if (key.isEmpty) dialect.maxWriteConnections.fold(df)(df.coalesce)
    else {
      val spread = dialect.maxWriteConnections match {
        case Some(1) => df.coalesce(1)
        case Some(n) => df.repartition(n, key: _*)
        case None    => df.repartition(key: _*)
      }
      spread.sortWithinPartitions(key ++ order: _*)
    }

  /** A prepared statement and its open JDBC batch. Derby (and other strict
    * engines) reject `setObject(i, null)` without a type, so each param's
    * NULL type is read from the statement's metadata once, here — VARCHAR
    * where the JDBC driver reports none; MySQL and the test double accept
    * either form. */
  private final class OpenBatch(st: PreparedStatement, params: Int) {
    private val nullTypes: Array[Int] = {
      val md = try Option(st.getParameterMetaData) catch { case _: SQLException => None }
      Array.tabulate(params) { i =>
        try md.fold(Types.VARCHAR)(_.getParameterType(i + 1))
        catch { case _: SQLException => Types.VARCHAR }
      }
    }
    var pending = 0

    /** Bind in the dialect's declared param order, so the same loop drives
      * ODKU (pk + present) and MERGE (pk twice). */
    def add(params: Seq[String], valueOf: String => Any): Unit = {
      var i = 0
      params.foreach { name =>
        valueOf(name) match {
          case null => st.setNull(i + 1, nullTypes(i))
          case v    => st.setObject(i + 1, v)
        }
        i += 1
      }
      st.addBatch()
      pending += 1
    }

    def flush(): Unit = if (pending > 0) { st.executeBatch(); pending = 0 }
  }

  /** W3 snapshot side: full-image upsert of every row of `df`, one
    * transaction per partition (the reference commits one tx per row,
    * `run.go:235-246`). No offset is written here: `Replicator.run`
    * commits the pinned feed head once every table's snapshot succeeds. */
  def writeBatch(
      df: DataFrame,
      spec: TableSpec,
      url: String,
      props: Properties,
      dialect: SqlDialect = MySqlDialect): Unit = {
    val stmt = dialect.upsertAll(spec)
    val idxBySink = (spec.pk +: spec.columns.map(_.sinkName))
      .map(c => c -> df.columns.indexOf(c)).toMap
    require(idxBySink.values.forall(_ >= 0), s"batch is missing declared columns for ${spec.name}")
    writeRows(df, url, props, dialect)(rows => (rows.map(r => (stmt, (c: String) => r.get(idxBySink(c)))), () => ()))
  }

  /** Driver-side offset co-commit for a completed micro-batch (C1). */
  def commitOffset(conn: Connection, offset: Long,
      dialect: SqlDialect = MySqlDialect): Unit = {
    val stmt = dialect.offsetUpsert
    val st: PreparedStatement = conn.prepareStatement(stmt.sql)
    try {
      val bytes = offset.toString.getBytes("UTF-8") // blob value, parity with mysql.go:541
      stmt.params.indices.foreach(i => st.setBytes(i + 1, bytes))
      st.executeUpdate(): Unit
    } finally st.close()
  }
}
