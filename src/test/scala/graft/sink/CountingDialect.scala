package graft.sink

import java.sql.Connection
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.config.TableSpec

/** [[MySqlDialect]] that counts its statement renderings — lets specs
  * assert that the apply renders each shape once per partition and that a
  * query reads the stored offset once. A JVM-wide singleton: a local-mode
  * task deserializes this same object, so its calls land in these counters. */
object CountingDialect extends SqlDialect {
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()
  private def bump(key: String): Unit =
    counts.computeIfAbsent(key, _ => new AtomicInteger()).incrementAndGet(): Unit

  def count(key: String): Int = Option(counts.get(key)).fold(0)(_.get)
  def reset(): Unit = counts.clear()

  override def name: String = "counting-mysql"
  override def upsert(spec: TableSpec, present: Seq[String]): SinkStatement = {
    bump("upsert"); MySqlDialect.upsert(spec, present)
  }
  override def delete(spec: TableSpec): SinkStatement = {
    bump("delete"); MySqlDialect.delete(spec)
  }
  override def offsetUpsert: SinkStatement = MySqlDialect.offsetUpsert
  override def readOffsetSql: String = { bump("readOffset"); MySqlDialect.readOffsetSql }
  override def ensureStateTable(conn: Connection): Unit = MySqlDialect.ensureStateTable(conn)
  override def renderDdl(ddl: SchemaSync.Ddl): Option[String] = MySqlDialect.renderDdl(ddl)
}
