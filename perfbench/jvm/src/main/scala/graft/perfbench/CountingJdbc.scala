package graft.perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong
import java.util.logging.Logger

/** A JDBC driver for `jdbc:counting:<url>` that opens `jdbc:<url>` and counts
  * what the program does with it: connections, commits and round trips
  * (each execute, executeBatch, commit or rollback is one). */
object CountingJdbc {
  val Prefix = "jdbc:counting:"
  val connections = new AtomicLong
  val commits = new AtomicLong
  val roundTrips = new AtomicLong

  def snapshot(): Map[String, Long] = Map(
    "connections" -> connections.get, "commits" -> commits.get,
    "round_trips" -> roundTrips.get)

  private val executes = Set("execute", "executeQuery", "executeUpdate",
    "executeBatch", "executeLargeUpdate", "executeLargeBatch")

  private class Handler(target: AnyRef) extends InvocationHandler {
    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val name = m.getName
      if (executes(name) || name == "commit" || name == "rollback") roundTrips.incrementAndGet()
      if (name == "commit") commits.incrementAndGet()
      val out =
        try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
        catch { case e: InvocationTargetException => throw e.getCause }
      out match {
        case st: PreparedStatement => wrap(st, classOf[PreparedStatement])
        case st: Statement         => wrap(st, classOf[Statement])
        case other                 => other
      }
    }
  }

  private def wrap[T](target: T, iface: Class[T]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target.asInstanceOf[AnyRef])).asInstanceOf[T]

  final class CountingDriver extends Driver {
    override def connect(url: String, info: Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val c = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
        connections.incrementAndGet()
        wrap(c, classOf[Connection])
      }
    override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
      Array.empty
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: Logger = Logger.getGlobal
  }

  lazy val register: Unit = DriverManager.registerDriver(new CountingDriver)
}
