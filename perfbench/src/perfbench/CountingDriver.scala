package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** A JDBC driver for `jdbc:counting:<url>` that forwards to the driver of
  * `jdbc:<url>` and counts, from outside the sink, what the sink asks of
  * the database: statement executions (round trips), commits and rows
  * changed. The counts are exact, so they repeat run to run on the same
  * input. */
final class CountingDriver extends Driver {
  override def acceptsURL(url: String): Boolean = url.startsWith(CountingDriver.Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else CountingDriver.wrap(
      DriverManager.getConnection("jdbc:" + url.stripPrefix(CountingDriver.Prefix), info))

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("perfbench")
}

/** Counter snapshot. */
final case class JdbcCounts(roundTrips: Long, commits: Long, rows: Long) {
  def -(o: JdbcCounts): JdbcCounts =
    JdbcCounts(roundTrips - o.roundTrips, commits - o.commits, rows - o.rows)
}

object CountingDriver {
  val Prefix = "jdbc:counting:"
  private val roundTrips = new AtomicLong
  private val commits = new AtomicLong
  private val rows = new AtomicLong

  DriverManager.registerDriver(new CountingDriver)

  /** Forces registration (the object initializer registers once). */
  def register(): Unit = ()

  def counts: JdbcCounts = JdbcCounts(roundTrips.get, commits.get, rows.get)

  private def forward(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h).asInstanceOf[T]

  private def wrap(conn: Connection): Connection =
    proxy(classOf[Connection], (_: AnyRef, m: Method, args: Array[AnyRef]) => {
      val out = forward(conn, m, args)
      m.getName match {
        case "commit" => commits.incrementAndGet(); out
        case "prepareStatement" => wrapStatement(classOf[PreparedStatement], out.asInstanceOf[PreparedStatement])
        case "createStatement" => wrapStatement(classOf[Statement], out.asInstanceOf[Statement])
        case _ => out
      }
    })

  private def wrapStatement[S <: Statement](iface: Class[S], st: S): S =
    proxy(iface, (_: AnyRef, m: Method, args: Array[AnyRef]) => {
      val out = forward(st, m, args)
      m.getName match {
        case "executeUpdate" | "executeLargeUpdate" =>
          roundTrips.incrementAndGet()
          rows.addAndGet(out.asInstanceOf[Number].longValue)
        case "executeBatch" | "executeLargeBatch" =>
          roundTrips.incrementAndGet()
          val n = out match {
            case a: Array[Int] => a.iterator.filter(_ > 0).map(_.toLong).sum
            case a: Array[Long] => a.iterator.filter(_ > 0).sum
          }
          rows.addAndGet(n)
        case "executeQuery" | "execute" => roundTrips.incrementAndGet()
        case _ =>
      }
      out
    })
}
