package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

/** Database-side view of the `ops.Jdbc` layer, for traced runs.
  *
  * [[install]] puts a pass-through driver in front of the embedded Derby
  * driver, so every connection the program opens — from the driver
  * thread or from Spark tasks — is counted. While [[recording]] is set,
  * each connection is wrapped and every statement execution is timed
  * and classed by what the program was doing: `append` (Spark's JDBC
  * writer inserts), `upsert` (UPDATE, and INSERT on a connection that
  * also updates), `delete`, `ddl` (plain statements) and `query`.
  */
object JdbcProbe {
  val kinds = Seq("append", "upsert", "delete", "ddl", "query")
  @volatile var recording = false
  val connections = new LongAdder
  val failed = new LongAdder
  private val nanos = kinds.map(_ -> new LongAdder).toMap
  private val rowCounts = kinds.map(_ -> new LongAdder).toMap

  def seconds(kind: String): Double = nanos(kind).sum() / 1e9
  def rows(kind: String): Long = rowCounts(kind).sum()

  /** The embedded Derby driver every probe driver passes through to. */
  @volatile private[perfbench] var delegate: Driver = _

  def install(): Unit = synchronized {
    if (delegate == null) {
      val probeUrl = "jdbc:derby:memory:perfbench_probe"
      val derby = DriverManager.getDrivers.asScala.toList
        .filter(d => scala.util.Try(d.acceptsURL(probeUrl)).getOrElse(false))
      require(derby.nonEmpty, "no JDBC driver for embedded Derby on the classpath")
      derby.foreach(DriverManager.deregisterDriver)
      delegate = derby.head
      DriverManager.registerDriver(new ProbeDriver)
    }
  }

  private[perfbench] def onConnect(url: String, c: Connection): Connection = {
    if (c != null && !url.contains(";drop=true")) connections.increment()
    if (c == null || !recording) c else wrapConnection(c)
  }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h).asInstanceOf[T]

  private def wrapConnection(c: Connection): Connection =
    proxy(classOf[Connection], new InvocationHandler {
      private var updates = false
      def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
        val r = call(c, m, args)
        m.getName match {
          case "prepareStatement" =>
            val sql = args(0).toString.trim.toUpperCase
            val kind =
              if (sql.startsWith("UPDATE")) { updates = true; "upsert" }
              else if (sql.startsWith("DELETE")) "delete"
              else if (sql.startsWith("INSERT")) (if (updates) "upsert" else "append")
              else "query"
            wrapStatement(r.asInstanceOf[PreparedStatement], classOf[PreparedStatement], kind)
          case "createStatement" =>
            wrapStatement(r.asInstanceOf[Statement], classOf[Statement], "ddl")
          case _ => r
        }
      }
    })

  private def wrapStatement[S <: Statement](s: S, iface: Class[S], kind: String): S =
    proxy(iface, new InvocationHandler {
      def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
        if (!m.getName.startsWith("execute")) call(s, m, args)
        else {
          val t0 = System.nanoTime()
          val r = try call(s, m, args)
          catch { case e: Throwable => failed.increment(); throw e }
          finally nanos(kind).add(System.nanoTime() - t0)
          r match {
            case n: java.lang.Integer if n > 0 => rowCounts(kind).add(n.longValue)
            case a: Array[Int] => rowCounts(kind).add(a.map(n => if (n == Statement.SUCCESS_NO_INFO) 1 else math.max(n, 0)).sum)
            case _ =>
          }
          r
        }
    })
}

/** The pass-through driver of [[JdbcProbe]]. Top-level with a no-argument
  * constructor: Spark's JDBC writer instantiates the driver class it reads
  * off `DriverManager`. */
final class ProbeDriver extends Driver {
  private def delegate = JdbcProbe.delegate
  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val c = try delegate.connect(url, info)
      catch { case e: Throwable => JdbcProbe.failed.increment(); throw e }
      JdbcProbe.onConnect(url, c)
    }
  def acceptsURL(url: String): Boolean = delegate.acceptsURL(url)
  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    delegate.getPropertyInfo(url, info)
  def getMajorVersion: Int = delegate.getMajorVersion
  def getMinorVersion: Int = delegate.getMinorVersion
  def jdbcCompliant(): Boolean = delegate.jdbcCompliant()
  def getParentLogger: java.util.logging.Logger = delegate.getParentLogger
}
