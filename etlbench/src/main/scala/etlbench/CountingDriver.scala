package etlbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, ResultSet, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** Counts at the `graft.io.Sinks` boundary: a JDBC driver for
  * `jdbc:etlbench:<derby url tail>` that delegates to embedded Derby
  * and counts connections, statements, batches, rows by kind and
  * commits, and the time spent inside Derby calls. Executors run in
  * the driver JVM (local mode), so one set of process-wide counters
  * sees both the driver-side DDL/DELETE brackets and the executor-side
  * appends and keyed updates.
  */
object CountingDriver {
  val Prefix = "jdbc:etlbench:"

  /** Derby URL → counting URL (same database). */
  def countingUrl(derbyUrl: String): String = Prefix + derbyUrl.stripPrefix("jdbc:derby:")

  final class Counters {
    val connections, statements, batches, batchRows, commits = new AtomicLong
    val inserted, updated, deleted, read, dbNanos = new AtomicLong
    def reset(): Unit = Seq(connections, statements, batches, batchRows,
      commits, inserted, updated, deleted, read, dbNanos).foreach(_.set(0L))
  }
  val counters = new Counters

  @volatile private var registered = false

  /** Registers the driver with DriverManager and Derby's dialect with
    * Spark under [[Prefix]]. Idempotent.
    */
  def register(): Unit = synchronized {
    if (!registered) {
      DriverManager.registerDriver(new CountingDriver)
      org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
        org.apache.spark.sql.jdbc.BenchSeams.derbyDialectFor(Prefix))
      registered = true
    }
  }

  private def timed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally counters.dbNanos.addAndGet(System.nanoTime() - t0)
  }

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h).asInstanceOf[T]

  private def countRows(sql: String, n: Long): Unit = if (n > 0) {
    val head = sql.trim.takeWhile(!_.isWhitespace).toUpperCase
    head match {
      case "INSERT" => counters.inserted.addAndGet(n)
      case "UPDATE" => counters.updated.addAndGet(n)
      case "DELETE" => counters.deleted.addAndGet(n)
      case _        => ()
    }
  }

  private def wrapConnection(c: Connection): Connection =
    proxy(classOf[Connection], new InvocationHandler {
      def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "createStatement" =>
          counters.statements.incrementAndGet()
          wrapStatement(CountingDriver.invoke(c, m, args).asInstanceOf[Statement], classOf[Statement], None, c)
        case "prepareStatement" =>
          counters.statements.incrementAndGet()
          wrapStatement(CountingDriver.invoke(c, m, args).asInstanceOf[PreparedStatement],
            classOf[PreparedStatement], Some(args(0).toString), c)
        case "commit" =>
          counters.commits.incrementAndGet()
          timed(CountingDriver.invoke(c, m, args))
        case _ => CountingDriver.invoke(c, m, args)
      }
    })

  private def wrapStatement[S <: Statement](s: S, iface: Class[S], prepared: Option[String],
                                            conn: Connection): S =
    proxy(iface, new InvocationHandler {
      private def sqlOf(args: Array[AnyRef]): String =
        prepared.getOrElse(if (args != null && args.nonEmpty) String.valueOf(args(0)) else "")
      private def autoCommitWrite(): Unit =
        if (conn.getAutoCommit) counters.commits.incrementAndGet()
      def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "executeBatch" | "executeLargeBatch" =>
          counters.batches.incrementAndGet()
          val r = timed(CountingDriver.invoke(s, m, args))
          val counts: Array[Long] = r match {
            case a: Array[Int]  => a.map(_.toLong)
            case a: Array[Long] => a
            case _              => Array.emptyLongArray
          }
          counters.batchRows.addAndGet(counts.length.toLong)
          countRows(sqlOf(null),
            counts.iterator.map(x => if (x == Statement.SUCCESS_NO_INFO) 1L else math.max(x, 0L)).sum)
          autoCommitWrite()
          r
        case "executeUpdate" | "executeLargeUpdate" =>
          val r = timed(CountingDriver.invoke(s, m, args))
          countRows(sqlOf(args), r match {
            case i: java.lang.Integer => i.longValue
            case l: java.lang.Long    => l.longValue
            case _                    => 0L
          })
          autoCommitWrite()
          r
        case "execute" =>
          val r = timed(CountingDriver.invoke(s, m, args)).asInstanceOf[java.lang.Boolean]
          if (!r.booleanValue) { countRows(sqlOf(args), s.getUpdateCount.toLong); autoCommitWrite() }
          r
        case "executeQuery" =>
          wrapResultSet(timed(CountingDriver.invoke(s, m, args)).asInstanceOf[ResultSet])
        case "getResultSet" =>
          val rs = CountingDriver.invoke(s, m, args).asInstanceOf[ResultSet]
          if (rs == null) null else wrapResultSet(rs)
        case _ => CountingDriver.invoke(s, m, args)
      }
    })

  private def wrapResultSet(rs: ResultSet): ResultSet =
    proxy(classOf[ResultSet], new InvocationHandler {
      def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "next" =>
          val r = timed(CountingDriver.invoke(rs, m, args)).asInstanceOf[java.lang.Boolean]
          if (r.booleanValue) counters.read.incrementAndGet()
          r
        case _ => CountingDriver.invoke(rs, m, args)
      }
    })
}

/** The `java.sql.Driver` behind [[CountingDriver.Prefix]]. */
class CountingDriver extends Driver {
  import CountingDriver._
  private lazy val derby: Driver = new org.apache.derby.jdbc.EmbeddedDriver()

  def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val c = timed(derby.connect("jdbc:derby:" + url.stripPrefix(Prefix), info))
      counters.connections.incrementAndGet()
      wrapConnection(c)
    }

  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    derby.getPropertyInfo("jdbc:derby:" + url.stripPrefix(Prefix), info)
  def getMajorVersion: Int = derby.getMajorVersion
  def getMinorVersion: Int = derby.getMinorVersion
  def jdbcCompliant(): Boolean = derby.jdbcCompliant()
  def getParentLogger: java.util.logging.Logger = derby.getParentLogger
}
