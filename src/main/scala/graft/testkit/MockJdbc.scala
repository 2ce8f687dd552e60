package graft.testkit

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement, SQLException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** In-memory `java.sql.Driver` test double for exercising the JDBC
  * merge sink end-to-end with no database in the container: records
  * every prepared statement + bound parameters, counts connections and
  * execute attempts, and can inject deadlock SQLExceptions — the
  * engine-side analog of the reference's live-DB consumer suite
  * (`spec/active_record_batch_consumer_spec.rb:82-876` runs against
  * SQLite/Postgres/MySQL; `spec/utils/deadlock_retry_spec.rb` injects
  * deadlocks).
  *
  * URL scheme: `jdbc:graftmock:<dbName>`. State is JVM-static, so
  * executor-side `foreachPartition` code (same JVM under local[N])
  * records into the same [[Db]]. The JDBC surface is implemented via
  * dynamic proxies — only the calls the merge path makes are
  * meaningful; everything else is a benign default.
  */
object MockJdbc {

  final case class Exec(sql: String, params: Seq[Any])

  final class Db {
    /** Successfully executed statements, in completion order. */
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
    /** Every executeUpdate attempt, including ones that deadlocked. */
    val attempts = new AtomicInteger(0)
    val connectionsOpened = new AtomicInteger(0)
    /** Each executeUpdate consumes one pending deadlock while > 0. */
    val deadlocksRemaining = new AtomicInteger(0)
    /** Attempts that run before pending deadlocks start to fire, so a
      * deadlock can hit mid-transaction. */
    val deadlockAfter = new AtomicInteger(0)
    def execList: List[Exec] = {
      val it = execs.iterator()
      val b = List.newBuilder[Exec]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }

  private val dbs = new ConcurrentHashMap[String, Db]()

  def db(name: String): Db = dbs.computeIfAbsent(name, _ => new Db)

  def reset(name: String): Db = { dbs.remove(name); db(name) }

  val UrlPrefix = "jdbc:graftmock:"

  private def proxy[T](iface: Class[T])(handler: (String, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
          val r = handler(m.getName, if (args == null) Array.empty else args)
          if (r != null) r
          else m.getReturnType match {
            case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
            case java.lang.Integer.TYPE => Integer.valueOf(0)
            case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
            case _ => null
          }
        }
      }).asInstanceOf[T]

  /** ConcurrentHashMap rejects null values, but real drivers accept
    * setObject(i, null) — nulls ride in a sentinel and unwrap at
    * executeUpdate so NULL-column merges exercise the product path. */
  private object NullParam

  private def statementFor(d: Db, sql: String): PreparedStatement = {
    val params = new java.util.concurrent.ConcurrentHashMap[Int, Any]()
    proxy(classOf[PreparedStatement]) {
      case ("setObject", args) =>
        params.put(args(0).asInstanceOf[Integer].intValue(),
          if (args(1) == null) NullParam else args(1)); null
      case ("executeUpdate", _) =>
        if (d.attempts.incrementAndGet() > d.deadlockAfter.get() &&
            d.deadlocksRemaining.getAndUpdate(n => math.max(0, n - 1)) > 0)
          throw new SQLException(
            "Deadlock found when trying to get lock; try restarting transaction",
            "40001")
        val ordered = params.keySet().toArray(Array.empty[Integer])
          .sorted.map(i => params.get(i.intValue()) match {
            case NullParam => null
            case v => v
          }).toSeq
        d.execs.add(Exec(sql, ordered))
        Integer.valueOf(ordered.size)
      case ("close", _) | ("clearParameters", _) => null
      case ("toString", _) => s"MockPreparedStatement($sql)"
      case _ => null
    }
  }

  private def connectionFor(d: Db): Connection =
    proxy(classOf[Connection]) {
      case ("prepareStatement", args) =>
        statementFor(d, args(0).asInstanceOf[String])
      case ("toString", _) => "MockConnection"
      case _ => null
    }

  object DriverImpl extends java.sql.Driver {
    override def connect(url: String,
        info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val d = db(url.stripPrefix(UrlPrefix))
        d.connectionsOpened.incrementAndGet()
        connectionFor(d)
      }
    override def acceptsURL(url: String): Boolean =
      url != null && url.startsWith(UrlPrefix)
    override def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger =
      throw new java.sql.SQLFeatureNotSupportedException()
  }

  @volatile private var installed = false

  /** Register the mock driver with DriverManager (idempotent). */
  def install(): Unit = synchronized {
    if (!installed) {
      java.sql.DriverManager.registerDriver(DriverImpl)
      installed = true
    }
  }
}
