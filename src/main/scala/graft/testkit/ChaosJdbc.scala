package graft.testkit

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, PreparedStatement, SQLException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Crash-injection JDBC wrapper for exactly-once replay tests: a
  * `jdbc:graftchaos:<name>` URL delegates every call to a REAL
  * connection on the registered target URL, but `executeUpdate`
  * throws once the armed statement budget is spent — the merge dies
  * MID-BATCH, as on an executor loss. Transaction calls pass through,
  * so what the store keeps is what the merge committed before the
  * crash (the merge paths roll the crashed group back). Disarm and
  * re-run the batch to assert the at-least-once + idempotent-merge
  * contract (T1): the replay must converge to the same final state a
  * clean single application produces.
  *
  * The injected failure's message/SQLState deliberately match NONE of
  * [[graft.operators.JdbcMerger.withDeadlockRetry]]'s retryable
  * signatures: a chaos kill must surface as a task failure, not be
  * absorbed by the in-place deadlock retry.
  *
  * Reference contract: at-least-once consumption with key-idempotent
  * upserts (`batch_consumption.rb:143-164`).
  */
object ChaosJdbc {

  val UrlPrefix = "jdbc:graftchaos:"

  private final class State(val realUrl: String, failAfter: Int) {
    val budget = new AtomicInteger(failAfter)
    /** Statements that really executed on the target. */
    val applied = new AtomicInteger(0)
  }
  private val states = new ConcurrentHashMap[String, State]()

  /** Register a chaos scope: statements 1..failAfter execute on
    * `realUrl`, every later one throws. Returns the chaos URL. */
  def arm(name: String, realUrl: String, failAfter: Int): String = {
    install()
    states.put(name, new State(realUrl, failAfter))
    UrlPrefix + name
  }

  /** Lift the budget — the chaos URL becomes a pass-through. */
  def disarm(name: String): Unit =
    states.get(name).budget.set(Int.MaxValue)

  /** How many statements actually executed on the target so far. */
  def applied(name: String): Int = states.get(name).applied.get()

  private def delegating[T](iface: Class[T], target: AnyRef)(
      intercept: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          if (intercept.isDefinedAt((m.getName, a))) intercept((m.getName, a))
          else
            try m.invoke(target, a: _*)
            catch { case e: InvocationTargetException => throw e.getCause }
        }
      }).asInstanceOf[T]

  private def wrapStatement(ps: PreparedStatement,
      st: State): PreparedStatement =
    delegating(classOf[PreparedStatement], ps) {
      case ("executeUpdate", a) if a.isEmpty =>
        if (st.budget.getAndDecrement() <= 0)
          throw new SQLException(
            "chaos: injected crash mid-batch (budget exhausted)", "57014")
        val r = ps.executeUpdate()
        st.applied.incrementAndGet()
        Integer.valueOf(r)
    }

  private object ChaosDriver extends Driver {
    override def acceptsURL(url: String): Boolean =
      url != null && url.startsWith(UrlPrefix)
    override def connect(url: String,
        info: java.util.Properties): Connection = {
      if (!acceptsURL(url)) return null
      val st = states.get(url.substring(UrlPrefix.length))
      require(st != null, s"chaos url $url was never armed")
      val real = DriverManager.getConnection(st.realUrl)
      delegating(classOf[Connection], real) {
        case ("prepareStatement", a) if a.length == 1 =>
          wrapStatement(real.prepareStatement(a(0).asInstanceOf[String]), st)
      }
    }
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty
    override def getParentLogger =
      throw new java.sql.SQLFeatureNotSupportedException()
  }

  @volatile private var installed = false
  def install(): Unit = synchronized {
    if (!installed) { DriverManager.registerDriver(ChaosDriver); installed = true }
  }
}
