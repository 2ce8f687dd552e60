package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a benchmark-side call into a public API of the engine. */
final case class SpanRec(runId: String, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each public call, kept in memory and written out when the
  * run ends. The open span's id rides on the calling thread as a Spark
  * local property, so every job the call launches is tagged with it and
  * the listener can map stages and tasks back to spans. With tracing off
  * a span is just its body. */
final class Tracer(val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** The open unit span, the parent of spans opened on other threads
    * (the streaming query's micro-batch thread). */
  @volatile private var unitSpan = 0L

  def unit[T](name: String)(body: => T): T =
    if (!enabled) body
    else span(name) { unitSpan = stack.get().head; try body finally unitSpan = 0L }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = SparkSession.getDefaultSession.map(_.sparkContext)
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val parent = outer.headOption.getOrElse(unitSpan)
      val prevProp = sc.map(_.getLocalProperty(Tracer.SpanProp)).orNull
      stack.set(id :: outer)
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(SpanRec(runId, id, parent, name, t0, System.nanoTime()))
        stack.set(outer)
        sc.foreach(_.setLocalProperty(Tracer.SpanProp, prevProp))
      }
    }

  def durations(name: String): Seq[Double] =
    spans.asScala.filter(_.name == name).map(_.seconds).toSeq

  /** Per span name: total self time, the span's duration minus the part
    * of it that its child spans cover. */
  def selfTimes: Seq[(String, Double)] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.name -> ((s.endNs - s.startNs - covered) / 1e9)
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s"""{"run": "${s.runId}", "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Task-level Spark counters, counted only while a traced region is open. */
final class SparkStats extends SparkListener {
  @volatile var on = false
  val jobs = new LongAdder
  val tasks = new LongAdder
  val taskRunMs = new LongAdder
  val taskCpuNs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val shuffleReadBytes = new LongAdder
  val spillBytes = new LongAdder
  /** (launch, finish) epoch ms of every task, for the driver-gap share. */
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** Task wall ms per span id. */
  val spanTaskMs = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    jobs.increment()
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).getOrElse("0")
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    tasks.increment()
    val i = e.taskInfo
    taskRunMs.add(i.finishTime - i.launchTime)
    taskIntervals.add((i.launchTime, i.finishTime))
    spanTaskMs.computeIfAbsent(stageSpan.getOrDefault(e.stageId, "0"),
      _ => new DoubleAdder).add((i.finishTime - i.launchTime).toDouble)
    Option(e.taskMetrics).foreach { m =>
      taskCpuNs.add(m.executorCpuTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.add(m.diskBytesSpilled)
    }
  }

  /** Share of the unit windows (epoch ms) in which no task was running. */
  def driverGapShare(windows: Seq[(Long, Long)]): Double = {
    val iv = taskIntervals.asScala.toSeq.sortBy(_._1)
    var gap = 0L
    var total = 0L
    windows.foreach { case (ws, we) =>
      total += we - ws
      var covered = 0L
      var cur = ws
      iv.foreach { case (s, e) =>
        val s1 = math.max(s, cur)
        val e1 = math.min(e, we)
        if (e1 > s1) { covered += e1 - s1; cur = e1 }
      }
      gap += (we - ws) - covered
    }
    if (total > 0) gap.toDouble / total else 0.0
  }
}

/** Per-action SQL counters from the query execution listener. */
final class SqlStats extends QueryExecutionListener {
  @volatile var on = false
  val actions = new LongAdder
  val planningMs = new LongAdder
  val interpretedOps = new LongAdder

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = if (on) {
    actions.increment()
    val phases = qe.tracker.phases
    planningMs.add(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum)
    interpretedOps.add(SqlStats.interpreted(qe.executedPlan))
  }
}

object SqlStats {
  /** Physical operators evaluated outside whole-stage codegen. Exchanges
    * and the adaptive/stage wrappers are plumbing, not operators. */
  def interpreted(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => interpreted(a.executedPlan)
    case s: QueryStageExec => interpreted(s.plan)
    case c: CommandResultExec => interpreted(c.commandPhysicalPlan)
    case w: WholeStageCodegenExec => insideCodegen(w.child)
    case _: Exchange | _: ReusedExchangeExec | _: InputAdapter =>
      p.children.map(interpreted).sum
    case _ => 1 + p.children.map(interpreted).sum
  }

  private def insideCodegen(p: SparkPlan): Int = p match {
    case i: InputAdapter => i.children.map(interpreted).sum
    case _ => p.children.map(insideCodegen).sum
  }
}

/** Micro-batch progress from the streaming query listener: per batch, the
  * input rows and the trigger time outside `addBatch` (seconds). */
final class StreamStats extends StreamingQueryListener {
  @volatile var on = false
  val progress = new ConcurrentLinkedQueue[(Long, Double)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (on) {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      progress.add((p.numInputRows, (ms("triggerExecution") - ms("addBatch")) / 1000.0))
    }
}

/** All listeners of a traced run, registered on the current session. */
final class Observers(spark: SparkSession) {
  val sparkStats = new SparkStats
  val sqlStats = new SqlStats
  val streamStats = new StreamStats
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private var gc0 = 0L
  var gcMs = 0L

  spark.sparkContext.addSparkListener(sparkStats)
  spark.listenerManager.register(sqlStats)
  spark.streams.addListener(streamStats)

  private def gcTotal: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum

  /** The largest heap in use right after a collection in the traced
    * region: what the heap holds live. The RSS cannot show it, as the
    * heap is fixed and pre-touched. */
  @volatile var heapAfterGcMaxBytes = 0L
  @volatile private var gcOn = false
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val gcListener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, handback: AnyRef): Unit =
      if (gcOn && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, m) if heapPools(pool) => m.getUsed }.sum
        heapAfterGcMaxBytes = math.max(heapAfterGcMaxBytes, used)
      }
  }
  private def emitters = gcBeans.collect { case e: javax.management.NotificationEmitter => e }

  emitters.foreach(_.addNotificationListener(gcListener, null, null))

  def begin(): Unit = {
    org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)
    sparkStats.on = true; sqlStats.on = true; streamStats.on = true; gcOn = true
    gc0 = gcTotal
  }

  def end(): Unit = {
    org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)
    sparkStats.on = false; sqlStats.on = false; streamStats.on = false; gcOn = false
    gcMs = gcTotal - gc0
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkStats)
    spark.listenerManager.unregister(sqlStats)
    spark.streams.removeListener(streamStats)
    emitters.foreach(_.removeNotificationListener(gcListener))
  }
}

/** A JDBC driver for `jdbc:perfbench:<rest>` that delegates to
  * `jdbc:derby:<rest>` and counts what the store is asked to do:
  * statements executed and their time, the rows they carry, and the
  * statements that failed, at prepare (Derby compiles there) or at
  * execute. A statement that fails to prepare still counts its rows, so
  * the row count does not depend on whether the store accepts it. Used
  * only in traced runs. */
object CountingJdbc {
  val Prefix = "jdbc:perfbench:"
  val statements = new LongAdder
  val execNs = new LongAdder
  val rows = new LongAdder
  val failed = new LongAdder
  val failedPrepares = new LongAdder

  def reset(): Unit =
    Seq(statements, execNs, rows, failed, failedPrepares).foreach(_.reset())

  /** Rows a merge statement carries: one per single-row MERGE, one per
    * OR-ed key group of a DELETE, one per VALUES tuple of an INSERT. */
  def rowsOf(sql: String): Long = {
    def count(s: String) = sql.split(java.util.regex.Pattern.quote(s), -1).length - 1L
    val head = sql.trim.take(6).toUpperCase
    if (head == "DELETE") count(" OR ") + 1
    else if (head == "INSERT") count("), (") + 1
    else 1L
  }

  private object Drv extends java.sql.Driver {
    def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    def connect(url: String, info: java.util.Properties): java.sql.Connection =
      if (!acceptsURL(url)) null
      else wrapConnection(java.sql.DriverManager.getConnection(
        "jdbc:derby:" + url.stripPrefix(Prefix), info))
    def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    def getMajorVersion = 1
    def getMinorVersion = 0
    def jdbcCompliant = false
    def getParentLogger = java.util.logging.Logger.getGlobal
  }

  lazy val register: Unit = java.sql.DriverManager.registerDriver(Drv)

  private def unwrapInvoke(target: AnyRef, m: java.lang.reflect.Method,
      args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }

  private def wrapConnection(c: java.sql.Connection): java.sql.Connection =
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Connection]), (_, m, args) => m.getName match {
        case "prepareStatement" =>
          val n = rowsOf(args(0).toString)
          val st = try unwrapInvoke(c, m, args) catch {
            case e: java.sql.SQLException =>
              failed.increment(); failedPrepares.increment(); rows.add(n); throw e
          }
          wrapStatement(st.asInstanceOf[java.sql.PreparedStatement], n)
        case _ => unwrapInvoke(c, m, args)
      }).asInstanceOf[java.sql.Connection]

  private def wrapStatement(s: java.sql.PreparedStatement,
      n: Long): java.sql.PreparedStatement =
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.PreparedStatement]), (_, m, args) =>
        if (!m.getName.startsWith("execute")) unwrapInvoke(s, m, args)
        else {
          statements.increment()
          rows.add(n)
          val t0 = System.nanoTime()
          try unwrapInvoke(s, m, args)
          catch { case e: java.sql.SQLException => failed.increment(); throw e }
          finally execNs.add(System.nanoTime() - t0)
        }).asInstanceOf[java.sql.PreparedStatement]
}

/** Helpers shared by the workloads' traced metrics. */
object Layer {
  def p50(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
  def mb(bytes: Long): Double = bytes / 1e6
  /** `x / n`, or 0 when there is nothing to divide by. */
  def per[A, B](x: A, n: B)(implicit a: Numeric[A], b: Numeric[B]): Double =
    if (b.toDouble(n) > 0) a.toDouble(x) / b.toDouble(n) else 0.0
}
