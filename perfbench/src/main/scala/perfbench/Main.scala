package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions}
import graft.schema.{InMemoryRegistryTransport, SchemaRegistryClient}

/** The benchmark process. With `--trace 0` it sets up several times,
  * runs one timed region with tracing off and prints the end-to-end
  * metrics; with `--trace 1` it sets up once, runs a traced region
  * between two untraced ones and the isolated layer passes, and prints
  * the per-layer metrics. The last stdout line is the JSON result. */
object Main {
  /** Set-ups per untraced run. The first runs in a cold JVM and is always
    * the slowest by far, so it is reported but left out: `setup_s` is the
    * median of the others. */
  private val SetupReps = 4

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_unit" -> "count", "spark.tasks_per_unit" -> "count",
    "spark.driver_gap_share" -> "ratio", "spark.busy_share" -> "ratio",
    "spark.task_cpu_s_per_unit" -> "s", "spark.shuffle_write_mb_per_unit" -> "MB",
    "spark.shuffle_read_mb_per_unit" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_share" -> "ratio",
    "sql.actions_per_unit" -> "count", "sql.planning_s_per_unit" -> "s",
    "sql.interpreted_ops_per_action" -> "count",
    "streaming.source_rows_per_msg" -> "ratio", "streaming.trigger_overhead_p50_s" -> "s",
    "schema.decode_mb_per_s" -> "MB/s", "schema.encode_mb_per_s" -> "MB/s",
    "operators.merge_p50_s" -> "s", "operators.compaction_ratio" -> "ratio",
    "store.exec_s_per_unit" -> "s", "store.statements_per_unit" -> "count",
    "store.rows_per_statement" -> "count", "store.failed_statements" -> "count",
    "poller.scan_p50_s" -> "s",
    "outbox.stage_p50_s" -> "s", "outbox.sweep_p50_s" -> "s",
    "outbox.rewritten_rows_per_drained" -> "ratio",
    "ext.increment_p50_s" -> "s", "ext.oneshot_s" -> "s",
    "ext.shuffle_mb_per_kdoc" -> "MB", "ext.survivor_ratio" -> "ratio",
    "functions.hash_docs_per_s" -> "1/s",
    "jvm.heap_after_gc_mb" -> "MB", "jvm.jit_cpu_share" -> "ratio",
    "trace.overhead_s_per_unit" -> "s", "trace.overhead_share" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(Workload.Names.contains(a.workload),
      s"unknown workload ${a.workload} (known: ${Workload.Names.mkString(", ")})")
    val line = try { if (a.trace) traced(a) else timed(a) } finally Session.stop()
    println(line)
  }

  private def report(w: Workload, checks: Seq[Check]): Boolean = {
    Out.info("inputs: " + w.properties.map { case (k, v) => s"$k=$v" }.mkString(" "))
    checks.foreach(c => Out.info(s"check ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))
    checks.forall(_.ok)
  }

  private def describe(label: String, u: Units): Unit =
    Out.info(f"$label: units=${u.attempted} failed=${u.failed} records=${u.records} " +
      f"wall_s=${u.wallS}%.3f throughput_rps=${u.throughput}%.1f " +
      f"batch_p50_s=${u.p50}%.4f failed_ratio=${Layer.per(u.failed, u.attempted)}%.4f " +
      f"cpu_s=${u.cpuS}%.2f jit_cpu_s=${u.jitCpuS}%.2f " +
      s"latencies_s=${u.latencies.map(x => f"$x%.2f").mkString(",")}")

  /** A fixed number of untimed units before the measured region. A fresh
    * JVM keeps compiling the engine's hot paths for dozens of units;
    * without this the timed region would measure mostly that warm-up, and
    * its pace varies from run to run. It follows the set-ups, so it is not
    * part of `setup_s`, and it is a count, not a time, so the state the
    * timed region starts on does not depend on the engine's speed. */
  private def warm(w: Workload): Unit = {
    val u = new Units
    w.warm(u)
    describe("warm-up", u)
  }

  private def timed(a: Args): String = {
    val setups = ArrayBuffer[Double]()
    var w: Workload = null
    for (rep <- 0 until SetupReps) {
      if (w != null) Session.stop()
      val t0 = System.nanoTime()
      val spark = Session.start(a.cores, a.work.resolve("spark"))
      val session = (System.nanoTime() - t0) / 1e9
      w = Workload(a.workload, spark, a.work.resolve(s"setup-$rep"), a.seed)
      w.setup()
      setups += (System.nanoTime() - t0) / 1e9
      Out.info(f"setup $rep: session_s=$session%.3f total_s=${setups.last}%.3f")
    }
    Out.info(s"setup_s samples: ${setups.map(s => f"$s%.3f").mkString(" ")}")
    warm(w)
    val u = new Units
    w.run(a.seconds, u, new Tracer(false))
    describe(s"${a.workload} local[${a.cores}]", u)
    val ok = report(w, w.checks())
    Out.result(ok, u.attempted, u.failed, Seq(
      ("setup_s", Stats.median(setups.toSeq.tail), "s"),
      ("throughput_rps", u.throughput, "1/s"),
      ("batch_p50_s", u.p50, "s"),
      ("cpu_per_krec_s", u.cpuPerKrec, "s"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB")))
  }

  private def traced(a: Args): String = {
    val spark = Session.start(a.cores, a.work.resolve("spark"))
    val w = Workload(a.workload, spark, a.work.resolve("traced"), a.seed)
    w.setup()
    warm(w)
    // Untraced regions before and after the traced one: the JVM is still
    // getting faster, so the traced region is compared with the mean of
    // the two rather than with a region that only ran earlier. Each is
    // half as long, which keeps the traced run inside its time limit.
    val bracketS = a.seconds / 2.0
    val before = new Units
    w.run(bracketS, before, new Tracer(false))
    describe(s"${a.workload} local[${a.cores}] untraced before", before)

    val obs = new Observers(spark)
    val tracer = new Tracer(true)
    CountingJdbc.reset()
    val u = new Units
    obs.begin()
    w.run(a.seconds, u, tracer)
    obs.end()
    obs.close()
    describe(s"${a.workload} local[${a.cores}] traced", u)
    val after = new Units
    w.run(bracketS, after, new Tracer(false))
    describe(s"${a.workload} local[${a.cores}] untraced after", after)
    val plainP50 = (before.p50 + after.p50) / 2
    val n = u.attempted.toDouble
    val s = obs.sparkStats
    val q = obs.sqlStats
    val layers = Map(
      "spark.jobs_per_unit" -> Layer.per(s.jobs.sum.toDouble, n),
      "spark.tasks_per_unit" -> Layer.per(s.tasks.sum.toDouble, n),
      "spark.driver_gap_share" -> s.driverGapShare(u.windows.toSeq),
      "spark.busy_share" -> Layer.per(s.taskRunMs.sum / 1000.0, a.cores * u.wallS),
      "spark.task_cpu_s_per_unit" -> Layer.per(s.taskCpuNs.sum / 1e9, n),
      "spark.shuffle_write_mb_per_unit" -> Layer.per(Layer.mb(s.shuffleWriteBytes.sum), n),
      "spark.shuffle_read_mb_per_unit" -> Layer.per(Layer.mb(s.shuffleReadBytes.sum), n),
      "spark.spill_mb" -> Layer.mb(s.spillBytes.sum),
      "spark.gc_share" -> Layer.per(obs.gcMs / 1000.0, u.wallS),
      "sql.actions_per_unit" -> Layer.per(q.actions.sum.toDouble, n),
      "sql.planning_s_per_unit" -> Layer.per(q.planningMs.sum / 1000.0, n),
      "sql.interpreted_ops_per_action" ->
        Layer.per(q.interpretedOps.sum.toDouble, q.actions.sum.toDouble),
      "jvm.heap_after_gc_mb" -> Layer.mb(obs.heapAfterGcMaxBytes),
      "jvm.jit_cpu_share" -> Layer.per(u.jitCpuS, u.cpuS + u.jitCpuS),
      "trace.overhead_s_per_unit" -> (u.p50 - plainP50),
      "trace.overhead_share" -> Layer.per(u.p50 - plainP50, plainP50)) ++
      w.layerMetrics(u, tracer, obs) ++ Passes.run(spark, a.seed)
    val ok = report(w, w.checks())
    val (pollLayers, pollOk) =
      if (a.workload == "poll_outbox") (Map.empty[String, Double], true)
      else pollPass(spark, a, tracer, obs)

    val spansFile = a.out.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl")
    tracer.write(spansFile)
    Out.info(s"spans: ${tracer.spans.size} written to $spansFile")
    tracer.selfTimes.foreach { case (name, self) => Out.info(f"self_s $name $self%.3f") }
    val bySpan = tracer.spans.toArray(Array.empty[SpanRec]).map(x => x.id.toString -> x.name).toMap
    obs.sparkStats.spanTaskMs.asScala.toSeq
      .groupMapReduce(e => bySpan.getOrElse(e._1, "(no span)"))(_._2.sum / 1000.0)(_ + _)
      .toSeq.sortBy(-_._2)
      .foreach { case (name, s) => Out.info(f"task_s $name $s%.3f") }

    val all = layers ++ pollLayers
    Out.result(ok && pollOk, u.attempted, u.failed,
      PerLayer.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) })
  }

  /** The poller and outbox layers as an isolated traced pass: a few
    * `poll_outbox` cycles, with their output checks. */
  private def pollPass(spark: SparkSession, a: Args, tracer: Tracer,
      obs: Observers): (Map[String, Double], Boolean) = {
    val w = Workload("poll_outbox", spark, a.work.resolve("poll-pass"), a.seed)
    w.setup()
    val u = new Units
    w.run(PollPassSeconds, u, tracer)
    describe("poll_outbox pass", u)
    val ok = report(w, w.checks())
    (w.layerMetrics(u, tracer, obs), ok)
  }

  private val PollPassSeconds = 4.0
}

/** Isolated layer passes of the traced run: the registry-framed Avro
  * codec in both directions and the tokenize+simhash kernel, each over
  * a cached seeded input and timed as the median of a few passes. */
object Passes {
  private val Rows = 200000L
  private val Reps = 3

  private def timeMedian(body: => Unit): Double = {
    body
    Stats.median((0 until Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val schemaJson =
      """{"type":"record","name":"Entity","namespace":"perfbench","fields":[
        | {"name":"id","type":"long"},
        | {"name":"name","type":"string"},
        | {"name":"amount","type":"long"},
        | {"name":"status","type":"string"}]}""".stripMargin
    val backend = new SchemaRegistryClient(new InMemoryRegistryTransport)
      .framedBackend("entity-value", schemaJson)
    def h(salt: Int) = xxhash64(lit(seed), col("id"), lit(salt))
    val rows = spark.range(Rows).select(col("id"),
      concat(lit("n"), pmod(h(1), lit(100000L)).cast("string")).as("name"),
      pmod(h(2), lit(1000000L)).as("amount"),
      element_at(array(lit("new"), lit("active")), (pmod(h(3), lit(2L)) + 1).cast("int"))
        .as("status")).localCheckpoint()
    val encoded = rows.select(
      backend.encodeExpr(struct(rows.columns.toSeq.map(col): _*)).as("value"))
    val frames = encoded.localCheckpoint()
    val mb = frames.agg(sum(length(col("value")))).head().getLong(0) / 1e6
    val encodeS = timeMedian(noop(encoded))
    val decodeS = timeMedian(noop(frames.select(backend.decodeExpr(col("value")).as("p"))))

    val docs = spark.range(Rows / 4).select(concat_ws(" ",
      transform(sequence(lit(1), lit(60)), i =>
        concat(lit("w"), pmod(xxhash64(lit(seed), col("id"), i), lit(5000L)).cast("string")))
    ).as("text")).localCheckpoint()
    val hashS = timeMedian(noop(docs.select(
      HashFunctions.simhash64(HashFunctions.tokenHashes(TextFunctions.tokens(col("text")))))))
    Map(
      "schema.encode_mb_per_s" -> Layer.per(mb, encodeS),
      "schema.decode_mb_per_s" -> Layer.per(mb, decodeS),
      "functions.hash_docs_per_s" -> Layer.per((Rows / 4).toDouble, hashS))
  }
}
