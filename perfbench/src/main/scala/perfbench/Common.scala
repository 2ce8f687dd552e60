package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir> [--cores <n>]`. Scratch data goes under
  * `work`, the span file of a traced run under `out`. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, out: Path, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1: $t")
    }
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      trace, Path.of(need("work")).toAbsolutePath, Path.of(need("out")).toAbsolutePath,
      m.getOrElse("cores", "4").toInt)
    require(a.seconds >= 1, s"--seconds must be positive: ${a.seconds}")
    a
  }
}

/** One process-wide Spark session at a time; restarted for each set-up
  * repetition and for the single-core reference run. */
object Session {
  /** Shuffle partitions follow the core count, as in `graft.Bench`. */
  def start(cores: Int, dir: Path): SparkSession = {
    Files.createDirectories(dir)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = SparkSession.getActiveSession.foreach { s =>
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Closed-loop unit accounting of one timed region. A unit is a
  * micro-batch, a poll cycle or a curation increment. */
final class Units {
  val latencies = ArrayBuffer[Double]()
  /** (start, end) epoch ms of each unit. */
  val windows = ArrayBuffer[(Long, Long)]()
  /** Records completed: those of units that did not fail. */
  var records = 0L
  /** Input records offered, and those of them that are well-formed. */
  var messages = 0L
  var valid = 0L
  var attempted = 0
  var failed = 0
  var wallS = 0.0
  /** Process CPU without the JIT compiler threads, and theirs. */
  var cpuS = 0.0
  var jitCpuS = 0.0

  def throughput: Double = if (wallS > 0) records / wallS else 0.0
  def p50: Double = Stats.median(latencies.toSeq)
  def cpuPerKrec: Double = if (records > 0) cpuS / (records / 1000.0) else 0.0
}

/** Wall and process CPU clock around a timed region. The JIT compiler
  * threads' CPU is kept apart: a JVM a minute old is still compiling the
  * engine, which takes half or more of the process CPU at a rate that
  * follows wall time rather than the work measured. */
final class Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var wall0 = 0L
  private var cpu0 = 0L
  private var jit0 = 0L
  def start(): Unit = {
    wall0 = System.nanoTime(); jit0 = Clock.jitCpuNs(); cpu0 = os.getProcessCpuTime
  }
  def stopInto(u: Units): Unit = {
    val cpu = os.getProcessCpuTime
    val jit = Clock.jitCpuNs()
    u.wallS += (System.nanoTime() - wall0) / 1e9
    u.jitCpuS += (jit - jit0) / 1e9
    u.cpuS += ((cpu - cpu0) - (jit - jit0)) / 1e9
  }
}

object Clock {
  /** CPU time of the C1/C2 compiler threads, from the run time the kernel
    * keeps per thread (same clock as the process CPU time). The launcher
    * fixes the number of compiler threads, so none exits and takes its
    * time with it. */
  def jitCpuNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val name = new String(Files.readAllBytes(t.toPath.resolve("comm")), "UTF-8")
        if (name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler"))
          new String(Files.readAllBytes(t.toPath.resolve("schedstat")), "UTF-8")
            .trim.split(" ")(0).toLong
        else 0L
      } catch { case _: java.io.IOException | _: NumberFormatException => 0L }
    }.sum
  }
}

object Stats {
  /** Median (mean of the middle two for an even count); 0 when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Outcome of a workload's output checks. */
final case class Check(name: String, ok: Boolean, detail: String)

object Out {
  /** A human-readable report line; the final JSON line is separate. */
  def info(s: String): Unit = println(s"# $s")

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, unit) =>
      s""""$n": {"value": ${num(v)}, "unit": "$unit"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** Copy the tree at `src` to `dst`, which must not exist yet. */
  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
      finally s.close()
    }
}
