package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ext.CurationRunner

/** The Spark-side shape of one `CurationRunner.applyIncrement` on a
  * store: its SQL actions (the class cut, the one hot-set cut, the pair
  * cut, `components`' bounded collect and the two snapshot writes —
  * no `count`), and the job group its snapshot writes run under. */
class CurationRunnerActionsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-curation-actions").toString

  /** Near copies of a few centres plus scattered singles: the pair
    * search finds pairs, within and across the two sides. */
  private def batch(from: Long): DataFrame = {
    val rnd = new scala.util.Random(from)
    val centres = Seq(0x0123_4567_89AB_CDEFL, 0x7654_3210_FEDC_BA98L)
    ((0 until 12).map(i => (from + i,
      centres(i % 2) ^ (1L << rnd.nextInt(64)), rnd.nextInt(100).toLong)) ++
      (12 until 20).map(i => (from + i, rnd.nextLong(), rnd.nextInt(100).toLong)))
      .toDF("doc_id", "ph", "quality")
  }

  /** Every SQL action's name and plan columns, in arrival order. */
  private final class Actions extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[(String, Set[String])]()
    private def record(f: String, qe: QueryExecution): Unit =
      seen.add(f -> qe.analyzed.flatMap(_.output.map(_.name)).toSet)
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(f, qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(f, qe)
  }

  test("an increment on a store runs 6 SQL actions, no count among them") {
    val dir = freshDir()
    assert(CurationRunner.applyIncrement(dir, batch(0L), 0L, "doc_id", "ph",
      "quality"))
    val next = batch(100L)
    val listener = new Actions
    spark.listenerManager.register(listener)
    // listener events arrive in order, so the actions between the two
    // markers are the increment's
    def marker(name: String): Unit = Seq(1).toDF(name).collect()
    val between = try {
      marker("cra_probe_start")
      assert(CurationRunner.applyIncrement(dir, next, 1L, "doc_id", "ph",
        "quality"))
      marker("cra_probe_end")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def seen = listener.seen.asScala.toSeq
      while (!seen.exists(_._2("cra_probe_end")) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.exists(_._2("cra_probe_end")), "end marker never reached the listener")
      seen.dropWhile(!_._2("cra_probe_start")).drop(1)
        .takeWhile(!_._2("cra_probe_end")).map(_._1)
    } finally spark.listenerManager.unregister(listener)
    assert(between.size === 6, between.mkString(", "))
    assert(!between.contains("count"), between.mkString(", "))
    assert(CurationRunner.survivors(spark, dir, "doc_id", "ph", "quality")
      .count() < 40L, "the increment merged near copies")
  }

  test("snapshot writes run under the caller's job group") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    def under[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, "curation write job group probe")
      try body finally sc.clearJobGroup()
    }
    def mark(group: String): Unit = under(group)(sc.parallelize(Seq(1), 1).count())
    val dir = freshDir()
    sc.addSparkListener(listener)
    try {
      mark("cra-mark-0")
      under("cra-group-a")(CurationRunner.applyIncrement(dir, batch(0L), 0L,
        "doc_id", "ph", "quality"))
      mark("cra-mark-1")
      under("cra-group-b")(CurationRunner.applyIncrement(dir, batch(100L), 1L,
        "doc_id", "ph", "quality"))
      mark("cra-mark-2")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def seen = jobs.asScala.toSeq
      while (!seen.exists(_._2 == "cra-mark-2") && System.nanoTime() < deadline)
        Thread.sleep(20)
      def id(group: String): Int = seen.find(_._2 == group).get._1
      def groupsBetween(from: String, to: String): Seq[String] =
        seen.filter(j => j._1 > id(from) && j._1 < id(to)).map(_._2)
      for ((from, to, group) <- Seq(("cra-mark-0", "cra-mark-1", "cra-group-a"),
          ("cra-mark-1", "cra-mark-2", "cra-group-b"))) {
        val groups = groupsBetween(from, to)
        assert(groups.nonEmpty, s"no job seen for $group")
        assert(groups.forall(_ == group), groups.mkString(", "))
      }
    } finally sc.removeSparkListener(listener)
  }
}
