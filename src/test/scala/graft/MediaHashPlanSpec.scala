package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{DataSourceScanExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed-plan pins of the media near-dup queries (x134 PNG dHash,
  * x136 MP4 fingerprint, x143 PNG/JPEG dHash screen): over every SQL
  * action a query runs — its eager cuts included — each media-hash
  * call site sits inside a WholeStageCodegen span, and the number of
  * call sites is pinned. */
class MediaHashPlanSpec extends SparkSpec {
  import spark.implicits._

  /** The queries read only `documents.doc_id`: one single-file table
    * of 1000 ids, shaped like the testdata's single-file documents scan. */
  private lazy val sfDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-media-plan").toString
    spark.range(1, 1001).withColumnRenamed("id", "doc_id").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }
  private val hashKernels = Set("pngDHash64", "imageDHash64", "mp4Fingerprint64")

  private final class Plans extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      seen.add(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      seen.add(qe.executedPlan)
  }

  /** The executed plans of every action `q` runs, eager cuts included;
    * listener events arrive in order, so the plans between the two
    * marker queries are the query's. */
  private def actions(q: String): Seq[SparkPlan] = {
    val listener = new Plans
    spark.listenerManager.register(listener)
    def marker(name: String): Unit = Seq(1).toDF(name).collect()
    def isMarker(p: SparkPlan, name: String) = p.output.exists(_.name == name)
    val dir = sfDir
    try {
      marker("media_plan_start")
      SparkEntry.queries(q)(spark, dir).collect()
      marker("media_plan_end")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def seen = listener.seen.asScala.toSeq
      while (!seen.exists(isMarker(_, "media_plan_end")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.exists(isMarker(_, "media_plan_end")),
        "end marker never reached the listener")
      seen.dropWhile(!isMarker(_, "media_plan_start")).drop(1)
        .takeWhile(!isMarker(_, "media_plan_end"))
    } finally spark.listenerManager.unregister(listener)
  }

  /** One entry per media-hash call site in `p`: whether it runs inside
    * a WholeStageCodegen span. A reused exchange is not re-run. */
  private def hashSites(p: SparkPlan, inSpan: Boolean = false): Seq[Boolean] = {
    // a file scan's DataFilters are pushdown metadata; one the source
    // cannot push is evaluated by the Filter above it
    val evaluated = p match {
      case _: DataSourceScanExec => Nil
      case _ => p.expressions
    }
    val here = evaluated.flatMap(_.collect {
      case s: StaticInvoke if hashKernels(s.functionName) => inSpan
    })
    val below = p match {
      case a: AdaptiveSparkPlanExec => hashSites(a.executedPlan)
      case s: QueryStageExec => hashSites(s.plan)
      case w: WholeStageCodegenExec => hashSites(w.child, inSpan = true)
      case i: InputAdapter => hashSites(i.child)
      case _: ReusedExchangeExec => Nil
      case other => other.children.flatMap(hashSites(_, inSpan))
    }
    here ++ below
  }

  // Call sites as the plans stand (the same counts before the hashes
  // moved onto StaticInvoke). By design x134/x136 hash each blob twice
  // (the near-dup operator plus the gate's independent re-hash) and
  // x143 once (its reference and arrival branches split the blobs);
  // each shows one site more per branch because the isnotnull(hash)
  // the join infers is pushed below the repartition and hashes every
  // blob a second time, on the scan task (CHANGES.md FOUND).
  for ((q, sites) <- Seq("x134_image_dhash" -> 3,
      "x136_video_fingerprint" -> 3, "x143_frozen_screen" -> 4))
    test(s"$q: $sites media-hash call sites, each inside a codegen span") {
      val found = actions(q).flatMap(hashSites(_))
      assert(found.size === sites, found)
      assert(found.forall(identity), s"a hash call site outside codegen: $found")
    }
}
