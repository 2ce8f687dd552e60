package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.ext.Multimodal

/** Plan pin of the chunk-pigeonhole screen: each pair is emitted once
  * by a row filter and the hot keys are looked up row-side, so the
  * screen's plan holds the candidate join's exchange and nothing else
  * — no broadcast to drop hot keys, no aggregate above the join to
  * remove repeat meetings (the screen before this design planned the
  * join's broadcast, one per hot-key drop and one shuffle for the
  * dedupe: 4 exchanges capped, 2 uncapped, on this fixture). Counted in
  * the initial physical plan of an unexecuted query (what
  * `SPARK_GRAFT_EXPLAIN=1` prints), over an eager cut, the shape the
  * operators read; the fixture is small, so the join broadcasts. */
class PigeonholeScreenPlanSpec extends SparkSpec {
  import spark.implicits._

  /** Hamming-≤2 clusters of 6 (hot at cap 4), scattered singles. */
  private lazy val hashes: DataFrame = {
    val rnd = new scala.util.Random(4141)
    val centres = Array.fill(3)(rnd.nextLong())
    ((0 until 18).map(i => (i.toLong,
      centres(i / 6) ^ (if (i % 3 == 0) 0L else 1L << rnd.nextInt(64)))) ++
      (18 until 30).map(i => (i.toLong, rnd.nextLong())))
      .toDF("id", "ph").localCheckpoint(true)
  }

  private def plan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("the screens plan one exchange, the candidate join's, and no aggregate") {
    val left = hashes.filter($"id" % 2 === 0L)
    val right = hashes.filter($"id" % 2 === 1L)
    val screens = for (radius <- Seq(3, 7); cap <- Seq(Some(4), None))
      yield (s"hashNearDupCapped r=$radius cap=$cap", () =>
        Multimodal.hashNearDupCapped(hashes, "id", "ph", radius, cap))
    for ((label, screen) <- screens ++ Seq(
        "hashNearDupAgainstCapped r=3 cap=Some(4)" -> (() =>
          Multimodal.hashNearDupAgainstCapped(left, right, "id", "ph", 3,
            Some(4))))) {
      val (pairs, overflow) = screen()
      val p = plan(pairs)
      assert(p.collect { case e: Exchange => e }.size === 1, s"$label\n$p")
      assert(p.collect { case a: BaseAggregateExec => a }.isEmpty,
        s"$label\n$p")
      if (label.contains("Some")) assert(overflow.count() > 0,
        s"$label: the fixture holds a hot bucket")
    }
  }
}
