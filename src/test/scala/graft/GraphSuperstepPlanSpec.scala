package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Round-17 plan pin: the rank loop runs behind eager checkpoints
  * (invisible to a caller's explain), so the per-superstep shape is
  * pinned HERE, on the loop body [[Graph.superstep]], over the static
  * frames production builds ([[Graph.adjacency]] and the operator's
  * teleport — explicit-count keyed repartition + persist, since
  * InMemoryRelation preserves partitioning/ordering where an AQE-era
  * localCheckpoint reports UnknownPartitioning). The claim under pin:
  * exactly TWO ShuffleExchanges per superstep — ranks→__src for the
  * contribution join and the contribution groupBy __dst — and no
  * per-iteration dangling-mass join (the one-row aggregate reads the
  * rank frame's static flag instead). */
class GraphSuperstepPlanSpec extends SparkSpec {
  import spark.implicits._

  private def executed(df: DataFrame) = {
    df.write.mode("overwrite").format("noop").save()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def shuffles(df: DataFrame): Int =
    executed(df).collect { case ex: ShuffleExchangeExec => ex }.size

  /** Runs `body(step1, step2)` on the first two supersteps of the
    * production setup: step 1 reads the loop's initial rank frame,
    * step 2 a checkpointed rank frame (what iteration i>1 sees —
    * UnknownPartitioning). The static frames are released after. */
  private def supersteps(adj: Graph.Adjacency,
      teleport: DataFrame => (DataFrame, Graph.Share))(
      body: (DataFrame, DataFrame) => Unit): Unit =
    try {
      val (nodes, share) = teleport(adj.nodes)
      val ranks = nodes.select(nodes.columns.toSeq.map(col) :+
        share(lit(1.0)).as("rank"): _*)
      val step1 = Graph.superstep(nodes, adj.eDeg, ranks, 0.85, share)
      val step2 = Graph.superstep(nodes, adj.eDeg,
        step1.localCheckpoint(true), 0.85, share)
      body(step1, step2)
    } finally adj.unpersist()

  test("pageRank superstep plans exactly two shuffle exchanges") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("s", "t")
    supersteps(Graph.adjacency(e, "s", "t", identity),
        Graph.uniformTeleport) { (step1, step2) =>
      // first superstep: ranks is a projection of the persisted node
      // frame — already partitioned by node, so even the ranks→__src
      // exchange is elided and only the groupBy exchange remains
      assert(shuffles(step1) <= 2,
        s"superstep 1 plans ${shuffles(step1)} shuffles, expected <= 2")
      val got = shuffles(step2)
      assert(got == 2, s"steady-state superstep plans $got shuffles, " +
        "expected exactly 2 (ranks->__src + groupBy __dst)")
    }
  }

  test("personalized pageRank superstep plans exactly two shuffle " +
      "exchanges in the steady state") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("s", "t")
    val seeds = Seq("a", "zzz").toDF("n")
    supersteps(Graph.adjacency(e, "s", "t", Graph.seedFlag(seeds, "n")),
        Graph.seedTeleport) { (_, step2) =>
      val got = shuffles(step2)
      assert(got == 2, s"steady-state superstep plans $got shuffles, " +
        "expected exactly 2 (ranks->__src + groupBy __dst)")
    }
  }

  test("long-typed edges keep every superstep exchange long-typed " +
      "(round-18: no forced cast to string)") {
    import org.apache.spark.sql.types.LongType
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("s", "t")
    supersteps(Graph.adjacency(e, "s", "t", identity),
        Graph.uniformTeleport) { (_, step2) =>
      val exchanges = executed(step2).collect {
        case ex: ShuffleExchangeExec => ex }
      exchanges.foreach { ex =>
        ex.output.filter(a =>
          Set("__src", "__dst", "node").contains(a.name)).foreach { a =>
          assert(a.dataType == LongType,
            s"exchange carries ${a.name}: ${a.dataType} — the node id " +
              "widened on its way into a shuffle")
        }
      }
      assert(exchanges.size == 2, s"steady-state superstep plans " +
        s"${exchanges.size} shuffles, expected exactly 2")
    }
    // and the operator's public surface preserves the caller's type
    val pr = Graph.pageRank(
      Seq((1L, 2L), (2L, 1L)).toDF("s", "d"), "s", "d", iterations = 1)
    assert(pr.schema("node").dataType == LongType)
  }
}
