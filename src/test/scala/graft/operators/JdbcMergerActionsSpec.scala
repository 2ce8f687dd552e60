package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.testkit.MockJdbc

/** The merge's Spark-side shape: one `mergeIntoJdbc` call is ONE SQL
  * action, so the caller's plan (its compaction exchange included) runs
  * once per call. Two actions (an upsert pass, then a delete pass)
  * replanned and re-ran the whole input a second time. */
class JdbcMergerActionsSpec extends SparkSpec {
  import spark.implicits._

  MockJdbc.install()

  /** Column names anywhere in the plan of every action seen, in
    * arrival order. */
  private final class PlanColumns extends QueryExecutionListener {
    val actions = new ConcurrentLinkedQueue[Set[String]]()
    private def record(qe: QueryExecution): Unit =
      actions.add(qe.analyzed.flatMap(_.output.map(_.name)).toSet)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  test("one mergeIntoJdbc call runs exactly one SQL action") {
    MockJdbc.reset("actions1")
    // column names no other action in the session carries
    val batch = Seq(
      (1L, "a", 10L, false), (2L, "b", 11L, false), (3L, "c", 12L, false),
      (4L, null, 13L, true), (5L, null, 14L, true))
      .toDF("merge_probe_k", "v", "version", "deleted")
    val compacted = Compaction.lastWins(batch, Seq("merge_probe_k"),
      col("version"))
    val listener = new PlanColumns
    spark.listenerManager.register(listener)
    try {
      JdbcMerger.mergeIntoJdbc(compacted, "jdbc:graftmock:actions1", "tgt",
        Seq("merge_probe_k"), col("deleted"), JdbcMerger.Postgres,
        new java.util.Properties, versionCol = Some("version"),
        retrySleeper = _ => ())
      // listener events arrive in order: once this marker action is
      // seen, every action the merge ran has been delivered
      Seq(1).toDF("merge_probe_marker").collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def seen = listener.actions.toArray(Array.empty[Set[String]]).toSeq
      while (!seen.exists(_.contains("merge_probe_marker")) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.exists(_.contains("merge_probe_marker")),
        "marker action never reached the listener")
      assert(seen.count(_.contains("merge_probe_k")) === 1)
    } finally spark.listenerManager.unregister(listener)
    // both halves of the batch reached the store in that one action:
    // 3 upserts of 4 columns, 2 guarded deletes of (key, version)
    val execs = MockJdbc.db("actions1").execList
    def params(kind: String) =
      execs.filter(_.sql.startsWith(kind)).map(_.params.size).sum
    assert(params("INSERT") === 12)
    assert(params("DELETE") === 4)
  }
}
