package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The bucket-governance rule of every capped candidate generator
  * (`Dedup.minhashLshCapped`, `ngramJaccardCapped`,
  * `embeddingCosineCapped` and `Multimodal.pigeonholeScreen` — behind
  * `hashNearDupCapped`, `hashNearDupAgainstCapped`, the curation
  * kernel and `StreamNearDup.screenAgainst`), and the family's one cut
  * policy.
  *
  * Drop and report: a bucket whose key holds more than `cap` members
  * would emit a quadratic number of candidate pairs, so it is SKIPPED
  * for candidate generation and accounted for in the overflow frame —
  * one row per hot bucket, its keys and its member count. The hot set
  * is small by assumption (pathological buckets only): one aggregate
  * counts every bucket, and its hot rows come to the driver once,
  * under a loud size bound ([[MaxHotBuckets]]), as a local relation
  * that every reader shares without running a job. The drop is a
  * broadcast `left_anti` join on the keys ([[drop]]); the pigeonhole
  * screen looks its hot keys up row-side instead. Pairs can be
  * missed, never invented: verification is exact either way. With no
  * cap set the overflow frame is empty, has the capped frame's
  * schema, and runs no Spark job. The exact twins (`ngramJaccard`,
  * `embeddingCosine`) fail loudly instead, naming up to three hot
  * buckets ([[requireCold]]).
  */
private[graft] object Buckets {

  /** The chunk-pigeonhole family's parameters, checked at entry before
    * any job: hamming ≤ 7 is the pigeonhole's reach (four 16-bit chunks
    * plus the 1-bit multi-probe ball, or eight 8-bit chunks). */
  def check(maxHamming: Int, maxBucket: Option[Int]): Unit = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0, 7] (the chunk pigeonhole's reach), " +
        s"got $maxHamming")
    maxBucket.foreach(checkCap(_))
  }

  /** A cap below 1 would drop every non-empty bucket. */
  def checkCap(cap: Int, name: String = "maxBucket"): Unit =
    require(cap >= 1, s"$name must be positive, got $cap")

  private def counts(keyed: DataFrame, keys: Seq[String],
      countCol: String): DataFrame =
    keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as(countCol))

  /** At most this many hot buckets come to the driver: the hot set is
    * a few pathological buckets, so a larger one means the cap is set
    * far too low for the corpus. */
  private val MaxHotBuckets = 1 << 20

  /** `hot`'s rows, collected under [[MaxHotBuckets]] (each task sends
    * at most one row past it), and the local relation of them: reading
    * it runs no job. */
  private def toDriver(hot: DataFrame,
      capName: String): (Array[Row], DataFrame) = {
    val rows = hot.mapPartitions(_.take(MaxHotBuckets + 1))(
      Encoders.row(hot.schema)).collect()
    if (rows.length > MaxHotBuckets)
      throw new IllegalStateException(s"more than $MaxHotBuckets buckets " +
        s"exceed the cap: the hot set must fit on the driver; raise $capName")
    (rows, hot.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      hot.schema))
  }

  /** The buckets of `keyed` holding more than `cap` rows, as (keys…,
    * countCol), on the driver. */
  def hot(keyed: DataFrame, keys: Seq[String], cap: Int, countCol: String,
      capName: String = "maxBucket"): DataFrame = {
    checkCap(cap, capName)
    toDriver(counts(keyed, keys, countCol).filter(col(countCol) > cap),
      capName)._2
  }

  /** (hot rows, overflow) under an optional cap, for buckets that one
    * or more sides of a join read: one aggregate counts, per bucket,
    * the rows each side's predicate holds for, and a bucket is hot for
    * a side when that count exceeds the cap. The overflow is (side,
    * keys…, countCol), one row per hot (side, bucket), on the driver
    * with its rows; with no cap, no rows and the [[none]] frame of the
    * same columns. */
  def governBySide(keyed: DataFrame, keys: Seq[String],
      maxBucket: Option[Int], countCol: String,
      sides: Seq[(String, Column)]): (Array[Row], DataFrame) =
    maxBucket match {
      case Some(cap) =>
        checkCap(cap)
        val counts = sides.map { case (side, p) =>
          count(when(p, 1)).as(s"__n_$side") }
        val n = sides.map { case (side, _) => col(s"__n_$side") }
        toDriver(keyed.groupBy(keys.map(col): _*)
          .agg(counts.head, counts.tail: _*)
          .filter(n.map(_ > cap).reduce(_ || _))
          .select(explode(array(sides.zip(n).map { case ((side, _), c) =>
            struct(lit(side).as("side"), c.as(countCol)) }: _*))
            .as("__s") +: keys.map(col): _*)
          .select(col("__s.side").as("side") +: keys.map(col) :+
            col(s"__s.$countCol").as(countCol): _*)
          .filter(col(countCol) > cap), "maxBucket")
      case None => (Array.empty, none(keyed.select(
        lit(sides.head._1).as("side") +: keys.map(col): _*),
        "side" +: keys, countCol))
    }

  /** `df` without the rows whose `keys` name a bucket of `hot`. */
  def drop(df: DataFrame, hot: DataFrame, keys: Seq[String]): DataFrame =
    df.join(broadcast(hot.select(keys.map(col): _*)), keys, "left_anti")

  /** The overflow frame when no cap is set: no rows, [[hot]]'s column
    * names, order and types, and no Spark job to build or read it. */
  def none(keyed: DataFrame, keys: Seq[String], countCol: String): DataFrame =
    keyed.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](),
      counts(keyed, keys, countCol).schema)

  /** (drop, overflow) under an optional cap: the [[hot]] buckets of
    * `keyed` and the [[drop]] of them, or no drop and the [[none]]
    * frame. */
  def govern(keyed: DataFrame, keys: Seq[String], maxBucket: Option[Int],
      countCol: String): (DataFrame => DataFrame, DataFrame) =
    maxBucket match {
      case Some(cap) =>
        val h = hot(keyed, keys, cap, countCol)
        (drop(_, h, keys), h)
      case None => (identity, none(keyed, keys, countCol))
    }

  /** The exact twins' rule: throw when `hot` holds a bucket, naming up
    * to three as "first key (label=count)". */
  def requireCold(hot: DataFrame, label: String)(
      message: String => String): Unit = {
    val examples = hot.limit(3).collect()
    if (examples.nonEmpty)
      throw new IllegalStateException(message(examples.map(r =>
        s"${r.get(0)} ($label=${r.getLong(r.length - 1)})").mkString(", ")))
  }

  /** The input cut rule: a frame read several times is materialized
    * once with an eager `localCheckpoint` — unless its analyzed plan is
    * already cheap to re-read: only projections whose every output is
    * an attribute or an alias of one, and filters with a deterministic
    * condition, over a leaf that is an eagerly checkpointed
    * `LogicalRDD` or a `LocalRelation`. */
  def cutOnce(df: DataFrame): DataFrame = {
    def materialized(plan: LogicalPlan): Boolean = plan match {
      case Project(outputs, child) =>
        outputs.forall {
          case _: Attribute | Alias(_: Attribute, _) => true
          case _ => false
        } && materialized(child)
      case Filter(condition, child) =>
        condition.deterministic && materialized(child)
      case leaf: LogicalRDD => leaf.rdd.isCheckpointed
      case _: LocalRelation => true
      case _ => false
    }
    if (materialized(df.queryExecution.analyzed)) df
    else df.localCheckpoint(true)
  }
}
