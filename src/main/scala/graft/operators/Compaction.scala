package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch compaction + key-disjoint slicing.
  *
  * Reference semantics:
  *  - last-write-wins compaction per key
  *    (`lib/deimos/active_record_consume/batch_consumption.rb:121-125`,
  *    outbox variant `lib/deimos/utils/outbox_producer.rb:218-226`)
  *  - key-disjoint batch slicing: A1,A2,B1,C1,C2,C3 →
  *    [[A1,B1,C1],[A2,C2],[C3]]
  *    (`lib/deimos/active_record_consume/batch_slicer.rb:16-26`)
  *
  * Spark-first design: both are a single hash-partitioned window over the
  * key columns — one shuffle on the key, no driver-side loops. At 100 TB
  * the shuffle is by message key, which is the natural partitioning of the
  * downstream keyed merge, so the exchange is reused by the sink stage.
  */
object Compaction {

  /** Keep only the last row per key, ordered by `orderCol` (offset /
    * monotonic id). Survivors keep all columns.
    */
  def lastWins(df: DataFrame, keyCols: Seq[String], orderCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCol.desc)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Last-wins compaction that mirrors the reference's blank-key guard
    * (`outbox_producer.rb:218-219`, `batch_consumption.rb:121-125`):
    * rows with a NULL in any key column are NOT compacted — they pass
    * through untouched. Compacting them would collapse every unkeyed
    * message in the batch into one row (NULLs hash to the same window
    * partition), i.e. silent message loss. The split also keeps the
    * all-NULL partition out of the window sort, which at scale would
    * be one giant skewed partition.
    */
  def lastWinsKeyed(df: DataFrame, keyCols: Seq[String], orderCol: Column): DataFrame = {
    val hasNullKey = keyCols.map(col(_).isNull).reduce(_ || _)
    lastWins(df.filter(!hasNullKey), keyCols, orderCol)
      .unionByName(df.filter(hasNullKey))
  }

  /** Key-disjoint wave number: rank of each row within its key, in
    * `orderCol` order. All rows with wave=1 form the first key-disjoint
    * slice, wave=2 the second, etc. Same-key rows stay ordered across
    * waves — the property the reference's BatchSlicer guarantees.
    */
  def withWave(df: DataFrame, keyCols: Seq[String], orderCol: Column,
      waveCol: String = "wave"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCol)
    df.withColumn(waveCol, row_number().over(w).cast("long"))
  }

  /** Per-key ordered layout for a SINGLE-job uncompacted apply: one
    * shuffle on the key, partition-local sort, after which every key's
    * rows are consecutive and in `orderCol` order within one task. A
    * row-level sink walking a partition therefore applies same-key
    * versions sequentially — the reference BatchSlicer guarantee —
    * without the wave path's one-Spark-job-per-wave (a 10k-version hot
    * key becomes 10k consecutive rows in one task, not 10k jobs).
    */
  def orderedByKey(df: DataFrame, keyCols: Seq[String], orderCol: Column): DataFrame =
    df.repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols.map(col) :+ orderCol): _*)

  /** The key-disjoint slices as an ordered sequence of frames, for
    * `body` only (the uncompacted merge path applies the waves
    * sequentially — reference: `batch_consumption.rb:127-136`). The
    * wave column is computed once into a cache that `body`'s slices
    * filter, and released when `body` returns, so no wave cache
    * outlives a micro-batch. */
  def withSlices[T](df: DataFrame, keyCols: Seq[String], orderCol: Column)(
      body: Seq[DataFrame] => T): T = {
    val waved = withWave(df, keyCols, orderCol).cache()
    try {
      val n = waved.agg(max(col("wave"))).collect()(0)
      val nWaves = if (n.isNullAt(0)) 0L else n.getLong(0)
      body((1L to nWaves).map(i =>
        waved.filter(col("wave") === i).drop("wave")))
    } finally waved.unpersist()
  }
}
