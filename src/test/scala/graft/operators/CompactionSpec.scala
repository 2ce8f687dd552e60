package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A1/A3 semantics, mirroring the reference specs
  * (spec/active_record_consume/batch_slicer_spec.rb:16-27 and the
  * compaction cases of spec/active_record_batch_consumer_spec.rb). */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  // (id, key, payload) — A1,A2,B1,C1,C2,C3 arrival order
  private def batch = Seq(
    (1L, "A", "a1"), (2L, "A", "a2"), (3L, "B", "b1"),
    (4L, "C", "c1"), (5L, "C", "c2"), (6L, "C", "c3"))
    .toDF("id", "key", "payload")

  test("lastWins keeps exactly the final row per key") {
    val got = Compaction.lastWins(batch, Seq("key"), col("id"))
      .select("key", "payload").as[(String, String)].collect().toSet
    assert(got === Set(("A", "a2"), ("B", "b1"), ("C", "c3")))
  }

  test("lastWinsKeyed passes NULL-key rows through uncompacted (blank-key guard)") {
    // reference skips compaction when keys are blank
    // (outbox_producer.rb:218-219): unkeyed rows must ALL survive
    val withNulls = Seq(
      (1L, Option("A"), "a1"), (2L, Option("A"), "a2"),
      (3L, Option.empty[String], "u1"), (4L, Option.empty[String], "u2"),
      (5L, Option.empty[String], "u3"))
      .toDF("id", "key", "payload")
    val got = Compaction.lastWinsKeyed(withNulls, Seq("key"), col("id"))
      .select("payload").as[String].collect().toSet
    assert(got === Set("a2", "u1", "u2", "u3"))
    // plain lastWins would have collapsed the NULL group to one row —
    // the exact silent-loss hazard the guard exists for
    assert(Compaction.lastWins(withNulls, Seq("key"), col("id"))
      .count() === 2)
  }

  test("lastWins of a single-row key is identity") {
    val one = Seq((10L, "Z", "z")).toDF("id", "key", "payload")
    assert(Compaction.lastWins(one, Seq("key"), col("id")).count() === 1)
  }

  test("waves match the reference slicer: A1,A2,B1,C1,C2,C3 → 3 key-disjoint slices") {
    val got = Compaction.withWave(batch, Seq("key"), col("id"))
      .select("payload", "wave").as[(String, Long)].collect().toMap
    assert(got === Map("a1" -> 1L, "a2" -> 2L, "b1" -> 1L,
      "c1" -> 1L, "c2" -> 2L, "c3" -> 3L))
  }

  test("each wave has distinct keys and same-key rows keep order across waves") {
    val waved = Compaction.withWave(batch, Seq("key"), col("id"))
    val perWave = waved.groupBy("wave")
      .agg(count(lit(1)).as("n"), countDistinct(col("key")).as("k"))
      .select("n", "k").as[(Long, Long)].collect()
    assert(perWave.forall { case (n, k) => n === k })
    // within a key, wave order == id order
    val cKey = waved.filter(col("key") === "C").orderBy("wave")
      .select("id").as[Long].collect()
    assert(cKey.toSeq === Seq(4L, 5L, 6L))
  }

  test("orderedByKey handles a 5k-version hot key in ONE job, keys consecutive and in order") {
    // the wave path would need 5000 sequential Spark jobs here; the
    // ordered layout does one shuffle + partition-local sort
    val hot = spark.range(5000).select(
      col("id"), lit("HOT").as("key"))
    val cold = spark.range(100).select(
      (col("id") + 100000L).as("id"),
      concat(lit("k"), col("id") % 10).as("key"))
    val df = hot.unionByName(cold)
    val violations = spark.sparkContext.longAccumulator("violations")
    val seen = spark.sparkContext.longAccumulator("rows")
    val group = "graft-orderedByKey-spec"
    spark.sparkContext.setJobGroup(group, "orderedByKey job count")
    try {
      Compaction.orderedByKey(df, Seq("key"), col("id"))
        .select("key", "id")
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          val finishedKeys = scala.collection.mutable.Set[String]()
          var curKey: String = null
          var lastId = Long.MinValue
          rows.foreach { r =>
            val (k, id) = (r.getString(0), r.getLong(1))
            if (k != curKey) {
              // a key reappearing after we moved on = interleaving
              if (finishedKeys.contains(k)) violations.add(1)
              if (curKey != null) finishedKeys += curKey
              curKey = k; lastId = Long.MinValue
            }
            if (id <= lastId) violations.add(1)
            lastId = id
            seen.add(1)
          }
        }
    } finally spark.sparkContext.clearJobGroup()
    assert(seen.value === 5100L)
    assert(violations.value === 0L)
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length >= 1 && jobs.length <= 4,
      s"expected a handful of jobs, got ${jobs.length}")
  }

  test("slices materializes ordered key-disjoint frames") {
    // the waved frame withSlices caches (Dataset.storageLevel looks the
    // plan up in the cache manager, so an equal plan finds the entry)
    def waveCache = Compaction.withWave(batch, Seq("key"), col("id")).storageLevel
    val sizes = Compaction.withSlices(batch, Seq("key"), col("id")) { s =>
      assert(waveCache.useMemory, "the waves share one cached frame")
      assert(s.head.select("payload").as[String].collect().toSet ===
        Set("a1", "b1", "c1"))
      assert(s(2).select("payload").as[String].collect().toSet === Set("c3"))
      s.size
    }
    assert(sizes === 3)
    assert(waveCache === org.apache.spark.storage.StorageLevel.NONE,
      "the wave cache is released when the body returns")
  }
}
