package graft.streaming

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.ext.Multimodal

/** The frozen-reference screen (`StreamNearDup.screenAgainst`) across a
  * restart: arrivals stream from a parquet file source into a parquet
  * file sink, the query stops after its first batch, more arrival files
  * land, and a new query resumes from the same checkpoint. The sink
  * must hold `hashNearDupAgainst` over all the arrivals, each pair
  * exactly once, at radius 3 and 7, under a cap that drops the lowest
  * meeting bucket of the near copies. */
class StreamScreenRestartSpec extends SparkSpec {
  import spark.implicits._

  private def chunkMask(c: Int): Long = 0xffffL << (16 * c)

  private def flip(h: Long, bits: Int*): Long =
    bits.foldLeft(h)((x, b) => x ^ (1L << b))

  /** (reference, first arrivals, later arrivals) at `radius`. Three
    * reference docs share chunk 0 and differ widely elsewhere, so at
    * cap 2 their chunk-0 bucket is hot; a near copy of each (within
    * `radius`, equal at chunk 2) meets there first and must be emitted
    * through its cold chunk-2 bucket. Plus an exact copy of a cold
    * reference doc (it meets in all four buckets), a near copy of
    * another, and unrelated singles. */
  private def fixture(radius: Int)
      : (Seq[(Long, Long)], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val rnd = new Random(4200 + radius)
    val centre = rnd.nextLong()
    val cluster = Seq.fill(3)(
      (centre & chunkMask(0)) | (rnd.nextLong() & ~chunkMask(0)))
    val cold = Seq.fill(4)(rnd.nextLong())
    def near(h: Long): Long =
      if (radius <= 3) flip(h, 17, 50) else flip(h, 3, 17, 20, 49, 60)
    val reference = (cluster ++ cold).zipWithIndex
      .map { case (h, i) => (100L + i, h) }
    val first = (Seq(near(cluster(0)), near(cluster(1)), cold(0)) ++
      Seq.fill(3)(rnd.nextLong())).zipWithIndex
      .map { case (h, i) => (1L + i, h) }
    val later = (Seq(near(cluster(2)), near(cold(1))) ++
      Seq.fill(2)(rnd.nextLong())).zipWithIndex
      .map { case (h, i) => (11L + i, h) }
    (reference, first, later)
  }

  private def pairs(df: DataFrame): Seq[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSeq.sorted

  for (radius <- Seq(3, 7))
    test(s"radius $radius: a restarted file-source screen emits each pair once, as the batch screen does") {
      val (reference, first, later) = fixture(radius)
      val root = Files.createTempDirectory("graft-screen-restart")
      val in = root.resolve("in").toString
      val out = root.resolve("out").toString
      val checkpoint = root.resolve("checkpoint").toString
      val ref = reference.toDF("id", "ph")
      def land(rows: Seq[(Long, Long)]): Unit =
        rows.toDF("id", "ph").coalesce(1).write.mode("append").parquet(in)
      /** One run of the query from `checkpoint`, stopped once it has
        * caught up with the files; the screen's overflow. */
      def run(): DataFrame = {
        val arrivals = spark.readStream.schema("id long, ph long").parquet(in)
        val (screened, overflow) = StreamNearDup.screenAgainst(ref, arrivals,
          "id", "ph", maxHamming = radius, maxBucket = Some(2))
        val q = screened.writeStream.format("parquet")
          .option("checkpointLocation", checkpoint).start(out)
        try q.processAllAvailable() finally q.stop()
        overflow
      }
      def batch(arrivals: Seq[(Long, Long)]): Seq[(Long, Long, Long)] =
        pairs(Multimodal.hashNearDupAgainst(arrivals.toDF("id", "ph"), ref,
          "id", "ph", maxHamming = radius))

      land(first)
      val overflow = run()
      val hot = overflow.as[(Int, Long, Long)].collect()
      assert(hot.exists { case (c, v, _) =>
          c == 0 && v == (reference.head._2 & 0xffffL) },
        "the cap drops the cluster's chunk-0 bucket")
      val wantFirst = batch(first)
      assert(wantFirst.map(_._2).toSet === Set(100L, 101L, 103L),
        "the first arrivals pair with both cluster docs and a cold doc")
      assert(pairs(spark.read.parquet(out)) === wantFirst,
        "after the first run")

      land(later)
      run()
      val want = batch(first ++ later)
      assert(want.size === wantFirst.size + 2,
        "the later arrivals add a cluster pair and a cold pair")
      assert(pairs(spark.read.parquet(out)) === want, "after the restart")
    }
}
