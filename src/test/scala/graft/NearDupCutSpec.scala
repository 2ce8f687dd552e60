package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal}

/** The near-dup operators decide their own cuts. `hashNearDupCapped`
  * and each side of `hashNearDupAgainstCapped` cut their input once,
  * unless its analyzed plan re-reads an eager checkpoint (or a local
  * relation) through attribute/alias projections and deterministic
  * filters. The operator call runs its cuts eagerly and nothing else,
  * so jobs counted under a job group around the call tell the shapes
  * apart: a cut input costs exactly one job more than a vouched one,
  * and the results are the same either way. */
class NearDupCutSpec extends SparkSpec {
  import spark.implicits._

  private val Mask = 0x5DEECE66DL

  /** Three hamming-≤2 clusters of 6 docs (a hot bucket at cap 4) plus
    * scattered singles, and two null hashes. */
  private lazy val data: Seq[(Long, Option[Long])] = {
    val rnd = new scala.util.Random(606)
    val centres = Array.fill(3)(rnd.nextLong())
    val clustered = (0 until 18).map { i =>
      val flips = i % 3
      (i.toLong, Option((0 until flips).foldLeft(centres(i / 6))(
        (p, _) => p ^ (1L << rnd.nextInt(64)))))
    }
    clustered ++ (18 until 40).map(i => (i.toLong, Option(rnd.nextLong()))) ++
      Seq((40L, None), (41L, None))
  }

  /** `data` as an eager checkpoint: the shape the vouched callers build. */
  private def eager: DataFrame = data.toDF("id", "ph").localCheckpoint(true)

  /** `data` behind a computed hash column over a parquet scan. */
  private lazy val parquet: DataFrame = {
    val dir = Files.createTempDirectory("graft-near-dup-cut").resolve("t")
    data.toDF("id", "ph")
      .select(col("id"), col("ph").bitwiseXOR(lit(Mask)).as("x"))
      .write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
      .select(col("id"), col("x").bitwiseXOR(lit(Mask)).as("ph"))
  }

  /** Input shapes the operator must not cut. */
  private def vouched: Seq[(String, () => DataFrame)] = Seq(
    "filter over an eager cut" -> (() => eager.filter(col("id") >= 0L)),
    "alias projection over an eager cut" ->
      (() => eager.select(col("id").as("id"), col("ph").as("ph"))))

  /** Input shapes the operator must cut once. */
  private def uncut: Seq[(String, () => DataFrame)] = Seq(
    "parquet scan with a computed hash" -> (() => parquet),
    "lazy localCheckpoint" ->
      (() => data.toDF("id", "ph").localCheckpoint(false)),
    "projection carrying rand()" ->
      (() => eager.select(col("id"), col("ph"), rand(7).as("r"))))

  private var groups = 0
  /** Spark jobs `body` runs, and its value. */
  private def jobs[T](body: => T): (Int, T) = {
    groups += 1
    val g = s"graft-near-dup-cut-$groups"
    spark.sparkContext.setJobGroup(g, "near-dup cut job count")
    val out = try body finally spark.sparkContext.clearJobGroup()
    (spark.sparkContext.statusTracker.getJobIdsForGroup(g).length, out)
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSet

  private def overflowSet(df: DataFrame): Set[(Int, Long, Long)] =
    df.as[(Int, Long, Long)].collect().toSet

  test("hashNearDupCapped cuts only inputs it cannot re-read cheaply") {
    def run(df: DataFrame) = jobs(Multimodal.hashNearDupCapped(df, "id", "ph",
      maxHamming = 3, maxBucket = Some(4)))
    val (base, (wantPairs, wantOvf)) = run(eager.filter(col("id") >= 0L))
    val want = (pairSet(wantPairs), overflowSet(wantOvf))
    assert(want._1.nonEmpty && want._2.nonEmpty,
      "the fixture must yield pairs and a skipped bucket")
    for ((label, df) <- vouched) {
      val (n, (p, o)) = run(df())
      assert(n === base, s"$label: no input-cut job")
      assert((pairSet(p), overflowSet(o)) === want, label)
    }
    for ((label, df) <- uncut) {
      val (n, (p, o)) = run(df())
      assert(n === base + 1, s"$label: one input-cut job")
      assert((pairSet(p), overflowSet(o)) === want, label)
    }
  }

  test("hashNearDupAgainstCapped decides the cut per side") {
    def run(l: DataFrame, r: DataFrame) = jobs(
      Multimodal.hashNearDupAgainstCapped(l.filter(col("id") % 2 === 0L),
        r.filter(col("id") % 2 === 1L), "id", "ph", maxHamming = 3,
        maxBucket = Some(4)))
    val (base, (wantPairs, wantOvf)) = run(eager, eager)
    val want = (pairSet(wantPairs), overflowSet(wantOvf))
    assert(want._1.nonEmpty && want._2.nonEmpty,
      "the fixture must yield pairs and a skipped bucket")
    for ((label, df) <- vouched) {
      val (n, (p, o)) = run(df(), df())
      assert(n === base, s"$label on both sides: no input-cut job")
      assert((pairSet(p), overflowSet(o)) === want, label)
    }
    for ((label, df) <- uncut) {
      val (nLeft, (pl, ol)) = run(df(), eager)
      assert(nLeft === base + 1, s"$label on the left: one input-cut job")
      assert((pairSet(pl), overflowSet(ol)) === want, s"$label on the left")
      val (nBoth, (pb, ob)) = run(df(), df())
      assert(nBoth === base + 2, s"$label on both sides: one cut per side")
      assert((pairSet(pb), overflowSet(ob)) === want, s"$label on both sides")
    }
  }

  test("ngramJaccardCapped and embeddingCosineCapped return a materialized overflow") {
    // the hot set on the driver: a local relation, read with no job
    def materialized(df: DataFrame): Boolean =
      df.queryExecution.analyzed.isInstanceOf[LocalRelation] &&
        jobs(df.collect())._1 == 0
    val docs = ((1L to 6L).map(i => (i, s"common filler gram here unique$i")) ++
      Seq((10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "alpha beta gamma delta epsilon eta")))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val (grams, hotGrams) = Dedup.ngramJaccardCapped(docs, "doc_id", "text",
      "lang", n = 3, threshold = 0.1, maxGramDf = 3)
    assert(materialized(hotGrams), "hot-gram set is cut once")
    assert(hotGrams.as[(String, Long, Long)].collect().forall(_._3 === 6L))
    assert(grams.select("doc_a", "doc_b").as[(Long, Long)].collect()
      .contains((10L, 11L)))
    val vecs = ((1L to 6L).map(i => (i, Seq(1.0f, 0.0f, i.toFloat / 100), 1)) ++
      Seq((20L, Seq(0.0f, 1.0f, 0.0f), 2), (21L, Seq(0.0f, 1.0f, 0.01f), 2)))
      .toDF("vec_id", "embedding", "label")
    val (cos, hotBuckets) = Dedup.embeddingCosineCapped(vecs, "vec_id",
      "embedding", "label", threshold = 0.9, maxBucket = 4)
    assert(materialized(hotBuckets), "oversized-bucket set is cut once")
    assert(hotBuckets.as[(Int, Long)].collect().toSeq === Seq((1, 6L)))
    assert(cos.select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
      Set((20L, 21L)))
  }
}
