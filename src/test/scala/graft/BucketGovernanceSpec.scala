package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
  LogicalPlan, Project, Union}
import org.apache.spark.sql.functions._

import graft.ext.{Buckets, CurationRunner, Dedup, Multimodal}
import graft.streaming.StreamNearDup

/** One bucket-governance rule for every capped candidate generator
  * (`Buckets`): the capped overflow is the hot set cut once (a local
  * relation on the driver, read with no job), the uncapped overflow is
  * an empty frame
  * with the same column names and types that no Spark job builds or
  * reads, and the family's parameters are validated before any job.
  * Jobs are counted under a job group around each call, as in
  * `NearDupCutSpec`. */
class BucketGovernanceSpec extends SparkSpec {
  import spark.implicits._

  private var groups = 0
  /** Spark jobs `body` runs, and its value. */
  private def jobs[T](body: => T): (Int, T) = {
    groups += 1
    val g = s"graft-bucket-governance-$groups"
    spark.sparkContext.setJobGroup(g, "bucket governance job count")
    val out = try body finally spark.sparkContext.clearJobGroup()
    (spark.sparkContext.statusTracker.getJobIdsForGroup(g).length, out)
  }

  private def columns(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString))

  /** `df` reads the hot set cut once to the driver — local relations
    * through projections and unions only — and reading it runs no job:
    * no aggregate is left to re-run. */
  private def checkpointed(df: DataFrame): Boolean = {
    def cut(plan: LogicalPlan): Boolean = plan match {
      case _: LocalRelation => true
      case Project(_, child) => cut(child)
      case u: Union => u.children.forall(cut)
      case _ => false
    }
    cut(df.queryExecution.analyzed) && jobs(df.collect())._1 == 0
  }

  /** The uncapped overflow: capped columns, no rows, no job to read. */
  private def assertNone(label: String, none: DataFrame,
      capped: DataFrame): Unit = {
    assert(columns(none) === columns(capped), s"$label: overflow columns")
    val (n, rows) = jobs(none.collect())
    assert(rows.isEmpty, s"$label: uncapped overflow is empty")
    assert(n === 0, s"$label: reading the uncapped overflow runs no job")
  }

  /** Hamming-≤2 clusters of 6 (hot at cap 4), scattered singles. */
  private lazy val hashes: DataFrame = {
    val rnd = new scala.util.Random(707)
    val centres = Array.fill(3)(rnd.nextLong())
    ((0 until 18).map(i => (i.toLong,
      centres(i / 6) ^ (if (i % 3 == 0) 0L else 1L << rnd.nextInt(64)))) ++
      (18 until 30).map(i => (i.toLong, rnd.nextLong())))
      .toDF("id", "ph").localCheckpoint(true)
  }

  test("Buckets.none: no rows, the hot set's columns, no job to build") {
    val keyed = hashes.select(col("id"), (col("ph") % 7L).as("k"))
    val (n, none) = jobs(Buckets.none(keyed, Seq("k"), "n_ids"))
    assert(n === 0, "building the uncapped overflow runs no job")
    val hot = Buckets.hot(keyed, Seq("k"), 1, "n_ids")
    assert(checkpointed(hot))
    assertNone("Buckets", none, hot)
  }

  test("the pigeonhole screens: checkpointed capped overflow, empty uncapped twin") {
    val (_, capped) = Multimodal.hashNearDupCapped(hashes, "id", "ph",
      maxBucket = Some(4))
    assert(checkpointed(capped) && capped.count() > 0, "hashNearDupCapped")
    val (_, none) = Multimodal.hashNearDupCapped(hashes, "id", "ph",
      maxBucket = None)
    assertNone("hashNearDupCapped", none, capped)

    val left = hashes.filter(col("id") % 2 === 0L)
    val right = hashes.filter(col("id") % 2 === 1L)
    for (radius <- Seq(3, 7)) {
      val (_, cappedX) = Multimodal.hashNearDupAgainstCapped(left, right,
        "id", "ph", maxHamming = radius, maxBucket = Some(4))
      assert(checkpointed(cappedX), s"hashNearDupAgainstCapped r=$radius")
      val (_, noneX) = Multimodal.hashNearDupAgainstCapped(left, right,
        "id", "ph", maxHamming = radius, maxBucket = None)
      assertNone(s"hashNearDupAgainstCapped r=$radius", noneX, cappedX)
    }

    val (_, cappedS) = StreamNearDup.screenAgainst(left, right, "id", "ph",
      maxBucket = Some(2))
    assert(checkpointed(cappedS), "screenAgainst")
    val (_, noneS) = StreamNearDup.screenAgainst(left, right, "id", "ph")
    assertNone("screenAgainst", noneS, cappedS)

    val docs = hashes.select(col("id").as("doc_id"),
      concat_ws(" ", lit("near"), (col("id") % 3L).cast("string"),
        lit("duplicate text body")).as("text"))
    val (_, cappedT) = Dedup.simhashCapped(docs, "doc_id", "text",
      maxBucket = Some(4))
    assert(checkpointed(cappedT), "simhashCapped")
    val (_, noneT) = Dedup.simhashCapped(docs, "doc_id", "text",
      maxBucket = None)
    assertNone("simhashCapped", noneT, cappedT)
  }

  test("minhashLshCapped, ngramJaccardCapped, embeddingCosineCapped: the hot set is the overflow") {
    val docs = ((1L to 6L).map(i => (i, s"common filler gram here unique$i")) ++
      Seq((10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "alpha beta gamma delta epsilon eta")))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val (_, cappedM) = Dedup.minhashLshCapped(docs, "doc_id", "text",
      maxBucket = Some(1))
    assert(checkpointed(cappedM) && cappedM.count() > 0, "minhashLshCapped")
    val (_, noneM) = Dedup.minhashLshCapped(docs, "doc_id", "text",
      maxBucket = None)
    assertNone("minhashLshCapped", noneM, cappedM)

    val (_, hotGrams) = Dedup.ngramJaccardCapped(docs, "doc_id", "text",
      "lang", maxGramDf = 3)
    assert(checkpointed(hotGrams) && hotGrams.count() > 0,
      "ngramJaccardCapped")
    val vecs = (1L to 6L).map(i => (i, Seq(1.0f, 0.0f, i.toFloat / 100), 1))
      .toDF("vec_id", "embedding", "label")
    val (_, hotBuckets) = Dedup.embeddingCosineCapped(vecs, "vec_id",
      "embedding", "label", maxBucket = 4)
    assert(checkpointed(hotBuckets) && hotBuckets.count() === 1L,
      "embeddingCosineCapped")
    for (bad <- Seq(
        () => Dedup.ngramJaccardCapped(docs, "doc_id", "text", "lang",
          maxGramDf = 0),
        () => Dedup.embeddingCosineCapped(vecs, "vec_id", "embedding",
          "label", maxBucket = 0),
        () => Dedup.minhashLshCapped(docs, "doc_id", "text",
          maxBucket = Some(0)))) {
      val (n, e) = jobs(intercept[IllegalArgumentException](bad()))
      assert(e.getMessage.contains("must be positive"), e.getMessage)
      assert(n === 0, s"a rejected cap runs no job: ${e.getMessage}")
    }
  }

  test("curation overflow: the uncapped and radius-0 frames match the capped one") {
    val survivors = hashes.filter(col("id") < 10L)
      .select(col("id"), col("ph"), lit(1L).as("quality"),
        lit(1L).as("n_copies"))
    val batch = hashes.filter(col("id") >= 10L)
      .select(col("id"), col("ph"), lit(2L).as("quality"))
    def ovf(maxHamming: Int, maxBucket: Option[Int]): DataFrame =
      Dedup.curateIncrementCapped(survivors, batch, "id", "ph", "quality",
        maxHamming = maxHamming, maxBucket = maxBucket)._2
    val capped = ovf(3, Some(4))
    assert(checkpointed(capped) && capped.count() > 0, "curateIncrementCapped")
    assertNone("uncapped increment", ovf(3, None), capped)
    val (n, radius0) = jobs(ovf(0, Some(4)))
    assert(n === 0, "the radius-0 increment builds no job")
    assertNone("radius-0 increment", radius0, capped)
  }

  test("the curation kernel validates maxHamming and maxBucket before any job") {
    val survivors = Seq.empty[(Long, Long, Long, Long)]
      .toDF("doc_id", "ph", "quality", "n_copies")
    val batch = Seq((1L, 5L, 1L), (2L, 7L, 2L)).toDF("doc_id", "ph", "quality")
    val e1 = intercept[IllegalArgumentException](
      Dedup.curateIncrementCapped(survivors, batch, "doc_id", "ph",
        "quality", maxHamming = 0, maxBucket = Some(0)))
    assert(e1.getMessage.contains("maxBucket"), e1.getMessage)
    val dir = Files.createTempDirectory("graft-bucket-governance").toString
    val e2 = intercept[IllegalArgumentException](
      CurationRunner.applyIncrement(dir, batch, 0L, "doc_id", "ph",
        "quality", maxHamming = 0, maxBucket = Some(0)))
    assert(e2.getMessage.contains("maxBucket"), e2.getMessage)
    val (n, e3) = jobs(intercept[IllegalArgumentException](
      Dedup.curateOneShot(batch, "doc_id", "ph", "quality", maxHamming = 8)))
    assert(e3.getMessage.contains("maxHamming"), e3.getMessage)
    assert(n === 0, "the rejected radius runs no job")
  }

  test("components over an eager cut runs no raw-cut job, with the same labels") {
    val eager = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b").localCheckpoint(true)
    // a computed column: the operator cannot re-read it cheaply
    val computed = eager.select((col("doc_a") + 0L).as("doc_a"), col("doc_b"))
    def labels(df: DataFrame): Set[(Long, Long)] =
      df.as[(Long, Long)].collect().toSet
    for (threshold <- Seq(100000L, 0L)) { // driver path, distributed path
      val (nCut, cut) = jobs(Dedup.components(eager,
        driverThreshold = threshold))
      val (nRaw, raw) = jobs(Dedup.components(computed,
        driverThreshold = threshold))
      assert(nCut === nRaw - 1, s"threshold=$threshold: one raw-cut job less")
      assert(labels(cut) === labels(raw), s"threshold=$threshold")
      assert(labels(cut) === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
        (11L, 10L), (20L, 20L), (21L, 20L), (22L, 20L)))
    }
  }
}
