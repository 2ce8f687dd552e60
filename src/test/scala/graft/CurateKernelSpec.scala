package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal}

/** Differential spec for the curation kernel behind `curateOneShot`,
  * `curateIncrement` and `curateIncrementCapped`. The reference is the
  * doc-level increment composed from public pieces — self screen over
  * the batch + bipartite screen batch × survivors → `components` →
  * `keepBestInGroupsWeighted` — at any hamming radius. Under the
  * store precondition (no two survivors share a hash, which every
  * `curateOneShot` or increment output meets) the uncapped kernel must
  * reproduce it exactly, across chained increments, null hashes and
  * null/tied qualities. Under tight caps the kernel may only
  * under-merge: its survivor count lies between the uncapped count
  * and the reference's, copies are conserved, and an increment that
  * reports no overflow equals the uncapped one. */
class CurateKernelSpec extends SparkSpec {
  import spark.implicits._

  private type Surv = (Long, Option[Long], Option[Long], Long)
  private type Doc = (Long, Option[Long], Option[Long])

  /** The doc-level increment, composed verbatim from public pieces. */
  private def reference(survivors: DataFrame, batch: DataFrame, h: Int,
      cap: Option[Int]): DataFrame = {
    val surv = survivors.select(col("doc_id"), col("ph"), col("quality"),
      col("n_copies").cast("long").as("__w")).localCheckpoint(true)
    val bat = batch.select(col("doc_id"), col("ph"), col("quality"))
      .localCheckpoint(true)
    val (pairsSelf, _) = Multimodal.hashNearDupCapped(
      bat.select(col("doc_id"), col("ph")), "doc_id", "ph", h, cap)
    val (pairsCross, _) = Multimodal.hashNearDupAgainstCapped(
      bat.select(col("doc_id"), col("ph")),
      surv.select(col("doc_id"), col("ph")), "doc_id", "ph", h, cap)
    val edges = pairsSelf.select(col("id_a"), col("id_b"))
      .unionByName(pairsCross.select(col("id_a"), col("id_b")))
    val labels = Dedup.components(edges, aCol = "id_a", bCol = "id_b")
    val all = surv.unionByName(bat.withColumn("__w", lit(1L)))
    Dedup.keepBestInGroupsWeighted(all, labels, "doc_id", "quality", "__w")
      .select(col("doc_id"), col("ph"), col("quality"), col("n_copies"))
  }

  private def outSet(df: DataFrame): Set[Surv] =
    df.select(col("doc_id"), col("ph"), col("quality"), col("n_copies"))
      .as[Surv].collect().toSet

  private def survDf(rows: Set[Surv]): DataFrame =
    rows.toSeq.toDF("doc_id", "ph", "quality", "n_copies")

  private def docDf(rows: Seq[Doc]): DataFrame =
    rows.toDF("doc_id", "ph", "quality")

  /** Clustered docs: exact copies, hamming 1–3 and 4–6 neighbours of a
    * few centres, ~1/12 null hashes, ~1/8 null qualities and a 5-value
    * quality range (ties). */
  private def docs(rnd: Random, ids: Seq[Long], centers: Array[Long]): Seq[Doc] =
    ids.map { id =>
      val ph =
        if (rnd.nextInt(12) == 0) None
        else {
          val flips = rnd.nextInt(4) match {
            case 0 | 1 => 0
            case 2 => 1 + rnd.nextInt(3)
            case _ => 4 + rnd.nextInt(3)
          }
          Some((0 until flips).foldLeft(centers(rnd.nextInt(centers.length)))(
            (p, _) => p ^ (1L << rnd.nextInt(64))))
        }
      val q = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(5).toLong)
      (id, ph, q)
    }

  private def increment(surv: DataFrame, batch: DataFrame, h: Int,
      cap: Option[Int]): (DataFrame, DataFrame) =
    Dedup.curateIncrementCapped(surv, batch, "doc_id", "ph", "quality",
      maxHamming = h, maxBucket = cap)

  test("random clustered geometries, uncapped: kernel ≡ reference") {
    val rnd = new Random(4242)
    for (trial <- 1 to 2; h <- Seq(0, 3, 5)) {
      val centers = Array.fill(5)(rnd.nextLong())
      val seed = outSet(Dedup.curateOneShot(
        docDf(docs(rnd, 1L to 20L, centers)), "doc_id", "ph", "quality", h))
      val batch = docDf(docs(rnd, 100L to 140L, centers))
      assert(outSet(increment(survDf(seed), batch, h, None)._1) ===
        outSet(reference(survDf(seed), batch, h, None)),
        s"trial $trial h=$h: survivors diverge")
    }
  }

  test("three chained increments from a one-shot seed: kernel ≡ reference") {
    val rnd = new Random(1717)
    for (h <- Seq(0, 3, 5); cap <- Seq(None, Some(4096))) {
      val centers = Array.fill(6)(rnd.nextLong())
      val seed = outSet(Dedup.curateOneShot(
        docDf(docs(rnd, 1L to 40L, centers)), "doc_id", "ph", "quality", h))
      (1 to 3).foldLeft((seed, seed)) { case ((kPrev, rPrev), step) =>
        val batch = docDf(docs(rnd, (step * 100L) until (step * 100L + 30L),
          centers))
        val (kOut, kOvf) = increment(survDf(kPrev), batch, h, cap)
        val k = outSet(kOut)
        val r = outSet(reference(survDf(rPrev), batch, h, cap))
        assert(k === r, s"h=$h cap=$cap step $step: survivors diverge")
        assert(kOvf.isEmpty, s"h=$h cap=$cap step $step: overflow")
        (k, r)
      }
    }
  }

  test("one-sided classes and null hashes pass through") {
    val far1 = 0x0123_4567_89AB_CDEFL
    val far2 = 0x0FED_CBA9_8765_4321L
    val surv: Set[Surv] = Set((1L, Some(far1), Some(5L), 3L), // never merges
      (2L, Some(0x7L), Some(9L), 2L))
    val batch = docDf(Seq((10L, Some(far2), Some(4L)),      // batch-only class
      (11L, Some(far2), Some(6L)), (20L, Some(0x7L), Some(1L)))) // joins 2
    for (h <- Seq(0, 3); cap <- Seq(None, Some(4096)))
      assert(outSet(increment(survDf(surv), batch, h, cap)._1) ===
        outSet(reference(survDf(surv), batch, h, cap)), s"h=$h cap=$cap")
    // null-hash rows pass through ungrouped with their own weight
    val survN: Set[Surv] = Set((1L, Some(5L), Some(5L), 3L),
      (2L, None, Some(9L), 2L))
    val batN = docDf(Seq((10L, Some(5L), Some(7L)), (11L, None, Some(1L))))
    val rows = increment(survDf(survN), batN, 0, None)._1
      .select(col("doc_id"), col("n_copies")).as[(Long, Long)].collect().toMap
    assert(rows === Map(10L -> 4L, 2L -> 2L, 11L -> 1L))
  }

  test("tight caps only under-merge, conserve copies, and are exact without overflow") {
    val rnd = new Random(777)
    var overflowed = 0
    for (trial <- 1 to 2; h <- Seq(0, 3, 5)) {
      // few centres, many near copies: buckets far past the caps
      val centers = Array.fill(3)(rnd.nextLong())
      val seed = outSet(Dedup.curateOneShot(
        docDf(docs(rnd, 1L to 30L, centers)), "doc_id", "ph", "quality", h))
      val batch = docDf(docs(rnd, 100L to 160L, centers))
      val copies = seed.toSeq.map(_._4).sum + batch.count()
      val uncapped = outSet(increment(survDf(seed), batch, h, None)._1)
      for (cap <- Seq(2, 4, 8, 4096)) {
        val label = s"trial $trial h=$h cap=$cap"
        val (kOut, kOvf) = increment(survDf(seed), batch, h, Some(cap))
        val k = outSet(kOut)
        val r = outSet(reference(survDf(seed), batch, h, Some(cap)))
        assert(k.size >= uncapped.size && k.size <= r.size,
          s"$label: ${k.size} survivors outside [${uncapped.size}, ${r.size}]")
        assert(k.toSeq.map(_._4).sum === copies, s"$label: copies")
        if (kOvf.isEmpty) assert(k === uncapped, s"$label: no overflow")
        else overflowed += 1
      }
    }
    assert(overflowed > 0, "no case exercised a dropped bucket")
  }
}
