package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.ext.Multimodal

/** The chunk-pigeonhole screen (`Multimodal.pigeonholeScreen`) — the
  * curation kernel's one screen, and the body of `hashNearDupCapped`
  * and `hashNearDupAgainstCapped` — against a brute-force reference of
  * its contract, written over plain Scala collections. The screen with
  * both searches, and each public screen alone, must give the
  * reference's pairs and overflow at every radius and cap, with no,
  * empty and non-empty survivor sets, null hashes, and buckets that are
  * self-hot, cross-hot only, or cold. Each uncapped audit must trip
  * under a lowered bound with its surface's message. */
class CurationScreenSpec extends SparkSpec {
  import spark.implicits._

  private type Rows = Seq[(Long, Option[Long])]
  private type Pair = (Long, Long, Long)
  private type Overflow = (String, Int, Long, Long)

  /** The contract: a pair meets at chunk c in the bucket (c, x's chunk
    * value) of an endpoint x of the batch when the other endpoint's
    * chunk there is equal (radius ≤ 3) or within one bit (4–7). Self
    * pairs (both in the batch, as (smaller id, larger id)) may meet at
    * either endpoint; cross pairs (batch, survivor) at the batch one.
    * A pair is emitted when it meets in a bucket that is not hot for
    * its search and lies within `h`. A bucket is self-hot when more
    * than `cap` batch rows hold its key, cross-hot when more than `cap`
    * batch keys and survivor probe keys (the value, plus its 16 one-bit
    * flips at radius 4–7) name it; null hashes never pair. */
  private def reference(batch: Rows, survivors: Option[Rows], h: Int,
      cap: Option[Int]): (Seq[Pair], Seq[Pair], Seq[Overflow]) = {
    def hashed(rows: Rows): Seq[(Long, Long)] =
      rows.collect { case (id, Some(ph)) => (id, ph) }
    def chunk(ph: Long, c: Int): Long = (ph >>> (16 * c)) & 0xFFFFL
    val tol = if (h <= 3) 0 else 1
    def probes(ph: Long): Seq[(Int, Long)] =
      for (c <- 0 until 4; v = chunk(ph, c);
           k <- v +: (if (tol == 0) Nil else (0 until 16).map(i => v ^ (1L << i))))
        yield (c, k)
    val bat = hashed(batch)
    val surv = survivors.map(hashed)
    val exactKeys = bat.flatMap { case (_, ph) =>
      (0 until 4).map(c => (c, chunk(ph, c))) }
    def hot(keys: Seq[(Int, Long)]): Map[(Int, Long), Long] =
      keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        .filter { case (_, n) => cap.exists(n > _) }
    val selfHot = hot(exactKeys)
    val crossHot = surv.fold(Map.empty[(Int, Long), Long])(s =>
      hot(exactKeys ++ s.flatMap(r => probes(r._2))))
    def ham(x: Long, y: Long): Long = java.lang.Long.bitCount(x ^ y).toLong
    def meets(x: Long, y: Long, hotKeys: Map[(Int, Long), Long]): Boolean =
      (0 until 4).exists(c =>
        java.lang.Long.bitCount(chunk(x, c) ^ chunk(y, c)) <= tol &&
          !hotKeys.contains((c, chunk(x, c))))
    val self = for ((i, x) <- bat; (j, y) <- bat
        if i < j && ham(x, y) <= h &&
          (meets(x, y, selfHot) || meets(y, x, selfHot)))
      yield (i, j, ham(x, y))
    val cross = for (s <- surv.toSeq; (i, x) <- bat; (j, y) <- s
        if ham(x, y) <= h && meets(x, y, crossHot))
      yield (i, j, ham(x, y))
    def sided(side: String, hotKeys: Map[(Int, Long), Long]): Seq[Overflow] =
      hotKeys.toSeq.map { case ((c, v), n) => (side, c, v, n) }
    (self, cross, sided("self", selfHot) ++ sided("cross", crossHot))
  }

  private def df(rows: Rows): DataFrame = rows.toDF("id", "ph")

  private def screen(batch: Rows, survivors: Option[Rows], h: Int,
      cap: Option[Int], bound: Long): (DataFrame, DataFrame) =
    Multimodal.pigeonholeScreen(df(batch), survivors.map(df), self = true,
      h, cap, bound)

  private def pairs(df: DataFrame): Seq[Pair] =
    df.as[Pair].collect().toSeq.sorted

  /** Batch rows (ids from 1000) and survivor rows (ids from 1): a
    * batch cluster (self-hot under small caps), a survivor cluster
    * holding two batch rows (cross-hot only), scattered cold singles,
    * exact copies (no flip), and ~1/10 null hashes on both sides. */
  private def geometry(rnd: Random): (Rows, Rows) = {
    val selfCentre = rnd.nextLong()
    val crossCentre = rnd.nextLong()
    def near(c: Long): Long =
      (0 until rnd.nextInt(8)).foldLeft(c)((p, _) => p ^ (1L << rnd.nextInt(64)))
    def hash(ph: Long): Option[Long] = if (rnd.nextInt(10) == 0) None else Some(ph)
    val batch = Seq.fill(10)(near(selfCentre)) ++ Seq.fill(2)(near(crossCentre)) ++
      Seq.fill(6)(rnd.nextLong())
    val surv = Seq.fill(8)(near(crossCentre)) ++ Seq.fill(2)(near(selfCentre)) ++
      Seq.fill(4)(rnd.nextLong())
    (batch.zipWithIndex.map { case (ph, i) => (1000L + i, hash(ph)) },
      surv.zipWithIndex.map { case (ph, i) => (1L + i, hash(ph)) })
  }

  test("the screen and the public screens ≡ the brute-force reference") {
    val rnd = new Random(8080)
    val bound = Multimodal.DefaultMaxProjectedCandidates
    var selfHot, crossOnly, paired = false
    for (h <- Seq(1, 3, 4, 7)) {
      val (batch, surv) = geometry(rnd)
      // the one-shot (no survivor branch), an empty and a non-empty
      // survivor set
      val modes = Seq("none" -> None, "empty" -> Some(Seq.empty),
        "some" -> Some(surv))
      for ((mode, survivors) <- modes;
           cap <- Seq(None, Some(2), Some(4), Some(4096))) {
        val label = s"h=$h cap=$cap survivors=$mode"
        val (wantSelf, wantCross, wantOvf) =
          reference(batch, survivors, h, cap)
        val (fPairs, fOvf) = screen(batch, survivors, h, cap, bound)
        assert(pairs(fPairs) === (wantSelf ++ wantCross).sorted,
          s"$label: pairs")
        val ovf = fOvf.as[Overflow].collect().toSeq
        assert(ovf.sorted === wantOvf.sorted, s"$label: overflow")

        def unsided(side: String): Seq[(Int, Long, Long)] =
          wantOvf.filter(_._1 == side).map(r => (r._2, r._3, r._4)).sorted
        val (sPairs, sOvf) = Multimodal.hashNearDupCapped(df(batch), "id",
          "ph", h, cap, bound)
        assert(pairs(sPairs) === wantSelf.sorted, s"$label: hashNearDupCapped")
        assert(sOvf.as[(Int, Long, Long)].collect().toSeq.sorted ===
          unsided("self"), s"$label: hashNearDupCapped overflow")
        for (s <- survivors) {
          val (cPairs, cOvf) = Multimodal.hashNearDupAgainstCapped(df(batch),
            df(s), "id", "ph", h, cap, bound)
          assert(pairs(cPairs) === wantCross.sorted,
            s"$label: hashNearDupAgainstCapped")
          assert(cOvf.as[(Int, Long, Long)].collect().toSeq.sorted ===
            unsided("cross"), s"$label: hashNearDupAgainstCapped overflow")
        }

        val selfKeys = ovf.filter(_._1 == "self").map(r => (r._2, r._3)).toSet
        selfHot ||= selfKeys.nonEmpty
        crossOnly ||= ovf.exists(r => r._1 == "cross" && !selfKeys((r._2, r._3)))
        paired ||= mode == "some" && wantCross.nonEmpty
      }
    }
    assert(selfHot, "no case made a bucket self-hot")
    assert(crossOnly, "no case made a bucket cross-hot only")
    assert(paired, "no case with survivors emitted a cross pair")
  }

  test("uncapped: each audit trips under a lowered bound with its surface's message") {
    val centre = 0x0123_4567_89AB_CDEFL
    // self: a batch cluster of 6 copies, mass 4 chunks × 6² = 144
    val selfBatch = (1000L until 1006L).map(i => (i, Option(centre)))
    val selfSurv = (1L to 3L).map(i => (i, Option(i * 0x1111_1111_1111L)))
    // cross only: two cold batch rows (self mass 8), one of them meeting
    // 10 survivor copies in each of its 4 buckets (bipartite mass 40)
    val crossBatch = Seq((1000L, Option(centre)),
      (1001L, Option(0x0FED_CBA9_8765_4321L)))
    val crossSurv = (1L to 10L).map(i => (i, Option(centre)))
    def message(run: => (DataFrame, DataFrame)): String =
      intercept[Multimodal.HotStructureException](run)
        .getMessage.split(" \\(hottest buckets").head
    for ((batch, surv, bound, surface, mass, public) <- Seq(
        (selfBatch, selfSurv, 100L, "hashNearDup (ungoverned)", 144L,
          () => Multimodal.hashNearDupCapped(df(selfBatch), "id", "ph", 3,
            None, 100L)),
        (crossBatch, crossSurv, 20L, "hashNearDupAgainst (ungoverned)", 40L,
          () => Multimodal.hashNearDupAgainstCapped(df(crossBatch),
            df(crossSurv), "id", "ph", 3, None, 20L)))) {
      val msg = message(screen(batch, Some(surv), 3, None, bound))
      assert(msg.startsWith(
        s"$surface: projected candidate mass $mass exceeds $bound "), msg)
      assert(message(public()) === msg)
    }
    // under the default bound: the reference's ten cross pairs
    val (fPairs, _) = screen(crossBatch, Some(crossSurv), 3, None,
      Multimodal.DefaultMaxProjectedCandidates)
    val (wantSelf, wantCross, _) =
      reference(crossBatch, Some(crossSurv), 3, None)
    assert(wantSelf.isEmpty && wantCross.size === 10)
    assert(pairs(fPairs) === wantCross.sorted)
  }
}
