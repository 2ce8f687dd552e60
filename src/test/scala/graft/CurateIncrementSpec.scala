package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** `Dedup.curateIncrement` semantics on hand-built hashes: weight
  * accumulation, batch-bridged survivor merges, ungrouped
  * pass-through, and batch-only groups. Hamming geometry used
  * throughout: H1 = 0, H3 = 0x7 (hamming 3 from H1), H2 = 0x3F
  * (hamming 6 from H1 — NOT pairable; hamming 3 from H3 — pairable),
  * so H3 bridges H1 and H2. */
class CurateIncrementSpec extends SparkSpec {
  import spark.implicits._

  private val (h1, h2, h3) = (0L, 0x3FL, 0x7L)

  private def run(surv: Seq[(Long, Long, Long, Long)],
      batch: Seq[(Long, Long, Long)]): Map[Long, (Long, Long)] =
    Dedup.curateIncrement(
        surv.toDF("doc_id", "ph", "quality", "n_copies"),
        batch.toDF("doc_id", "ph", "quality"),
        "doc_id", "ph", "quality")
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  test("batch member outscoring the prior survivor takes over; weights accumulate") {
    // survivor 1 already absorbed 3 copies; two batch docs join its
    // group, the better one wins, n_copies = 3 + 2
    val out = run(surv = Seq((1L, h1, 5L, 3L)),
      batch = Seq((10L, h1, 2L), (11L, h1, 9L)))
    assert(out === Map(11L -> (9L, 5L)))
  }

  test("prior survivor outscoring the batch keeps its seat, weight still grows") {
    val out = run(surv = Seq((1L, h1, 9L, 3L)), batch = Seq((10L, h1, 2L)))
    assert(out === Map(1L -> (9L, 4L)))
  }

  test("a batch doc BRIDGES two prior survivors: groups merge, weights fold") {
    // ham(H1,H2)=6 — the previous update rightly kept both; the
    // arrival at H3 pairs with each (ham 3), merging the components
    val out = run(surv = Seq((1L, h1, 5L, 2L), (2L, h2, 7L, 4L)),
      batch = Seq((10L, h3, 1L)))
    assert(out === Map(2L -> (7L, 7L)))
  }

  test("unmatched rows pass through: survivors keep prior weight, batch gets 1") {
    val far = 0xFFFFFFFFFFFFFFFL // no chunk shared with h1
    val out = run(surv = Seq((3L, h1, 2L, 5L)), batch = Seq((12L, far, 8L)))
    assert(out === Map(3L -> (2L, 5L), 12L -> (8L, 1L)))
  }

  test("batch-only duplicate group with no survivor involvement") {
    val far = 0xFFFFFFFFFFFFFFFL
    val out = run(surv = Seq((3L, far, 2L, 5L)),
      batch = Seq((10L, h1, 4L), (11L, h1, 6L), (12L, h1, 6L)))
    // quality tie 6 between 11 and 12 -> min id
    assert(out === Map(3L -> (2L, 5L), 11L -> (6L, 3L)))
  }

  private def fromScratch(all: org.apache.spark.sql.DataFrame,
      maxHamming: Int): Set[(Long, Long, Long)] = {
    import graft.ext.Multimodal
    val pairs = Multimodal.hashNearDup(all, "doc_id", "ph", maxHamming)
    val labels = Dedup.components(pairs, "id_a", "id_b")
    Dedup.keepBestInGroups(all.select(col("doc_id"), col("quality")),
        labels, "doc_id", "quality")
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def twoPhase(all: org.apache.spark.sql.DataFrame,
      maxHamming: Int): Set[(Long, Long, Long)] = {
    import graft.ext.Multimodal
    val evens = all.filter(col("doc_id") % 2 === 0)
    val odds = all.filter(col("doc_id") % 2 === 1)
    val p1Pairs = Multimodal.hashNearDup(evens, "doc_id", "ph", maxHamming)
    val p1Labels = Dedup.components(p1Pairs, "id_a", "id_b")
    val survivors = Dedup.keepBestInGroups(evens, p1Labels,
      "doc_id", "quality")
    Dedup.curateIncrement(survivors, odds, "doc_id", "ph", "quality",
        maxHamming = maxHamming)
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("incremental ≡ from-scratch under TRANSITIVE (equality) geometry") {
    // THEOREM for hash-equality grouping: phase-1 keeps every even
    // class's argmax, so the two-phase election attains the global
    // argmax and merged weights reproduce the class sizes — probed
    // over random clustered hash sets and random qualities.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val centers = Array.fill(6)(rnd.nextLong())
      val docs = (1L to 60L).map { id =>
        (id, centers(rnd.nextInt(centers.length)), rnd.nextInt(10).toLong)
      }
      val all = docs.toDF("doc_id", "ph", "quality")
      assert(twoPhase(all, 0) === fromScratch(all, 0), s"trial $trial")
    }
  }

  test("DELETED-BRIDGE divergence under non-transitive hamming (documented trade)") {
    // With hamming pairing, a batch doc whose ONLY link to a prior
    // group ran through a deleted (non-survivor) member cannot rejoin
    // it: one-pass curation discards exactly the documents that could
    // have bridged. Pinned counterexample — evens 2 (ham 0 vs center,
    // wins on quality) and 4 (ham 2, dropped); odd 9 sits at ham 2
    // from doc 4 but ham 4 from doc 2: from-scratch connects 9 via 4,
    // the increment (correctly, per the contract) leaves 9 alone.
    val c = 0x5A5A_A5A5_0F0FL
    val all = Seq(
      (2L, c, 9L),                         // survivor of phase 1
      (4L, c ^ 3L, 1L),                    // dropped by phase 1
      (9L, c ^ 3L ^ (1L << 40) ^ (1L << 41), 5L)) // odd: ham 2 from 4, ham 4 from 2
      .toDF("doc_id", "ph", "quality")
    val scratch = fromScratch(all, 3)
    val incr = twoPhase(all, 3)
    assert(scratch === Set((2L, 9L, 3L)))
    assert(incr === Set((2L, 9L, 2L), (9L, 5L, 1L)))
  }

  test("capped increment: hot batch hash drops-and-reports, election still runs") {
    // The cap counts distinct-hash class representatives, not docs:
    // 6 identical batch docs are one class and merge with survivor 1
    // under any cap. The hot bucket is built from 3 > cap DISTINCT
    // hashes sharing chunk 0's 16-bit value 0xBEEF: it is skipped on
    // both screens and reported once per side, so the hamming-3 pair
    // (b1, b2) — equal ONLY at chunk 0 — is missed (under-merge only;
    // pairs never invented), while a cold batch doc still merges with
    // its survivor normally.
    val cold = 0x0F0F_F0F0_5A5AL
    val b1 = 0x1234_5678_9ABC_BEEFL
    val b2 = b1 ^ (1L << 20) ^ (1L << 36) ^ (1L << 52)
    val b3 = 0x7777_8888_9999_BEEFL
    val surv = Seq((1L, h1, 5L, 2L), (2L, cold, 9L, 3L))
      .toDF("doc_id", "ph", "quality", "n_copies")
    val hotDocs = (10L to 15L).map(i => (i, h1, i % 4))
    val batch = (hotDocs ++ Seq((20L, cold, 4L), (30L, b1, 1L),
      (31L, b2, 2L), (32L, b3, 3L))).toDF("doc_id", "ph", "quality")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("doc_id"), col("n_copies"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (out, overflow) = Dedup.curateIncrementCapped(surv, batch,
      "doc_id", "ph", "quality", maxBucket = Some(2))
    // survivor 1 (quality 5) absorbs the 6 copies; survivor 2
    // (quality 9) absorbs doc 20; the hot-bucket docs stay apart
    assert(rowsOf(out) ===
      Map(1L -> 8L, 2L -> 4L, 30L -> 1L, 31L -> 1L, 32L -> 1L))
    val hot = overflow.select(col("side"), col("chunk"), col("cval"),
      col("n_ids")).as[(String, Int, Long, Long)].collect().toSet
    assert(hot === Set(("self", 0, 0xBEEFL, 3L), ("cross", 0, 0xBEEFL, 3L)))
    // uncapped, the missed pair merges (31 outscores 30)
    assert(rowsOf(Dedup.curateIncrement(surv, batch, "doc_id", "ph",
        "quality")) ===
      Map(1L -> 8L, 2L -> 4L, 31L -> 2L, 32L -> 1L))
    // maxHamming = 0: no pair search, so the cap is unused and
    // nothing overflows
    val (out0, overflow0) = Dedup.curateIncrementCapped(surv, batch,
      "doc_id", "ph", "quality", maxHamming = 0, maxBucket = Some(2))
    assert(rowsOf(out0) ===
      Map(1L -> 8L, 2L -> 4L, 30L -> 1L, 31L -> 1L, 32L -> 1L))
    assert(overflow0.isEmpty)
  }

  test("chained updates accumulate across rounds (output feeds back in)") {
    val r1 = run(surv = Seq((1L, h1, 5L, 1L)), batch = Seq((10L, h1, 6L)))
    assert(r1 === Map(10L -> (6L, 2L)))
    val r2 = run(surv = Seq((10L, h1, 6L, 2L)), batch = Seq((20L, h1, 9L)))
    assert(r2 === Map(20L -> (9L, 3L)))
  }
}
