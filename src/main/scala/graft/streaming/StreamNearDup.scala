package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.ext.{Buckets, Multimodal}

/** [EXT]/T5 — STREAMING near-duplicate detection over a 64-bit
  * perceptual/sketch hash column: the incremental counterpart of
  * `Multimodal.hashNearDup` (text simhash, image dHash, audio/video
  * fingerprints all arrive here through the same contract).
  *
  * Shape: each arriving (id, hash) fans out to its chunk keys (four
  * 16-bit chunks at radius ≤ 3, eight 8-bit chunks at radius 4–7);
  * per (chunk, value) bucket the state holds the members seen so
  * far, and an arrival emits an exact-hamming-verified pair against
  * each stored member before joining the bucket. The chunk pigeonhole
  * gives full recall (hamming ≤ nChunks−1 ⇒ some chunk equal ⇒ the
  * pair meets in that bucket), and the LOWEST-EQUAL-CHUNK rule gives exactly-once
  * emission with zero extra state: both hashes are in hand when a pair
  * meets, so every equal-chunk bucket computes the same "who emits"
  * answer and only the lowest equal chunk index speaks.
  *
  * Scale/state contract: state is per-bucket and the bucket key is the
  * shuffle key, so hot hashes spread over four positions; `maxBucket`
  * bounds members per bucket — an overflowing bucket stops ADMITTING
  * members (arrivals still pair against the stored ones) and the
  * overflow count rides in the state. A pair is missed only if its
  * lowest equal chunk's bucket was already full when the EARLIER
  * member arrived — the streaming mirror of `hashNearDupCapped`'s
  * drop-and-report trade (pairs are never invented; hamming is always
  * exactly verified). Run the state store on RocksDB at deployment,
  * same as the other T5 operators.
  *
  * Determinism: within a micro-batch, bucket members are processed in
  * ascending id order, so admission under the cap and the emitted pair
  * set are a pure function of the data, not of iterator order.
  *
  * Redelivery contract (at-least-once upstream): (id, hash) must be
  * IMMUTABLE upstream — the guard keys on the id alone, so an id
  * redelivered with a DIFFERENT hash is skipped in buckets that
  * already hold the old hash but admitted under its new hash's other
  * chunk keys, leaving two hashes live for one id and pairs emitted
  * against either version. A content update that re-derives the hash
  * must therefore arrive as a NEW id (the usual content-addressed
  * discipline); this operator deduplicates REDELIVERIES, not
  * revisions. Under that contract the guard covers ADMITTED members —
  * a stored id's re-arrival neither re-pairs nor re-admits. A doc that was REJECTED by a full bucket
  * is, by the bounded-state design, not remembered there; its
  * redelivery re-pairs against that bucket's stored members
  * (duplicate pair rows on the append output) and re-counts the
  * overflow. Same class of trade as `StreamDedup.firstSeenTtl`'s
  * post-eviction re-emit: remembering rejections would need exactly
  * the unbounded state the cap exists to avoid. Deployments pairing a
  * cap with an at-least-once source should dedupe pairs downstream
  * (e.g. Spark's within-watermark deduplication on (idA, idB)) or run
  * effectively-once delivery into this operator.
  */
object StreamNearDup {

  /** One corpus member: a stable id plus its 64-bit hash. */
  final case class HashedDoc(id: Long, hash: Long)

  /** Emitted pair (idA < idB), exact hamming. */
  final case class NearDupPair(idA: Long, idB: Long, hamming: Int)

  private[streaming] final case class BucketState(
      ids: List[Long], hashes: List[Long], overflowed: Long)

  /** Chunk count for a hamming radius: 4×16-bit covers ≤ 3, 8×8-bit
    * covers ≤ 7 (generalized pigeonhole — see
    * `HashFunctions.simhashChunks`). */
  private[streaming] def chunksFor(maxHamming: Int): Int =
    if (maxHamming <= 3) 4 else 8

  private def chunk(h: Long, c: Int, nChunks: Int): Long = {
    val w = 64 / nChunks
    (h >>> (w * c)) & ((1L << w) - 1)
  }

  /** Lowest chunk index on which the two hashes agree, or -1. */
  private[streaming] def lowestEqualChunk(a: Long, b: Long,
      nChunks: Int = 4): Int = {
    var c = 0
    while (c < nChunks) {
      if (chunk(a, c, nChunks) == chunk(b, c, nChunks)) return c
      c += 1
    }
    -1
  }

  /** Wire the stateful pairing over a stream (or batch) of
    * [[HashedDoc]]. Emits each qualifying pair exactly once, in the
    * micro-batch where its LATER member arrives. 4 ≤ maxHamming ≤ 7
    * widens the pigeonhole to eight 8-bit chunks — per-arrival work
    * doubles (8 buckets) and buckets run ~256× hotter per position, so
    * size `maxBucket` for the hotter radius-7 regime. (The BATCH
    * operators and the frozen screen use 16-bit chunks + 1-bit
    * multi-probe at this radius instead — 2⁸× colder buckets — but
    * that shape is wrong HERE: probe rows pair in buckets that never
    * admit them, so the stored-id idempotence guard couldn't see a
    * redelivery, and remembering probe visitors would need unbounded
    * state. This op keeps pairing buckets == admission buckets and
    * leans on the per-bucket cap.) */
  def pairs(ds: Dataset[HashedDoc], maxHamming: Int = 3,
      maxBucket: Int = 4096): Dataset[NearDupPair] = {
    Buckets.check(maxHamming, Some(maxBucket))
    val nChunks = chunksFor(maxHamming)
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val stateEnc = Encoders.product[BucketState]
    ds.flatMap(d => (0 until nChunks).map(c => (c, chunk(d.hash, c, nChunks), d)))
      .groupByKey { case (c, cv, _) => (c, cv) }
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, values, state) =>
          val c = key._1
          val st = state.getOption.getOrElse(BucketState(Nil, Nil, 0L))
          var ids = st.ids
          var hashes = st.hashes
          var size = ids.length
          var overflowed = st.overflowed
          val out = List.newBuilder[NearDupPair]
          // ascending id: admission + emission independent of iterator order
          values.map(_._3).toVector.sortBy(_.id).foreach { d =>
            // idempotent under at-least-once redelivery: a stored
            // member's re-arrival neither re-pairs nor re-admits
            if (!ids.contains(d.id)) {
              var i = ids
              var h = hashes
              while (i.nonEmpty) {
                val oid = i.head
                val oh = h.head
                val ham = java.lang.Long.bitCount(d.hash ^ oh)
                // only the lowest equal chunk of THIS pair emits
                if (ham <= maxHamming && lowestEqualChunk(d.hash, oh, nChunks) == c)
                  out += NearDupPair(math.min(d.id, oid),
                    math.max(d.id, oid), ham)
                i = i.tail
                h = h.tail
              }
              if (size < maxBucket) {
                ids = d.id :: ids
                hashes = d.hash :: hashes
                size += 1
              } else overflowed += 1
            }
          }
          state.update(BucketState(ids, hashes, overflowed))
          out.result().iterator
      }
  }

  /** STREAMING bipartite screen against a FROZEN reference corpus —
    * online decontamination: every arrival is checked against a fixed
    * training/eval set and emits one row per reference near-duplicate
    * (id_a = arrival, id_b = reference member, exact hamming).
    *
    * It is the batch bipartite screen, `Multimodal.pigeonholeScreen`,
    * with the arrivals as its batch: because the reference never
    * changes, the Spark-first shape is a STREAM-STATIC equi-join on the
    * (chunk, value) bucket keys — NO state store at all. The pigeonhole
    * guarantees recall, exact hamming verifies every candidate, and the
    * screen's exactly-once rule keeps the pair's least surviving
    * meeting — a pure filter, both hashes in hand on the joined row —
    * so a pair that meets in several buckets is emitted once. Zero
    * state means nothing grows with stream length: the only persistent
    * cost is the chunked reference, which the screen cuts once (4 rows
    * per reference doc, the 1-bit ball ×17 at radius 4–7).
    *
    * Hot-bucket cap: counted on the REFERENCE's probe keys only (the
    * static side is fully known up front; arrival-side frequency is
    * unknowable without state, which this mode exists to avoid).
    * Buckets holding more than `maxBucket` reference keys are dropped
    * from the join and reported by the family's governance rule
    * (`graft.ext.Buckets`), looked up row-side from one broadcast — so
    * one arrival costs at most 4 × maxBucket comparisons, and a pair is
    * missed only if ALL its meeting buckets are reference-hot. A
    * streaming `arrivals` runs no uncapped audit (its size is unknown);
    * a static one is audited like the batch screen.
    *
    * Redelivery: stateless ⇒ a redelivered arrival re-emits its
    * pairs. Run effectively-once delivery into this operator or
    * dedupe downstream (e.g. Spark's within-watermark deduplication
    * on (id_a, id_b)) — the same trade the capped stateful path makes
    * for rejected members, here made uniformly.
    *
    * @param reference frozen corpus: `idCol`, `hashCol` (batch frame)
    * @param arrivals  streaming (or batch) frame with `idCol`,
    *                  `hashCol`
    * @return (pairs (id_a, id_b, hamming) — streaming when `arrivals`
    *         is, append-safe; overflow (chunk, cval, n_ids) — batch)
    */
  def screenAgainst(reference: DataFrame, arrivals: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int = 3,
      maxBucket: Option[Int] = None): (DataFrame, DataFrame) = {
    def idPh(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), col(hashCol).as("ph"))
    val (pairs, overflow) = Multimodal.pigeonholeScreen(idPh(arrivals),
      Some(idPh(reference)), self = false, maxHamming, maxBucket,
      crossCountsBatch = false)
    (pairs, overflow.drop("side"))
  }
}
