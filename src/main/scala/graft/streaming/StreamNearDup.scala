package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.ext.Buckets

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
  * (e.g. `dropDuplicatesWithinWatermark` on (idA, idB)) or run
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

  /** Above this many hot keys the literal-array regime gives way to a
    * broadcast lookup set: array_contains over typedLit arrays costs
    * O(|hot|) per candidate row and embeds every key in the plan —
    * fine for a handful of hot buckets, a plan-size and per-row-cost
    * blowup on a reference with many. */
  private val HotKeyLiteralMax = 1024

  /** STREAMING bipartite screen against a FROZEN reference corpus —
    * online decontamination: every arrival is checked against a fixed
    * training/eval set and emits one row per reference near-duplicate
    * (id_a = arrival, id_b = reference member, exact hamming).
    *
    * Because the reference never changes, the Spark-first shape is a
    * STREAM-STATIC equi-join on the four (chunk, value) bucket keys —
    * NO state store at all: the pigeonhole still guarantees recall
    * (hamming ≤ 3 ⇒ some chunk equal ⇒ the pair meets in that
    * bucket's join partition), exact hamming still verifies every
    * candidate, and the LOWEST-EQUAL-CHUNK rule — a pure filter here,
    * both hashes in hand on the joined row — keeps exactly one copy
    * when a pair meets in several buckets. Zero state means nothing
    * grows with stream length: at 100 TB-of-arrivals scale the only
    * persistent cost is the chunked reference (4 rows × 24 bytes per
    * reference doc), which the caller should `persist()` — a static
    * side is otherwise re-scanned every micro-batch.
    *
    * Hot-bucket cap: computed on the REFERENCE side only (the static
    * side is fully known up front; arrival-side frequency is
    * unknowable without state, which this mode exists to avoid).
    * Buckets holding more than `maxBucket` reference members are
    * dropped from the join and reported by the family's governance
    * rule (`graft.ext.Buckets`) — so one arrival costs at most
    * 4 × maxBucket comparisons, and a pair is missed only if ALL its
    * equal chunks are reference-hot.
    *
    * Redelivery: stateless ⇒ a redelivered arrival re-emits its
    * pairs. Run effectively-once delivery into this operator or
    * dedupe downstream (e.g. `dropDuplicatesWithinWatermark` on
    * (id_a, id_b)) — the same trade the capped stateful path makes
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
    import graft.functions.{HashFunctions => H}
    Buckets.check(maxHamming, maxBucket)
    // per-chunk tolerance: equal chunks at radius ≤ 3; at 4–7 the
    // STATIC reference explodes each chunk's 17-key 1-bit ball (paid
    // once — the stream side stays at 4 exact keys per arrival), and a
    // pair qualifies at a chunk when the chunk distance is ≤ 1
    val tol = if (maxHamming <= 3) 0 else 1
    def chunked(df: DataFrame, ic: String, hc: String): DataFrame =
      df.select(col(idCol).as(ic), col(hashCol).as(hc))
        .filter(col(hc).isNotNull)
        .select(col(ic), col(hc),
          posexplode(H.simhashChunks(col(hc))).as(Seq("chunk", "cval")))
    val refExact = chunked(reference, "id_b", "ph_b")
    val refAll = if (tol == 0) refExact
      else refExact.select(col("chunk"), col("id_b"), col("ph_b"),
        explode(H.oneBitBall(col("cval"))).as("cval"))
    // Hot keys come to the DRIVER: the batch op broadcasts the same
    // frame, so the driver already pays this size (≤ nChunks·|ref|/cap
    // buckets of 12 bytes). The exactly-once rule below needs a PURE
    // per-row hotness lookup for every chunk position (not just the
    // joined one), which a join alone cannot provide — so hotness is
    // evaluated row-side in one of two regimes:
    //  - ≤ HotKeyLiteralMax keys: per-chunk sorted literal arrays,
    //    fully codegen'd, zero extra plan nodes;
    //  - above it: one broadcast hash set probed by a lightweight UDF
    //    — O(1) per lookup, constant plan size, the same broadcast the
    //    batch operator's left_anti join ships.
    val (_, overflow) = Buckets.govern(refAll, Seq("chunk", "cval"),
      maxBucket, "n_ids")
    val rows = if (maxBucket.isEmpty) Array.empty[Row]
      else overflow.select(col("chunk"), col("cval")).collect()
    val isHot: (Int, Column) => Column =
      if (rows.length <= HotKeyLiteralMax) {
        val byChunk = (0 until 4).map(c =>
          rows.filter(_.getInt(0) == c).map(_.getLong(1)).sorted.toSeq)
        (c, cval) =>
          if (byChunk(c).isEmpty) lit(false)
          else array_contains(typedLit(byChunk(c)), cval)
      } else {
        val set = reference.sparkSession.sparkContext.broadcast(
          rows.map(r => (r.getInt(0), r.getLong(1))).toSet)
        val probe = udf((c: Int, v: Long) => set.value.contains((c, v)))
        (c, cval) => probe(lit(c), cval)
      }
    def chunkOf(h: Column, c: Int): Column =
      shiftrightunsigned(h, 16 * c).bitwiseAND(lit(0xffffL))
    def hotHere(df: DataFrame): DataFrame = df.filter(!(0 until 4)
      .map(c => col("chunk") === c && isHot(c, col("cval")))
      .reduce(_ || _))
    // drop hot buckets from BOTH sides: the ref side defines the cap;
    // the arrival side's hot rows could only ever join dropped ref
    // rows, so filtering them too is a pure shuffle saving
    val ref = hotHere(refAll)
    // Exactly-once rule, cap-aware: a pair meets once per SURVIVING
    // equal-chunk bucket, and only the LOWEST of those speaks. Both
    // hashes are on the joined row and hotness is a pure row-side
    // lookup, so every bucket computes the same answer — a pure
    // filter, no state. survives(c) = chunk distance ≤ tol at c AND
    // the bucket keyed by the ARRIVAL's chunk value not hot (that key
    // is where the pair meets — exactly one reference ball row matches
    // it per qualifying chunk).
    def survives(c: Int): Column =
      H.hamming64(chunkOf(col("ph_a"), c), chunkOf(col("ph_b"), c)) <= tol &&
        !isHot(c, chunkOf(col("ph_a"), c))
    val lowestSurviving = (0 until 4)
      .map(c => col("chunk") === c &&
        (0 until c).map(p => !survives(p)).foldLeft(lit(true))(_ && _))
      .reduce(_ || _)
    val pairs = hotHere(chunked(arrivals, "id_a", "ph_a"))
      .join(ref, Seq("chunk", "cval"))
      .filter(lowestSurviving)
      .select(col("id_a"), col("id_b"),
        H.hamming64(col("ph_a"), col("ph_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    (pairs, overflow)
  }
}
