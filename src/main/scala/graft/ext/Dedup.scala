package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.functions.Num.roundz

/** [EXT] Deduplication operators over a document corpus.
  *
  * Scale design (100 TB): every variant is
  * signature-computation scan-side (codegen, no shuffle) → one exchange
  * on a bucket key → pair verification within buckets. No pairwise
  * all-to-all anywhere; bucket keys are chosen so the exchange is the
  * only shuffle and skewed buckets can be handled by AQE skew splitting.
  */
object Dedup {

  /** [[graft.operators.Scale.spreadScan]] keyed on the caller's id
    * column — every operator here runs its expensive signature pass
    * (tokenize/shingle/hash) scan-side, so a degenerate-split input
    * (single-row-group parquet: ONE scan task) serializes exactly the
    * dominant cost. Identity on a many-split corpus. */
  private def spread(docs: DataFrame, idCol: String): DataFrame =
    graft.operators.Scale.spreadScan(docs, col(idCol))

  /** Exact dedup: group by normalized-content fingerprint. One shuffle
    * on the 128-bit digest; at scale this is the cheapest possible key
    * (16 bytes, uniformly distributed, no skew). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(docs, idCol)
      .select(col(idCol), T.normFingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("rep_doc_id"))

  /** Incremental exact dedup: the rows of `incoming` that are novel —
    * their normalized-content fingerprint appears neither in the
    * `existing` corpus nor earlier (lower id) in the batch itself.
    * This is the daily-increment form of [[exact]]: a crawl refresh is
    * deduplicated against the accumulated corpus without ever
    * reshuffling the corpus.
    *
    * 100 TB shape: `existing` is the huge side, so the bloom sketch is
    * built on the INCOMING batch (distributed aggregate; only the
    * fixed-size sketch crosses the driver) and `existing`'s digests
    * are filtered AT THE SCAN — only the ~fpp false-positive fraction
    * plus true collisions survive to the exact anti-join, which AQE
    * then broadcasts (the surviving set is batch-sized, not
    * corpus-sized). Bloom misses are definitive ("certainly novel"),
    * so exactness is preserved: false positives are eliminated by the
    * anti-join, never the other way round. `existing` is projected to
    * its text column only (column pruning reaches the scan); a
    * production pipeline would point this at its maintained
    * fingerprint table instead and skip the recompute.
    *
    * @param expectedItems sizing for the incoming-batch sketch
    *                      (~8 bits/item, 2% fpp at the default)
    * @return `incoming`'s columns plus `fingerprint`, one row per
    *         surviving (novel, first-in-batch) document; NULL-text
    *         rows pass through unchanged (null fingerprint — no
    *         content identity to dedup on)
    */
  def incrementalExact(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String,
      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val incAll = spread(incoming, idCol).withColumn("fingerprint",
      T.normFingerprint(col(textCol)))
    // a NULL text has no content identity: such rows PASS THROUGH
    // unchanged — never deduped against each other or the corpus.
    // (Running them through the machinery was inconsistent: the window
    // collapsed a batch's null-text rows to one "winner" while the
    // anti-join — null never equi-joins — re-admitted it every batch.)
    val nullFp = incAll.filter(col("fingerprint").isNull)
    val inc = incAll.filter(col("fingerprint").isNotNull)
    // first-in-batch winner per fingerprint: one shuffle on the digest
    val winners = inc
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("fingerprint")).orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")
    val existingFp = existing
      .select(T.normFingerprint(col(textCol)).as("fingerprint"))
    val surviving = graft.operators.Scale.bloomFilterBig(
      existingFp, inc.select(col("fingerprint")),
      col("fingerprint"), col("fingerprint"), expectedItems,
      8L * expectedItems)
    winners.join(surviving, Seq("fingerprint"), "left_anti")
      .unionByName(nullFp)
  }

  /** MinHash + LSH near-dedup: shingle → k-perm signature → banded
    * bucket join → exact-Jaccard verification of candidates.
    *
    * @param shingleN word-shingle width
    * @param k        signature width
    * @param bands    LSH bands (rows per band = k/bands)
    * @param threshold verified-Jaccard cutoff
    * @return (doc_a, doc_b, jaccard) candidate pairs passing threshold
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.2): DataFrame =
    minhashLshCapped(docs, idCol, textCol, shingleN, k, bands, threshold,
      maxBucket = None)._1

  /** [[minhashLsh]] with a candidate cap on LSH buckets: a (band,
    * bucket) holding more than `maxBucket` docs emits b² candidate
    * pairs — at corpus scale a bucket full of boilerplate-identical
    * documents is a task-killer. With a cap set, oversized buckets are
    * SKIPPED for candidate generation (their docs can still pair
    * through their other bands — LSH's redundancy is exactly for this)
    * and each one is accounted for in the overflow frame. Pairs can be
    * missed, never invented: verification stays exact-Jaccard on full
    * shingle sets either way, so this only moves recall — which is
    * already the LSH contract — never precision. Unlike
    * [[ngramJaccard]] (exact by contract → loud failure there), the
    * cap here is drop-and-report and OPT-IN: `None` keeps the classic
    * plan with zero extra jobs.
    *
    * @return (pairs, overflow) — overflow rows are (band, bucket,
    *         n_docs) per skipped bucket; empty frame when no cap set
    *         or no bucket over it
    */
  def minhashLshCapped(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.2,
      maxBucket: Option[Int] = Some(1 << 12)): (DataFrame, DataFrame) = {
    require(maxBucket.forall(_ >= 1), s"maxBucket must be positive: $maxBucket")
    // bands must tile the signature: bands > k makes every band key a
    // constant (r = k/bands = 0 rows hashed ⇒ one bucket per band —
    // either a full O(n²) cross join or, capped, silent zero recall),
    // and k % bands != 0 silently drops the trailing signature rows
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide the signature width: k=$k, bands=$bands " +
        s"(rows per band = k/bands must be a positive integer)")
    // Shingles are 64-bit hashes (one pass over hashed tokens) — set
    // arithmetic downstream is numeric, never strings.
    val docsS = spread(docs, idCol)
    val shingled = docsS.select(col(idCol).as("doc"),
      graft.functions.Expressions.ngramHashes(
        H.tokenHashes(T.tokens(col(textCol))), shingleN).as("shingles"))
      .filter(size(col("shingles")) > 0)
    // Bucket join carries only (doc, band, bucket) — never the shingle
    // arrays — so the LSH shuffle is a few bytes per row; shingles are
    // re-joined only for the (few) surviving candidate pairs.
    val allBanded = shingled.select(col("doc"),
      posexplode(H.bandKeys(
        graft.functions.Expressions.minhashSignature(col("shingles"), k),
        k, bands)).as(Seq("band", "bucket")))
    val (banded, overflow) = maxBucket match {
      case Some(cap) =>
        // hot set is pathological-buckets-only (tiny): checkpoint once,
        // broadcast anti-join keeps the b² blowup off the shuffle
        val hot = allBanded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") > cap)
          .localCheckpoint(true)
        (allBanded.join(broadcast(hot.select(col("band"), col("bucket"))),
          Seq("band", "bucket"), "left_anti"), hot)
      case None =>
        val spark = docs.sparkSession
        import spark.implicits._
        (allBanded,
          Seq.empty[(Int, Long, Long)].toDF("band", "bucket", "n_docs"))
    }
    val a = banded.select(col("band"), col("bucket"), col("doc").as("doc_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc").as("doc_b"))
    // Eager local checkpoint: the candidate set is tiny (surviving
    // pairs only) and is consumed twice below; without it each consumer
    // re-runs the ENTIRE shingle+band pipeline (Spark has no automatic
    // subtree reuse across join branches). localCheckpoint — not
    // cache() — so nothing leaks into the session cache between runs.
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .localCheckpoint(true)
    // Verification shingles are recomputed for CANDIDATE DOCS ONLY —
    // join the (broadcast) candidate id list into the raw docs scan and
    // shingle after the join. At 100 TB this is two cheap passes
    // (full scan once for banding, candidate-only scan for verify)
    // instead of materializing corpus-sized shingle arrays.
    val candIds = candidates.select(col("doc_a").as("cid"))
      .unionByName(candidates.select(col("doc_b").as("cid")))
      .distinct()
    val candShingled = docsS
      .join(broadcast(candIds), col(idCol) === col("cid"))
      .select(col(idCol).as("doc"),
        graft.functions.Expressions.ngramHashes(
          H.tokenHashes(T.tokens(col(textCol))), shingleN).as("shingles"))
    val pairs = candidates
      .join(candShingled.select(col("doc").as("doc_a"), col("shingles").as("sh_a")),
        Seq("doc_a"))
      .join(candShingled.select(col("doc").as("doc_b"), col("shingles").as("sh_b")),
        Seq("doc_b"))
      .withColumn("jaccard", H.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    (pairs, overflow)
  }

  /** SimHash near-dedup: 64-bit fingerprints, candidates via 16-bit
    * chunk pigeonholing (dist ≤ 3 ⇒ some chunk equal), verified by
    * hamming distance. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      maxProjectedCandidates: Long =
        Multimodal.DefaultMaxProjectedCandidates): DataFrame =
    simhashCapped(docs, idCol, textCol, maxHamming, maxBucket = None,
      maxProjectedCandidates)._1

  /** [[simhash]] with a candidate cap on pigeonhole buckets: a 16-bit
    * chunk value shared by b documents emits b² join rows, and at
    * billions of documents hot chunk values are a certainty (65k
    * distinct values per chunk position). Oversized buckets are
    * SKIPPED and reported; a pair can still surface through its other
    * three chunks (the pigeonhole guarantee needs only ONE equal
    * chunk, so a d<=3 pair is missed only if ALL its equal chunks are
    * hot). Same opt-in drop-and-report contract as
    * [[minhashLshCapped]]; pairs are never invented — the hamming
    * verify is exact either way.
    *
    * @return (pairs, overflow) — overflow rows are (chunk, cval,
    *         n_docs) per skipped bucket
    */
  def simhashCapped(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(1 << 12),
      maxProjectedCandidates: Long =
        Multimodal.DefaultMaxProjectedCandidates): (DataFrame, DataFrame) = {
    // fingerprint here, then delegate the whole chunk-pigeonhole
    // candidate/cap/verify machinery to the ONE shared implementation
    // (Multimodal.hashNearDupCapped serves text simhash, image dHash,
    // and the audio/video fingerprints alike — review finding, round
    // 11: this body used to be a verbatim second copy)
    val sim = spread(docs, idCol).select(col(idCol).as("doc"),
      H.simhash64(H.tokenHashes(T.tokenSet(col(textCol)))).as("sim"))
    val (pairs, overflow) =
      Multimodal.hashNearDupCapped(sim, "doc", "sim", maxHamming, maxBucket,
        maxProjectedCandidates)
    (pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
      col("hamming")),
      overflow.withColumnRenamed("n_ids", "n_docs"))
  }

  /** N-gram Jaccard dedup with an equi-bucket (e.g. language) to bound
    * the candidate space, exact set arithmetic via an exploded
    * gram-level join — fully SQL-expressible, used as the DuckDB-checked
    * reference point for the sketch variants.
    *
    * Candidate-cap discipline: the gram-level self-join emits df² rows
    * for a gram appearing in df documents of one bucket, so a
    * stop-word-like hot gram is a task-killer at corpus scale. A gram
    * whose in-bucket frequency exceeds `maxGramDf` FAILS LOUDLY here
    * (wrongly-silent capping would change the exact semantics this
    * operator exists to pin); callers that accept missing-pair
    * (never fabricated-pair) results under hot grams use
    * [[ngramJaccardCapped]], which drops the hot grams from candidate
    * generation and reports each one. The frequency probe is one
    * aggregate over the gram scan — the price of converge-or-throw. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      bucketCol: String, n: Int = 3, threshold: Double = 0.2,
      maxGramDf: Int = 1 << 14): DataFrame = {
    val (pairs, hot) = ngramJaccardCapped(docs, idCol, textCol, bucketCol,
      n, threshold, maxGramDf, eagerHot = true)
    val examples = hot.limit(3).collect()
    if (examples.nonEmpty)
      throw new IllegalStateException(
        s"ngramJaccard: gram frequency exceeds maxGramDf=$maxGramDf in " +
          s"buckets ${examples.map(r => s"${r.get(0)} (df=${r.getLong(2)})")
            .mkString(", ")}; raise maxGramDf or use ngramJaccardCapped")
    pairs
  }

  /** [[ngramJaccard]] with hot grams DROPPED instead of fatal: grams
    * above `maxGramDf` in-bucket frequency are excluded from candidate
    * generation (doc gram-set sizes stay exact, so the reported
    * jaccard is a lower bound — pairs can be missed, never invented)
    * and every dropped gram is accounted for in the second frame.
    *
    * @return (pairs, overflow) — overflow rows are
    *         (bkt, g, gram_df) per dropped gram, empty when no cap hit
    */
  def ngramJaccardCapped(docs: DataFrame, idCol: String, textCol: String,
      bucketCol: String, n: Int = 3, threshold: Double = 0.2,
      maxGramDf: Int = 1 << 14,
      eagerHot: Boolean = false): (DataFrame, DataFrame) = {
    require(maxGramDf >= 1, s"maxGramDf must be positive, got $maxGramDf")
    // gram identity is its 64-bit hash: intersection/union counts match
    // string grams up to hash collisions (~2^-64 per pair)
    val grams = spread(docs, idCol)
      .select(col(idCol).as("doc"), col(bucketCol).as("bkt"),
        explode(graft.functions.Expressions.ngramHashes(
          H.tokenHashes(T.tokens(col(textCol))), n)).as("g"))
    val sizes = grams.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val hotLazy = grams.groupBy(col("bkt"), col("g"))
      .agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") > maxGramDf)
    // eagerHot (the throwing wrapper's mode): materialize the tiny hot
    // set ONCE — the wrapper's existence probe and the anti-join below
    // then both read the checkpoint instead of each re-running the
    // full gram-frequency aggregate (halves the cap discipline's cost)
    val hot = if (eagerHot) hotLazy.localCheckpoint(true) else hotLazy
    // hot is small by assumption (it lists pathological grams only), so
    // the exclusion is a broadcast anti-join on the gram scan — the df²
    // blowup never reaches the shuffle
    val kept = grams.join(broadcast(hot.select(col("bkt"), col("g"))),
      Seq("bkt", "g"), "left_anti")
    val inter = kept.alias("x")
      .join(kept.alias("y"),
        col("x.g") === col("y.g") && col("x.bkt") === col("y.bkt") &&
          col("x.doc") < col("y.doc"))
      .groupBy(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val pairs = inter
      .join(sizes.select(col("doc").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("sz").as("sb")), "doc_b")
      .withColumn("jaccard",
        col("i").cast("double") / (col("sa") + col("sb") - col("i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    (pairs, hot)
  }

  /** Collapse near-dup pairs into groups: each doc labeled with the
    * min doc id of its connected component.
    *
    * Distributed path: alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond").
    * Each round is two grouped-min + join steps; the round count is
    * O(log n) REGARDLESS of graph diameter — a chain-shaped component
    * (crawl-duplicate chains do this at corpus scale) converges just
    * as fast as a star, where per-hop min-label propagation would need
    * O(diameter) rounds. Convergence is detected by an exact
    * (count, hash-sum) signature of the edge set reaching a fixed
    * point; exceeding `maxIters` still fails loudly — wrong group ids
    * are silent data corruption for a dedup.
    */
  def components(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 25,
      driverThreshold: Long = 100000L): DataFrame = {
    // Round-17: materialize the RAW pair projection once (eager
    // localCheckpoint, no shuffle) and gate on the raw count. The old
    // shape built the bidirectional DISTINCT edge set (a full shuffle
    // + a session-cache entry) before deciding the path — but the
    // driver union-find neither needs dedup (a repeated union() is a
    // no-op) nor both orientations, so the tiny-graph common case
    // paid a distinct exchange plus two passes over the pair plan for
    // nothing. Gate at driverThreshold/2 raw pairs: 2·raw bounds the
    // bidirectional distinct edge count, so the driver path triggers
    // on a subset of the graphs it used to — same labels either way
    // (both paths emit identical labelings; ComponentsSpec pins it).
    val raw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint(true)
    val nRaw = raw.count()
    if (2 * nRaw <= driverThreshold) {
      // id-type-generic union-find (ids are int/long/string across the
      // callers — content-addressed regimes use strings): compare in
      // the SAME order the distributed path's min()/least() use, and
      // rebuild the result with the INPUT id type so both adaptive
      // paths emit identical labels and schema. Strings must compare
      // as UTF-8 bytes (Spark's binary ordering), NOT Java's UTF-16
      // compareTo — the two diverge for supplementary-plane chars
      // (4-byte UTF-8 sorts above 3-byte; UTF-16 surrogates sort
      // below U+E000), and a group label that flips between the
      // adaptive paths is silent corruption. Unsupported id types
      // (e.g. binary) fail loudly instead of ClassCastException-ing
      // only on the driver path.
      val es = raw.collect().map(r => (r.get(0), r.get(1)))
      def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: String, y: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
        case (x: java.lang.Comparable[_], _) =>
          x.asInstanceOf[Comparable[Any]].compareTo(b) < 0
        case _ => throw new IllegalArgumentException(
          s"components: unsupported id type ${a.getClass.getName} — " +
            "ids must be numeric or string (binary ids have no " +
            "driver-side ordering here; cast to string first)")
      }
      val parent = scala.collection.mutable.Map[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val spark = pairs.sparkSession
      val idType = pairs.schema(aCol).dataType
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          nodes.map(n => org.apache.spark.sql.Row(n, find(n))).toIndexedSeq),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", idType),
          org.apache.spark.sql.types.StructField("group_id", idType))))
    }
    // Large-star: every node u connects its LARGER neighbors to the
    // minimum of its neighborhood (incl. itself) — hooks long chains
    // toward the minimum several hops at once.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      val m = nbrs.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      nbrs.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    }
    // Small-star: orient edges parent-ward (src > dst), then connect
    // each node's smaller neighbors (and itself) to the minimum —
    // flattens the partial trees into stars.
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val m = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      or.join(m, Seq("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .unionByName(m.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // Edge-set signature: row count + two independent hash sums
    // (xxhash64 and murmur3 over the pair, residues mod a prime,
    // summed as DECIMAL so the sum itself cannot overflow at any edge
    // count — a Long sum of ~1e9 residues overflows past ~9.2e9 edges,
    // which under Spark 4's default ANSI mode is a job-killing
    // ArithmeticException exactly at the corpus scale this operator
    // advertises). Equality is a hash check, not set equality: a
    // false fixed-point needs BOTH independent sums to collide at the
    // same round (~1e-18 per round), and a collision can only end the
    // loop one round early on an almost-converged forest.
    def signature(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("src"), col("dst")),
          lit(1000000007L)).cast("decimal(28,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(28,0)")),
        coalesce(sum(pmod(hash(col("src"), col("dst")).cast("bigint"),
          lit(998244353L)).cast("decimal(28,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(28,0)"))).head()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }
    // orientation-normalized distinct edges straight from the raw
    // pairs: (greatest, least) collapses both orientations, so the
    // old bidirectional-union pre-pass fed this distinct nothing it
    // doesn't already produce
    var e = raw
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    var prev = signature(e)
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      // localCheckpoint each round: truncates the iterative lineage so
      // analysis/planning stays O(1) per round instead of compounding
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val sig = signature(next)
      e = next
      converged = sig == prev
      prev = sig
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds; " +
          "increase maxIters")
    // At the fixed point every non-root node carries exactly one edge
    // (node, component-min); roots label themselves.
    e.select(col("src").as("doc_id"), col("dst").as("group_id"))
      .unionByName(e.select(col("dst").as("doc_id"), col("dst").as("group_id"))
        .distinct())
      .localCheckpoint(true)
  }

  /** Exact dedup that keeps the BEST copy of each duplicate group
    * rather than an arbitrary one: rows group by the normalized
    * content fingerprint (the x1 rule) and the survivor is the row
    * with maximum `quality` (ties broken by minimum id — fully
    * deterministic, unlike a bare max_by).
    *
    * Scale shape: winner election is ONE map-side-combining groupBy on
    * the 16-byte fingerprint — `min(struct(-quality, id))` gives the
    * argmax with tie-break in a single partial-aggregable expression
    * (no window over the dup group); survivors join back on
    * (fingerprint, id), AQE choosing the join strategy (the winner
    * frame is fingerprint-cardinality, not broadcastable at corpus
    * scale).
    *
    * @param qualityCol numeric column; higher survives
    * @return the surviving rows with all original columns plus
    *         (fingerprint, n_copies)
    */
  def keepBest(docs: DataFrame, idCol: String, textCol: String,
      qualityCol: String): DataFrame = {
    val withFp = docs.withColumn("fingerprint",
      T.normFingerprint(col(textCol)))
    // leading null-flag field: struct ordering sorts null fields FIRST,
    // so a bare min(struct(-q, id)) would elect an UNSCORED (null
    // quality) row over every scored one — the flag makes null quality
    // lose to any score; an all-null group falls back to min id
    val winners = withFp.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_copies"),
        min(struct(when(col(qualityCol).isNull, lit(1)).otherwise(lit(0))
            .as("nn"),
          (-col(qualityCol)).as("nq"), col(idCol).as("wid")))
          .as("__w"))
      .select(col("fingerprint"), col("n_copies"),
        col("__w.wid").as("__wid"))
    withFp.join(winners,
        withFp("fingerprint") === winners("fingerprint") &&
          col(idCol) === col("__wid"))
      .drop(winners("fingerprint")).drop("__wid")
  }

  /** Keep-best over NEAR-dup groups — the curation step after any
    * pair-producing dedup ([[minhashLsh]], [[simhash]],
    * `Multimodal.hashNearDup`, `imageNearDup`, …) has been clustered
    * by [[components]]: per group the survivor is the max-`quality`
    * member (ties → min id); documents in NO group (the vast majority
    * of a real corpus) pass through untouched with `n_copies` = 1.
    *
    * Scale shape, same discipline as [[keepBest]]: winner election is
    * one map-side-combining groupBy over the LABEL frame (bounded by
    * dup-group membership, not the corpus); the label frame joins the
    * corpus on the id — a corpus-sized equi-join AQE plans (labels
    * are dup-membership-sized, broadcastable at sane dup rates but
    * never assumed so).
    *
    * @param labels output of [[components]]: (idCol, group_id)
    * @return surviving rows with all original columns plus
    *         (group_id — null for ungrouped, n_copies)
    */
  def keepBestInGroups(docs: DataFrame, labels: DataFrame, idCol: String,
      qualityCol: String): DataFrame =
    keepBestInGroupsWeighted(docs.withColumn("__kb_w", lit(1L)), labels,
      idCol, qualityCol, "__kb_w").drop("__kb_w")

  /** [[keepBestInGroups]] with a WEIGHT column in place of unit
    * counting: `n_copies` is the SUM of `weightCol` over the group
    * (an ungrouped row passes through with its own weight). This is
    * what an INCREMENTAL curation needs — a prior survivor enters the
    * election carrying the `n_copies` of the copies it already
    * absorbed, so group sizes accumulate across updates instead of
    * resetting to the per-batch count. */
  def keepBestInGroupsWeighted(docs: DataFrame, labels: DataFrame,
      idCol: String, qualityCol: String, weightCol: String): DataFrame = {
    val labeled = docs.join(
      labels.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
    // same null-flag discipline as [[keepBest]]: null quality loses
    val winners = labeled.filter(col("group_id").isNotNull)
      .groupBy(col("group_id"))
      .agg(sum(col(weightCol)).as("n_copies"),
        min(struct(when(col(qualityCol).isNull, lit(1)).otherwise(lit(0))
            .as("nn"),
          (-col(qualityCol)).as("nq"), col(idCol).as("wid")))
          .as("__w"))
      .select(col("group_id").as("__g"), col("n_copies"),
        col("__w.wid").as("__wid"))
    labeled.join(winners, col("group_id") === col("__g"), "left")
      .filter(col("group_id").isNull || col(idCol) === col("__wid"))
      .withColumn("n_copies",
        coalesce(col("n_copies"), col(weightCol).cast("long")))
      .drop("__g", "__wid")
  }

  /** INCREMENTAL near-dup curation update — the composition a live
    * corpus actually runs each crawl: screen the new batch against
    * the current survivor set AND against itself, merge the resulting
    * near-dup groups, and re-elect the best-quality member per group,
    * with `n_copies` ACCUMULATING (a prior survivor carries the count
    * of copies it already absorbed; each batch doc adds 1).
    *
    * Semantics and their consequences:
    *  - Election is over {current survivors} ∪ {batch}: a document
    *    DROPPED by a previous update never resurrects, even if it
    *    outscores today's batch — the standard one-pass curation
    *    contract (re-electing over history would require keeping the
    *    full corpus, which is exactly what curation deletes).
    *  - Survivor-survivor pairs are NOT searched: the survivor set is
    *    pairwise non-duplicate BY CONSTRUCTION of the previous update
    *    (each group kept one member), so the only new edges a batch
    *    can introduce are batch×batch and batch×survivor.
    *    (Two old survivors CAN land in one group when a batch doc
    *    bridges them — hamming is not transitive; the component merge
    *    handles that, and the loser's accumulated weight folds in.)
    *  - Survivors that SHARE a hash merge: documents collapse into
    *    full-hash classes before any search (see [[curateKernel]]).
    *    Every `curateOneShot` or increment output holds distinct
    *    hashes, so only a store left by an earlier capped run (which
    *    could skip an exact pair) can contain such survivors.
    *  - Ids must be globally unique across survivors and batch (the
    *    usual content-addressed / monotonically-assigned id regimes).
    *  - DELETED BRIDGES: under a NON-transitive pair relation
    *    (hamming > 0), a batch doc whose only ≤-threshold link to a
    *    prior group ran through a DROPPED member cannot rejoin that
    *    group — one-pass curation discards exactly the docs that
    *    could have bridged (counterexample pinned in
    *    CurateIncrementSpec). Under hash-equality grouping
    *    (maxHamming = 0) the relation is transitive and the
    *    composition is EXACTLY equivalent to from-scratch curation
    *    of the union — winners and n_copies both (property-tested
    *    over random geometries).
    *
    * Under the store precondition (no two survivors share a hash) the
    * output equals the doc-level composition — self screen
    * ([[graft.ext.Multimodal.hashNearDup]]) + bipartite screen
    * ([[graft.ext.Multimodal.hashNearDupAgainst]]) → [[components]]
    * → [[keepBestInGroupsWeighted]]; differential spec:
    * CurateKernelSpec.
    *
    * @param survivors current survivor set: idCol, hashCol,
    *                  qualityCol, nCopiesCol (+ anything else, dropped)
    * @param batch     new documents: idCol, hashCol, qualityCol
    * @return new survivor set (idCol, hashCol, qualityCol, n_copies) —
    *         feeds straight back as `survivors` next update
    */
  def curateIncrement(survivors: DataFrame, batch: DataFrame, idCol: String,
      hashCol: String, qualityCol: String, nCopiesCol: String = "n_copies",
      maxHamming: Int = 3): DataFrame =
    curateIncrementCapped(survivors, batch, idCol, hashCol, qualityCol,
      nCopiesCol, maxHamming, maxBucket = None)._1

  /** [[curateIncrement]] under the family's drop-and-report cap: both
    * screens skip hot (chunk, value) buckets past `maxBucket` members,
    * so one update is never quadratic in a hot hash — the certainty at
    * billions of docs. Members are distinct-hash class
    * REPRESENTATIVES, not documents: exact copies always collapse, and
    * a bucket turns hot only through more than `maxBucket` distinct
    * hashes (the self screen counts batch-class representatives, the
    * bipartite screen the two-sided sum with survivor-only ones). A
    * skipped bucket can only UNDER-merge (a missed pair leaves two
    * classes in separate groups; pairs are never invented), so the
    * survivor count lies between the uncapped run's and a doc-counted
    * cap's, output equals the uncapped output whenever overflow is
    * empty, and every reported n_copies is exact for the groups that
    * did form. At maxHamming = 0 there is no pair search: the cap is
    * unused and overflow is empty.
    *
    * @return (new survivor set — [[curateIncrement]]'s contract;
    *         overflow (side ∈ self|cross, chunk, cval, n_ids) per
    *         skipped bucket)
    */
  def curateIncrementCapped(survivors: DataFrame, batch: DataFrame,
      idCol: String, hashCol: String, qualityCol: String,
      nCopiesCol: String = "n_copies", maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(1 << 12)): (DataFrame, DataFrame) =
    curateKernel(Some(survivors.select(col(idCol), col(hashCol),
        col(qualityCol), col(nCopiesCol).cast("long").as("__wt"))),
      batch, idCol, hashCol, qualityCol, maxHamming, maxBucket)

  /** ONE-SHOT near-dup curation over a precomputed 64-bit hash —
    * result-identical to the composed pipeline
    * `Multimodal.hashNearDup(docs) → components → keepBestInGroups`
    * (x137's showcase shape, which stays declared verbatim), computed
    * in LINEAR candidate space by [[curateKernel]] with no survivors.
    * Null-hash docs never pair (the hashNearDup contract) and pass
    * through with n_copies = 1, exactly as the composed pipeline's
    * ungrouped fall-through. Differential spec: CurateOneShotSpec
    * (vs the composed pipeline, over random clustered geometries with
    * cross-class near-collisions, null hashes, null/tied qualities).
    *
    * @return (idCol, hashCol, qualityCol, n_copies) — the surviving
    *         member per group with the group's size; feeds
    *         [[curateIncrement]] directly as its survivor set
    */
  def curateOneShot(docs: DataFrame, idCol: String, hashCol: String,
      qualityCol: String, maxHamming: Int = 3): DataFrame =
    curateKernel(None, docs, idCol, hashCol, qualityCol, maxHamming,
      maxBucket = None)._1

  /** The one curation kernel behind [[curateOneShot]],
    * [[curateIncrement]] and [[curateIncrementCapped]]. Input is
    * survivors (weight `__wt` = their n_copies) ∪ batch (weight 1);
    * round-18 optimization (opt guide §1.2 "the distributed
    * algorithm" / §2.3 "aggregate before you shuffle"):
    *
    *  1. all input collapses to its full-hash EQUALITY CLASSES in one
    *     map-side-combining groupBy carrying each class's weight Σk,
    *     min id (= the component label a class clique would produce),
    *     whether it holds a batch doc, and its winner partial
    *     (`min(struct(nullflag, -q, id))` — associative, so per-class
    *     partials combine exactly);
    *  2. `maxHamming == 0`: classes ARE the groups (hash equality is
    *     transitive) — no pair search, no components, no cut, no
    *     driver traffic: Σk rows instead of Σk² clique pairs;
    *  3. `maxHamming > 0`: only ONE REPRESENTATIVE per distinct hash
    *     (the class min id) enters the chunk-pigeonhole search — the
    *     self screen over batch-holding classes, plus (when there are
    *     survivors) the bipartite screen from those to survivor-only
    *     classes — then [[components]]. Hamming is a function of the
    *     hash VALUES, so the doc-level partition equals (class cliques
    *     ∪ representative pairs)'s; merged groups fold the per-class
    *     partials (sum of weights, min of winner structs).
    *
    * Null-hash rows never pair: they are singleton classes keyed by
    * their own id and pass through with their own weight.
    */
  private def curateKernel(survivors: Option[DataFrame], batch: DataFrame,
      idCol: String, hashCol: String, qualityCol: String, maxHamming: Int,
      maxBucket: Option[Int]): (DataFrame, DataFrame) = {
    val bat = batch.select(col(idCol), col(hashCol), col(qualityCol),
      lit(1L).as("__wt"), lit(true).as("__bat"))
    val input = survivors.fold(bat)(
      _.withColumn("__bat", lit(false)).unionByName(bat))
    val nnFlag = when(col(qualityCol).isNull, lit(1)).otherwise(lit(0))
    // Null-hash rows are folded into THE SAME aggregate as singleton
    // groups keyed by their own id (a separate `hash isNull` branch
    // would be a SECOND full pass over the upstream pipeline — for the
    // media callers, a second decode wave; one grouping key does both).
    // Winner struct: (null-flag, -quality, id) is the keepBest election
    // ordering and is UNIQUE per doc (id is), so the trailing payload
    // fields (the winner's hash and quality) never influence the min.
    val classes = input
      .groupBy(col(hashCol).as("__ph"),
        when(col(hashCol).isNull, col(idCol)).as("__nullKey"))
      .agg(min(col(idCol)).as("__rep"),
        sum(col("__wt")).as("__k"),
        max(col("__bat")).as("__hasBat"),
        min(struct(nnFlag.as("nn"), (-col(qualityCol)).as("nq"),
          col(idCol).as("wid"), col(hashCol).as("wph"),
          col(qualityCol).as("wq"))).as("__w"))
    val (merged, overflow) =
      if (maxHamming == 0) {
        // hash equality is transitive: classes ARE the groups — one
        // lazy DAG, no pair generation, no components, no extra jobs
        val spark = batch.sparkSession
        import spark.implicits._
        (classes.select(col("__k").as("n_copies"), col("__w")),
          Seq.empty[(String, Int, Long, Long)]
            .toDF("side", "chunk", "cval", "n_ids"))
      } else {
        // classes feeds the pair search and the merge join, and its
        // upstream is typically an expensive decode pipeline (or a
        // survivor snapshot plus a fingerprinted batch) — cut it ONCE
        // (distinct-hash cardinality, ~40 B/row), then every consumer
        // reads the checkpoint
        val classesM = classes.localCheckpoint(true)
        val reps = classesM.filter(col("__ph").isNotNull)
          .select(col("__rep").as("__rid"), col("__ph"), col("__hasBat"))
        val batReps = reps.filter(col("__hasBat"))
        val (selfPairs, hotSelf) = Multimodal.hashNearDupCapped(batReps,
          "__rid", "__ph", maxHamming, maxBucket, inputMaterialized = true)
        val selfOvf = hotSelf.select(lit("self").as("side"), col("chunk"),
          col("cval"), col("n_ids"))
        // no survivors (the one-shot): no bipartite screen, so the plan
        // is the self screen's alone
        val (pairs, ovf) = survivors.fold((selfPairs, selfOvf)) { _ =>
          val (crossPairs, hotCross) = Multimodal.hashNearDupAgainstCapped(
            batReps, reps.filter(!col("__hasBat")), "__rid", "__ph",
            maxHamming, maxBucket, inputMaterialized = true)
          (selfPairs.select(col("id_a"), col("id_b"))
              .unionByName(crossPairs.select(col("id_a"), col("id_b"))),
            selfOvf.unionByName(hotCross.select(lit("cross").as("side"),
              col("chunk"), col("cval"), col("n_ids"))))
        }
        val repLabels = components(pairs, aCol = "id_a", bCol = "id_b")
          .withColumnRenamed("doc_id", "__rep")
        (classesM.join(repLabels, Seq("__rep"), "left")
          .groupBy(coalesce(col("group_id"), col("__rep")).as("__g"))
          .agg(sum(col("__k")).as("n_copies"), min(col("__w")).as("__w")),
          ovf)
      }
    (merged.select(col("__w.wid").as(idCol), col("__w.wph").as(hashCol),
      col("__w.wq").as(qualityCol), col("n_copies")), overflow)
  }

  /** Corpus-level first-occurrence span dedup (the C4-style "remove
    * any span that already occurred anywhere earlier in the corpus"
    * pass): documents are cut into consecutive `spanTokens`-token
    * spans ([[Chunking.tokenWindows]] with zero overlap), each span
    * keyed by its 64-bit content hash, and only the globally FIRST
    * occurrence — minimum (id, span index) per hash — survives;
    * surviving spans are reassembled in order per document.
    *
    * Scale shape (3 exchanges, all on bounded keys):
    *  1. winner election is a groupBy on the 8-byte span hash with
    *     map-side partial aggregation, so a corpus-hot span (the
    *     failure mode of the window formulation: one task sorting
    *     every copy of a boilerplate span) collapses to one row per
    *     map task before the shuffle;
    *  2. spans join winners back on the same 8-byte hash (AQE handles
    *     residual skew — it is a join, not a window);
    *  3. per-document regroup to reassemble text.
    * Span identity is the hash, not the text: a 64-bit collision could
    * drop a non-duplicate span (odds ~n²/2⁶⁵ corpus-wide); the oracle
    * joins literal span strings — the same differential-on-hashing
    * design as x38/x71.
    *
    * @return one row per non-empty document: (id, n_spans, kept_spans,
    *         out_text) — out_text null when every span was dropped
    */
  def firstOccurrenceSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 10): DataFrame = {
    val spans = Chunking.tokenWindows(spread(docs, idCol), col(idCol),
        col(textCol),
        chunkSize = spanTokens, overlap = 0)
      .select(col(idCol), col("chunk_idx").as("span_idx"),
        col("chunk_text").as("span_text"))
      .withColumn("__h", xxhash64(col("span_text")))
    val winners = spans.groupBy(col("__h"))
      .agg(min(struct(col(idCol).as("d"), col("span_idx").as("i"))).as("w"))
      .select(col("__h"), col("w.d").as("__wd"), col("w.i").as("__wi"))
    spans.join(winners, Seq("__h"))
      .withColumn("__kept",
        col(idCol) === col("__wd") && col("span_idx") === col("__wi"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("kept_spans"),
        nullif(array_join(transform(
          array_sort(collect_list(when(col("__kept"),
            struct(col("span_idx"), col("span_text"))))),
          s => s.getField("span_text")), " "), lit("")).as("out_text"))
  }

  /** Maximal duplicated-substring extents (ExactSubstr-style, Lee et
    * al. 2022, arXiv:2107.06499 — reference geometry; the suffix-array
    * construction is replaced by stride-1 window fingerprints, exact
    * for extents built from length-`spanTokens` repeats): every
    * position whose k-token window occurs more than once corpus-wide
    * is "duplicated"; per document, consecutive duplicated positions
    * (gap ≤ k) merge into maximal extents `[start_tok, end_tok)` — the
    * cut list an ExactSubstr pass hands the cleaning stage, where x75
    * ([[firstOccurrenceSpans]]) removes fixed non-overlapping blocks.
    *
    * 100 TB shape: window text never crosses a shuffle — occurrences
    * reduce to (doc, pos, 64-bit window hash), the frequency aggregate
    * and re-join key on the hash (8-byte keys, partial map-side
    * combine), and the extent merge is one doc-keyed window pass
    * (lag → running group id → group) — three exchanges total, the
    * x26 shape. The stride-1 explode is the method's inherent cost
    * (one row per token position, same as the suffix array it
    * replaces).
    *
    * @return (idCol, start_tok, end_tok, n_windows) — one row per
    *         maximal extent; documents with no duplicated full-length
    *         window emit nothing
    */
  def duplicateExtents(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 50): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be positive, got $spanTokens")
    val occ = Chunking.tokenWindows(spread(docs, idCol), col(idCol),
        col(textCol), chunkSize = spanTokens, overlap = spanTokens - 1)
      .filter(col("chunk_tokens") === spanTokens.toLong) // full windows only
      .select(col(idCol), col("start_tok").as("__pos"),
        xxhash64(col("chunk_text")).as("__h"))
    val dupHashes = occ.groupBy(col("__h"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1L)
      .select(col("__h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    occ.join(dupHashes, Seq("__h"))
      // new extent when the previous duplicated position can't reach
      // this one: prev covers [prev, prev+k), so gap > k splits
      .withColumn("__gap",
        when(col("__pos") - lag(col("__pos"), 1).over(w) > spanTokens.toLong,
          1L).otherwise(0L))
      .withColumn("__grp", sum(col("__gap")).over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("__pos")).as("start_tok"),
        (max(col("__pos")) + spanTokens.toLong).as("end_tok"),
        count(lit(1)).as("n_windows"))
      .drop("__grp")
  }

  /** Per-document n-gram NOVELTY profile: for each document, the
    * fraction of its length-`n` token windows whose first corpus-wide
    * occurrence (by ascending id — "arrival order") is this document.
    * The curve data-ordering and memorization studies read: a corpus
    * whose tail documents contribute almost no novel windows is
    * re-serving its head, and a curriculum that front-loads
    * high-novelty documents changes what a fixed token budget buys.
    * The complement of [[duplicateExtents]]' view: extents localize
    * WHERE repeats sit, novelty prices each document's marginal
    * contribution. Within a gram's FIRST document every instance
    * counts as novel (including same-doc repeats) — the first doc is
    * the one that introduced it.
    *
    * 100 TB shape: window text collapses to (doc, 64-bit hash, count)
    * in one map-side-combined aggregate; the first-occurrence
    * aggregate (`min` — skew-safe partial combine, no window sort over
    * hot grams) and the re-join key on the hash — 8-byte keys, the
    * x26/x97 shuffle discipline; the final rollup is one doc-keyed
    * aggregate. Stride-1 explode is the method's inherent cost, same
    * as [[duplicateExtents]].
    *
    * @return one row per document with >= n tokens:
    *         (idCol, n_grams, n_novel, novelty_frac)
    */
  def noveltyProfile(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val occ = Chunking.tokenWindows(spread(docs, idCol), col(idCol),
        col(textCol), chunkSize = n, overlap = n - 1)
      .filter(col("chunk_tokens") === n.toLong) // full windows only
      .select(col(idCol), xxhash64(col("chunk_text")).as("__h"))
      .groupBy(col(idCol), col("__h"))
      .agg(count(lit(1)).as("__cnt"))
    val firsts = occ.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__first"))
    occ.join(firsts, Seq("__h"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_grams"),
        sum(when(col(idCol) === col("__first"), col("__cnt"))
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty_frac",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Corpus-level boilerplate line removal (CCNet/C4-style): drop
    * lines that appear in more than `maxDocFreq` DISTINCT documents
    * (navigation chrome, cookie banners, footers), rebuild each
    * document from its surviving lines in original order. Documents
    * whose every line is boilerplate drop out entirely.
    *
    * 100 TB shape: the frequency aggregation and the re-join key on
    * the line's 64-bit hash, never the line text — the corpus-wide
    * shuffle carries 8-byte keys (collision odds 2^-64 per pair, the
    * same trade every sketch op here makes). One exchange for the
    * count, one for the join, one for the per-doc rebuild.
    */
  def dropCommonLines(docs: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Long, sep: String = "\n"): DataFrame = {
    val lines = spread(docs, idCol).select(col(idCol),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("ord", "line")))
      .withColumn("lh", xxhash64(col("line")))
    val freq = lines.groupBy(col("lh"))
      .agg(countDistinct(col(idCol)).as("line_df"))
    lines.join(freq, Seq("lh"))
      .filter(col("line_df") <= maxDocFreq)
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("ord"), col("line")))),
          s => s.getField("line")), sep).as("cleaned"))
  }

  /** Embedding near-dedup: cosine ≥ threshold pairs, bucketed by a
    * coarse key (label / LSH bucket) to avoid all-pairs.
    *
    * Same cap discipline as [[ngramJaccard]]: a bucket of b rows emits
    * b² comparison pairs, so a skewed bucket past `maxBucket` FAILS
    * LOUDLY (the operator's contract is every in-bucket pair gets
    * verified); [[embeddingCosineCapped]] is the opt-in that skips and
    * reports oversized buckets instead. */
  def embeddingCosine(embeddings: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double = 0.95,
      maxBucket: Int = 1 << 12): DataFrame = {
    val (pairs, hot) = embeddingCosineCapped(embeddings, idCol, vecCol,
      bucketCol, threshold, maxBucket, eagerHot = true)
    val examples = hot.limit(3).collect()
    if (examples.nonEmpty)
      throw new IllegalStateException(
        s"embeddingCosine: bucket size exceeds maxBucket=$maxBucket for " +
          s"${examples.map(r => s"${r.get(0)} (n=${r.getLong(1)})")
            .mkString(", ")}; raise maxBucket, refine the bucket key, " +
          "or use embeddingCosineCapped")
    pairs
  }

  /** [[embeddingCosine]] with oversized buckets SKIPPED instead of
    * fatal: no pair from a bucket larger than `maxBucket` is verified
    * (pairs can be missed, never invented) and each skipped bucket is
    * accounted for in the second frame.
    *
    * @return (pairs, overflow) — overflow rows are (bkt, n_rows) per
    *         skipped bucket, empty when no cap hit
    */
  def embeddingCosineCapped(embeddings: DataFrame, idCol: String,
      vecCol: String, bucketCol: String, threshold: Double = 0.95,
      maxBucket: Int = 1 << 12,
      eagerHot: Boolean = false): (DataFrame, DataFrame) = {
    require(maxBucket >= 1, s"maxBucket must be positive, got $maxBucket")
    val v = embeddings.select(col(idCol).as("vid"), col(bucketCol).as("bkt"),
      col(vecCol).as("vec"))
    val hotLazy = v.groupBy(col("bkt")).agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > maxBucket)
    val hot = if (eagerHot) hotLazy.localCheckpoint(true) else hotLazy
    val kept = v.join(broadcast(hot.select(col("bkt"))), Seq("bkt"), "left_anti")
    val a = kept.select(col("bkt"), col("vid").as("id_a"), col("vec").as("vec_a"))
    val b = kept.select(col("bkt"), col("vid").as("id_b"), col("vec").as("vec_b"))
    val pairs = a.join(b, Seq("bkt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), roundz(col("cos"), 4).as("cos"))
    (pairs, hot)
  }

  /** Cluster-size profile of a dedup labeling — the QA report read
    * after every clustering run: how many groups of each size, how
    * many docs they hold, and the dedup ratio implied (docs minus
    * groups = rows a keep-one policy would drop). Input is any
    * (id, group) labeling (`components` output, exact-dedup
    * fingerprints, …).
    *
    * Two aggregations: per-group sizes shuffle on the group key with
    * map-side partial counts; the histogram over sizes then shuffles
    * only |distinct sizes| rows — at 100 TB the second stage is a few
    * hundred rows no matter the corpus.
    */
  def clusterSizeProfile(labels: DataFrame, groupCol: String): DataFrame =
    labels.groupBy(col(groupCol)).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", col("group_size") * col("n_groups"))
      .withColumn("dropped_by_keep_one", col("n_docs") - col("n_groups"))

  /** EXACT set-similarity self-join with prefix filtering (the
    * AllPairs/PPJoin family) — the lossless counterpart to the
    * approximate stack above: unlike MinHash-LSH ([[minhashLsh]],
    * probabilistic misses) or the df-capped gram join
    * ([[ngramJaccardCapped]], deliberate drops), this finds EVERY pair
    * with whitespace-token-set Jaccard ≥ `threshold`, with pruning
    * that is provably lossless.
    *
    * Prefix principle: order each doc's tokens by GLOBAL (df asc,
    * token asc) — rarest first. J(X,Y) ≥ τ forces overlap
    * o ≥ ⌈τ·max(|X|,|Y|)⌉ (from o ≥ τ(|X|+|Y|)/(1+τ) and |Y| ≥ o), so
    * if the first |X|−⌈τ|X|⌉+1 tokens of X shared nothing with Y the
    * remaining ⌈τ|X|⌉−1 suffix tokens could not reach o — every
    * qualifying pair shares a token inside BOTH prefixes, and the
    * candidate equi-join on prefix tokens misses nothing. Candidates
    * then verify exactly via full-set intersection.
    *
    * Scale shape: df is one token-keyed aggregate; the per-doc ordered
    * array build is a doc-keyed shuffle (arrays bounded by doc
    * length); candidate generation shuffles only PREFIX tokens — the
    * rarest ~(1−τ) fraction — so hot corpus-wide tokens never reach
    * the pair join. The quadratic residue is Σ df_prefix(t)², which
    * the (df asc) ordering drives toward the rare tail; a prefix
    * token whose df still exceeds `maxPrefixDf` FAILS LOUDLY
    * (capping would break the exactness this operator exists for —
    * callers with pathological corpora should lower τ's length band
    * or fall back to the capped approximate joins).
    *
    * @return (doc_a, doc_b, n_a, n_b, overlap, jaccard_r) with
    *         doc_a < doc_b and exact Jaccard ≥ threshold
    */
  def prefixJaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxPrefixDf: Int = 1 << 14): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val docsS = spread(docs, idCol)
    val toks = docsS.select(col(idCol).as("doc"),
      array_distinct(array_remove(split(col(textCol), "\\s+"), ""))
        .as("tset"))
      .filter(size(col("tset")) > 0)
    val ex = toks.select(col("doc"), explode(col("tset")).as("tok"))
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // canonical global order = (df asc, token asc); the ORDER is the
    // key, a numeric rank is never materialized (no global window)
    // 1e-6 slack on ceil(τ·sz): IEEE rounding of the product at an
    // integer boundary (100 × 0.07 = 7.0000000000000009) must never
    // SHORTEN the prefix — the slack can only lengthen it (a superset
    // of candidates; the exact verify keeps precision), which
    // preserves the lossless contract at threshold boundaries
    val ordered = ex.join(dfreq, "tok")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok"))))
        .as("ord"))
      .select(col("doc"),
        transform(col("ord"), e => e.getField("tok")).as("toks"))
      .withColumn("sz", size(col("toks")))
      .withColumn("plen",
        (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-6)) + 1)
          .cast("int"))
    // NARROW prefix frame (doc, sz, ptok), eagerly checkpointed: it
    // feeds the hot-token probe and BOTH sides of the candidate join —
    // without the checkpoint each consumer re-runs the corpus-wide
    // explode + df join + sort-collect pipeline (Spark has no subtree
    // reuse across join branches; the old shape paid that pipeline
    // ~5× per call). Narrow rows only — the token ARRAYS never
    // materialize corpus-wide.
    val prefix = ordered.select(col("doc"), col("sz"),
      explode(slice(col("toks"), lit(1), col("plen"))).as("ptok"))
      .localCheckpoint(true)
    val hotRows = prefix.groupBy(col("ptok"))
      .agg(count(lit(1)).as("pdf"))
      .filter(col("pdf") > maxPrefixDf).limit(3).collect()
    if (hotRows.nonEmpty)
      throw new IllegalStateException(
        "prefixJaccardJoin: prefix-token df exceeds " +
          s"maxPrefixDf=$maxPrefixDf for ${hotRows.map(r =>
            s"'${r.get(0)}' (df=${r.getLong(1)})").mkString(", ")}; " +
          "the corpus lacks rare discriminative tokens — use the " +
          "capped approximate joins or raise maxPrefixDf")
    // candidate generation stays NARROW — (id, id, sz, sz) only. A
    // shared prefix token yields its pair df² times, so deduping
    // BEFORE the token arrays attach keeps the wide rows off the big
    // shuffle (the first cut of this join carried both arrays through
    // the candidate exchange and paid for it ~30× at sf0.1).
    val a = prefix.select(col("doc").as("doc_a"), col("sz").as("n_a"),
      col("ptok"))
    val b = prefix.select(col("doc").as("doc_b"), col("sz").as("n_b"),
      col("ptok"))
    val candIds = a.join(b, Seq("ptok"))
      .filter(col("doc_a") < col("doc_b") &&
        // length band: J ≥ τ ⇒ τ·max(|X|,|Y|) ≤ min(|X|,|Y|); the same
        // 1e-6 slack as plen so a boundary pair (τ·n_a landing one ulp
        // above the integer n_b) is never banded out
        col("n_a") * lit(threshold) <= col("n_b") + lit(1e-6) &&
        col("n_b") * lit(threshold) <= col("n_a") + lit(1e-6))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .dropDuplicates("doc_a", "doc_b")
      .localCheckpoint(true)
    // verify on CANDIDATE DOCS ONLY (minhashLshCapped's discipline):
    // set intersection needs no global ordering, so re-tokenize just
    // the candidate slice of the raw docs scan instead of rebuilding
    // the corpus-wide df-ordered arrays for each join side
    val candDocIds = candIds.select(col("doc_a").as("cid"))
      .unionByName(candIds.select(col("doc_b").as("cid")))
      .distinct()
    val candToks = docsS.join(broadcast(candDocIds), col(idCol) === col("cid"))
      .select(col(idCol).as("doc"),
        array_distinct(array_remove(split(col(textCol), "\\s+"), ""))
          .as("tset"))
    candIds
      .join(candToks.select(col("doc").as("doc_a"), col("tset").as("ta")),
        Seq("doc_a"))
      .join(candToks.select(col("doc").as("doc_b"), col("tset").as("tb")),
        Seq("doc_b"))
      .withColumn("overlap",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("j", col("overlap").cast("double") /
        (col("n_a") + col("n_b") - col("overlap")).cast("double"))
      .filter(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        col("overlap"), roundz(col("j"), 9).as("jaccard_r"))
  }
}
