package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}
import graft.functions.Num.roundz

/** [EXT] Similarity search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (query-set broadcast × corpus
  * scan — linear in corpus size, the right plan when the query set is
  * small). Scale path: random-hyperplane LSH bucketing, which turns the
  * corpus scan into a bucket-local search (one shuffle on the bucket id).
  */
object Similarity {

  /** Shared per-query top-k tail of all four search paths: rank by
    * the score (desc for similarities, asc for distances), emit ranks
    * 1..k. Rows whose score is NULL or NaN are dropped BEFORE the
    * window: a corrupt embedding (null vector, NaN component) scores
    * NULL/NaN, and Spark sorts NaN above every double and NULL first
    * ascending — an unguarded window would put garbage at rank 1 of
    * every query, silently displacing a real neighbor. One helper so
    * the ordering semantics can't drift between the four paths. */
  private def topK(scored: DataFrame, scoreCol: String, asc: Boolean,
      k: Int): DataFrame = {
    val s = col(scoreCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(if (asc) s.asc else s.desc, col("neighbor_id"))
    scored.filter(s.isNotNull && !isnan(s))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        roundz(s, 4).as(scoreCol))
  }

  /** Driver-side row → double vector, accepting BOTH array<float> and
    * array<double> embeddings — the search-side expressions dispatch
    * on element type, so the trainers must too (a getSeq[Float] cast
    * crashes on exactly the double-typed inputs search supports). */
  private def rowVec(r: org.apache.spark.sql.Row): Array[Double] =
    r.getSeq[Number](0).map(_.doubleValue).toArray

  /** Brute-force cosine top-k: every query vector against the whole
    * corpus. The query side is broadcast (small by contract), so the
    * plan is a single pass over the corpus with no shuffle before the
    * per-query top-k window. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 5): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", V.cosine(col("qv"), col("cv")))
    topK(scored, "cos", asc = false, k)
  }

  /** IVF centroid training: driver-side Lloyd iterations over a bounded
    * sample (at 100 TB you train on a ~1M-row sample; assignment —
    * the expensive part — stays fully distributed). Deterministic:
    * the sample is the first `sampleN` rows in `orderCol` order — a
    * bare `limit` over an unordered frame would pick whichever
    * partitions scan first, varying with layout. `orderCol` must order
    * rows UNIQUELY for that determinism to hold: ties fall back to
    * scan order, which varies with layout (pass an id column, not a
    * timestamp with duplicates). */
  def trainCentroids(corpus: DataFrame, vecCol: String, k: Int,
      orderCol: String, iters: Int = 5,
      sampleN: Int = 2048): Array[Array[Double]] = {
    require(k >= 1, s"k must be positive: $k")
    val sample = corpus.select(col(vecCol), col(orderCol))
      .orderBy(col(orderCol)).limit(sampleN).collect()
      .map(rowVec)
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    var centroids = sample.take(k).map(_.clone())
    val dim = centroids(0).length
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var i = 0
          while (i < dim) {
            val t = v(i) - centroids(c)(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
    }
    centroids
  }

  /** IVF ANN: corpus assigned to its nearest centroid (one scan, no
    * shuffle); queries probe their nProbe nearest centroid lists. The
    * join key is the coarse bucket, so search cost is
    * corpus/k × nProbe per query instead of the full corpus. Centroids
    * ride as ONE codegen reference object ([[graft.functions
    * .Expressions.NearestCentroidsExpr]]), so the plan stays O(1) in
    * size at k=4096 where the former per-centroid literal arrays would
    * have bloated the expression tree. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]], nProbe: Int = 2,
      k: Int = 5): DataFrame = {
    import graft.functions.{Expressions => E}
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      element_at(E.nearestCentroids(col(vecCol), centroids, 1), 1)
        .as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(E.nearestCentroids(col(vecCol), centroids, nProbe))
        .as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", V.cosine(col("qv"), col("cv")))
    topK(scored, "cos", asc = false, k)
  }

  /** Product-quantization codebook training: per-subspace Lloyd over
    * the same deterministic bounded sample as [[trainCentroids]] (the
    * first `sampleN` rows in `orderCol` order; seeds = first `ksub`
    * slices). Returns codebook(s)(c)(j) for [[pqTopK]] /
    * [[graft.functions.Expressions.PqEncodeExpr]].
    *
    * The 100 TB rationale: an 8-subspace × 16-centroid codebook turns
    * a 64-dim float vector (256 B) into 8 bytes — the whole corpus
    * index fits in a fraction of the memory, and search never touches
    * raw corpus floats (ADC lookups only). Training cost is
    * sample-bounded and driver-side, like the IVF path. */
  def trainPq(corpus: DataFrame, vecCol: String, orderCol: String,
      m: Int, ksub: Int = 16, iters: Int = 8,
      sampleN: Int = 2048): Array[Array[Array[Double]]] = {
    val sample = corpus.select(col(vecCol), col(orderCol))
      .orderBy(col(orderCol)).limit(sampleN).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    require(m >= 1 && dim % m == 0,
      s"subspace count m=$m must divide dim=$dim")
    require(sample.length >= ksub, s"sample ${sample.length} < ksub=$ksub")
    require(ksub >= 1 && ksub <= 256, s"ksub=$ksub out of range 1..256")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val slices = sample.map(v => java.util.Arrays.copyOfRange(
        v, s * dsub, (s + 1) * dsub))
      var cents = slices.take(ksub).map(_.clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        slices.foreach { v =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0
            var j = 0
            while (j < dsub) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += v(j); j += 1 }
        }
        cents = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      }
      cents
    }
  }

  /** PQ ANN search (asymmetric distance): the corpus is scanned ONCE
    * into (id, m-byte code) — raw corpus floats never reach the
    * search — while each broadcast query carries its per-subspace
    * distance lookup table; scoring a candidate is m array lookups.
    * Approximate by construction (quantization error), so rank order
    * is approx-L2; recall against exact search is the tuning dial
    * (SimilaritySpec pins it on fixed seeds). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebook: Array[Array[Array[Double]]],
      k: Int = 5): DataFrame = {
    import graft.functions.{Expressions => E}
    val ksub = codebook(0).length
    val c = corpus.select(col(idCol).as("neighbor_id"),
      E.pqEncode(col(vecCol), codebook).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      E.pqLut(col(vecCol), codebook).as("lut"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2", E.pqAdc(col("codes"), col("lut"), ksub))
    // asc distance sort: NULL codes (null embedding) would sort FIRST
    // without topK's validity filter — the one path where the nulls
    // trap inverts rank 1 rather than burying it
    topK(scored, "approx_d2", asc = true, k)
  }

  /** LSH-bucketed ANN: corpus and queries bucketed by sign-bit
    * hyperplane hash; search only within the query's buckets. Recall is
    * tunable two ways: nBits (fewer bits → bigger buckets → higher
    * recall, more work) and nProbe — multi-probe expansion flips the
    * query's lowest-|margin| sign bits to visit the nProbe likeliest
    * buckets. Only the QUERY side fans out (explode to nProbe rows);
    * the corpus keeps one bucket per row, so the scale shape is
    * unchanged: one corpus scan, one broadcast bucket join. Probe
    * buckets are distinct by construction, so no per-pair dedup is
    * needed before the top-k window. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, nBits: Int = 8, k: Int = 3,
      nProbe: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      V.hyperplaneBucket(col(vecCol), dim, nBits).as("bucket"))
    // two-step select: the dim-length plane projections land in their
    // own projection, so the probe expansion (which references them in
    // several subtrees) re-reads an attribute instead of re-evaluating
    // nBits dot products per probe element
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        V.rankedPlanes(col(vecCol), dim, nBits).as("_rp"))
      .select(col("query_id"), col("qv"),
        explode(V.probesFromRanked(col("_rp"), nBits, nProbe)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", V.cosine(col("qv"), col("cv")))
    topK(scored, "cos", asc = false, k)
  }
}
