package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Contamination, Dedup, GifDecode, ImageIoDecode, MediaProbe, Mp4Demux, Multimodal, Packing, PixelDecode, Sampling, Similarity}
import graft.functions.{TextFunctions => T}
import graft.functions.Num.roundz

/** [EXT] query inventory: dedup, similarity search, text analysis,
  * multimodal — the training-data-pipeline operators (SURVEY.md §2.9).
  *
  * Queries with a clean ANSI-SQL formulation carry a DuckDB oracle; the
  * sketch/LSH/vector ones are deterministic but not SQL-expressible, so
  * the driver records rows-only checks for them.
  */
object ExtQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    // resolution memoized per (session, dir, name): re-inferring the
    // parquet schema per call costs ~150-300 ms — the round-15 bench
    // tail's uniform constant (see TableCache)
    TableCache.resolve(spark, dir, name) {
      if (name == "events")
        // legacy nanos-unit testdata — same read rule as SparkEntry.t,
        // set here too so each query is self-sufficient (a filtered
        // Verify run must not depend on some OTHER query having set the
        // session conf first)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      // normalize event time to nanos-since-epoch BIGINT whatever the
      // parquet unit (current testdata: TIMESTAMP(MICROS); session tz is
      // UTC everywhere, so this equals the oracle's epoch_ns(ts))
      if (name == "events" &&
          df.schema("ts").dataType != org.apache.spark.sql.types.LongType)
        df.withColumn("ts",
          expr("unix_micros(cast(ts as timestamp)) * 1000"))
      else df
    }

  /** [[graft.operators.Scale.spreadScan]] at the query grain: the
    * testdata tables are single-row-group parquet (one scan task), so
    * every CPU-heavy scan-side pipeline below is single-threaded
    * without it; on a many-split real corpus it is the identity. */
  private def spread(df: DataFrame, key: String = "doc_id"): DataFrame =
    graft.operators.Scale.spreadScan(df, col(key))

  private def x1(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("fingerprint"))

  /** Distinct STRING 3-gram shingles of a text column — the
    * independent (un-hashed) formulation of the shingle set
    * `Dedup.minhashLsh` computes over 64-bit token hashes; used by the
    * x2/x13 gates to verify emitted pairs without sharing the
    * operator's arithmetic. */
  private def strShingles(text: Column): Column = {
    val tk = T.tokens(text)
    array_distinct(transform(sequence(lit(1), size(tk) - 2),
      i => concat_ws(" ", slice(tk, i, lit(3)))))
  }

  /** MinHash-LSH near-dup detection (`Dedup.minhashLsh`) gated through
    * its EXACT guarantees (round 11, ex rows-only — the b4 pattern):
    * the emitted pair SET depends on the hash family and is not
    * SQL-reproducible, but two properties of the output are
    * deterministic and oracle-checkable, so the row gates on those
    * plus exact anchors:
    *  - recall floor: identical texts yield identical signatures, so
    *    ALL bands collide and every exact-duplicate pair among
    *    shingle-bearing (≥3-token) docs MUST be emitted, at verified
    *    Jaccard 1.0 — counted and compared to the oracle's exact-dup
    *    pair count;
    *  - precision: every emitted pair's Jaccard is recomputed
    *    INDEPENDENTLY from the raw text over string 3-gram shingles
    *    (not the operator's hashed shingles) and must equal the
    *    emitted value and clear the 0.2 threshold.
    * The per-pair surface stays available to callers via
    * `Dedup.minhashLsh` directly (DedupOpsSpec); this row is the
    * driver-checkable contract of the SAME full computation. */
  private def x2(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"), col("text"))
    minhashGate(docs,
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text"))
  }

  /** The x2 gate body, factored for `DedupGateTeethSpec` (which
    * proves each boolean flips under the corruption it claims to
    * catch). `docs` = (doc_id, text); `pairs` = minhashLsh output. */
  private[graft] def minhashGate(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val eligible = docs.filter(size(T.tokens(col("text"))) >= 3)
    val anch = eligible.groupBy(col("text")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_docs"),
        coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
          .as("n_exact_dup_pairs"))
    val pt = pairs
      .join(eligible.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        "doc_a")
      .join(eligible.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        "doc_b")
    val jStr = {
      val sa = strShingles(col("ta"))
      val sb = strShingles(col("tb"))
      size(array_intersect(sa, sb)).cast("double") /
        size(array_union(sa, sb)).cast("double")
    }
    val verif = pt.select((col("ta") === col("tb")).as("same"),
        col("jaccard"), jStr.as("j_str"))
      .agg(
        coalesce(sum(when(col("same"), 1L).otherwise(0L)), lit(0L))
          .as("n_same_text_emitted"),
        coalesce(sum(when(col("j_str") < 0.2 ||
          abs(col("j_str") - col("jaccard")) > 1e-9, 1L).otherwise(0L)),
          lit(0L)).as("n_verif_viol"))
    anch.crossJoin(verif).select(col("n_docs"), col("n_exact_dup_pairs"),
      (col("n_same_text_emitted") === col("n_exact_dup_pairs"))
        .as("exact_dups_all_emitted"),
      (col("n_verif_viol") === 0).as("emitted_pairs_verified"))
  }

  /** SimHash near-dedup (`Dedup.simhash`) gated through its EXACT
    * guarantees (round 11, ex rows-only — x2's pattern): the emitted
    * pair set depends on the 64-bit token-hash family, but
    *  - recall floor: identical TOKEN SETS yield identical
    *    fingerprints (simhash is a function of the distinct-token
    *    hash bag), so every same-token-set pair shares all four
    *    chunks and MUST be emitted at hamming 0 — counted against the
    *    oracle's same-token-set pair count;
    *  - precision: each emitted pair's fingerprints are recomputed
    *    from the raw texts in a fresh evaluation and the pair's
    *    hamming must equal the emitted value and respect the ≤3
    *    threshold (catches candidate-join or dedup wiring corrupting
    *    the pair→distance association).
    * Per-pair output stays available via `Dedup.simhash` directly
    * (DedupOpsSpec); this row gates the SAME full computation. */
  private def x3(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"), col("text"))
    simhashGate(docs, Dedup.simhash(t(s, dir, "documents"), "doc_id", "text"))
  }

  /** The x3 gate body, factored for `DedupGateTeethSpec`. */
  private[graft] def simhashGate(docs: DataFrame, pairs: DataFrame): DataFrame = {
    import graft.functions.{HashFunctions => H}
    val keyed = docs.select(col("doc_id"),
      array_sort(T.tokenSet(col("text"))).as("toks"))
    val anch = keyed.groupBy(col("toks")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_docs"),
        coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
          .as("n_exact_dup_pairs"))
    val pt = pairs
      .join(keyed.select(col("doc_id").as("doc_a"),
        col("toks").as("ka_toks")), "doc_a")
      .join(keyed.select(col("doc_id").as("doc_b"),
        col("toks").as("kb_toks")), "doc_b")
    val reHam = H.hamming64(
      H.simhash64(H.tokenHashes(col("ka_toks"))),
      H.simhash64(H.tokenHashes(col("kb_toks"))))
    val verif = pt.select(
        (col("ka_toks") === col("kb_toks")).as("same"),
        col("hamming"), reHam.as("re_ham"))
      .agg(
        coalesce(sum(when(col("same"), 1L).otherwise(0L)), lit(0L))
          .as("n_same_set_emitted"),
        coalesce(sum(when(col("re_ham") > 3 ||
          col("re_ham") =!= col("hamming"), 1L).otherwise(0L)), lit(0L))
          .as("n_verif_viol"))
    anch.crossJoin(verif).select(col("n_docs"), col("n_exact_dup_pairs"),
      (col("n_same_set_emitted") === col("n_exact_dup_pairs"))
        .as("exact_dups_all_emitted"),
      (col("n_verif_viol") === 0).as("emitted_pairs_verified"))
  }

  private def x4(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text",
      bucketCol = "source", n = 3, threshold = 0.1)
      .orderBy(col("doc_a"), col("doc_b"))

  private def x5(s: SparkSession, dir: String): DataFrame =
    // threshold tuned to the synthetic embeddings (near-random vectors,
    // max same-label cosine ≈ 0.47) so the operator has visible output
    Dedup.embeddingCosine(t(s, dir, "embeddings"), "vec_id", "embedding",
      bucketCol = "label", threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  private def x6(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Independent cosine recomputation for the ANN gates: higher-order
    * SQL functions (zip_with/aggregate), not the operator's
    * CosineSimExpr — a separate evaluation path with the same
    * element order and zero-norm rule, so emitted scores can be
    * verified without sharing the operator's code. */
  private[graft] def cosSql(a: Column, b: Column): Column = {
    def n2(v: Column): Column = aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val dot = aggregate(zip_with(a, b,
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
      (acc, x) => acc + x)
    val den = sqrt(n2(a)) * sqrt(n2(b))
    when(den === 0.0, lit(0.0)).otherwise(dot / den)
  }

  /** Guarantee surface shared by the cosine-ANN gates (x7 LSH, x16
    * IVF) — the x2/x3/x13 pattern applied to approximate search: the
    * emitted NEIGHBOR SET depends on the seeded hash family /
    * centroid init and is not SQL-reproducible, but these properties
    * are exact and oracle-checkable:
    *  - anchors (DuckDB recomputes): query-set size, corpus size, and
    *    the identical-vector pair count — the recall floor, because an
    *    identical vector hashes to the query's own bucket under EVERY
    *    hyperplane family (sign bits are a function of the vector) and
    *    lands in the query's own probed IVF cell (nearest-centroid
    *    assignment is deterministic), so it MUST be a candidate with
    *    maximal cosine;
    *  - booleans (engine-computed, oracle-pinned TRUE): every
    *    identical pair emitted (or displaced only by cos-1.0 ties
    *    filling all k slots); every emitted row's cosine re-verified
    *    via [[cosSql]], ranks contiguous 1..cnt ≤ k, score monotone
    *    non-increasing with rank (rounding is monotone, so this is
    *    exact on the 4-dp surface), self-pairs excluded, neighbors
    *    and queries members of the right sets.
    * Per-row top-k output stays available via the Similarity API
    * (SimilaritySpec); this row gates the SAME full computation. */
  private[graft] def annSurface(emb: DataFrame, res: DataFrame, k: Int): DataFrame =
    annSurfaceOf(emb, res, k, scoreCol = "cos",
      reScore = cosSql, ascending = false,
      floorOk = (cnt, extreme, _) => cnt === k && extreme >= 1.0)

  /** The parameterized core behind [[annSurface]] (cosine gates x7/
    * x16) and the x89 PQ gate — one copy of the verification
    * plumbing; `scoreCol`/`reScore`/`ascending`/`floorOk` carry the
    * per-family differences (score name, fresh recompute, rank-order
    * direction, tie-displacement rule for the recall floor). */
  private[graft] def annSurfaceOf(emb: DataFrame, res0: DataFrame, k: Int,
      scoreCol: String, reScore: (Column, Column) => Column,
      ascending: Boolean,
      floorOk: (Column, Column, Column) => Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val sc = col(scoreCol)
    // the gated OPERATOR runs once: res feeds five consumers below
    // (needed ids, rank shaping, per-query floor stats, row count,
    // hit join) — without this eager cut the whole ANN subtree
    // (corpus scan + candidate join + window) re-executes per
    // consumer. k×|queries| rows, off the session cache.
    val res = res0.localCheckpoint(true)
    val anch = emb.agg(count(lit(1)).as("n_corpus"),
      coalesce(sum(when(col("vec_id") < 20, 1L).otherwise(0L)), lit(0L))
        .as("n_queries"))
    // identical-pair anchor: stream the CORPUS once with the tiny
    // query side broadcast (the corpus is the 100 TB table — it must
    // never be the build/shuffle side of any join in this surface)
    val ident = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .join(broadcast(emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))),
        col("qe") === col("ne") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("qe"))
    val nIdent = ident.agg(count(lit(1)).as("n_identical_pairs"))
    // rank/order/set checks run on res ALONE (k×|queries| rows) —
    // the window never touches the corpus
    val w = W.partitionBy(col("query_id")).orderBy(col("rank"))
    val shaped = res
      .withColumn("prev_sc", lag(sc, 1).over(w))
      .withColumn("prev_rank", lag(col("rank"), 1).over(w))
    // membership + score verification: ONE corpus scan extracts just
    // the embeddings the result references (BroadcastHashJoin, needed
    // ids as build side). The extract is ≤ 2·k·|queries| rows BY
    // CONSTRUCTION (the operator contract bounds the query side), so
    // it is collected and re-planned as a LocalRelation — bounded
    // driver traffic in the same audited class as the one-row
    // aggregates; no cache entry, no checkpoint job, and every later
    // join is tiny-vs-tiny against a local frame. A res row whose id
    // has no corpus match drops out of the inner joins, and the count
    // reconciliation below converts that into a violation.
    val needed = res.select(col("query_id").as("vid"))
      .union(res.select(col("neighbor_id").as("vid"))).distinct()
    val embNeededDistributed = emb
      .select(col("vec_id").as("vid"), col("embedding"))
      .join(broadcast(needed), Seq("vid"))
    val embNeeded = emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(embNeededDistributed.collect(): _*),
      embNeededDistributed.schema)
    val monoViol =
      if (ascending) col("prev_sc").isNotNull && sc < col("prev_sc")
      else col("prev_sc").isNotNull && sc > col("prev_sc")
    val rows2 = shaped
      .join(broadcast(embNeeded.select(col("vid").as("query_id"),
        col("embedding").as("qe"))), Seq("query_id"))
      .join(broadcast(embNeeded.select(col("vid").as("neighbor_id"),
        col("embedding").as("ne"))), Seq("neighbor_id"))
      .withColumn("re_sc", reScore(col("qe"), col("ne")))
    val verif = rows2.select(when(
        col("query_id") >= 20 ||                                // query set
        col("query_id") === col("neighbor_id") ||               // self pair
        col("rank") > k ||                                      // k bound
        (col("prev_rank").isNull && col("rank") =!= 1L) ||      // rank seq
        (col("prev_rank").isNotNull &&
          col("rank") =!= col("prev_rank") + 1L) ||
        monoViol ||
        abs(col("re_sc") - sc) > 6e-5, 1L).otherwise(0L).as("v"))
      .agg(coalesce(sum(col("v")), lit(0L)).as("n_row_viol"),
        count(lit(1)).as("n_matched"))
    val nRes = res.agg(count(lit(1)).as("n_res"))
    val extremeAgg = if (ascending) max(sc) else min(sc)
    val perQ = res.groupBy(col("query_id"))
      .agg(count(lit(1)).as("cnt"), extremeAgg.as("extreme"))
    val floor = ident
      .join(broadcast(res.select(col("query_id").as("qid"),
        col("neighbor_id").as("nid"), lit(1L).as("hit"))),
        Seq("qid", "nid"), "left")
      .join(broadcast(perQ.select(col("query_id").as("qid"), col("cnt"),
        col("extreme"))), Seq("qid"), "left")
      // coalesce(..., false): a query whose result rows are ENTIRELY
      // missing left-joins NULL cnt/extreme — three-valued logic would
      // let when(NULL) fall through to "no violation" and the dropout
      // pass the floor silently (review finding, round 11)
      .select(when(col("hit").isNull &&
        !coalesce(floorOk(col("cnt"), col("extreme"), col("qe")),
          lit(false)), 1L)
        .otherwise(0L).as("v"))
      .agg(coalesce(sum(col("v")), lit(0L)).as("n_floor_viol"))
    anch.crossJoin(nIdent).crossJoin(verif).crossJoin(floor)
      .crossJoin(nRes)
      .select(col("n_queries"), col("n_corpus"), col("n_identical_pairs"),
        (col("n_floor_viol") === 0).as("identical_recall_floor"),
        (col("n_row_viol") === 0 && col("n_matched") === col("n_res"))
          .as("emitted_rows_verified"))
  }

  /** Hyperplane-LSH ANN (`Similarity.lshTopK`) gated through its exact
    * guarantees (round 11, ex rows-only) — see [[annSurface]]. */
  private def x7(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    annSurface(emb,
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", dim = 64, nBits = 6, k = 3), k = 3)
  }

  /** Video analog of x12/x23: per-row MP4 containers synthesized with
    * dims/duration derived from doc_id, probed back via the ISO-BMFF
    * box walk; oracle computes expected values from doc_id alone. */
  private def x25(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 1280 + 16).cast("int").as("w"),
      (col("doc_id") % 720 + 9).cast("int").as("h"),
      (col("doc_id") % 60000 + 1000).cast("long").as("d"))
    docs.select(col("doc_id"),
      MediaProbe.probeVideo(MediaProbe.synthMp4(
        col("w"), col("h"), col("d"))).as("meta"))
      .select(col("doc_id"),
        col("meta").getField("width").as("width"),
        col("meta").getField("height").as("height"),
        col("meta").getField("duration_ms").as("duration_ms"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level boilerplate removal, verified end-to-end: a known
    * boilerplate sentence is appended to EVERY document, so it crosses
    * the doc-frequency cutoff and must be stripped; the original
    * content is unique per doc and must survive byte-exactly. The
    * oracle simply selects the original text — independent of the
    * whole explode→count→join→rebuild pipeline under test. */
  private def x26(s: SparkSession, dir: String): DataFrame = {
    val boiler = "Subscribe to our newsletter for updates"
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      concat(col("text"), lit(". " + boiler)).as("text"))
    Dedup.dropCommonLines(docs, "doc_id", "text",
      maxDocFreq = 5, sep = ". ")
      .orderBy(col("doc_id"))
  }

  /** ANN quality probe: recall of the LSH index against brute-force
    * ground truth, per query — the measurement loop a production ANN
    * deployment runs when tuning nBits/k. Rows-only (float cosine is
    * engine-specific) but fully deterministic within the engine. */
  private def x24(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 20)
    // ground truth feeds BOTH recall branches — checkpoint the tiny
    // result (|queries|×k rows) so the corpus-wide brute-force scan
    // runs once, not once per branch
    val truth = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
      k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    def recallAt(nProbe: Int, alias: String): DataFrame = {
      val approx = Similarity.lshTopK(emb, qs, "vec_id", "embedding",
        dim = 64, nBits = 6, k = 5, nProbe = nProbe)
        .select(col("query_id"), col("neighbor_id").as("approx_id"))
      // both sides are |queries|×k — broadcast keeps the static plan
      // corpus-independent (truth/approx already absorbed the corpus)
      truth.join(broadcast(approx),
        truth("query_id") === approx("query_id") &&
          col("neighbor_id") === col("approx_id"), "left")
        .groupBy(truth("query_id").as("query_id"))
        .agg(roundz(count(col("approx_id")).cast("double") /
          count(lit(1)).cast("double"), 2).as(alias))
    }
    // single-probe vs multi-probe recall side by side — the tuning
    // loop a production deployment runs. Gated (round 11, ex
    // rows-only) through its exact guarantees: the recall VALUES
    // depend on the seeded hyperplane family, but (a) the ground
    // truth is complete (k rows per query — corpus ≫ k, so this
    // count is oracle-recomputable), (b) recalls live in [0,1], and
    // (c) multi-probe recall ≥ single-probe recall per query — a
    // theorem, not a tuning fact: the nProbe=3 probe set contains
    // the nProbe=1 bucket, so candidates_mp ⊇ candidates_sp, and a
    // truth member (global top-k by cosine) retrieved under sp can
    // only be displaced in mp's top-k by higher-cosine vectors,
    // which are all truth members themselves. Rounding (2 dp) is
    // monotone, so the inequality survives the emitted surface.
    val rec = recallAt(1, "recall").join(broadcast(recallAt(3, "recall_mp")),
      Seq("query_id"))
    val anch = emb.agg(
      coalesce(sum(when(col("vec_id") < 20, 1L).otherwise(0L)), lit(0L))
        .as("n_queries"))
    val truthCnt = truth.agg(count(lit(1)).as("n_truth_rows"))
    val checks = rec.agg(count(lit(1)).as("n_rec_rows"),
      coalesce(sum(when(col("recall") < 0.0 || col("recall") > 1.0 ||
        col("recall_mp") < 0.0 || col("recall_mp") > 1.0, 1L)
        .otherwise(0L)), lit(0L)).as("v_range"),
      coalesce(sum(when(col("recall_mp") < col("recall"), 1L)
        .otherwise(0L)), lit(0L)).as("v_mono"))
    anch.crossJoin(truthCnt).crossJoin(checks).select(
      col("n_queries"), col("n_truth_rows"),
      (col("n_rec_rows") === col("n_queries")).as("recall_row_per_query"),
      (col("v_range") === 0).as("recalls_in_unit_range"),
      (col("v_mono") === 0).as("multiprobe_never_worse"))
  }

  private def x8(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents")).select(col("doc_id"),
      T.langId(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))

  private def x9(s: SparkSession, dir: String): DataFrame = {
    val d = spread(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      .withColumn("n_tokens", T.wsTokenCount(col("text")))
      .withColumn("stop_hits",
        T.stopwordHits(col("text"), T.StopwordLists.head._2))
      .withColumn("len_chars", length(col("text")).cast("long"))
    d.select(col("doc_id"), col("n_tokens"), col("stop_hits"),
      col("len_chars"),
      (col("stop_hits").cast("double") / col("n_tokens").cast("double"))
        .as("stop_ratio"),
      T.qualityScore(col("n_tokens"), col("stop_hits"), col("len_chars"))
        .as("quality"))
      .orderBy(col("doc_id"))
  }

  private def x10(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents")).select(col("doc_id"),
      T.wsTokenCount(col("text")).as("ws_tokens"),
      T.bpeishTokenCount(col("text")).as("bpeish_tokens"),
      size(T.tokenSet(col("text"))).cast("long").as("vocab"))
      .orderBy(col("doc_id"))

  private def x11(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents")).select(col("doc_id"),
      T.normFingerprint(col("text")).as("norm_fp"),
      T.bagFingerprint(col("text")).as("bag_fp"))
      .orderBy(col("doc_id"))

  /** Real media probe, verified end-to-end: per-row PNG bytes are
    * SYNTHESIZED with dims derived from doc_id, then the probe parses
    * the bytes back. The oracle computes the expected dims from doc_id
    * directly — independent of both the synthesizer and the probe — so
    * a broken IHDR parse (endianness, offset, signature) hash-fails. */
  private def x12(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 640 + 1).cast("int").as("w"),
      (col("doc_id") % 480 + 1).cast("int").as("h"))
    docs.select(col("doc_id"),
      MediaProbe.probeMedia(
        MediaProbe.synthPng(col("w"), col("h"))).as("meta"))
      .select(col("doc_id"),
        col("meta").getField("width").as("width"),
        col("meta").getField("height").as("height"),
        col("meta").getField("media_type").as("media_type"))
      .orderBy(col("doc_id"))
  }

  /** Dup-group labeling (`Dedup.minhashLsh` → `Dedup.components`)
    * gated through its EXACT guarantees (round 11, ex rows-only — the
    * b4 pattern; the propagation machinery itself is differentially
    * tested by x44's recursive-CTE oracle on deterministic edges).
    * The labeling of LSH-found pairs is not SQL-reproducible, but
    * three properties are:
    *  - every same-text group (≥3-token docs) is fully labeled and
    *    lands in ONE component (the x2 recall floor, propagated),
    *    counted against the oracle's text-dup group count;
    *  - every component label is the min doc_id of its members;
    *  - labels are closed under the emitted pair set (both endpoints
    *    of every pair share a label).
    * Per-label output stays available via `Dedup.components` directly;
    * this row gates the SAME full LSH+components computation. */
  private def x13(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"), col("text"))
    // one eager cut: LSH runs once for components AND the closure
    // check (pairs ≪ corpus — bounded by verified near-dups)
    val pairs = Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text")
      .localCheckpoint(true)
    val labels = Dedup.components(pairs).localCheckpoint(true)
    componentsGate(docs, pairs, labels)
  }

  /** The x13 gate body, factored for `DedupGateTeethSpec`. `labels` =
    * components output (doc_id, group_id). */
  private[graft] def componentsGate(docs: DataFrame, pairs: DataFrame,
      labels: DataFrame): DataFrame = {
    val eligible = docs.filter(size(T.tokens(col("text"))) >= 3)
    val closure = pairs
      .join(labels.select(col("doc_id").as("doc_a"), col("group_id").as("ga")),
        Seq("doc_a"), "left")
      .join(labels.select(col("doc_id").as("doc_b"), col("group_id").as("gb")),
        Seq("doc_b"), "left")
      .agg(coalesce(sum(when(col("ga").isNull || col("gb").isNull ||
        col("ga") =!= col("gb"), 1L).otherwise(0L)), lit(0L))
        .as("n_closure_viol"))
    val minv = labels.groupBy(col("group_id"))
      .agg(min(col("doc_id")).as("mn"))
      .agg(coalesce(sum(when(col("group_id") =!= col("mn"), 1L)
        .otherwise(0L)), lit(0L)).as("n_label_viol"))
    val dupTexts = eligible.groupBy(col("text"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("text"))
    val cog = eligible.join(dupTexts, Seq("text"), "left_semi")
      .join(labels, Seq("doc_id"), "left")
      .groupBy(col("text"))
      .agg(sum(when(col("group_id").isNull, 1L).otherwise(0L)).as("nulls"),
        countDistinct(col("group_id")).as("nl"))
      .agg(count(lit(1)).as("n_text_dup_groups"),
        coalesce(sum(when(col("nulls") > 0 || col("nl") =!= 1, 1L)
          .otherwise(0L)), lit(0L)).as("n_cogroup_viol"))
    cog.crossJoin(closure).crossJoin(minv).select(
      col("n_text_dup_groups"),
      (col("n_cogroup_viol") === 0).as("all_same_text_cogrouped"),
      (col("n_label_viol") === 0).as("labels_are_min_members"),
      (col("n_closure_viol") === 0).as("labels_closed_under_pairs"))
  }

  private def x14(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents"))
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("tok"))

  private def x15(s: SparkSession, dir: String): DataFrame = {
    val counts = spread(t(s, dir, "documents"))
      .select(col("lang"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("tok"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy(col("lang"), col("rank"))
  }

  /** IVF ANN (`Similarity.trainCentroids` + `ivfTopK`) gated through
    * its exact guarantees (round 11, ex rows-only) — see
    * [[annSurface]]. */
  private def x16(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = Similarity.trainCentroids(emb, "embedding", k = 8,
      orderCol = "vec_id")
    annSurface(emb,
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", centroids, nProbe = 2, k = 5), k = 5)
  }

  /** Sessionization: gap-based sessions per user over the event
    * stream — lag + cumulative-sum session ids (batch-deterministic
    * formulation; the streaming path uses session_window + watermark).
    * Gap = 2 hours, in nanos (events.ts is nanos-as-long). */
  private def x17(s: SparkSession, dir: String): DataFrame = {
    val gapMs = 2L * 3600 * 1000
    // all time arithmetic in epoch-ms so the oracle (which sees ms
    // after the ns→ms floor) agrees at gap boundaries
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    t(s, dir, "events")
      .withColumn("ts_ms", expr("ts div 1000000"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Multi-dimensional rollup (Catalyst-supplied per SURVEY §2.9):
    * event counts and exact-cents value sums by (event_type, user_id)
    * with subtotals and grand total. */
  private def x18(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .rollup(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy(col("event_type").asc_nulls_first, col("user_id").asc_nulls_first)

  /** As-of join: each non-purchase event paired with the user's most
    * recent purchase at-or-before it (point-in-time feature lookup). */
  private def x19(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val left = events.filter(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts")
    val right = events.filter(col("event_type") === "purchase")
    graft.operators.AsOfJoin.lastPrior(
      left, right, Seq("user_id"), col("ts"), col("ts"),
      rightCols = Seq(col("event_id").as("last_purchase_id"),
        col("value").as("last_purchase_value")),
      rightTieBreak = Seq(col("event_id")))
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000000").as("ts_ms"),
        col("last_purchase_id"), col("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of with tolerance (`AsOfJoin.firstAfter`): each
    * non-purchase event paired with the user's NEXT purchase, but only
    * if it lands within one hour — the attribution-window join. The
    * oracle uses DuckDB's native ASOF with the inequality flipped and
    * a CASE for the window; both sides rely on (user, ts) purchase
    * uniqueness for tie-freedom exactly like x19. */
  private def x57(s: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val events = t(s, dir, "events")
    val left = events.filter(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts")
    val right = events.filter(col("event_type") === "purchase")
    graft.operators.AsOfJoin.firstAfter(
      left, right, Seq("user_id"), col("ts"), col("ts"),
      rightCols = Seq(col("event_id").as("next_purchase_id"),
        col("value").as("next_purchase_value")),
      rightTieBreak = Seq(col("event_id")),
      tolerance = Some(lit(hourNs)))
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000000").as("ts_ms"),
        col("next_purchase_id"), col("next_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Recency-decayed activity score (`Decay.recencyScore`): per user,
    * sum of exp(-(t_max - ts)/1day) over events — reference time from
    * the data so both engines compute identical weights (long->double
    * casts and exp are IEEE-deterministic; only the distributed sum
    * reorders, margins probed at 4 dp). */
  private def x61(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decay.recencyScore(t(s, dir, "events"), "user_id",
      "ts", tau = 86400e9)
      .select(col("user_id"), col("n_events"),
        roundz(col("score"), 4).as("score_r"))
      .orderBy(col("user_id"))

  /** Cohort retention matrix (`Cohorts.retention`): users bucketed by
    * the week of their first event; distinct active users per (cohort,
    * offset) cell. All-integer arithmetic — the period index is an
    * exact floor division of the nanosecond timestamp (doubles would
    * misassign near-boundary events past 2^53). */
  private def x62(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cohorts.retention(t(s, dir, "events"), "user_id",
      "ts", periodNs = 604800000000000L)
      .orderBy(col("cohort"), col("period_offset"))

  /** Trailing-hour rolling aggregates (`Rolling.trailing`): per event,
    * the same user's event count and value sum (in exact cents) over
    * `[t-1h, t]`. RANGE frame on the raw nanos keeps ts-ties
    * deterministic; integer cent sums make the distributed/window
    * reduction order irrelevant. */
  private def x63(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
    graft.operators.Rolling.trailing(
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value")),
      "user_id", "ts", windowSize = 3600000000000L,
      aggs = Seq("n_1h" -> count(lit(1)), "cents_1h" -> sum(cents)))
      .select(col("event_id"), col("user_id"), col("n_1h"),
        col("cents_1h"))
      .orderBy(col("event_id"))
  }

  /** Fuzzy vocabulary lookup (`FuzzyJoin.lookup`): two deterministic
    * corruptions of every distinct part name — a char substitution and
    * a char deletion — resolved back against the vocabulary by blocked
    * levenshtein (prefix-2 + length-band-4 blocking, broadcast vocab).
    * Integer distances, string ranks: exact cross-engine. */
  private def x64(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "part").select(col("p_name"))
    val names = vocab.distinct()
    val probes = names.select(
        concat(lit("sub:"), col("p_name")).as("probe_id"),
        concat(substring(col("p_name"), 1, 2), lit("z"),
          substring(col("p_name"), 4, 1000)).as("probe"))
      .unionByName(names.select(
        concat(lit("del:"), col("p_name")).as("probe_id"),
        concat(substring(col("p_name"), 1, 3),
          substring(col("p_name"), 5, 1000)).as("probe")))
    graft.ext.FuzzyJoin.lookup(probes, "probe_id", "probe",
      vocab, "p_name", maxDist = 2, k = 1, prefixLen = 2, lenBand = 4)
      .select(col("probe_id"), col("probe"), col("matched"),
        col("dist").cast("long").as("dist"), col("rank"))
      .orderBy(col("probe_id"))
  }

  /** Weighted sampling without replacement
    * (`Sampling.weightedKPerGroup`, A-ES): top-20 docs per source with
    * inclusion odds proportional to n_chars. Priority = ln(u)/w with u
    * from the md5 60-bit prefix; margins probed at both SFs — min
    * rank-20/21 priority gap per group >= 8.9e-6 (sf0.01) / 4.2e-7
    * (sf0.1), relative gap ~1.2e-3, vs ~1e-15 relative cross-engine
    * ln noise. */
  private def x65(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedKPerGroup(
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars")),
      col("doc_id"), col("source"), col("n_chars"), k = 20, salt = "w1")
      .select(col("doc_id"), col("source"), col("rank"))
      .orderBy(col("doc_id"))

  /** PMI collocation mining (`LangModel.pmiTopK`): top-30 adjacent
    * word pairs by pointwise mutual information at support >= 20.
    * Rank boundary and 4 dp rounding margins probed at both SFs:
    * rank-30/31 gap >= 2.6e-3 (sf0.01) / 9.2e-4 (sf0.1) pmi units,
    * nearest rounding boundary >= 1.2e-6, vs ~1e-15 ln noise. */
  private def x66(s: SparkSession, dir: String): DataFrame =
    graft.ext.LangModel.pmiTopK(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", k = 30, minCount = 20L)
      .select(col("p"), col("w"), col("c_pw"),
        roundz(col("pmi"), 4).as("pmi_r"))
      .orderBy(col("pmi_r").desc, col("p"), col("w"))

  /** Robust outlier report (`Profile.robustOutliers`): median + MAD
    * per event type (both PERCENTILE_DISC — exact element selection,
    * cross-engine exact on raw doubles) and the count beyond 3 MADs.
    * Oracle = DuckDB's native quantile_disc — independent derivation
    * of the same order statistics. */
  private def x73(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.robustOutliers(
      t(s, dir, "events").select(col("event_type"), col("value")),
      "event_type", "value", k = 3.0)
      .orderBy(col("event_type"))

  /** Keep-best exact dedup (`Dedup.keepBest`): three re-keyed snapshot
    * copies of the corpus (x67's synthetic-snapshot design) deduped
    * back to one survivor per content fingerprint — the survivor is
    * the max-quality copy (min id on ties), so both the argmax and the
    * deterministic tie-break are exercised. Quality is id-derived so
    * copies of the same text genuinely differ. */
  private def x84(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    def snap(m: Int, tag: Int) = docs.filter(col("doc_id") % m === 0)
      .select((col("doc_id") * 10 + tag).as("doc_id"), col("text"))
    val union = snap(2, 1).unionByName(snap(3, 2)).unionByName(snap(5, 3))
      .withColumn("quality", col("doc_id") % 7)
    Dedup.keepBest(union, "doc_id", "text", "quality")
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Point-in-time join (`AsOfJoin.pointInTime`): each probe fact
    * (every 7th event, probing the instant BEFORE its own timestamp)
    * joined to the SCD2 state interval (q16's history) that was
    * current at that instant — the leakage-free feature-store lookup.
    * Probing ts-1 makes the first interval of every user a genuine
    * no-match (null state) and lands same-millisecond state flips on
    * the zero-width-interval edge, so the half-open `[from, to)`
    * semantics are exercised, not just the happy path. One key
    * shuffle (window carry), no interval join. */
  private def x85(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
    val hist = graft.operators.Cdc.scd2History(
      ev, "user_id", "event_type", "ts_ms", "event_id")
    val facts = ev.filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("user_id"),
        (col("ts_ms") - 1).as("probe_ts"))
    graft.operators.AsOfJoin.pointInTime(
      facts, hist, Seq("user_id"),
      factTs = col("probe_ts"),
      validFrom = col("eff_from"), validTo = col("eff_to"),
      dimCols = Seq(col("event_type").as("state_at"),
        col("version").as("state_version")),
      dimTieBreak = Seq(col("version")))
      .orderBy(col("event_id"))
  }

  /** URL canonicalization (`UrlFunctions.canonicalizeUrl`): messy
    * synthetic URLs (mixed-case scheme/host, www, default ports,
    * trailing slashes, utm/fbclid/ref params, fragments) normalized to
    * the crawl-dedup key, plus the bare domain. Pure scan-side Column
    * composition; the oracle replays every rule with DuckDB's own
    * regex/list functions. */
  /** The synthetic messy URL x90 and x92 derive from (doc_id,
    * source) — mixed case, www, default ports, tracking params,
    * fragments. The modulus mix guarantees every rule fires on some
    * row at sf0.001. `pathId` names the logical page (x90 passes
    * doc_id — every doc its own page; x92 collapses it for half the
    * domains so the dup-share rule fires). The canonical-surviving
    * parts (path id, page param) are functions of pathId ONLY;
    * everything canonicalization strips varies with doc_id. Mirrored
    * literally by both oracles. */
  private def messyUrl(d: Column, pathId: Column): Column = concat(
    when(d % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
    when(d % 3 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), lit(".Example.COM"),
    when(d % 2 === 0 && d % 5 === 0, lit(":443"))
      .when(d % 2 =!= 0 && d % 5 === 0, lit(":80")).otherwise(lit("")),
    lit("/Docs/"), pathId.cast("string"),
    when(d % 4 === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&page="), (pathId % 7).cast("string"),
    lit("&fbclid=abc"),
    when(d % 6 === 0, lit("&ref=home")).otherwise(lit("")),
    when(d % 8 === 0, lit("#frag")).otherwise(lit("")))

  private def x90(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val url = messyUrl(d, d)
    spread(t(s, dir, "documents")).select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        graft.functions.UrlFunctions.canonicalizeUrl(col("url"))
          .as("canon_url"),
        graft.functions.UrlFunctions.urlDomain(col("url")).as("domain"))
      .orderBy(col("doc_id"))
  }

  /** HTML boilerplate strip (`TextFunctions.stripHtml`): synthetic
    * crawl pages (head/style/script blocks, comments, entities,
    * conditional footers) reduced to clean text. The script body
    * deliberately contains `1 < 2`, a fake `<p>` inside a comment,
    * and a quoted `</div>` — the block rules must eat them before the
    * generic tag rule runs. `&amp;amp;` pins the single-decode rule.
    * Scan-side chained regex; oracle replays every rule with DuckDB
    * flags ('g','i','s'). */
  private def x91(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val html = concat(
      lit("<html><head><title>D"), d.cast("string"),
      lit("</title><style type=\"text/css\">p { color: #333; }</style>"),
      when(d % 3 === 0, lit("<script>var x = 1 < 2; // <p>not a tag</p>\n" +
        "var y = \"</div>\";</script>")).otherwise(lit("")),
      lit("</head><body><!-- trail: "), d.cast("string"),
      lit(" --><h1 class=\"t\">Doc &amp;amp; "), d.cast("string"),
      lit("</h1><p>"), col("text"), lit("</p>"),
      when(d % 4 === 0,
        lit("<br/><footer>&copy; Example &nbsp;&#39;Site&#39;</footer>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    spread(t(s, dir, "documents")).select(d, html.as("html"))
      .select(d, length(col("html")).cast("long").as("n_html_chars"),
        graft.functions.TextFunctions.stripHtml(col("html")).as("clean"))
      .select(d, col("n_html_chars"),
        length(col("clean")).cast("long").as("n_clean_chars"),
        md5(col("clean").cast("binary")).as("clean_md5"),
        substring(col("clean"), 1, 48).as("clean_head"))
      .orderBy(d)
  }

  /** Domain-level crawl curation (`Crawl.domainStats`): per-domain
    * doc count, distinct canonical pages, token mass, and the keep
    * rule (mean tokens/doc >= 53 by integer cross-multiply, AND
    * distinct pages > half the docs). Domains src10..src19 serve
    * every doc under one of five canonical pages (pathId = doc_id %
    * 50 within a residue class mod 20 hits exactly {0,10,20,30,40})
    * — the dup rule drops them; src0..src9 split on the token rule.
    * Integer-exact end to end. */
  private def x92(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val pathId = when(d % 20 < 10, d).otherwise(d % 50)
    val docs = spread(t(s, dir, "documents"))
      .select(d, messyUrl(d, pathId).as("url"), col("text"))
    graft.ext.Crawl.domainStats(docs, col("url"), col("text"),
        minTokensPerDoc = 53L)
      .orderBy(col("domain"))
  }

  /** Dictionary encoding (`Encoding.topKVocab` + `dictionaryEncode`):
    * the top-20 frequency-ranked vocabulary (ids 1..20, ties by
    * token) and every document mapped to its id sequence — OOV id 0
    * for tokens past the budget (the corpus vocab is larger than 20,
    * so the OOV path genuinely fires). Output pins the head of each
    * sequence AND a position-weighted checksum over the whole of it.
    * Vocab = heap top-k (TakeOrderedAndProject), encode = broadcast
    * join + one doc-keyed regroup. */
  private def x93(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents"))
    val vocab = graft.ext.Encoding.topKVocab(docs, "text", vocabSize = 20)
    graft.ext.Encoding.dictionaryEncode(docs, "doc_id", "text", vocab,
        headLen = 12)
      // the compare harness hashes flat values — emit the head as a
      // comma-joined string (the library keeps the typed array)
      .withColumn("ids_head",
        array_join(transform(col("ids_head"), _.cast("string")), ","))
      .orderBy(col("doc_id"))
  }

  /** PQ ANN (`Similarity.trainPq`/`pqTopK`): product-quantized
    * approximate search — 64-dim floats coded to 8 bytes, queries
    * scored by ADC table lookups. Deterministic (codebook from the
    * ordered sample) but iterative training + quantized ranks are not
    * SQL-expressible → rows-only, like x16; recall vs exact search is
    * pinned in SimilaritySpec. */
  /** PQ ANN (`Similarity.trainPq` + `pqTopK`) gated through its exact
    * guarantees (round 11, ex rows-only) — the [[annSurface]] pattern
    * with the distance-space twists:
    *  - every emitted ADC distance is recomputed in a fresh
    *    evaluation (re-encode the neighbor, rebuild the query LUT,
    *    re-sum) and must match the emitted 4-dp value — catches the
    *    join/window wiring corrupting the pair→distance association;
    *  - ranks contiguous 1..cnt ≤ k, distance monotone non-DEcreasing
    *    with rank, self-pairs excluded, membership;
    *  - recall floor: an identical vector has the identical code, and
    *    ADC(q, code(q)) is the MINIMUM possible ADC distance (each
    *    subspace code is the argmin centroid), so identical pairs
    *    must be emitted unless k slots filled at that same minimal
    *    distance — anchor count oracle-recomputed as in annSurface. */
  private def x89(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Expressions => E}
    val emb = t(s, dir, "embeddings")
    val cb = Similarity.trainPq(emb, "embedding", orderCol = "vec_id",
      m = 8, ksub = 16)
    val ksub = cb(0).length
    val res = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", cb, k = 5)
    annSurfaceOf(emb, res, k = 5, scoreCol = "approx_d2",
      reScore = (qe, ne) =>
        E.pqAdc(E.pqEncode(ne, cb), E.pqLut(qe, cb), ksub),
      ascending = true,
      // identical pair displaced only by equal-minimal-ADC ties:
      // ADC(q, code(q)) is the per-subspace-argmin minimum distance
      floorOk = (cnt, maxD2, qe) => cnt === 5 && maxD2 <=
        roundz(E.pqAdc(E.pqEncode(qe, cb), E.pqLut(qe, cb), ksub), 4)
          + 1e-9)
  }

  /** Exact heavy hitters (`Scale.heavyHittersExact`): whitespace
    * tokens above 1/31 corpus share via the Misra-Gries candidate
    * pass + exact re-count. capacity=30 sits BELOW the corpus vocab,
    * so the summary genuinely decrements and merges shrink; the
    * order-dependent extra candidates are culled by the exact integer
    * threshold, making the result deterministic and oracle-equal to a
    * full groupBy-HAVING. */
  private def x88(s: SparkSession, dir: String): DataFrame = {
    val toks = spread(t(s, dir, "documents"))
      .select(explode(array_remove(split(col("text"), "\\s+"), ""))
        .as("token"))
    graft.operators.Scale.heavyHittersExact(toks, "token", capacity = 30)
      .orderBy(col("token"))
  }

  /** Semantic decontamination (`Contamination.semanticScreen`): every
    * corpus vector's nearest benchmark vector (vec_id % 17 split) and
    * the verdict at tau=0.4 — the embedding-space complement of x38's
    * verbatim-gram screen. Margins probed at both SFs before trusting
    * the oracle: argmax top-1/top-2 gap ≥ 6.6e-6, |max_cos − tau| ≥
    * 1.1e-4, 4 dp rounding-boundary distance ≥ 9.5e-9 — all far above
    * ~1e-12 engine drift. */
  private def x87(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Contamination.semanticScreen(
      emb.filter(col("vec_id") % 17 =!= 0),
      emb.filter(col("vec_id") % 17 === 0),
      "vec_id", "embedding", tau = 0.4)
      .select(col("vec_id"), col("bench_id"),
        roundz(col("max_cos"), 4).as("max_cos"), col("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Dup-cluster size profile (`Dedup.clusterSizeProfile`): the QA
    * histogram over x44's connected-component labeling — groups per
    * size, docs held, and the keep-one drop count. Oracle re-derives
    * the labels with the generic transitive-closure CTE and
    * re-aggregates independently. */
  private def x86(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val edges = ids
      .filter(col("doc_id") % 10 =!= 9 && col("doc_id") % 7 =!= 3)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    Dedup.clusterSizeProfile(Dedup.components(edges), "group_id")
      .orderBy(col("group_size"))
  }

  /** Snapshot drift report (`Profile.snapshotDrift`): snapshot A drops
    * the 'error' type and every third event, snapshot B drops every
    * fifth — so the diff exercises added, common-with-drift, and both
    * count/cents deltas. All exact ints / exact cents. */
  private def x83(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val snapA = ev.filter(col("event_type") =!= "error" &&
      col("event_id") % 3 =!= 0)
    val snapB = ev.filter(col("event_id") % 5 =!= 0)
    graft.operators.Profile.snapshotDrift(snapA, snapB,
      "event_type", "value")
      .orderBy(col("key"))
  }

  /** Markov transition matrix (`Paths.transitions`): prev→next event
    * counts and conditional probabilities over per-user timelines —
    * exact ints and exact-int ratios. */
  private def x82(s: SparkSession, dir: String): DataFrame =
    graft.operators.Paths.transitions(
      t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
      .orderBy(col("prev"), col("next"))

  /** OOV-rate audit (`LangModel.oovReport`): per-doc out-of-vocabulary
    * share against the corpus vocabulary at minCount = 20 — exact-int
    * counts and one exact-int ratio. */
  private def x80(s: SparkSession, dir: String): DataFrame =
    graft.ext.LangModel.oovReport(
      spread(t(s, dir, "documents")).select(col("doc_id"), col("text")),
      "doc_id", "text", minCount = 20L)
      .orderBy(col("doc_id"))

  /** Composed cleaning pipeline: boilerplate injection → quality gate
    * (x74 rules) → corpus first-occurrence span dedup (x75) → token
    * budget truncation (x76), end-to-end in ONE lazy plan. The oracle
    * stitches the three stages' CTEs — any drift in stage semantics or
    * inter-stage hand-off surfaces as a diff. */
  private def x81(s: SparkSession, dir: String): DataFrame = {
    val boiler = "subscribe to our newsletter for updates and follow us today"
    val injected = spread(t(s, dir, "documents")).select(col("doc_id"),
      concat(lit(boiler + " "), col("text")).as("text"))
    val gated = injected
      .filter(size(T.tokens(col("text"))) > 0)
      .filter(T.qualityGate(col("text"), T.StopwordLists.head._2)
        .getField("kept"))
    val deduped = Dedup.firstOccurrenceSpans(gated, "doc_id", "text",
        spanTokens = 10)
      .filter(col("out_text").isNotNull)
      .select(col("doc_id"), col("out_text").as("text"))
    graft.ext.Chunking.truncateTokens(deduped, col("doc_id"), col("text"),
        maxTokens = 48)
      .orderBy(col("doc_id"))
  }

  /** Differentially-private cohort histogram (`Privacy.noisyCounts`):
    * user-cohort counts with deterministic seed-keyed Laplace noise
    * (ε = 1) — the reproducible-release form of the mechanism. The
    * oracle re-derives the identical 60-bit hex prefix and inverse-CDF
    * transform; distance to the nearest 4-dp rounding boundary probed
    * at both SFs: min 3.3e-3 cell-units (3.4e-7 absolute) vs ulp-scale
    * engine drift ~1e-12. */
  private def x79(s: SparkSession, dir: String): DataFrame =
    graft.ext.Privacy.noisyCounts(
      t(s, dir, "events"), col("user_id") % 256, epsilon = 1.0,
      seed = "x79")
      .select(col("grp"), col("n"), roundz(col("noisy"), 4).as("noisy_r"))
      .orderBy(col("grp"))

  /** CUBE aggregate with grouping_id: the full lattice over
    * (event_type, day-of-week) — every subtotal plane plus the grand
    * total, with gid disambiguating rolled-up NULLs from data NULLs.
    * Day-of-week is pure integer arithmetic on the nano epoch
    * (1970-01-01 = Thursday = 4) so both engines derive it exactly;
    * money sums are exact cents. Catalyst plans CUBE as ONE Expand +
    * one aggregate — no per-plane re-scan. */
  private def x78(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("dow", (expr("ts div 86400000000000") + 4) % 7)
      .cube(col("event_type"), col("dow"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first,
        col("dow").asc_nulls_first)

  /** Referential-integrity audit (`Integrity.fkReport`): three FK
    * relationships with injected defects — a parent snapshot missing
    * 1/7 of customers (orphans), a child with 1/13 of keys nulled (SQL
    * FK semantics: NULL is not a violation), and one intact relation
    * as the zero case. All-integer counts + one exact-int coverage
    * ratio. */
  private def x77(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .withColumn("fk", when(col("o_custkey") % 13 === 0, lit(null))
        .otherwise(col("o_custkey")))
    val custPart = t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 0)
    val li = t(s, dir, "lineitem")
    val partPart = t(s, dir, "part").filter(col("p_partkey") % 5 =!= 0)
    graft.operators.Integrity.fkReports(Seq(
      ("orders->customer_drop7", orders, "fk", custPart, "c_custkey"),
      ("lineitem->orders", li, "l_orderkey", t(s, dir, "orders"),
        "o_orderkey"),
      ("lineitem->part_drop5", li, "l_partkey", partPart, "p_partkey")))
      .orderBy(col("relation"))
  }

  /** Token-budget truncation (`Chunking.truncateTokens`): every doc
    * cut to its first 48 whitespace tokens — the context-window guard.
    * All-integer metrics plus the exact truncated string; zero
    * shuffle. */
  private def x76(s: SparkSession, dir: String): DataFrame =
    graft.ext.Chunking.truncateTokens(
      spread(t(s, dir, "documents")), col("doc_id"), col("text"),
      maxTokens = 48)
      .orderBy(col("doc_id"))

  /** First-occurrence span dedup (`Dedup.firstOccurrenceSpans`): the
    * C4-style "drop any 10-token span seen earlier anywhere in the
    * corpus" pass. A 10-token boilerplate prefix is injected into
    * EVERY document (x26's injection design) so span 0 is a genuine
    * corpus-wide duplicate: exactly one document keeps it. The oracle
    * elects winners over literal span strings — differential on the
    * engine's xxhash64 keying. */
  private def x75(s: SparkSession, dir: String): DataFrame = {
    val boiler = "subscribe to our newsletter for updates and follow us today"
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat(lit(boiler + " "), col("text")).as("text"))
    Dedup.firstOccurrenceSpans(docs, "doc_id", "text", spanTokens = 10)
      .orderBy(col("doc_id"))
  }

  /** Composite quality gate (`TextFunctions.qualityGate`): the
    * Gopher-rules-shaped document filter — word-count window, mean
    * word length window, ≥1 stopword, top-token-share repetition cap —
    * with every metric surfaced next to the verdict. All exact ints /
    * exact-int ratios, zero shuffle; the oracle re-derives the same
    * integers through an exploded GROUP BY. */
  private def x74(s: SparkSession, dir: String): DataFrame =
    // struct computed ONCE below the range exchange; field extraction
    // sits ABOVE the Sort so CollapseProject can't inline the
    // (CSE-exempt) higher-order subtree 8× — see qualityGate's scaladoc
    spread(t(s, dir, "documents"))
      .filter(size(T.tokens(col("text"))) > 0)
      .select(col("doc_id"),
        T.qualityGate(col("text"), T.StopwordLists.head._2).as("qg"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("qg.n_words").as("n_words"),
        col("qg.mean_len").as("mean_len"), col("qg.max_len").as("max_len"),
        col("qg.stop_hits").as("stop_hits"),
        col("qg.top_count").as("top_count"),
        col("qg.top_share").as("top_share"), col("qg.kept").as("kept"))

  /** Cross-corpus containment scoring (`Contamination
    * .containmentScore`): odd-id docs graded by the fraction of their
    * distinct 5-gram hashes present anywhere in the even-id reference
    * — the novelty dial behind soft decontamination. Counts exact;
    * ratio = exact-int / exact-int (same differential-on-hashing
    * design as x38: the oracle joins literal gram strings). */
  private def x71(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    Contamination.containmentScore(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", n = 5)
      .orderBy(col("doc_id"))
  }

  /** Lexical diversity (`TextFunctions.lexicalDiversity`): per-doc
    * type-token ratio and hapax share, computed scan-side from one
    * sorted token array (no explode/shuffle); the oracle re-derives
    * the same integers through an exploded GROUP BY — independent
    * formulations of identical counts. */
  private def x72(s: SparkSession, dir: String): DataFrame =
    // the n_tokens>0 predicate is written as the CHEAP explicit form
    // (no sort) so its pushdown to the scan does not drag a copy of
    // the whole lexicalDiversity subtree below the spread exchange;
    // field extraction sits ABOVE the orderBy so the struct
    // materializes once per row (the x74 pattern)
    spread(t(s, dir, "documents"))
      .filter(size(T.tokens(col("text"))) > 0)
      .select(col("doc_id"), T.lexicalDiversity(col("text")).as("ld"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("ld.n_tokens").as("n_tokens"),
        col("ld.n_types").as("n_types"), col("ld.hapax").as("hapax"),
        (col("ld.n_types").cast("double") /
          col("ld.n_tokens").cast("double")).as("ttr"))

  /** Behavioral path mining (`Paths.sessionPaths` + `topPaths`): the
    * x17 session rule (2h gap, epoch-ms arithmetic), each session
    * folded to its ordered event-type path, top-25 paths by frequency.
    * All-integer/string — exact cross-engine. */
  private def x70(s: SparkSession, dir: String): DataFrame = {
    val sessions = graft.operators.Paths.sessionPaths(
      t(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000")),
      "user_id", "ts_ms", "event_type", "event_id",
      gap = 2L * 3600 * 1000)
    graft.operators.Paths.topPaths(sessions, k = 25)
      .orderBy(col("n_sessions").desc, col("path"))
  }

  /** Corpus-overlap matrix (`Overlap.sourceOverlap`): three synthetic
    * crawl snapshots (doc_id % 2 / % 3 / % 5 slices, so their ID sets
    * genuinely intersect) crossed by shared exact fingerprint. Counts
    * are integers; jaccard is one exact-integer division. */
  private def x67(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"), col("text"))
    def snap(m: Int, tag: String) = docs.filter(col("doc_id") % m === 0)
      .withColumn("snapshot", lit(tag))
    val union = snap(2, "even").unionByName(snap(3, "third"))
      .unionByName(snap(5, "fifth"))
    graft.ext.Overlap.sourceOverlap(union, "text", "snapshot")
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Length-percentile calibration (`Calibrate.percentRank`): each
    * document's n_chars percent rank WITHIN its language — the
    * cross-language threshold normalizer. Scale-correct formulation
    * (counts-then-window, never a corpus-sized group sort); the rank
    * division is exact-integer / exact-integer, identical IEEE in both
    * engines, validated against DuckDB's native percent_rank. */
  private def x68(s: SparkSession, dir: String): DataFrame =
    graft.operators.Calibrate.percentRank(
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      col("lang"), col("n_chars"), outCol = "pct")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("pct"))
      .orderBy(col("doc_id"))

  /** Blocklist content screen (`TextFunctions.stopwordHits` over a
    * blocklist): per-doc match count with word boundaries plus the
    * keep/drop verdict — the lexical content-filter pass. */
  private def x69(s: SparkSession, dir: String): DataFrame = {
    val words = Seq("spark", "merge", "gamma")
    spread(t(s, dir, "documents")).select(col("doc_id"),
        T.stopwordHits(col("text"), words).as("hits"))
      .withColumn("kept", col("hits") === 0L)
      .orderBy(col("doc_id"))
  }

  /** Semantic dup groups: the x5 embedding-cosine pair stream fed
    * through `Dedup.components` — the end-to-end "cluster the
    * near-duplicates" composition (pairs → union-find), with BOTH
    * stages oracle-checked: DuckDB recomputes the pairs exactly (x5's
    * validated cosine margins) and closes them with the same recursive
    * CTE as x44. */
  private def x60(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.embeddingCosine(t(s, dir, "embeddings"), "vec_id",
      "embedding", bucketCol = "label", threshold = 0.4)
    Dedup.components(pairs, aCol = "id_a", bCol = "id_b")
      .select(col("doc_id").as("vec_id"), col("group_id"))
      .orderBy(col("vec_id"))
  }

  /** Unicode normalization pin (`Expressions.normalizeNfc` +
    * `stripAccents`): both engines inject DECOMPOSED accents
    * (a -> a+U+0301, e -> e+U+0300) into the ASCII corpus, then NFC
    * must compose them (java.text.Normalizer vs utf8proc) and the
    * accent fold must recover the original text byte-for-byte —
    * `fp_folded` equals md5(text) by construction. Lengths count code
    * points on both engines (probed). */
  private def x59(s: SparkSession, dir: String): DataFrame = {
    val E = graft.functions.Expressions
    val inj = replace(replace(col("text"), lit("a"), lit("a\u0301")),
      lit("e"), lit("e\u0300"))
    t(s, dir, "documents").select(col("doc_id"), inj.as("__inj"))
      .select(col("doc_id"),
        length(col("__inj")).cast("long").as("n_raw"),
        length(E.normalizeNfc(col("__inj"))).cast("long").as("n_nfc"),
        md5(E.normalizeNfc(col("__inj"))).as("fp_nfc"),
        md5(E.stripAccents(E.normalizeNfc(col("__inj"))))
          .as("fp_folded"))
      .orderBy(col("doc_id"))
  }

  /** Ordered funnel (`Funnel.stages`): per user, how far through
    * view -> click -> purchase (strictly increasing ts), with each
    * stage's first qualifying timestamp. Every shuffle rides the same
    * user key; no per-user event list is materialized. */
  private def x58(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.stages(t(s, dir, "events"), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"))
      .select(col("user_id"), col("stage_reached"),
        expr("ts_1 div 1000000").as("t1_ms"),
        expr("ts_2 div 1000000").as("t2_ms"),
        expr("ts_3 div 1000000").as("t3_ms"))
      .orderBy(col("user_id"))

  /** Range join: for each purchase, how many other-user events landed
    * within ±60 s (event correlation via the binned window join). */
  private def x20(s: SparkSession, dir: String): DataFrame = {
    val minuteNs = 60L * 1000 * 1000 * 1000
    val events = t(s, dir, "events")
    val probe = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val build = events.select(col("event_id").as("e_id"),
      col("user_id").as("e_user"), col("ts").as("e_ts"))
    graft.operators.RangeJoin.timeWindow(probe, build,
      col("p_ts"), col("e_ts"), minuteNs, minuteNs)
      .filter(col("e_user") =!= col("p_user"))
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_concurrent"))
      .orderBy(col("p_id"))
  }

  /** PII redaction: synthesize deterministic PII spans (the corpus has
    * none), scrub them, emit the redacted text. */
  private def x21(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents")).select(col("doc_id"),
      concat(substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
        .as("synth"))
      .select(col("doc_id"), T.redactPii(col("synth")).as("redacted"))
      .orderBy(col("doc_id"))

  /** Repetition ratio (Gopher-style filter): share of the most common
    * word 2-gram among all 2-gram occurrences. */
  private def x22(s: SparkSession, dir: String): DataFrame = {
    val grams = spread(t(s, dir, "documents"))
      .select(col("doc_id"),
        explode(graft.functions.Expressions.ngramHashesAll(
          graft.functions.HashFunctions.tokenHashes(T.tokens(col("text"))),
          2)).as("g"))
    grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("total_grams"), max(col("c")).as("max_gram_count"))
      .select(col("doc_id"), col("total_grams"), col("max_gram_count"),
        (col("max_gram_count").cast("double") / col("total_grams").cast("double"))
          .as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Audio analog of x12: per-row PCM WAV headers are synthesized with
    * params derived from doc_id, then probed back; the oracle computes
    * the expected values (including the duration arithmetic
    * data_len*1000/byte_rate) from doc_id alone — independent of both
    * the synthesizer and the RIFF chunk walk under test. */
  private def x23(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 2 + 1).cast("int").as("ch"),
      (lit(8000) * (col("doc_id") % 3 + 1)).cast("int").as("rate"),
      lit(16).cast("int").as("bits"),
      (col("doc_id") % 1000 + 100).cast("int").as("n"))
    docs.select(col("doc_id"),
      MediaProbe.probeAudio(MediaProbe.synthWav(
        col("ch"), col("rate"), col("bits"), col("n"))).as("meta"))
      .select(col("doc_id"),
        col("meta").getField("n_channels").as("n_channels"),
        col("meta").getField("sample_rate").as("sample_rate"),
        col("meta").getField("duration_ms").as("duration_ms"))
      .orderBy(col("doc_id"))
  }

  /** REAL pixel decode end-to-end (the round-2 verdict's last stub,
    * closed): per-row grayscale PNGs are synthesized with real deflated
    * + per-row-filtered pixel data derived from doc_id, then FULLY
    * decoded back — Inflater, all five PNG unfilters — into integer
    * channel stats. The oracle recomputes sum/min/max from doc_id with
    * a SQL series, independent of both the synthesizer and the decoder;
    * a wrong unfilter or a dropped scanline hash-fails. */
  private def x27(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 97 + 4).cast("int").as("w"),
      (col("doc_id") % 53 + 3).cast("int").as("h"),
      (col("doc_id") % 251).cast("int").as("seed"))
    docs.select(col("doc_id"),
      PixelDecode.pngStats(PixelDecode.synthPngPixels(
        col("w"), col("h"), col("seed"))).as("st"))
      .select(col("doc_id"),
        col("st.width").as("width"),
        col("st.height").as("height"),
        col("st.n_samples").as("n_samples"),
        col("st.sum_val").as("sum_val"),
        col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy(col("doc_id"))
  }

  /** PCM sample decode: per-row mono 16-bit WAVs with real sample data
    * (deterministic integer tone from doc_id), decoded back to
    * sum / sum-of-squares / min / max — sum_sq makes RMS computable
    * without emitting a float. Oracle recomputes from doc_id alone. */
  private def x28(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 400 + 100).cast("int").as("n"),
      (col("doc_id") % 1777).cast("int").as("seed"))
    docs.select(col("doc_id"),
      PixelDecode.wavStats(PixelDecode.synthWavTone(
        lit(1), lit(8000), col("n"), col("seed"))).as("st"))
      .select(col("doc_id"),
        col("st.n_samples").as("n_samples"),
        col("st.sum_val").as("sum_val"),
        col("st.sum_sq").as("sum_sq"),
        col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing (concat-and-chunk): every document's position in
    * the stream of 512-token training sequences. The hierarchical
    * prefix sum keeps the corpus-wide running total parallel (the only
    * single-task stage sees one row per 100-doc bucket); the oracle
    * recomputes the same positions with a plain window cumsum. */
  private def x29(s: SparkSession, dir: String): DataFrame =
    Packing.concatChunk(
      t(s, dir, "documents").select(col("doc_id"),
        T.wsTokenCount(col("text")).as("n_tokens")),
      "doc_id", col("n_tokens"), window = 512L, bucketSize = 100L)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        col("seq_id"), col("seq_off"), col("n_seqs"))
      .orderBy(col("doc_id"))

  /** Deterministic stratified sampling: downsample English to 25%,
    * keep other languages at 75%, decided by a pure key-hash filter
    * (no shuffle, no RNG state — reproducible at any cluster size).
    * The oracle applies the identical md5-threshold rule. */
  private def x30(s: SparkSession, dir: String): DataFrame =
    Sampling.stratified(t(s, dir, "documents"),
      col("doc_id"), col("lang"),
      rates = Map("en" -> 0.25), defaultRate = 0.75)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Bloom-accelerated semi-join: lineitems of URGENT orders. The
    * bloom sketch of the (selective) order-key set filters the fact
    * table at the scan, before the shuffle; the exact semi-join then
    * drops sketch false positives, so the result — and the oracle, a
    * plain join — is exact. */
  private def x31(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"))
    graft.operators.Scale.bloomSemiJoin(
      t(s, dir, "lineitem"), urgent, "l_orderkey",
      expectedItems = 100000L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Key-skew diagnostic over the event stream's user key — the
    * report run before sizing salts/AQE for a hot-key join. Top-k is
    * TakeOrdered (parallel partial top-k); the corpus total rides as a
    * broadcast one-row join, never an unpartitioned window. */
  private def x32(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.skewReport(
      t(s, dir, "events"), col("user_id"), topK = 20)
      .orderBy(col("cnt").desc, col("key"))

  /** Per-document rare-term extraction (the integer-exact core of
    * TF-IDF): each document's top-3 most-corpus-rare distinct tokens,
    * ranked by global document frequency then token. The df dictionary
    * is built once (token-keyed shuffle) and joined back to the
    * per-doc token sets; ranking is a per-doc window. All-integer
    * scoring keeps the oracle hashable (no float idf). */
  private def x33(s: SparkSession, dir: String): DataFrame = {
    val docTok = spread(t(s, dir, "documents"))
      .select(col("doc_id"), explode(T.tokenSet(col("text"))).as("tok"))
    val df = docTok.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    docTok.join(df, Seq("tok"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("tok"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** REAL GIF pixel decode end-to-end — the third full-decode
    * modality (after PNG x27 and WAV x28): per-row GIFs are
    * synthesized with genuinely LZW-compressed pixels derived from
    * doc_id, then fully decoded back (container walk + spec-complete
    * variable-width LZW, cross-validated both ways against the JDK's
    * ImageIO in GifDecodeSpec). The oracle recomputes the stats from
    * doc_id with SQL series — independent of both synthesizer and
    * decoder. */
  private def x34(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 47 + 4).cast("int").as("w"),
      (col("doc_id") % 29 + 3).cast("int").as("h"),
      (col("doc_id") % 253).cast("int").as("seed"))
    docs.select(col("doc_id"),
      GifDecode.gifStats(GifDecode.synthGifPixels(
        col("w"), col("h"), col("seed"))).as("st"))
      .select(col("doc_id"),
        col("st.width").as("width"),
        col("st.height").as("height"),
        col("st.n_samples").as("n_samples"),
        col("st.sum_val").as("sum_val"),
        col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy(col("doc_id"))
  }

  /** Heterogeneous multimodal column: ONE binary column carries PNG /
    * GIF / WAV payloads (modality by doc_id mod 3, content derived
    * from doc_id), decoded by the single magic-sniffing dispatcher
    * `Multimodal.decodeStats` — the realistic multimodal-corpus shape.
    * The oracle recomputes every branch's stats from doc_id alone. */
  private def x35(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        PixelDecode.synthPngPixels(
          (col("doc_id") % 97 + 4).cast("int"),
          (col("doc_id") % 53 + 3).cast("int"),
          (col("doc_id") % 251).cast("int")))
        .when(col("doc_id") % 3 === 1,
          GifDecode.synthGifPixels(
            (col("doc_id") % 47 + 4).cast("int"),
            (col("doc_id") % 29 + 3).cast("int"),
            (col("doc_id") % 253).cast("int")))
        .otherwise(
          PixelDecode.synthWavTone(lit(1), lit(8000),
            (col("doc_id") % 400 + 100).cast("int"),
            (col("doc_id") % 1777).cast("int")))
        .as("media_bytes"))
    docs.select(col("doc_id"),
      graft.ext.Multimodal.decodeStats(col("media_bytes")).as("st"))
      .select(col("doc_id"),
        col("st.media_type").as("media_type"),
        col("st.n_samples").as("n_samples"),
        col("st.sum_val").as("sum_val"),
        col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy(col("doc_id"))
  }

  /** JPEG decode via the JDK's bundled javax.imageio reader (present
    * in every JVM — no external codec). JPEG is lossy, so the oracle
    * pins the EXACT structural outputs (dims, sample count) while the
    * decoded value statistics are spec-tested with an error budget
    * (`ImageIoDecodeSpec`). */
  private def x36(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 61 + 8).cast("int").as("w"),
      (col("doc_id") % 37 + 8).cast("int").as("h"))
    docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
      ImageIoDecode.jpegStats(ImageIoDecode.synthJpeg(
        col("w"), col("h"), lit(85))).as("st"))
      .select(col("doc_id"),
        col("st.width").as("width"),
        col("st.height").as("height"),
        col("st.n_samples").as("n_samples"))
      .orderBy(col("doc_id"))
  }

  /** REAL MP4 frame extraction end-to-end: per-row MP4s are muxed with
    * genuine sample tables (stsd/stts/stsc/stsz/stco) and raw-luma
    * frame payloads derived from doc_id, then demuxed back by the
    * sample-table walk and frame-sampled at stride 2 — the video leg
    * of the decode surface (Mp4DemuxSpec pins mux↔demux both ways).
    * The oracle recomputes every stat from doc_id with two series
    * joins (frames × pixel columns), independent of both muxer and
    * demuxer. */
  private def x37(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 31 + 4).cast("int").as("w"),
      (col("doc_id") % 17 + 3).cast("int").as("h"),
      (col("doc_id") % 9 + 2).cast("int").as("nf"),
      (col("doc_id") % 241).cast("int").as("seed"))
    docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
      Mp4Demux.frameStats(Mp4Demux.synthMp4Frames(
        col("w"), col("h"), col("nf"), col("seed")), lit(2)).as("st"))
      .select(col("doc_id"),
        col("st.width").as("width"),
        col("st.height").as("height"),
        col("st.n_frames").as("n_frames"),
        col("st.n_sampled").as("n_sampled"),
        col("st.n_pixels").as("n_pixels"),
        col("st.sum_val").as("sum_val"),
        col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination screen: corpus docs (doc_id % 20 != 0)
    * sharing verbatim 8-grams with the "benchmark" slice
    * (doc_id % 20 == 0) — the decontamination report a training
    * pipeline runs before every training job. The benchmark gram set
    * broadcasts; grams travel as 64-bit hashes (collision expectation
    * documented in [[graft.ext.Contamination]]); the oracle joins the
    * literal gram strings. */
  private def x38(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Contamination.sharedGrams(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 8)
      .orderBy(col("doc_id"))
  }

  /** Exact per-language document-length quartiles via the distributed
    * discrete-quantile operator (`Scale.discreteQuantiles`): one
    * partial-aggregated shuffle over (lang, len), windows over the
    * per-group DISTINCT lengths only — never a per-group sort of raw
    * rows, never approx. Dyadic ps keep ceil(p×n) engine-exact; the
    * oracle is DuckDB's independent quantile_disc. */
  private def x39(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.discreteQuantiles(
      t(s, dir, "documents").select(col("lang"),
        T.wsTokenCount(col("text")).as("len")),
      "lang", "len", Seq(0.25, 0.5, 0.75))
      .orderBy(col("lang"), col("p"))

  /** Inverted-index build: per-token posting lists, top-3 documents by
    * term frequency (ties broken by doc_id) plus the token's document
    * frequency — the search/retrieval-side artifact of a training
    * corpus. Token-keyed shuffle; the rank ≤ 3 filter is a
    * WindowGroupLimit, so partial top-k runs map-side before the
    * exchange. */
  private def x40(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
    val wr = w.orderBy(col("tf").desc, col("doc_id"))
    tf.withColumn("df", count(lit(1)).over(w))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("tok"), col("rank"), col("doc_id"), col("tf"), col("df"))
      .orderBy(col("tok"), col("rank"))
  }

  /** The COMPLETE multimodal dispatch: ONE binary column mixing all
    * five real payload kinds (PNG / GIF / WAV / JPEG / raw-luma MP4 by
    * doc_id mod 5), decoded by the single magic-sniffing
    * `Multimodal.decodeStats`. The oracle pins the STRUCTURAL outputs
    * (media type, dims, sample counts) — exact for every modality,
    * including lossy JPEG — recomputed from doc_id alone. x35 keeps
    * the 3-way value-level check (sums); this query proves the full
    * five-decoder dispatch. */
  private def x41(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(d,
      when(d % 5 === 0, PixelDecode.synthPngPixels(
        (d % 97 + 4).cast("int"), (d % 53 + 3).cast("int"),
        (d % 251).cast("int")))
        .when(d % 5 === 1, GifDecode.synthGifPixels(
          (d % 47 + 4).cast("int"), (d % 29 + 3).cast("int"),
          (d % 253).cast("int")))
        .when(d % 5 === 2, PixelDecode.synthWavTone(lit(1), lit(8000),
          (d % 400 + 100).cast("int"), (d % 1777).cast("int")))
        .when(d % 5 === 3, ImageIoDecode.synthJpeg(
          (d % 61 + 8).cast("int"), (d % 37 + 8).cast("int"), lit(85)))
        .otherwise(Mp4Demux.synthMp4Frames(
          (d % 31 + 4).cast("int"), (d % 17 + 3).cast("int"),
          (d % 9 + 2).cast("int"), (d % 241).cast("int")))
        .as("media_bytes"))
    docs.select(d,
      graft.ext.Multimodal.decodeStats(col("media_bytes")).as("st"))
      .select(d,
        col("st.media_type").as("media_type"),
        col("st.width").as("width"),
        col("st.height").as("height"),
        col("st.n_samples").as("n_samples"))
      .orderBy(d)
  }

  /** Data-quality profile of the orders table: per-column row/null/
    * exact-distinct counts in one aggregation pass
    * (`Profile.table`) — the trust-but-verify report for a new data
    * drop. DuckDB recomputes each column's profile independently. */
  private def x42(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.table(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy(col("col_name"))

  /** Per-group cap sampling (`Sampling.kPerGroup`): at most 30 docs
    * per language, membership = the 30 smallest md5(doc_id) — the
    * deterministic "≤N per domain" primitive that rate-based sampling
    * can't provide. Same md5-hex discipline as x30 keeps the DuckDB
    * oracle byte-identical. */
  private def x43(s: SparkSession, dir: String): DataFrame =
    Sampling.kPerGroup(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), k = 30)
      .orderBy(col("doc_id"))

  /** Connected components over a DETERMINISTIC dup-pair graph (x13's
    * groups stage in isolation, oracle-checkable because the edges are
    * key-arithmetic rather than LSH output): consecutive-id chains
    * broken at irregular % 10 / % 7 points, labels = per-component min
    * id via `Dedup.components`. The DuckDB oracle re-derives the
    * labels GENERICALLY with a recursive transitive-closure CTE — no
    * arithmetic shortcut — so the propagation machinery itself is
    * under differential test. */
  private def x44(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val edges = ids
      .filter(col("doc_id") % 10 =!= 9 && col("doc_id") % 7 =!= 3)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    Dedup.components(edges).orderBy(col("doc_id"))
  }

  /** Retrieval-style chunking (`Chunking.tokenWindows`): each document
    * exploded into 40-token windows overlapping by 10 — the unit a RAG
    * indexer embeds. Pure scan-side explode, zero shuffle; the DuckDB
    * oracle re-derives the window starts and slices independently
    * (`generate_series` per row, `list_slice`). */
  private def x48(s: SparkSession, dir: String): DataFrame =
    graft.ext.Chunking.tokenWindows(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), chunkSize = 40, overlap = 10)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Fixed-width histogram (`Profile.histogram`): 12 equal buckets
    * over documents.n_chars. Bucket arithmetic is identical double ops
    * in identical order on both engines — no distributed float
    * reduction anywhere (min/max/count only), so no margins needed. */
  private def x55(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(
      t(s, dir, "documents").select(col("n_chars")), "n_chars", 12)
      .select(col("bucket"), col("cnt"),
        roundz(col("lo"), 4).as("lo_r"), roundz(col("hi"), 4).as("hi_r"))
      .orderBy(col("bucket"))

  /** Per-group z-score standardization (`Profile.standardize`):
    * documents.n_chars standardized within source. stddev merge order
    * differs across engines (~1e-13 absolute on these magnitudes);
    * min 4 dp boundary distance probed at 4.7e-8 (sf0.01) / 1.7e-8
    * (sf0.1) score units — 5 orders of headroom. */
  private def x56(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.standardize(
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars")), "n_chars", "source")
      .select(col("doc_id"), col("source"), roundz(col("z"), 4).as("z_r"))
      .orderBy(col("doc_id"))

  /** TF-IDF keyword extraction (`Keywords.tfidfTopK`): top-5 terms
    * per document; per-doc top-k runs as a map-side WindowGroupLimit.
    * Margins at 4 dp validated at both SFs: min nonzero rank-5/6 gap
    * >= 2.6e-4 score units, min rounding-boundary distance >= 3.8e-8,
    * vs ~1e-15 ln noise; exact score ties break on the ASCII term
    * string identically in both engines (binary collation). */
  private def x54(s: SparkSession, dir: String): DataFrame =
    graft.ext.Keywords.tfidfTopK(
      spread(t(s, dir, "documents")).select(col("doc_id"), col("text")),
      "doc_id", "text", 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), roundz(col("tfidf"), 4).as("tfidf_r"))
      .orderBy(col("doc_id"), col("rank"))

  /** Mixture-targeted sampling (`Sampling.mixtureSample`): resample
    * three weighted sources to a 50/30/20 recipe at the largest
    * feasible size (binding group kept whole), drop the rest. The
    * oracle re-derives the per-group rates from counts and replicates
    * `rateThreshold`'s exact arithmetic — Java `Math.round` is
    * `floor(x + 0.5)`, spelled that way in SQL (DuckDB `round` is
    * half-away-from-zero, which differs at exact halves). */
  private def x53(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.mixtureSample(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      col("doc_id"), col("source"),
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .orderBy(col("doc_id"))

  /** Embedding int8 quantization (`VectorFunctions.quantizeInt8` +
    * `l2Norm`): per-vector integer summaries (component sum, min, max,
    * saturation count) of the SQ8 quantized form, plus the L2 norm at
    * 4 dp. All arithmetic is per-row strict left folds in array order
    * — bit-deterministic, no distributed reduction — and the rounding
    * margins were probed: min distance of any scaled component to a
    * .5 boundary is 4.7e-5 (sf0.01) / 3.1e-6 (sf0.1), far above the
    * ~ulp-level difference between either engine's multiply order. */
  private def x52(s: SparkSession, dir: String): DataFrame = {
    val E = graft.functions.VectorFunctions
    t(s, dir, "embeddings").select(col("vec_id"),
        E.quantizeInt8(col("embedding")).getField("q").as("__q"),
        roundz(E.l2Norm(col("embedding")), 4).as("nrm_r"))
      .select(col("vec_id"),
        aggregate(col("__q"), lit(0L), (a, x) => a + x).as("qsum"),
        array_min(col("__q")).cast("long").as("qmin"),
        array_max(col("__q")).cast("long").as("qmax"),
        size(filter(col("__q"), q => abs(q) === 127)).cast("long")
          .as("n_sat"),
        col("nrm_r"))
      .orderBy(col("vec_id"))
  }

  /** Incremental cross-corpus dedup (`Dedup.incrementalExact`): a
    * synthetic crawl refresh — odd-id docs plus re-crawled copies of
    * even-id docs (+1e6 ids) plus in-batch duplicate copies (+2e6 ids)
    * — deduplicated against the even-id corpus. Bloom sketch on the
    * batch filters the corpus scan; exact anti-join keeps it exact. */
  private def x51(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(docs.filter(col("doc_id") % 20 === 1)
        .withColumn("doc_id", col("doc_id") + 2000000L))
    graft.ext.Dedup.incrementalExact(existing, incoming, "doc_id", "text",
        expectedItems = 100000L)
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM quality scoring (`LangModel.bigramNll`): every document
    * scored by avg negative log-likelihood under an add-0.5-smoothed
    * bigram model trained on the corpus itself — the perplexity-filter
    * signal. Model = two vocabulary-sized count tables joined back by
    * AQE choice; vocab size broadcasts as one row. Margins at 4 dp:
    * >= 5.7e-8 (sf0.01) / 1.2e-9 (sf0.1) score units vs ~2e-12
    * worst-case double-sum reordering noise. */
  private def x50(s: SparkSession, dir: String): DataFrame =
    graft.ext.LangModel.bigramNll(
      spread(t(s, dir, "documents")).select(col("doc_id"), col("text")),
      "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"),
        roundz(col("avg_nll"), 4).as("nll_r"))
      .orderBy(col("doc_id"))

  /** BM25 lexical retrieval (`Retrieval.bm25TopK`): top-50 documents
    * for a three-term query. Per-term tf is scan-side array math (no
    * explode), corpus stats reduce to ONE row broadcast back, top-k is
    * a TakeOrderedAndProject heap — zero wide shuffles. Scores round
    * to 4 dp for the hash compare; margins validated at sf0.01/sf0.1:
    * rank-50 gap >= 3e-4 and nearest rounding boundary >= 1e-7, vs
    * ~1e-15 cross-engine ln noise. */
  private def x49(s: SparkSession, dir: String): DataFrame =
    graft.ext.Retrieval.bm25TopK(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", Seq("spark", "vector", "merge"), 50)
      .select(col("doc_id"), col("n_matched"),
        roundz(col("score"), 4).as("score_r"))
      .orderBy(col("doc_id"))

  /** Deterministic epoch shuffle (`Shuffling.epochShuffle`): shard +
    * intra-shard position, both pure functions of md5(epoch || key) —
    * a reproducible per-epoch permutation with NO global sort (the one
    * exchange is the shard partitioning; shard windows sort in
    * parallel). The oracle replicates the hex arithmetic through
    * DuckDB's independent md5/CAST. */
  private def x45(s: SparkSession, dir: String): DataFrame =
    graft.ext.Shuffling.epochShuffle(
      t(s, dir, "documents").select(col("doc_id")),
      col("doc_id"), nShards = 8, epoch = "epoch-1")
      .orderBy(col("doc_id"))

  /** Leakage-free train/val/test split (`Sampling.groupSplit`): the
    * split is a function of the GROUP key (source), so every doc of a
    * source lands in one split — near-dups within a source can never
    * straddle train and eval. Scan-side CASE, no shuffle. */
  private def x46(s: SparkSession, dir: String): DataFrame =
    Sampling.groupSplit(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      col("source"), Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .orderBy(col("doc_id"))

  /** BPE tokenizer training (`BpeTrainer.train`): the merge table
    * learned from the corpus — distributed word counting (the only
    * corpus-sized stage), then the deterministic merge loop on the
    * bounded dictionary. Iterative by nature, so no SQL oracle
    * (rows-only); the trainer's statistics are pinned by golden specs
    * (`BpeTrainerSpec`). Segmentation with the learned table is the
    * codegen'd `BpeTrainer.segment` expression. */
  /** BPE vocab induction (`BpeTrainer.train`) gated through its exact
    * guarantees (round 11, ex rows-only): the 40-round merge loop is
    * deterministic but not one-shot-SQL-expressible — except its
    * FIRST round, which is plain relational algebra (argmax over
    * initial adjacent-char pair counts on the bounded dictionary,
    * count-desc/lexicographic tie-break). So the gate anchors on:
    *  - oracle-recomputed: word-type count, total word count, and the
    *    full first merge (left, right, pair count) recomputed by
    *    DuckDB from scratch;
    *  - engine booleans, oracle-pinned TRUE: segmentation
    *    losslessness over the WHOLE corpus (the codegen'd
    *    `BpeSegmentExpr` reproduces each document's non-space
    *    characters exactly — a trained table that corrupted a word
    *    would fail here), and probe-rank count verification: at ranks
    *    1, 20, 40 the recorded pair is re-derived through the
    *    SEGMENTER path (segment every dict word with the first r-1
    *    merges, recount weighted adjacent pairs, assert the recorded
    *    pair is the argmax with the recorded count) — training loop
    *    and encoder are independent implementations, so this
    *    cross-checks them against each other.
    * The merge table itself stays available via `BpeTrainer.train`
    * (BpeTrainerSpec goldens); this row gates the SAME training. */
  private def x47(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.BpeTrainer
    val docs = spread(t(s, dir, "documents"))
    // ONE distributed word-count pass feeds training dict, probe
    // verification, and the anchors (train() would recompute it)
    // eager checkpoint, not persist: vocab-sized frame, reused by the
    // dict collect and the anchors without leaking session cache
    val wc = BpeTrainer.wordCounts(docs, "text").localCheckpoint(true)
    val dict = wc.orderBy(col("freq").desc, col("word")).limit(50000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val merges = BpeTrainer.trainFromCounts(dict.toSeq, nMerges = 40)
    def pairCountsAt(prefix: Seq[BpeTrainer.Merge]): Map[(String, String), Long] = {
      val ranks = prefix.map(m => (m.left, m.right)).zipWithIndex.toMap
      val m = scala.collection.mutable.Map[(String, String), Long]()
      dict.foreach { case (wd, f) =>
        val syms = BpeTrainer.segmentWord(wd, ranks)
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          m(p) = m.getOrElse(p, 0L) + f
          i += 1
        }
      }
      m.toMap
    }
    val probeOk = Seq(1, merges.length / 2, merges.length)
      .filter(r => r >= 1 && r <= merges.length).distinct.forall { r =>
        val mg = merges(r - 1)
        val counts = pairCountsAt(merges.take(r - 1))
        counts.nonEmpty && {
          val best = counts.minBy { case ((l, rr), c) => (-c, l, rr) }
          best._1 == ((mg.left, mg.right)) && best._2 == mg.pairCount
        }
      }
    val loss = docs.select(when(
        concat_ws("", BpeTrainer.segment(col("text"), merges)) ===
          regexp_replace(lower(col("text")), "\\s+", ""), 0L)
        .otherwise(1L).as("v"))
      .agg(coalesce(sum(col("v")), lit(0L)).as("n_loss_viol"))
    val anch = wc
      .agg(count(lit(1)).as("n_word_types"),
        coalesce(sum(col("freq")), lit(0L)).as("n_words_total"))
    val first = merges.head
    anch.crossJoin(loss).select(
      col("n_word_types"), col("n_words_total"),
      lit(first.left).as("first_left"), lit(first.right).as("first_right"),
      lit(first.pairCount).as("first_count"),
      lit(merges.length.toLong).as("n_merges"),
      (col("n_loss_viol") === 0).as("segmentation_lossless"),
      lit(probeOk).as("probe_counts_verified"))
  }

  /** PageRank (`Graph.pageRank`) over the customer→supplier→nation
    * trade graph: who-buys-from-whom edges from orders⋈lineitem plus
    * supplier→nation affiliation edges; nations are dangling (no
    * out-edges), so the mass-redistribution path genuinely fires.
    * Fixed 3 iterations, fully deterministic; the oracle unrolls the
    * identical recurrence as three CTE steps. Ranks emitted rounded to
    * 9dp on both sides (group-sum reduction order is the only
    * cross-engine difference, ~1e-15 — margin probed). */
  /** Long-typed node encoding for the trade graph (round-18, opt
    * guide §2.3 "narrower types"): node = (key << 2) | tag with tag
    * c=0, s=1, n=2 — injective, so the graph computed is ISOMORPHIC
    * to the old string-labeled one (same nodes, edges, degrees,
    * ranks), while every superstep shuffle and the persisted
    * adjacency carry an 8-byte long instead of a 16+-byte string.
    * [[graphNodeLabel]] decodes back to the EXACT declared string
    * label ("c123"/"s42"/"n7") in the final projection only.
    * `key << 2` overflows for keys at or above 2^61 (the encoding is
    * injective only below that); TPC-H keys sit far below it. */
  private def graphNodeId(tag: Int, key: Column): Column =
    shiftleft(key.cast("long"), 2).bitwiseOR(lit(tag.toLong))

  private def graphNodeLabel(node: Column): Column =
    concat(
      when(node.bitwiseAND(lit(3L)) === 0L, lit("c"))
        .when(node.bitwiseAND(lit(3L)) === 1L, lit("s"))
        .otherwise(lit("n")),
      shiftright(node, 2).cast("string"))

  private def x94(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    // spread: the edge build probes 600k lineitem rows against the
    // broadcast orders side — single-task without it (guide §2.5)
    val li = spread(t(s, dir, "lineitem"), "l_orderkey")
    val supplier = t(s, dir, "supplier")
    val trade = orders
      .join(li, orders("o_orderkey") === li("l_orderkey"))
      .select(graphNodeId(0, col("o_custkey")).as("src"),
        graphNodeId(1, col("l_suppkey")).as("dst"))
    val affil = supplier.select(
      graphNodeId(1, col("s_suppkey")).as("src"),
      graphNodeId(2, col("s_nationkey")).as("dst"))
    graft.operators.Graph.pageRank(trade.union(affil), "src", "dst",
        iterations = 3)
      .select(graphNodeLabel(col("node")).as("node"),
        roundz(col("rank"), 9).as("rank_r"))
      .orderBy(col("node"))
  }

  /** Hybrid retrieval (`Retrieval.rrfFuse`): three queries, each with a
    * lexical BM25 top-20 (its own term bag) and a dense cosine top-20
    * (its embedding, doc_id ≡ vec_id by synthesis), fused by
    * reciprocal-rank fusion (rrfK=60) into a top-10 per query. Each
    * RRF contribution is one exact small-integer division and the
    * two-system sum is a single commutative add, so scores are
    * bit-identical cross-engine; the component rankings' margins are
    * probed (adjacent BM25 score gaps ≫ ln's ulp noise; cosine ranks
    * validated by x6). */
  private def x95(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val emb = t(s, dir, "embeddings")
    val termSets = Seq(
      0L -> Seq("spark", "vector", "merge"),
      1L -> Seq("join", "filter", "scan"),
      2L -> Seq("batch", "window", "stream"))
    // round-18: ONE corpus tokenize for all three term sets
    // (`bm25TopKMulti` — the three separate bm25 branches each re-ran
    // the full tokenize + tf scan; RetrievalSpec pins bit-equality
    // with the per-set form). Rank stays the window-free trick: the
    // ≤20-row top-k per query collapses to one array row grouped by
    // query_id, array_sort orders it (score desc via negation, doc_id
    // asc — struct sort is lexicographic by field position) and
    // posexplode's ordinal is the rank.
    val lex = graft.ext.Retrieval.bm25TopKMulti(docs, "doc_id", "text",
        termSets, 20)
      .groupBy(col("query_id"))
      .agg(collect_list(struct((-col("score")).as("__negs"),
        col("doc_id").as("doc_id"))).as("__arr"))
      .select(col("query_id"), posexplode(array_sort(col("__arr")))
        .as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.doc_id").as("doc_id"),
        (col("__pos") + 1).cast("long").as("rank"))
    val sem = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.ext.Retrieval.rrfFuse(Seq(lex, sem), "query_id", "doc_id", "rank",
        rrfK = 60, topK = 10)
      .select(col("query_id"), col("doc_id"), col("rank"),
        roundz(col("rrf_score"), 9).as("score_r"), col("n_systems"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DSIR importance reweighting (`ImportanceSampling.dsirLogWeights`):
    * hashed unigram+bigram log-ratio weights against the src0 slice as
    * the target distribution, rounded to 6dp, with a keep rule at the
    * exact discrete median of the ROUNDED weights (both engines
    * threshold on identical values — the x73 quantile_disc pairing).
    * Margins probed: per-doc sums differ cross-engine by ln-ulp ×
    * reduction order (~1e-14) vs the 5e-7 rounding grid. */
  private def x96(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // w feeds TWO consumers (the global-median branch and the final
    // keep projection); the dsir election join+groupBy above the
    // operator's internal checkpoint would re-execute per consumer —
    // cut the 1-row-per-doc result once, eagerly (round-17, §1.2)
    val w = graft.ext.ImportanceSampling.dsirLogWeights(docs, "doc_id",
        "text", col("source") === "src0", buckets = 1024)
      .withColumn("logw_r", roundz(col("logw"), 6))
      .localCheckpoint(true)
    // GLOBAL median: the constant-group discreteQuantiles call is the
    // folded-partition-key trap (see Scale.discreteQuantilesGlobal)
    val med = graft.operators.Scale.discreteQuantilesGlobal(
        w, "logw_r", Seq(0.5))
      .select(col("q").as("__med"))
    w.crossJoin(broadcast(med))
      .select(col("doc_id"), col("n_feats"), col("logw_r"),
        (col("logw_r") >= col("__med")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Maximal duplicated-substring extents (`Dedup.duplicateExtents`,
    * ExactSubstr geometry): the corpus plus a re-keyed 60%-prefix copy
    * of every even doc (unique tail tokens), so each even doc and its
    * copy carry a genuine shared run; extents are the merged stride-1
    * duplicated 8-token windows. Prefix length is exact integer
    * arithmetic (n*3 DIV 5) mirrored by the oracle; the operator
    * fingerprints windows (xxhash64) while the oracle groups the
    * literal window text — identical results absent a 64-bit
    * collision, the x26 discipline. */
  private def x97(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val withToks = base.filter(col("doc_id") % 2 === 0)
      .withColumn("__toks", array_remove(split(col("text"), "\\s+"), ""))
      .withColumn("__keep", expr("size(__toks) * 3 DIV 5").cast("int"))
      .filter(col("__keep") >= 1)
    val copies = withToks.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ",
        array_join(slice(col("__toks"), lit(1), col("__keep")), " "),
        concat(lit("zz"), col("doc_id").cast("string")),
        concat(lit("ww"), col("doc_id").cast("string"))).as("text"))
    Dedup.duplicateExtents(base.unionByName(copies), "doc_id", "text",
        spanTokens = 8)
      .orderBy(col("doc_id"), col("start_tok"))
  }

  /** Temperature-scaled mixture recipe (`Sampling.temperatureWeights`):
    * per-source token mass to `T^0.7` sampling rates — the
    * multilingual rebalancing rule, emitted as the recipe frame x53's
    * mixtureSample consumes. Mass is an exact integer sum; weight and
    * rate are rounded (6/9 dp) with grid margins probed against libm
    * pow's last-ulp cross-engine disagreement. */
  private def x98(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureWeights(
      t(s, dir, "documents"), col("source"),
      T.wsTokenCount(col("text")), alpha = 0.7)
      .select(col("group").as("source"), col("n_rows").as("n_docs"),
        col("mass").as("n_tokens"), roundz(col("weight"), 6).as("weight_r"),
        roundz(col("rate"), 9).as("rate_r"))
      .orderBy(col("source"))

  /** Mutual-best entity matching (`FuzzyJoin.mutualBestMatch`): noisy
    * probes (each doc's first token, last char replaced by 'q') linked
    * one-to-one against the corpus vocabulary — many probes contest
    * the same word, and only the pair BOTH sides rank first survives
    * (ties by value then id, replayed exactly by the oracle). Blocking
    * (2-char prefix + length band) is part of the contract and is
    * mirrored in the oracle's candidate join. */
  private def x99(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents"))
    val firstTok = element_at(T.tokens(col("text")), 1)
    val lefts = docs.filter(col("doc_id") < 200)
      .select(col("doc_id"), firstTok.as("__w"))
      .filter(length(col("__w")) >= 2)
      .select(col("doc_id"),
        concat(expr("substring(__w, 1, length(__w) - 1)"), lit("q"))
          .as("noisy"))
    val vocab = docs.select(explode(T.tokens(col("text"))).as("word"))
      .distinct()
    graft.ext.FuzzyJoin.mutualBestMatch(lefts, "doc_id", "noisy",
        vocab, "word", "word", maxDist = 2)
      .select(col("left_id").as("doc_id"), col("left_val").as("noisy"),
        col("right_val").as("matched"), col("dist").cast("long").as("dist"))
      .orderBy(col("doc_id"))
  }

  /** Incremental statistics maintenance (`Profile.momentPartials` /
    * `momentsCombine` / `momentsFinalize`): per-source moment partials
    * (n, nulls, Σx, Σx², min, max — exact BIGINT sums) plus the
    * COMBINED corpus row folded from the partials without rescanning;
    * the oracle computes both directly, proving merge ≡ direct. Mean/
    * variance are single IEEE expressions over exact integers —
    * bit-equal cross-engine, no rounding discipline needed. */
  private def x100(s: SparkSession, dir: String): DataFrame = {
    val partials = graft.operators.Profile.momentPartials(
      t(s, dir, "documents"), col("source"), col("n_chars"))
    graft.operators.Profile.momentsFinalize(partials)
      .unionByName(graft.operators.Profile.momentsFinalize(
        graft.operators.Profile.momentsCombine(partials)))
      .orderBy(col("slice"))
  }

  /** EXIF metadata extraction (`ExifProbe`): per-row JPEGs synthesized
    * with a REAL APP1/TIFF IFD (orientation/make/datetime derived from
    * doc_id), parsed back by the segment-walk + IFD decoder — the x12
    * discipline: the oracle computes expected fields from doc_id
    * arithmetic alone, independent of both synthesizer and parser, so
    * a broken offset/endianness/NUL rule hash-fails. */
  private def x101(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      graft.ext.ExifProbe.exifMeta(graft.ext.ExifProbe.synthExifJpeg(
        (col("doc_id") % 8 + 1).cast("int"),
        (col("doc_id") % 5).cast("int"),
        (col("doc_id") % 60).cast("int"),
        (col("doc_id") * 7 % 60).cast("int"))).as("m"))
      .select(col("doc_id"),
        col("m.orientation").cast("long").as("orientation"),
        col("m.make").as("make"), col("m.datetime").as("datetime"))
      .orderBy(col("doc_id"))

  /** Personalized PageRank (`Graph.personalizedPageRank`): teleport to
    * the first-50-customers seed set over the same trade graph as x94
    * — graph-proximity scoring ("how close to these seeds via links"),
    * non-degenerate because mass flows customer→supplier→nation while
    * teleport returns it to the seeds. Same unrolled-CTE oracle
    * discipline and 9dp rounding as x94. */
  private def x102(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val li = spread(t(s, dir, "lineitem"), "l_orderkey") // the x94 spread
    val supplier = t(s, dir, "supplier")
    // long-typed node ids, decoded to the declared string labels in
    // the final projection only — see [[graphNodeId]]
    val trade = orders
      .join(li, orders("o_orderkey") === li("l_orderkey"))
      .select(graphNodeId(0, col("o_custkey")).as("src"),
        graphNodeId(1, col("l_suppkey")).as("dst"))
    val affil = supplier.select(
      graphNodeId(1, col("s_suppkey")).as("src"),
      graphNodeId(2, col("s_nationkey")).as("dst"))
    val seeds = t(s, dir, "customer").filter(col("c_custkey") < 50)
      .select(graphNodeId(0, col("c_custkey")).as("seed"))
    graft.operators.Graph.personalizedPageRank(trade.union(affil),
        "src", "dst", seeds, "seed", iterations = 3)
      .select(graphNodeLabel(col("node")).as("node"),
        roundz(col("rank"), 9).as("rank_r"))
      .orderBy(col("node"))
  }

  /** Mergeable binned-quantile partials (`Profile.binnedQuantilePartials`
    * / `binnedQuantileCombine` / `binnedQuantileFinalize`): per-source
    * bin counts over the DECLARED [0, 1024]×64 domain plus the corpus
    * row folded from the partials without rescanning, both finalized
    * to interpolated p50/p90/p99. The oracle replays binning,
    * cumulation, and interpolation directly — merge ≡ direct, and the
    * bin arithmetic (double floor/clamp, `ceil(p·n)` discrete rank,
    * within-bin linear interpolation) is pinned cross-engine. */
  private def x103(s: SparkSession, dir: String): DataFrame = {
    val P = graft.operators.Profile
    val partials = P.binnedQuantilePartials(t(s, dir, "documents"),
      col("source"), col("n_chars"), lo = 0.0, hi = 1024.0, nBins = 64)
    P.binnedQuantileFinalize(
        partials.unionByName(P.binnedQuantileCombine(partials)),
        lo = 0.0, hi = 1024.0, nBins = 64, ps = Seq(0.5, 0.9, 0.99))
      .select(col("slice"), col("p"),
        roundz(col("q_est"), 9).as("q_est_r"), col("n"))
      .orderBy(col("slice"), col("p"))
  }

  /** Padding-waste report for bucketed batching (`Packing.paddingWaste`):
    * each doc lands in the smallest boundary ≥ its whitespace-token
    * count (over-long docs truncate to the last boundary — counted),
    * and the report prices each bucket's padding overhead — the
    * numbers that pick a bucketing config before a training run. The
    * last boundary (80) sits BELOW the corpus max length so the
    * truncation path is exercised, not just declared. */
  private def x104(s: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.paddingWaste(t(s, dir, "documents"),
      T.wsTokenCount(col("text")), Seq(16L, 32L, 48L, 64L, 80L))
      .select(col("boundary"), col("n_docs"), col("sum_tokens"),
        col("padded_tokens"), col("truncated_tokens"),
        roundz(col("waste_frac"), 9).as("waste_frac_r"))
      .orderBy(col("boundary"))

  /** Salted skew-join equivalence (`Scale.saltedJoinDeterministic`):
    * 70% of lineitem rows are forced onto ONE join key (the hot-key
    * pattern that stalls a plain shuffle join at scale), the engine
    * joins through the deterministic salt (hot key spread across
    * `salts` sub-partitions, dim side replicated), and the oracle runs
    * the PLAIN join — hash equality proves salting changes the
    * execution shape and nothing else. */
  private def x105(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      when(col("l_orderkey") % 10 < 7, lit(1L))
        .otherwise(col("l_suppkey")).as("k"),
      col("l_orderkey"), col("l_quantity").cast("long").as("q"))
    val sup = t(s, dir, "supplier").select(col("s_suppkey").as("k"),
      col("s_nationkey"))
    graft.operators.Scale.saltedJoinDeterministic(li, sup, "k",
        saltFrom = "l_orderkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qty"))
      .orderBy(col("s_nationkey"))
  }

  /** Wilson-bound domain ranking (`Profile.wilsonPassRates`): pass
    * rates per source with the Wilson-score lower bound, so a 3/3
    * fluke can't outrank 900/1000 evidence when allocating curation
    * budget. The bound is one IEEE expression over exact integer
    * counts; the oracle replays it with the same association order
    * (and computes z² as 1.96·1.96 in DOUBLE — a 3.8416 literal is a
    * DIFFERENT double). */
  private def x106(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.wilsonPassRates(t(s, dir, "documents"),
      col("source"),
      col("n_chars") >= 150 && T.wsTokenCount(col("text")) >= 30)
      .select(col("group").as("source"), col("n"), col("k"),
        roundz(col("rate"), 9).as("rate_r"),
        roundz(col("wilson_lb"), 9).as("wilson_lb_r"))
      .orderBy(col("source"))

  /** Per-source token-budget selection (`Sampling.tokenBudgetTake`):
    * docs taken in doc_id order per source until 300 cumulative
    * tokens — the allocation step that turns mixture rates into an
    * actual subset. Crossing doc kept (bounded overshoot); oracle
    * replays the running-frame cumsum and the strict
    * `cum − n < budget` keep rule. */
  private def x107(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.tokenBudgetTake(
      // explicit-count repartition BEFORE tokenization (the media
      // gates' convention): the sf0.1 documents parquet is 1–2 splits,
      // so the regex token count would otherwise run on 1–2 tasks and
      // tokenBudgetTake's low-cardinality source window can't widen it
      // back — the round-12 bench false-alarm amplifier
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("source"),
          T.wsTokenCount(col("text")).cast("long").as("n_tokens")),
      col("source"), col("doc_id"), col("n_tokens"), budget = 300L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"))
      .orderBy(col("doc_id"))

  /** Join-cardinality profile (`Scale.joinProfile`): the pre-flight
    * report for x105's skewed join — per-side rows/keys, max
    * multiplicities, EXACT output cardinality and worst single-key
    * output, all from the two key-count frames without running the
    * join. The oracle recomputes every statistic from the same
    * full-outer counts join. */
  private def x108(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      when(col("l_orderkey") % 10 < 7, lit(1L))
        .otherwise(col("l_suppkey")).as("k"))
    val sup = t(s, dir, "supplier").select(col("s_suppkey").as("k"))
    graft.operators.Scale.joinProfile(li, col("k"), sup, col("k"))
  }

  /** k-anonymity risk profile (`Privacy.kAnonymityProfile`): documents
    * quasi-identified by (lang, source, 64-char length band), swept at
    * k ∈ {2, 5, 25} — classes below k and the row fraction at
    * re-identification risk, the governance report DP releases (x79)
    * assume has already been read. All-integer until the one final
    * division. */
  private def x109(s: SparkSession, dir: String): DataFrame =
    graft.ext.Privacy.kAnonymityProfile(t(s, dir, "documents"),
      Seq(col("lang"), col("source"), expr("n_chars div 64")),
      Seq(2, 5, 25))
      .select(col("k"), col("n_classes"), col("classes_below"),
        col("rows_at_risk"), col("n_rows"),
        roundz(col("risk_frac"), 9).as("risk_frac_r"))
      .orderBy(col("k"))

  /** Per-doc n-gram novelty curve (`Dedup.noveltyProfile`): the
    * fraction of each document's 8-token windows first seen in THIS
    * document (arrival order = doc_id) — the marginal-contribution
    * metric behind data ordering and dedup-budget decisions. The
    * oracle replays gram identity on the gram TEXT while the engine
    * shuffles 64-bit hashes — the hash equality also certifies the
    * hash-key discipline loses nothing. */
  private def x110(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.noveltyProfile(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", n = 8)
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        roundz(col("novelty_frac"), 9).as("novelty_r"))
      .orderBy(col("doc_id"))

  /** Winsorized per-language length stats (`Profile.winsorize`):
    * n_chars clipped to the exact discrete [p12.5, p87.5] bounds per
    * lang, with clip counts and the clipped (exact BIGINT) sum — the
    * robust mean a few giant documents can't own. Dyadic ps keep the
    * `ceil(p·n)` rank engine-exact (the x39 discipline). */
  private def x111(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.winsorize(
      t(s, dir, "documents").select(col("lang"), col("n_chars")),
      "lang", "n_chars", pLo = 0.125, pHi = 0.875)
      .select(col("lang"), col("n"), col("n_lo"), col("n_hi"),
        col("lo"), col("hi"), col("winsorized_sum"),
        roundz(col("winsorized_mean"), 9).as("winsorized_mean_r"))
      .orderBy(col("lang"))

  /** Reliability diagram (`Calibrate.reliability`): the within-lang
    * length percent rank (x68's calibrated score) read as a "long
    * document" classifier confidence, binned into deciles against the
    * n_chars >= 150 label — per-bin accuracy and calibration gap, the
    * check run before trusting a scorer's thresholds. Oracle replays
    * DuckDB's native percent_rank (independent derivation, the x68
    * precedent) plus the same clamp/bin/division arithmetic. */
  private def x112(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.operators.Calibrate.percentRank(
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      col("lang"), col("n_chars"), outCol = "pct")
    graft.operators.Calibrate.reliability(scored, col("pct"),
        col("n_chars") >= 150, nBins = 10)
      .select(col("bin"), col("n"), col("n_pos"),
        roundz(col("conf_mid"), 9).as("conf_mid_r"),
        roundz(col("acc"), 9).as("acc_r"),
        roundz(col("gap"), 9).as("gap_r"))
      .orderBy(col("bin"))
  }

  /** Heaps-law vocabulary growth (`Encoding.vocabGrowth`): cumulative
    * tokens and distinct types at doc-id checkpoints from ONE pass
    * (types counted via their first-occurrence doc — x110's
    * attribution trick, no per-checkpoint distinct). The oracle
    * counts types on the token TEXT while the engine shuffles 64-bit
    * hashes — the hash equality certifies the hash-key discipline
    * again. */
  private def x113(s: SparkSession, dir: String): DataFrame =
    graft.ext.Encoding.vocabGrowth(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", checkpoints = Seq(25L, 50L, 100L, 250L, 500L))
      .select(col("k"), col("n_tokens"), col("vocab_size"),
        roundz(col("ttr"), 9).as("ttr_r"))
      .orderBy(col("k"))

  /** Concurrent-session analysis (`RangeJoin.intervalOverlap`): x17's
    * sessions (users < 300) self-joined on interval overlap across
    * DISTINCT users, rolled up per first user — pair count and total
    * overlapped milliseconds. The binned join's exactly-once
    * attribution (pair → the bin holding the overlap start) is what
    * the exact pair counts certify; the oracle runs the PLAIN
    * inequality join (DuckDB IEJoin — an independent algorithm). */
  private def x114(s: SparkSession, dir: String): DataFrame = {
    val sess = x17(s, dir)
      .filter(col("user_id") < 300)
      .select(col("user_id"), col("session_id"), col("start_ms"),
        col("end_ms"))
    def side(suf: String) = sess.select(
      col("user_id").as("u" + suf), col("session_id").as("s" + suf),
      col("start_ms").as("lo" + suf), col("end_ms").as("hi" + suf))
    graft.operators.RangeJoin.intervalOverlap(side("_a"), side("_b"),
        "lo_a", "hi_a", "lo_b", "hi_b", binWidth = 21600000L)
      .filter(col("u_a") < col("u_b"))
      .groupBy(col("u_a"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("hi_a"), col("hi_b")) -
          greatest(col("lo_a"), col("lo_b"))).as("overlap_ms"))
      .orderBy(col("u_a"))
  }

  /** Decode → RESIZE → stats (`PixelDecode.pngResizeNearestStats`):
    * the thumbnail/feature-extract step after decode — x27's real
    * per-row PNGs fully decoded, nearest-neighbor resampled to 8×6,
    * stats over the RESIZED samples. The oracle replays the resample
    * arithmetically (src col = x'·w/8 integer floor on the known
    * pixel formula), so a wrong mapping or dropped row hash-fails. */
  private def x115(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 97 + 4).cast("int").as("w"),
      (col("doc_id") % 53 + 3).cast("int").as("h"),
      (col("doc_id") % 251).cast("int").as("seed"))
    docs.select(col("doc_id"),
        PixelDecode.pngResizeStats(PixelDecode.synthPngPixels(
          col("w"), col("h"), col("seed")), tw = 8, th = 6).as("st"))
      .select(col("doc_id"),
        col("st.width").as("width"),
        col("st.height").as("height"),
        col("st.n_samples").as("n_samples"),
        col("st.sum_val").as("sum_val"),
        col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy(col("doc_id"))
  }

  /** Decode → DECIMATE → stats (`PixelDecode.wavDecimateStats`): the
    * audio transform sibling of x115 — x28's real PCM-16 WAVs decoded
    * and stride-3 decimated, stats over the KEPT samples only. The
    * oracle replays the decimation arithmetically on the known tone
    * formula (i = 0, 3, 6, ...), so a wrong step or phase
    * hash-fails. */
  private def x116(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 400 + 100).cast("int").as("n"),
      (col("doc_id") % 1777).cast("int").as("seed"))
    docs.select(col("doc_id"),
        PixelDecode.wavDecimate(PixelDecode.synthWavTone(
          lit(1), lit(8000), col("n"), col("seed")), stride = 3).as("st"))
      .select(col("doc_id"),
        col("st.n_samples").as("n_samples"),
        col("st.sum_val").as("sum_val"),
        col("st.sum_sq").as("sum_sq"),
        col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy(col("doc_id"))
  }

  /** Per-node triangles + clustering coefficient
    * (`Graph.nodeTriangles`): a deterministic chain graph over doc
    * ids (+1/+2/+3 edges under modular gates — the x86 synthetic-edge
    * style, dense in closed triples) counted by the engine's
    * degree-ordered wedge enumeration while the oracle closes wedges
    * with plain id-ordered joins — two different algorithms, one
    * hash. */
  private def x117(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    def rule(offset: Int, keep: Column) = ids.filter(keep)
      .select(col("doc_id").as("a"),
        (col("doc_id") + offset.toLong).as("b"))
      .join(ids.select(col("doc_id").as("b")), Seq("b"), "left_semi")
    val edges = rule(1, col("doc_id") % 3 =!= 2)
      .unionByName(rule(2, col("doc_id") % 5 < 4))
      .unionByName(rule(3, col("doc_id") % 7 === 0))
    graft.operators.Graph.nodeTriangles(edges, "a", "b")
      .select(col("node"), col("degree"), col("n_tri"),
        roundz(col("cc"), 9).as("cc_r"))
      .orderBy(col("node"))
  }

  /** Nearest as-of join (`AsOfJoin.nearest` — merge_asof
    * direction='nearest'): each error event matched to the CLOSEST
    * purchase by the same user within ±1 h, backward preferred on
    * distance ties. The engine composes two running-frame carries;
    * the oracle ranks ALL in-tolerance candidates with a window — the
    * equivalence (nearest-per-side dominates its side) is what the
    * hash certifies. */
  private def x118(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_ms", expr("ts div 1000000"))
    val l = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts_ms"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("rid"),
        col("ts_ms").as("rts"))
    graft.operators.AsOfJoin.nearest(l, r, Seq("user_id"),
        col("ts_ms"), col("rts"), Seq(col("rid") -> "match_id"),
        rightTieBreak = Seq(col("rid")),
        tolerance = Some(lit(3600000L)))
      .orderBy(col("event_id"))
  }

  /** SQL-surface end-to-end (`GraftExtensions` → `spark.sql`): the
    * consecutive-vector cosine drift series written as PURE SQL over
    * a temp view with the registered `graft_cosine` expression — the
    * notebook/BI path a library user actually types, now inside the
    * differential gate. Same float-cosine discipline as x5/x6 (both
    * engines accumulate in double over the same element order) —
    * but THIS series' margins were probed for THIS pairing: at 4 dp
    * the tightest pair sits 4.4e-9 from a rounding half-boundary
    * (sf0.1 — a latent gate-flipper), at 3 dp the minimum margin is
    * 1.2e-7 across all three SFs, above the ~1e-12 cross-engine
    * drift by five orders. Hence 3 dp — EXCEPT at zero itself, which
    * is a boundary whose rounded SIGN flips on that same 1e-12 drift
    * (the round-8 red row: vec_id=137 rounded to +0.0 here and −0.0
    * in DuckDB — equal values, different IEEE bits, driver hash
    * fail). `+ 0.0` normalizes signed zero on BOTH sides (IEEE:
    * `-0.0 + 0.0 = +0.0`; identity for every other value). */
  private def x119(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    t(s, dir, "embeddings").createOrReplaceTempView("graft_sql_emb")
    s.sql("""SELECT a.vec_id AS vec_id,
            |  round(graft_cosine(a.embedding, b.embedding), 3) + 0.0
            |    AS cos_next
            |FROM graft_sql_emb a
            |JOIN graft_sql_emb b ON b.vec_id = a.vec_id + 1
            |ORDER BY vec_id""".stripMargin)
  }

  /** Sentence segmentation stats: per-doc sentence count, mean and max
    * words-per-sentence — the readability-class signal quality
    * filters read (long run-on sentences and fragment storms both
    * mark low-quality text). Split on `[.!?]+\s+` — RE2-compatible
    * (no lookbehind; the x21 regex-parity discipline) so DuckDB
    * replays segmentation identically; zero-word fragments drop on
    * both sides. Scan-side array work, no shuffle before the sort. */
  private def x120(s: SparkSession, dir: String): DataFrame = {
    val sentences = filter(
      transform(split(col("text"), "[.!?]+\\s+"),
        p => size(array_remove(split(p, "\\s+"), ""))),
      n => n > 0)
    spread(t(s, dir, "documents")).select(col("doc_id"),
        sentences.as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("n_sentences"),
        aggregate(col("__w"), lit(0L), (a, x) => a + x).as("n_words"),
        array_max(col("__w")).cast("long").as("max_sent_words"))
      .withColumn("mean_sent_words_r",
        roundz(col("n_words").cast("double") /
          col("n_sentences").cast("double"), 9))
      .orderBy(col("doc_id"))
  }

  /** Functional-dependency / candidate-key discovery
    * (`Profile.functionalDependencies`): one scan of `customer`
    * answers five schema hypotheses at once — which columns are
    * unique keys, which determine which. The declared list mixes
    * holders (c_custkey→segment, c_name→balance) with violators
    * (nation↔segment both ways, (nation,segment)→custkey) so both
    * verdict branches are exercised. Exact integer counts only. */
  private def x121(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.functionalDependencies(
      t(s, dir, "customer"), Seq(
        (Seq("c_custkey"), "c_mktsegment"),
        (Seq("c_name"), "c_acctbal"),
        (Seq("c_nationkey"), "c_mktsegment"),
        (Seq("c_mktsegment"), "c_nationkey"),
        (Seq("c_nationkey", "c_mktsegment"), "c_custkey")))
      .orderBy(col("hypothesis"))

  /** Benford first-digit audit (`Profile.benfordProfile`) over
    * l_extendedprice — the fabricated-data screen. The leading digit
    * comes from the exact-cent DECIMAL STRING (no log10 near
    * power-of-ten boundaries; cents verified ≤1e-9 from integer at
    * every sf), expected shares are identical 15-digit literals on
    * both sides, and the only runtime floats are single IEEE
    * divisions over exact integers. */
  private def x122(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.benfordProfile(
      t(s, dir, "lineitem"), "l_extendedprice")
      .orderBy(col("digit"))

  /** CUSUM change-point profile (`Profile.cusumChangePoint`) over
    * daily event volume. The statistic is emitted ×D (bucket count)
    * so it stays pure BIGINT — no float mean anywhere — and the peak
    * day (max |cusum|) is flagged. The oracle replays the integer
    * recurrence with window functions: an independent formulation
    * (cumulative count vs closed form) over the same 30-day frame. */
  private def x123(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.cusumChangePoint(
      t(s, dir, "events"),
      // `div` (integer division) — ts nanos exceed double's 53-bit
      // mantissa, so floor(ts / 86400e9) could misbucket a boundary
      expr("ts div 86400000000000"))
      .orderBy(col("bucket"))

  /** EXACT prefix-filtered Jaccard self-join (`Dedup.
    * prefixJaccardJoin`): the lossless set-similarity join, verified
    * against a BRUTE-FORCE all-pairs DuckDB oracle — hash equality
    * proves the prefix pruning missed nothing. Fixture: each doc gets
    * three unique salt tokens (the rare discriminative tokens real
    * corpora have and this 31-word synthetic vocabulary lacks) and an
    * 80%-prefix mutant; at τ=0.95 every prefix is salts-only, so
    * candidates are exactly the orig↔mutant pairs (~0.1% of
    * all-pairs) — τ=0.9 on THIS 31-word corpus puts one common word
    * into prefixes and candidates balloon 350×, the adversarial
    * case the operator's maxPrefixDf cap and the τ lever exist for
    * (see PLANS.md). */
  private def x124(s: SparkSession, dir: String): DataFrame = {
    val salted = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("u"), col("doc_id"), lit("a u"), col("doc_id"),
        lit("b u"), col("doc_id"), lit("c "), col("text")).as("text"))
    val toksArr = array_remove(split(col("text"), "\\s+"), "")
    // +1000000L (the repo-wide mutant offset): +100000 collides with
    // real doc ids once documents reaches 100k rows (larger SFs),
    // where the engine's groupBy(doc) would merge both texts' token
    // sets while the brute-force oracle keeps per-row sets
    val mut = salted.select((col("doc_id") + 1000000L).as("doc_id"),
      array_join(slice(toksArr, lit(1),
        ceil(lit(0.8) * size(toksArr)).cast("int")), " ").as("text"))
    Dedup.prefixJaccardJoin(salted.unionByName(mut), "doc_id", "text",
      threshold = 0.95)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Z-order layout report (`Scale.zOrderBuckets`): Morton-interleave
    * (l_partkey, l_suppkey), bucket by the top 6 z bits (64
    * stand-in files), and report per-bucket min/max/span of BOTH
    * dims — the data-skipping effectiveness measurement (span
    * product ≈ 1.6% of the full grid here vs 100% for a heap
    * layout). All integer arithmetic; the oracle replays the
    * magic-mask interleave with DuckDB's native bit operators. */
  private def x125(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.zOrderBuckets(
      t(s, dir, "lineitem"), "l_partkey", "l_suppkey",
      bits = 16, bucketBits = 6)
      .orderBy(col("bucket"))

  /** Gate-attrition funnel (`Pipeline.gateAttrition`) over the x74
    * quality gate's four rules in declared order — WHICH rule eats
    * the data, not just kept-or-not. First-fail attribution is one
    * scan-side CASE over the same qualityGate struct x74 verifies;
    * the oracle re-derives the funnel from exploded token counts and
    * its own CASE chain. Exact integers + one rounded division. */
  private def x126(s: SparkSession, dir: String): DataFrame = {
    val d = spread(t(s, dir, "documents"))
      .filter(size(T.tokens(col("text"))) > 0)
      .select(col("doc_id"),
        T.qualityGate(col("text"), T.StopwordLists.head._2).as("qg"))
    graft.operators.Pipeline.gateAttrition(d, Seq(
      "word_count" -> col("qg.n_words").between(5, 200),
      "mean_word_len" ->
        (col("qg.mean_len") >= 2.0 && col("qg.mean_len") <= 10.0),
      "stopwords" -> (col("qg.stop_hits") >= 1),
      "repetition" -> (col("qg.top_share") <= 0.2)))
      .orderBy(col("stage_idx"))
  }

  /** The SQL text-curation surface, driver-gated end-to-end (x119's
    * discipline widened from one function to the whole text stack):
    * a pure `spark.sql` query through five registered graft_*
    * functions vs DuckDB's independent regex/split replays. Proves a
    * BI/SQL user gets the same curation primitives — and the same
    * answers — as the DataFrame API. */
  private def x127(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    spread(t(s, dir, "documents"))
      .createOrReplaceTempView("graft_sql_docs")
    s.sql("""SELECT doc_id,
            |  graft_ws_tokens(text) AS n_tokens,
            |  graft_bpeish_tokens(text) AS bpeish_tokens,
            |  graft_langid(text) AS pred_lang,
            |  graft_stop_hits(text) AS stop_hits,
            |  graft_punct_count(text) AS n_punct
            |FROM graft_sql_docs
            |WHERE graft_ws_tokens(text) > 0
            |ORDER BY doc_id""".stripMargin)
  }

  /** Scene-change detection (`Mp4Demux.frameSums`): decode→temporal
    * analysis over real MP4 containers — per-frame mean luma, lag
    * diff, cut flagging (|Δmean| > 98, a threshold probed ≥1.0 from
    * every attained value across all SFs), first-cut frame and max
    * jump. The expression emits exact per-frame INTEGER sums; every
    * float (mean, diff) is a declared IEEE expression the oracle
    * replays from doc_id arithmetic alone — independent of both the
    * muxer and the demuxer (the x37 discipline, extended to a frame
    * SERIES). */
  private def x128(s: SparkSession, dir: String): DataFrame = {
    val tau = 98.0
    val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 31 + 4).cast("int").as("w"),
      (col("doc_id") % 17 + 3).cast("int").as("h"),
      (col("doc_id") % 9 + 2).cast("int").as("nf"),
      (col("doc_id") % 241).cast("int").as("seed"))
    val withSums = docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
      Mp4Demux.frameSums(Mp4Demux.synthMp4Frames(
        col("w"), col("h"), col("nf"), col("seed"))).as("sums"),
      (col("w") * col("h")).cast("long").as("np"))
    val means = transform(col("sums"),
      x => x.cast("double") / col("np").cast("double"))
    val withDiffs = withSums.select(col("doc_id"),
      size(col("sums")).cast("long").as("n_frames"),
      zip_with(
        slice(means, lit(2), size(col("sums")) - 1),
        slice(means, lit(1), size(col("sums")) - 1),
        (a, b) => a - b).as("diffs"))
    withDiffs.select(col("doc_id"), col("n_frames"),
      size(filter(col("diffs"), d => abs(d) > tau)).cast("long")
        .as("n_cuts"),
      array_min(zip_with(col("diffs"),
        sequence(lit(1), size(col("diffs"))),
        (d, i) => when(abs(d) > tau, i))).cast("long").as("first_cut"),
      roundz(array_max(transform(col("diffs"), d => abs(d))), 9)
        .as("max_jump_r"))
      .orderBy(col("doc_id"))
  }

  /** Count-min frequency sketch (`Profile.cmsPartials/Combine/
    * Estimate`): per-event-type partials merged into one sketch, then
    * point estimates for the first 20 user ids next to their exact
    * counts — the overcount column shows the one-sided error live.
    * Hashing is declared integer arithmetic, so the oracle rebuilds
    * the SAME sketch cell-for-cell in SQL and the estimates
    * hash-match exactly (the sketch family's only frequency member,
    * and its only fully-replayable one). */
  private def x129(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val partials = graft.operators.Profile.cmsPartials(
      ev, col("event_type"), col("user_id"))
    val sketch = graft.operators.Profile.cmsCombine(partials)
    val probes = ev.filter(col("user_id") < 20)
      .select(col("user_id")).distinct()
    val exact = ev.filter(col("user_id") < 20)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    graft.operators.Profile.cmsEstimate(sketch, probes, "user_id")
      .withColumnRenamed("key", "user_id")
      .join(exact, "user_id")
      .withColumn("overcount", col("est") - col("n_exact"))
      .orderBy(col("user_id"))
  }

  /** Per-group OLS volume trend (`Profile.groupTrend`): slope /
    * intercept / r² of daily event counts per type, from six BIGINT
    * sums and single IEEE divisions — bit-exact across engines (the
    * x100 integer discipline applied to regression). Day buckets via
    * integer `div` (the x123 rule). */
  private def x130(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("n_day"))
    graft.operators.Profile.groupTrend(daily, col("event_type"),
      col("day"), col("n_day"))
      .withColumnRenamed("group", "event_type")
      .orderBy(col("event_type"))
  }

  /** Population stability index (`Profile.psi`): value-distribution
    * drift between the first and second half of the event stream
    * (declared split day, declared [0,600]×12 domain — the x103
    * comparable-across-epochs rule). Per-bin rows with exact counts
    * and shares; the ln-based PSI term rounds to 4 dp (x49's ln
    * discipline — margins probed ≥3.6e-6 from every boundary at all
    * SFs vs ~1e-15 cross-engine ln noise). */
  private def x131(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("__day", expr("ts div 86400000000000"))
    graft.operators.Profile.psi(
      ev.filter(col("__day") < 19738), ev.filter(col("__day") >= 19738),
      "value", lo = 0.0, hi = 600.0, nBins = 12)
      .orderBy(col("bin"))
  }

  /** Per-source Gini concentration (`Profile.giniIndex`) of document
    * length mass — the inequality statistic behind mixture
    * re-weighting. Rank-weighted sums fold over ties in closed form
    * on the (source, value, count) frame (x111's counts-then-window
    * rule — no ranking of raw rows); pure BIGINT until two final
    * IEEE divisions. */
  private def x132(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.giniIndex(
      t(s, dir, "documents"), "source", "n_chars")
      .withColumnRenamed("group", "source")
      .orderBy(col("source"))

  /** Cohen's kappa (`Calibrate.cohenKappa`) between the declared
    * `lang` column and the x8 language-ID heuristic — the
    * label-quality audit: chance-corrected agreement from pure
    * integer counts (confusion cells, marginal products), bit-exact
    * across engines. The oracle recomputes the full confusion matrix
    * through its own langid CASE chain. */
  private def x133(s: SparkSession, dir: String): DataFrame =
    graft.operators.Calibrate.cohenKappa(
      spread(t(s, dir, "documents")).select(col("lang"),
        T.langId(col("text")).as("pred")),
      col("lang"), col("pred"))

  /** Image near-dedup (`Multimodal.imageNearDup`: real PNG pixel
    * decode → integer dHash → chunk-pigeonhole pairs) gated through
    * its exact guarantees — the multimodal member of the dedup gate
    * family (x2/x3 pattern). Per-row images are synthesized
    * seed-keyed from doc_id (the x12 fixture discipline), so:
    *  - anchors: image count and the identical-image pair count
    *    (docs sharing doc_id mod 251 get byte-identical textures) are
    *    pure doc_id arithmetic the oracle recomputes;
    *  - booleans: every identical pair is emitted at hamming 0
    *    (identical pixels ⇒ identical hash ⇒ all four chunks
    *    collide — the pigeonhole recall floor), and every emitted
    *    pair's hamming is re-derived by re-synthesizing both images
    *    and re-hashing in a fresh evaluation (decode→hash→pair
    *    wiring corruption flips it).
    * Per-pair output stays available via `Multimodal.imageNearDup`
    * (ImageDHashSpec); this row gates the SAME full computation. */
  private def x134(s: SparkSession, dir: String): DataFrame =
    mediaNearDupGate(s, dir, countName = "n_images",
      synth = d => PixelDecode.synthPngTexture(lit(48), lit(32),
        mediaSeed(d).cast("int")),
      reHash = PixelDecode.pngDHash,
      nearDup = Multimodal.imageNearDup(_, _, _))

  /** Audio near-dedup (`Multimodal.audioNearDup`: real PCM decode →
    * integer energy-delta fingerprint → chunk-pigeonhole pairs) —
    * x134's discipline on the audio modality, proving the
    * `hashNearDup` layer spans hash families. */
  private def x135(s: SparkSession, dir: String): DataFrame =
    mediaNearDupGate(s, dir, countName = "n_streams",
      synth = d => PixelDecode.synthWavNoise(lit(1), lit(8000), lit(600),
        mediaSeed(d).cast("int")),
      reHash = PixelDecode.wavFingerprint,
      nearDup = Multimodal.audioNearDup(_, _, _))

  /** Video near-dedup (`Multimodal.videoNearDup`: real MP4 demux →
    * integer frame-mass fingerprint → chunk-pigeonhole pairs) —
    * closes the four-modality near-dup family on the same gate
    * shape. */
  private def x136(s: SparkSession, dir: String): DataFrame =
    mediaNearDupGate(s, dir, countName = "n_videos",
      synth = d => graft.ext.Mp4Demux.synthMp4Noise(lit(12), lit(6),
        lit(65), mediaSeed(d).cast("int")),
      reHash = graft.ext.Mp4Demux.mp4Fingerprint,
      nearDup = Multimodal.videoNearDup(_, _, _))

  /** The shared x134/x135/x136 gate body: synthesize a seed-keyed
    * blob per doc (doc_id mod 251 ⇒ identical groups whose pair count
    * is pure doc_id arithmetic the oracle recomputes), run the
    * modality's near-dup operator, and verify:
    *  - every identical pair emitted at hamming 0 (identical bytes ⇒
    *    identical hash ⇒ all four chunks collide — the pigeonhole
    *    recall floor), counted against the oracle anchor;
    *  - every emitted pair's hamming re-derived from fresh per-DOC
    *    re-hashes (O(N) decodes, not O(pairs)) joined broadcast-side.
    * The documents scan is a handful of splits — the tiny id column
    * is repartitioned with an EXPLICIT count first so the per-row
    * synth+decode+hash spreads across every core (a number-less
    * repartition gets coalesced back to one task by AQE). */
  /** Scale-invariant media fixture seed: `doc_id mod 251` inside each
    * `ScaleCurve.DocOffset` id band, shifted by 251 per band — equal
    * to plain `doc_id mod 251` on the driver corpora (every doc_id <
    * DocOffset, so the oracles keep their `doc_id % 251` form) while
    * giving each ScaleCurve replica a DISJOINT seed space: group
    * sizes stay constant under replication, so the identical-pair
    * count grows Kx, not K²x, and the media/near-dup gates
    * (x134-x136 and the whole x137-x142 curation family) can ride
    * the scaling curve honestly. */
  private def mediaSeed(d: Column): Column =
    (d % 251) + floor(d / lit(graft.ScaleCurve.DocOffset)) * 251

  private def mediaNearDupGate(s: SparkSession, dir: String,
      countName: String, synth: Column => Column, reHash: Column => Column,
      nearDup: (DataFrame, String, String) => DataFrame): DataFrame = {
    import graft.functions.{HashFunctions => H}
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val docs = ids.select(col("doc_id"), synth(col("doc_id")).as("blob"))
    val pairs = nearDup(docs, "doc_id", "blob")
    val anch = t(s, dir, "documents")
      .select(mediaSeed(col("doc_id")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as(countName),
        coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
          .as("n_identical_pairs"))
    // the fresh verification re-hash is ONE O(N) synth+decode pass by
    // design — but it feeds TWO broadcast branches (rh_a / rh_b), and
    // a broadcast exchange is its own plan: without this eager cut
    // the pipeline executed once PER BRANCH, tripling the modality's
    // total decode work (operator + 2× verify). Still an independent
    // recompute — just materialized once (round-17, guide §1.2).
    val reHashed = ids.select(col("doc_id"),
      reHash(synth(col("doc_id"))).as("rh"))
      .localCheckpoint(true)
    val verif = pairs
      .join(broadcast(reHashed.select(col("doc_id").as("id_a"),
        col("rh").as("rh_a"))), Seq("id_a"))
      .join(broadcast(reHashed.select(col("doc_id").as("id_b"),
        col("rh").as("rh_b"))), Seq("id_b"))
      .select(
        (mediaSeed(col("id_a")) === mediaSeed(col("id_b")) &&
          col("hamming") === 0L).as("same_h0"),
        col("hamming"),
        H.hamming64(col("rh_a"), col("rh_b")).as("re_ham"))
      .agg(
        coalesce(sum(when(col("same_h0"), 1L).otherwise(0L)), lit(0L))
          .as("n_same_emitted"),
        coalesce(sum(when(col("re_ham") =!= col("hamming") ||
          col("re_ham") > 3, 1L).otherwise(0L)), lit(0L))
          .as("n_verif_viol"))
    anch.crossJoin(verif).select(col(countName), col("n_identical_pairs"),
      (col("n_same_emitted") === col("n_identical_pairs"))
        .as("identical_all_emitted_h0"),
      (col("n_verif_viol") === 0).as("emitted_pairs_verified"))
  }

  /** Near-dup curation end-to-end (`imageNearDup` → `Dedup.components`
    * → `Dedup.keepBestInGroups`): the pipeline composition a corpus
    * actually runs — find near-dup pairs, cluster them, keep the
    * best-quality member per cluster, pass everything else through.
    * FULL exact oracle (not a guarantee surface): at maxHamming = 0
    * pairs require hash EQUALITY, and the murmur-finalizer fixture's
    * cross-seed hamming floor is 14 (probed at both SFs — the x87
    * margin discipline), so groups are exactly the doc_id mod 251
    * residue classes and DuckDB recomputes every survivor: argmax
    * quality (= doc_id mod 7), ties to min id, n_copies = class
    * size. */
  private def x137(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val docs = ids.select(col("doc_id"),
      PixelDecode.synthPngTexture(lit(48), lit(32),
        mediaSeed(col("doc_id")).cast("int")).as("img"),
      (col("doc_id") % 7).as("quality"))
    val pairs = Multimodal.imageNearDup(docs, "doc_id", "img",
      maxHamming = 0)
    val labels = Dedup.components(pairs, aCol = "id_a", bCol = "id_b")
    Dedup.keepBestInGroups(docs.select(col("doc_id"), col("quality")),
        labels, "doc_id", "quality")
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Bipartite near-dup screen (`Multimodal.hashNearDupAgainst`): the
    * decontamination shape — even doc_ids play the existing corpus,
    * odd doc_ids the incoming batch, images identical exactly when
    * residues mod 251 match. FULL exact oracle (maxHamming = 0, hash
    * equality; cross-seed hamming floor 14 probed — x137's margin
    * discipline): the pair set is the even×odd residue join, every
    * row recomputed by DuckDB. */
  private def x138(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    // one decode wave: both screen sides are filters of this frame —
    // cut it eagerly and vouch inputMaterialized, instead of the
    // operator's two sequential per-side defensive checkpoints each
    // re-running half the synth+decode (round-17, guide §1.2/§2.6)
    val hashed = ids.select(col("doc_id"),
      PixelDecode.imageDHashAny(PixelDecode.synthPngTexture(lit(48),
        lit(32), mediaSeed(col("doc_id")).cast("int"))).as("ph"))
      .localCheckpoint(true)
    Multimodal.hashNearDupAgainst(
        hashed.filter(col("doc_id") % 2 === 0),
        hashed.filter(col("doc_id") % 2 === 1),
        "doc_id", "ph", maxHamming = 0, inputMaterialized = true)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** PNG↔JPEG cross-format duplicate detection — the case a real
    * (mostly-JPEG) corpus hits constantly: a lossy re-save of a PNG
    * original must still pair. Even doc_ids store the cell-grid
    * fixture as PNG, odd ids as its quality-90 JPEG re-encode; one
    * `imageDHashAny` hash space covers both via magic dispatch, and
    * the bipartite screen emits only cross-format pairs. FULL exact
    * oracle: on the block-margin cell fixture the JPEG re-encode
    * hashes IDENTICALLY (probed over all 251 seeds at q90 and q70 in
    * JpegDHashSpec — margins ≥ 32·64 per dHash comparison dominate
    * quantization noise) and the cross-seed floor is ≥ 10, so with
    * the operator at its REAL threshold (hamming ≤ 3) the pair set is
    * exactly the even×odd residue join at hamming 0 — DuckDB
    * recomputes every row. */
  private def x139(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    // one decode wave (x138's round-17 shape): the PNG and JPEG
    // halves decode together in one eager cut instead of two
    // sequential per-side checkpoint jobs inside the operator
    val hashed = ids.select(col("doc_id"),
      PixelDecode.imageDHashAny(
        when(col("doc_id") % 2 === 0,
          PixelDecode.synthPngCells(mediaSeed(col("doc_id")).cast("int")))
        .otherwise(graft.ext.ImageIoDecode.synthJpegCells(
          mediaSeed(col("doc_id")).cast("int"), lit(90)))).as("ph"))
      .localCheckpoint(true)
    Multimodal.hashNearDupAgainst(
        hashed.filter(col("doc_id") % 2 === 0),
        hashed.filter(col("doc_id") % 2 === 1),
        "doc_id", "ph", maxHamming = 3, inputMaterialized = true)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Incremental near-dup curation (`Dedup.curateIncrement`): the
    * live-corpus update shape — prior survivors (curated from the
    * even docs exactly as x137 does) absorb the odd-doc batch through
    * the curation kernel's weighted re-election (at maxHamming = 0
    * one full-hash class aggregate), with `n_copies` accumulating.
    * FULL exact oracle (maxHamming = 0 ⇒ hash-equality groups = the
    * mod-251 residues; cross-seed floor 14 probed — x137's margin
    * discipline): DuckDB
    * recomputes the even-phase survivor per residue, then the final
    * argmax over {even survivor} ∪ odds with n_copies = n_evens +
    * n_odds. The hashed frame is cut eagerly (localCheckpoint) so the
    * synth+decode+hash runs once, not once per downstream consumer. */
  private def x140(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val hashed = ids.select(col("doc_id"),
      PixelDecode.imageDHashAny(PixelDecode.synthPngTexture(lit(48),
        lit(32), mediaSeed(col("doc_id")).cast("int"))).as("ph"),
      (col("doc_id") % 7).as("quality"))
      .localCheckpoint(true)
    val evens = hashed.filter(col("doc_id") % 2 === 0)
    val odds = hashed.filter(col("doc_id") % 2 === 1)
    // the PRIOR update: curate the even corpus from scratch — the
    // round-18 linear one-shot (≡ the composed x137 pipeline,
    // CurateOneShotSpec): at h = 0 ONE class aggregate replaces the
    // even-phase Σk² clique pairs + components round-trip
    val survivors = Dedup.curateOneShot(evens, "doc_id", "ph", "quality",
      maxHamming = 0)
    // THIS update: screen the odd batch against it and re-elect
    Dedup.curateIncrement(survivors, odds, "doc_id", "ph", "quality",
        maxHamming = 0)
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** x137's curation composition driven by a REAL quality signal —
    * the x9 text-quality score (token-count band, stopword presence,
    * chars-per-token band) lexicographically refined by token count
    * (score · 2³² + n_tokens), instead of an arithmetic stand-in.
    * Proves the keep-best election on production-shaped features the
    * oracle recomputes FROM TEXT. Same full-exact-oracle fixture as
    * x137 (hash-equality groups = mod-251 residues). */
  private def x141(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("n_tokens", T.wsTokenCount(col("text")))
      .withColumn("stop_hits",
        T.stopwordHits(col("text"), T.StopwordLists.head._2))
      .withColumn("len_chars", length(col("text")).cast("long"))
    val docs = d.select(col("doc_id"),
      PixelDecode.synthPngTexture(lit(48), lit(32),
        mediaSeed(col("doc_id")).cast("int")).as("img"),
      (T.qualityScore(col("n_tokens"), col("stop_hits"), col("len_chars"))
        .cast("long") * lit(4294967296L) + col("n_tokens")).as("quality"))
    // round-18: the linear-candidate one-shot curation — identical
    // output to the composed pairs→components→keepBest pipeline
    // (CurateOneShotSpec is the differential proof; x137 keeps the
    // composed showcase declared verbatim), with ONE decode wave into
    // a single map-side-combining class aggregate instead of Σk²
    // clique pairs + a components round-trip (opt guide §1.2)
    Dedup.curateOneShot(
        docs.select(col("doc_id"),
          PixelDecode.imageDHashAny(col("img")).as("ph"), col("quality")),
        "doc_id", "ph", "quality", maxHamming = 0)
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Mixed-format curation — the corpus shape a real image pipeline
    * has: ONE binary column holding PNG (doc_id≡0 mod 3), GIF (≡1),
    * and JPEG (≡2) payloads of the cell-grid fixture, one
    * `imageDHashAny` hash space over all three, near-dup pairs at the
    * REAL threshold (hamming ≤ 3), curation to keep-best. FULL exact
    * oracle (x137's): PNG/GIF hash bit-identically (gray palette luma
    * == index), the JPEG re-save identically on the block-margin
    * fixture, and the cross-seed floor ≥ 10 — all probed over every
    * one of the 251 possible seeds in JpegDHashSpec — so groups are
    * exactly the residues regardless of which format each member
    * landed in. */
  private def x142(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val seed = mediaSeed(col("doc_id")).cast("int")
    // four formats since round 13 (WebP joined the family): the oracle
    // is format-blind — all four hash identically on the cell fixture
    // (PNG=GIF=WebP bit-equal, JPEG q90 equal; exhaustively probed)
    val blob = when(col("doc_id") % 4 === 0, PixelDecode.synthPngCells(seed))
      .when(col("doc_id") % 4 === 1, graft.ext.GifDecode.synthGifCells(seed))
      .when(col("doc_id") % 4 === 2, graft.ext.WebpDecode.synthWebpCells(seed))
      .otherwise(graft.ext.ImageIoDecode.synthJpegCells(seed, lit(90)))
    val docs = ids.select(col("doc_id"), blob.as("img"),
      (col("doc_id") % 7).as("quality"))
    // round-18 linear-candidate curation at the REAL hamming-3
    // threshold: classes collapse first, only one representative per
    // distinct hash enters the pair search + components — identical
    // output to the composed pipeline (CurateOneShotSpec), Σk clique
    // mass removed from the mixed-format decode path (guide §1.2)
    Dedup.curateOneShot(
        docs.select(col("doc_id"),
          PixelDecode.imageDHashAny(col("img")).as("ph"), col("quality")),
        "doc_id", "ph", "quality", maxHamming = 3)
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** The streaming frozen-reference screen's EXACT plan, driver-gated
    * in batch mode (`StreamNearDup.screenAgainst` runs the same
    * stream-static-join DAG over a batch frame): even docs play the
    * frozen PNG reference, odd docs the JPEG arrival stream — x139's
    * pair set through the streaming operator's lowest-surviving-
    * equal-chunk emission instead of the batch dedupe. FULL exact
    * oracle (same as x139): the even×odd residue join at hamming 0,
    * every row recomputed by DuckDB — which also proves the
    * exactly-once rule emits each pair exactly ONCE (a duplicate row
    * would hash-fail). */
  private def x143(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val seed = mediaSeed(col("doc_id")).cast("int")
    val hashed = ids.select(col("doc_id"),
      PixelDecode.imageDHashAny(
        when(col("doc_id") % 2 === 0, PixelDecode.synthPngCells(seed))
        .otherwise(graft.ext.ImageIoDecode.synthJpegCells(seed, lit(90))))
        .as("ph"))
    val (pairs, _) = graft.streaming.StreamNearDup.screenAgainst(
      reference = hashed.filter(col("doc_id") % 2 === 0)
        .withColumnRenamed("doc_id", "id"),
      arrivals = hashed.filter(col("doc_id") % 2 === 1)
        .withColumnRenamed("doc_id", "id"),
      "id", "ph", maxHamming = 3)
    // id_a = arrival (odd), id_b = reference (even); x139 orients
    // even→a / odd→b, so swap for one shared oracle orientation
    pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"),
        col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [EXT] WebP joins the cross-format image near-dup family
    * (`WebpDecode` — a spec-complete VP8L decoder into the shared 9×8
    * dHash core): even docs are PNG originals, odd docs the SAME cell
    * grid re-saved as WebP-lossless, screened bipartite at the real
    * hamming-3 threshold. FULL exact oracle: WebP hashes
    * bit-identically to PNG on the cell fixture (exhaustively probed
    * over all banded seeds — WebpDecodeSpec), so the pair set is
    * exactly the even×odd residue join at hamming 0. */
  private def x144(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val hashed = ids.select(col("doc_id"),
      PixelDecode.imageDHashAny(
        when(col("doc_id") % 2 === 0,
          PixelDecode.synthPngCells(mediaSeed(col("doc_id")).cast("int")))
        .otherwise(graft.ext.WebpDecode.synthWebpCells(
          mediaSeed(col("doc_id")).cast("int")))).as("ph"))
      .localCheckpoint(true) // one decode wave — the x138 r17 shape
    Multimodal.hashNearDupAgainst(
        hashed.filter(col("doc_id") % 2 === 0),
        hashed.filter(col("doc_id") % 2 === 1),
        "doc_id", "ph", maxHamming = 3, inputMaterialized = true)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [EXT] x41's heterogeneous-column dispatch extended to SIX
    * modalities — WebP joins the one-binary-column corpus
    * (`Multimodal.decodeStats` now magic-sniffs PNG/GIF/WAV/JPEG/MP4/
    * WebP, disambiguating the two RIFF containers in O(1)). Oracle:
    * the dims/counts are pure doc_id arithmetic per modality. */
  private def x148(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs = t(s, dir, "documents").select(d)
      .repartition(s.sparkContext.defaultParallelism, d)
      .select(d,
      when(d % 6 === 0, PixelDecode.synthPngPixels(
        (d % 97 + 4).cast("int"), (d % 53 + 3).cast("int"),
        (d % 251).cast("int")))
        .when(d % 6 === 1, graft.ext.GifDecode.synthGifPixels(
          (d % 47 + 4).cast("int"), (d % 29 + 3).cast("int"),
          (d % 253).cast("int")))
        .when(d % 6 === 2, PixelDecode.synthWavTone(lit(1), lit(8000),
          (d % 400 + 100).cast("int"), (d % 1777).cast("int")))
        .when(d % 6 === 3, graft.ext.ImageIoDecode.synthJpeg(
          (d % 61 + 8).cast("int"), (d % 37 + 8).cast("int"), lit(85)))
        .when(d % 6 === 4, graft.ext.Mp4Demux.synthMp4Frames(
          (d % 31 + 4).cast("int"), (d % 17 + 3).cast("int"),
          (d % 9 + 2).cast("int"), (d % 241).cast("int")))
        .otherwise(graft.ext.WebpDecode.synthWebpGray(
          (d % 43 + 9).cast("int"), (d % 23 + 8).cast("int"),
          (d % 251).cast("int")))
        .as("media_bytes"))
    docs.select(d,
      Multimodal.decodeStats(col("media_bytes")).as("st"))
      .select(d,
        col("st.media_type").as("media_type"),
        col("st.width").as("width"),
        col("st.height").as("height"),
        col("st.n_samples").as("n_samples"))
      .orderBy(d)
  }

  /** [EXT] The versioned survivor STORE driven end to end
    * (`CurationRunner.applyIncrement` — the deployment shape x140's
    * bare operator ships in): bootstrap from the even corpus, then two
    * odd mini-batch increments, each rolling one parquet snapshot +
    * commit marker forward through the Hadoop FileSystem path; prune
    * retention runs before the read-back. FULL exact oracle: the
    * three-phase incremental chain recomputed by DuckDB — per-residue
    * weighted election per phase, candidates = {prior survivor at its
    * accumulated weight} ∪ the batch — which also oracle-proves the
    * marker protocol returned the LAST version's table. Store I/O is
    * three ~32 B/row snapshots; the curation inside is x140's audited
    * plan. */
  private def x145(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.CurationRunner
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val hashed = ids.select(col("doc_id"),
      PixelDecode.imageDHashAny(PixelDecode.synthPngTexture(lit(48),
        lit(32), mediaSeed(col("doc_id")).cast("int"))).as("ph"),
      (col("doc_id") % 7).as("quality"))
      .localCheckpoint(true)
    val store = java.nio.file.Files.createTempDirectory("graft-x145").toString
    // bench/verify sweeps invoke this query repeatedly — without
    // cleanup each run leaks three corpus-sized snapshots into /tmp.
    // The survivor frame is eagerly localCheckpoint'd (survivor-set
    // sized, ~32 B/row — same size class as one snapshot) so the
    // store can be deleted before the caller acts on the result.
    try {
      CurationRunner.applyIncrement(store,
        hashed.filter(col("doc_id") % 2 === 0), 0L,
        "doc_id", "ph", "quality", maxHamming = 0)
      CurationRunner.applyIncrement(store,
        hashed.filter(col("doc_id") % 4 === 1), 1L,
        "doc_id", "ph", "quality", maxHamming = 0)
      CurationRunner.applyIncrement(store,
        hashed.filter(col("doc_id") % 4 === 3), 2L,
        "doc_id", "ph", "quality", maxHamming = 0)
      CurationRunner.prune(store, keep = 2)
      CurationRunner.survivors(s, store, "doc_id", "ph", "quality")
        .select(col("doc_id"), col("quality"), col("n_copies"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally {
      val p = new org.apache.hadoop.fs.Path(store)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** [EXT] Resample-invariant audio pairing
    * (`PixelDecode.wavFingerprintAt64` + `wavResampleBytes`): even
    * docs are 44.1 kHz PCM originals, odd docs the SAME stream
    * re-sampled to 22.05 kHz by REAL frame decimation, screened
    * bipartite on the canonical-rate (22.05 kHz) fingerprint — the
    * audio analog of the JPEG/WebP cross-format gap: the rate-locked
    * x135 fingerprint can never pair these. FULL exact oracle: both
    * sides decimate to the identical frame sequence (theorem; probed
    * per banded seed in WavResampleSpec), so the pair set is exactly
    * the even×odd residue join at hamming 0. */
  private def x147(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val original = PixelDecode.synthWavNoise(lit(1), lit(44100), lit(600),
      mediaSeed(col("doc_id")).cast("int"))
    val hashed = ids.select(col("doc_id"),
      PixelDecode.wavFingerprintAt(
        when(col("doc_id") % 2 === 0, original)
          .otherwise(PixelDecode.wavResample(original, 2)),
        canonicalRate = 22050).as("ph"))
      .localCheckpoint(true) // one synth+fingerprint wave (x138 r17)
    Multimodal.hashNearDupAgainst(
        hashed.filter(col("doc_id") % 2 === 0),
        hashed.filter(col("doc_id") % 2 === 1),
        "doc_id", "ph", maxHamming = 3, inputMaterialized = true)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared radius-7 fixture hash for x146/x149 (both DuckDB oracles
    * replicate this arithmetic byte for byte — one builder keeps the
    * two queries and their oracles from desynchronizing): per-doc
    * 64-bit base from P/Q residue mixing of the banded mediaSeed,
    * XOR a doc-keyed bit-run mask of 0–8 bits at a rolling offset.
    * Byte 7 keeps 7 bits (mod 128): a full 255 in bits 56–63 would
    * overflow the signed 64-bit sum (255·2^56 > Long.Max). */
  private def radius7FixtureHash(ids: DataFrame): DataFrame = {
    val g = mediaSeed(col("doc_id"))
    val c = col("doc_id") % 23
    val P = Seq(31L, 67L, 101L, 151L, 197L, 223L, 13L, 89L)
    val Q = Seq(17L, 29L, 41L, 53L, 71L, 83L, 97L, 113L)
    val base = (0 until 8).map(j =>
      (((g * P(j)) % 251 + (g * Q(j)) % 257) % (if (j == 7) 128 else 256)) *
        lit(1L << (8 * j)))
      .reduce(_ + _)
    val mask = expr("shiftleft(shiftleft(CAST(1 AS BIGINT), " +
      "CAST(__c % 9 AS INT)) - 1, CAST((__c * 7) % 56 AS INT))")
    ids.select(col("doc_id"), c.as("__c"), base.as("__b"))
      .select(col("doc_id"), col("__b").bitwiseXOR(mask).as("h"))
  }

  /** [EXT] Radius-7 near-dup (`Multimodal.hashNearDupCapped` in its
    * multi-probe regime — four 16-bit chunks, one side probing each
    * chunk's 1-bit ball; hamming ≤ 7 over 4 chunks ⇒ some chunk
    * carries ≤ 1 error, so exact×ball meets are guaranteed): real
    * dHash duplicates — crops, brightness shifts, aggressive
    * re-encodes — pair at hamming 6–10/64, beyond the equal-chunk
    * pigeonhole's hamming-3 ceiling. FULL exact oracle: the hash is
    * pure integer arithmetic over the banded seed (byte j = mixed
    * residues of g mod 251/257 — two co-prime moduli so bands never
    * repeat bytes) XOR a doc-keyed bit-run mask of 0–8 bits at a
    * rolling offset ([[radius7FixtureHash]]), so DuckDB recomputes
    * every hash and the COMPLETE hamming ≤ 7 pair set from a direct
    * quadratic join — multi-probe recall, the exact-hamming verify,
    * and the cap staying cold are all hash-checked. Pair hammings
    * span 0–16, so the threshold cuts both ways (some real near-pairs
    * land at 8+, and the engine must NOT emit them). */
  private def x146(s: SparkSession, dir: String): DataFrame = {
    val hashed = radius7FixtureHash(
      t(s, dir, "documents").select(col("doc_id")))
    val (pairs, _) = Multimodal.hashNearDupCapped(hashed, "doc_id", "h",
      maxHamming = 7, maxBucket = Some(1 << 12))
    pairs.orderBy(col("id_a"), col("id_b"))
  }

  /** [EXT] Radius-7 near-dup with the hot-bucket GOVERNOR FIRING
    * (x146's fixture deliberately keeps every bucket cold — this is
    * the production regime the cap exists for): every 5th doc's
    * low 16-bit chunk is forced to one constant, so that (chunk 0,
    * 0x5a5a) bucket holds N/5 docs and blows the cap 64 at every
    * scale from sf0.01 up — the governed path, not the lucky one.
    * FULL exact oracle for BOTH output kinds: DuckDB recomputes the
    * hashes (x146's arithmetic + the same low-chunk override), the
    * hot buckets at the same cap, the capped pair set from first
    * principles — a pair survives iff at SOME chunk within 1 bit at
    * least one endpoint's bucket is cold (exactly
    * `hashNearDupCapped`'s both-orientations drop semantics) — and
    * the drop report (chunk, value, occupancy). A silent drop, an
    * invented pair, or a mis-counted overflow row all hash-mismatch.
    * Output: kind='drop' rows (chunk, cval, n_ids) + kind='pair'
    * rows (id_a, id_b, hamming). */
  private def x149(s: SparkSession, dir: String): DataFrame = {
    val h0 = radius7FixtureHash(
      t(s, dir, "documents").select(col("doc_id")))
    val hashed = h0.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        col("h").bitwiseAND(lit(-65536L)).bitwiseOR(lit(0x5a5aL)))
        .otherwise(col("h")).as("h"))
    val (pairs, overflow) = Multimodal.hashNearDupCapped(hashed, "doc_id",
      "h", maxHamming = 7, maxBucket = Some(64))
    pairs.select(lit("pair").as("kind"), col("id_a").as("a"),
        col("id_b").as("b"), col("hamming").as("v"))
      .unionByName(overflow.select(lit("drop").as("kind"),
        col("chunk").cast("long").as("a"), col("cval").as("b"),
        col("n_ids").as("v")))
      .orderBy(col("kind"), col("a"), col("b"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x148_media_dispatch6" -> (x148 _),
    "x147_audio_resample_dedup" -> (x147 _),
    "x146_radius7_near_dup" -> (x146 _),
    "x149_radius7_capped" -> (x149 _),
    "x145_curation_store" -> (x145 _),
    "x144_webp_cross_dedup" -> (x144 _),
    "x143_frozen_screen" -> (x143 _),
    "x142_mixed_curation" -> (x142 _),
    "x141_quality_curation" -> (x141 _),
    "x140_curation_increment" -> (x140 _),
    "x139_jpeg_cross_dedup" -> (x139 _),
    "x138_cross_dedup" -> (x138 _),
    "x137_near_dup_curation" -> (x137 _),
    "x136_video_fingerprint" -> (x136 _),
    "x135_audio_fingerprint" -> (x135 _),
    "x134_image_dhash" -> (x134 _),
    "x133_kappa" -> (x133 _),
    "x132_gini" -> (x132 _),
    "x131_psi" -> (x131 _),
    "x130_trend" -> (x130 _),
    "x129_cms" -> (x129 _),
    "x128_scene_cuts" -> (x128 _),
    "x127_sql_text" -> (x127 _),
    "x126_gate_attrition" -> (x126 _),
    "x125_zorder" -> (x125 _),
    "x124_prefix_jaccard" -> (x124 _),
    "x123_changepoint" -> (x123 _),
    "x122_benford" -> (x122 _),
    "x121_fd_profile" -> (x121 _),
    "x120_sentences" -> (x120 _),
    "x119_sql_surface" -> (x119 _),
    "x118_nearest_join" -> (x118 _),
    "x117_triangles" -> (x117 _),
    "x116_audio_decimate" -> (x116 _),
    "x115_image_resize" -> (x115 _),
    "x114_session_overlap" -> (x114 _),
    "x113_vocab_growth" -> (x113 _),
    "x112_reliability" -> (x112 _),
    "x111_winsorize" -> (x111 _),
    "x110_novelty" -> (x110 _),
    "x109_kanon" -> (x109 _),
    "x108_join_profile" -> (x108 _),
    "x107_token_budget" -> (x107 _),
    "x106_wilson_domains" -> (x106 _),
    "x105_salted_join" -> (x105 _),
    "x104_pad_waste" -> (x104 _),
    "x103_quantile_bins" -> (x103 _),
    "x102_ppr" -> (x102 _),
    "x101_exif_meta" -> (x101 _),
    "x100_incr_stats" -> (x100 _),
    "x99_entity_match" -> (x99 _),
    "x98_temperature_mix" -> (x98 _),
    "x97_dup_extents" -> (x97 _),
    "x96_dsir_weights" -> (x96 _),
    "x95_hybrid_rrf" -> (x95 _),
    "x94_pagerank" -> (x94 _),
    "x93_token_ids" -> (x93 _),
    "x92_domain_stats" -> (x92 _),
    "x91_html_strip" -> (x91 _),
    "x90_url_canon" -> (x90 _),
    "x89_ann_pq" -> (x89 _),
    "x88_heavy_hitters" -> (x88 _),
    "x87_semantic_screen" -> (x87 _),
    "x86_dup_profile" -> (x86 _),
    "x85_pit_join" -> (x85 _),
    "x84_keep_best" -> (x84 _),
    "x83_drift" -> (x83 _),
    "x82_transitions" -> (x82 _),
    "x81_pipeline" -> (x81 _),
    "x80_oov" -> (x80 _),
    "x79_dp_counts" -> (x79 _),
    "x78_cube" -> (x78 _),
    "x77_integrity" -> (x77 _),
    "x76_doc_trunc" -> (x76 _),
    "x75_span_dedup" -> (x75 _),
    "x74_quality_gate" -> (x74 _),
    "x73_robust_outliers" -> (x73 _),
    "x72_lexdiv" -> (x72 _),
    "x71_containment" -> (x71 _),
    "x70_event_paths" -> (x70 _),
    "x69_blocklist" -> (x69 _),
    "x68_calibrate" -> (x68 _),
    "x67_source_overlap" -> (x67 _),
    "x66_pmi" -> (x66 _),
    "x65_weighted_sample" -> (x65 _),
    "x64_fuzzy_lookup" -> (x64 _),
    "x63_rolling" -> (x63 _),
    "x62_cohorts" -> (x62 _),
    "x61_decay" -> (x61 _),
    "x60_semantic_groups" -> (x60 _),
    "x59_unicode" -> (x59 _),
    "x58_funnel" -> (x58 _),
    "x57_asof_fwd" -> (x57 _),
    "x56_zscore" -> (x56 _),
    "x55_histogram" -> (x55 _),
    "x54_keywords" -> (x54 _),
    "x53_mixture" -> (x53 _),
    "x52_embed_quant" -> (x52 _),
    "x51_incr_dedup" -> (x51 _),
    "x50_bigram_nll" -> (x50 _),
    "x49_bm25" -> (x49 _),
    "x48_chunk" -> (x48 _),
    "x47_bpe_merges" -> (x47 _),
    "x46_group_split" -> (x46 _),
    "x45_epoch_shuffle" -> (x45 _),
    "x44_components" -> (x44 _),
    "x43_cap_per_group" -> (x43 _),
    "x42_profile" -> (x42 _),
    "x41_media_dispatch5" -> (x41 _),
    "x40_postings" -> (x40 _),
    "x39_len_quantiles" -> (x39 _),
    "x38_contamination" -> (x38 _),
    "x37_video_frames" -> (x37 _),
    "x36_jpeg_decode" -> (x36 _),
    "x35_media_dispatch" -> (x35 _),
    "x34_gif_pixels" -> (x34 _),
    "x33_rare_terms" -> (x33 _),
    "x32_skew_report" -> (x32 _),
    "x29_pack" -> (x29 _),
    "x30_sample" -> (x30 _),
    "x31_bloom_semijoin" -> (x31 _),
    "x27_image_pixels" -> (x27 _),
    "x28_audio_samples" -> (x28 _),
    "x21_pii_redact" -> (x21 _),
    "x22_repetition" -> (x22 _),
    "x23_audio_meta" -> (x23 _),
    "x24_ann_recall" -> (x24 _),
    "x25_video_meta" -> (x25 _),
    "x26_line_dedup" -> (x26 _),
    "x20_range_join" -> (x20 _),
    "x19_asof_join" -> (x19 _),
    "x17_sessions" -> (x17 _),
    "x18_rollup" -> (x18 _),
    "x13_dedup_groups" -> (x13 _),
    "x14_vocab" -> (x14 _),
    "x15_top_tokens" -> (x15 _),
    "x16_ann_ivf" -> (x16 _),
    "x1_dedup_exact" -> (x1 _),
    "x2_dedup_minhash" -> (x2 _),
    "x3_dedup_simhash" -> (x3 _),
    "x4_dedup_ngram" -> (x4 _),
    "x5_dedup_embed" -> (x5 _),
    "x6_ann_brute" -> (x6 _),
    "x7_ann_lsh" -> (x7 _),
    "x8_text_langid" -> (x8 _),
    "x9_text_quality" -> (x9 _),
    "x10_text_tokens" -> (x10 _),
    "x11_text_fingerprint" -> (x11 _),
    "x12_multimodal_meta" -> (x12 _),
  )

  // DuckDB-expressible subset. Hash-sketch queries (x2,x3,x7,x13,x16)
  // are deliberately omitted → rows-only check (their signatures/
  // centroids are engine-specific). The float-cosine queries x5/x6 ARE
  // oracle-checked: both engines accumulate the dot product in double
  // over the same element order, agree to <1e-12 (validated at every
  // sf), and the nearest 4-dp rounding boundary / threshold / rank
  // crossover sits ≥1e-7 away — so round(cos,4) hash-matches.
  def oracleSql: Map[String, String] = Map(
    // x146: FULL exact oracle — DuckDB recomputes the arithmetic hash
    // (banded-seed byte mix XOR doc-keyed bit-run mask) and the
    // complete hamming<=7 pair set from a direct quadratic self-join;
    // the engine's 8x8-bit chunk pigeonhole must reproduce it exactly
    "x146_radius7_near_dup" ->
      """WITH ids AS (SELECT doc_id,
        |    (doc_id % 251) + (doc_id // 10000000) * 251 AS g,
        |    doc_id % 23 AS c
        |  FROM documents),
        |hsh AS (SELECT doc_id,
        |    xor(
        |      (((g*31)%251 + (g*17)%257)%256)
        |      + (((g*67)%251 + (g*29)%257)%256) * (1::BIGINT << 8)
        |      + (((g*101)%251 + (g*41)%257)%256) * (1::BIGINT << 16)
        |      + (((g*151)%251 + (g*53)%257)%256) * (1::BIGINT << 24)
        |      + (((g*197)%251 + (g*71)%257)%256) * (1::BIGINT << 32)
        |      + (((g*223)%251 + (g*83)%257)%256) * (1::BIGINT << 40)
        |      + (((g*13)%251 + (g*97)%257)%256) * (1::BIGINT << 48)
        |      + (((g*89)%251 + (g*113)%257)%128) * (1::BIGINT << 56),
        |      ((1::BIGINT << (c % 9)) - 1) << ((c * 7) % 56)
        |    ) AS h
        |  FROM ids)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 7
        |ORDER BY id_a, id_b""".stripMargin,
    // x149: FULL exact oracle for the GOVERNED radius-7 path — DuckDB
    // recomputes the hashes (x146 arithmetic + low-chunk override),
    // the hot buckets at cap 64, the capped pair set from first
    // principles (surviving pair ⇔ some within-1-bit chunk has a cold
    // endpoint bucket), AND the drop report rows
    "x149_radius7_capped" ->
      """WITH ids AS (SELECT doc_id,
        |    (doc_id % 251) + (doc_id // 10000000) * 251 AS g,
        |    doc_id % 23 AS c
        |  FROM documents),
        |h0 AS (SELECT doc_id,
        |    xor(
        |      (((g*31)%251 + (g*17)%257)%256)
        |      + (((g*67)%251 + (g*29)%257)%256) * (1::BIGINT << 8)
        |      + (((g*101)%251 + (g*41)%257)%256) * (1::BIGINT << 16)
        |      + (((g*151)%251 + (g*53)%257)%256) * (1::BIGINT << 24)
        |      + (((g*197)%251 + (g*71)%257)%256) * (1::BIGINT << 32)
        |      + (((g*223)%251 + (g*83)%257)%256) * (1::BIGINT << 40)
        |      + (((g*13)%251 + (g*97)%257)%256) * (1::BIGINT << 48)
        |      + (((g*89)%251 + (g*113)%257)%128) * (1::BIGINT << 56),
        |      ((1::BIGINT << (c % 9)) - 1) << ((c * 7) % 56)
        |    ) AS h
        |  FROM ids),
        |hsh AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN (h & CAST(-65536 AS BIGINT)) | 23130
        |      ELSE h END AS h
        |  FROM h0),
        |ch AS (SELECT doc_id, (h >> (16*p)) & 65535 AS cv, p
        |  FROM hsh, (VALUES (0),(1),(2),(3)) AS t(p)),
        |hot AS (SELECT p, cv, COUNT(*) AS n
        |  FROM ch GROUP BY 1, 2 HAVING COUNT(*) > 64),
        |pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    bit_count(xor(a.h, b.h)) AS d, a.h AS ha, b.h AS hb
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.h, b.h)) <= 7),
        |kept AS (SELECT ia, ib, d FROM pr
        |  WHERE EXISTS (
        |    SELECT 1 FROM (VALUES (0),(1),(2),(3)) AS t(q)
        |    WHERE bit_count(xor((pr.ha >> (16*q)) & 65535,
        |                        (pr.hb >> (16*q)) & 65535)) <= 1
        |      AND (NOT EXISTS (SELECT 1 FROM hot
        |             WHERE hot.p = t.q
        |               AND hot.cv = (pr.ha >> (16*q)) & 65535)
        |        OR NOT EXISTS (SELECT 1 FROM hot
        |             WHERE hot.p = t.q
        |               AND hot.cv = (pr.hb >> (16*q)) & 65535))))
        |SELECT * FROM (
        |  SELECT 'pair' AS kind, ia AS a, ib AS b, CAST(d AS BIGINT) AS v
        |  FROM kept
        |  UNION ALL
        |  SELECT 'drop' AS kind, CAST(p AS BIGINT) AS a,
        |    CAST(cv AS BIGINT) AS b, CAST(n AS BIGINT) AS v
        |  FROM hot
        |) ORDER BY kind, a, b""".stripMargin,
    // identical tie-closed-form rank sums over the (source, value,
    // count) frame; two final IEEE divisions
    "x132_gini" ->
      """WITH bv AS (SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars >= 0 GROUP BY 1, 2),
        |w AS (SELECT source, v, c,
        |    coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cb
        |  FROM bv),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS total,
        |    CAST(sum(v * c * (2*cb + c + 1)) AS BIGINT) AS num
        |  FROM w GROUP BY source)
        |SELECT source, n, total,
        |  CASE WHEN total > 0 AND n > 1 THEN
        |    round(CAST(num AS DOUBLE) / CAST(n * total AS DOUBLE)
        |      - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 9) + 0.0
        |    END AS gini_r
        |FROM g ORDER BY source""".stripMargin,
    // x134: dedup-gate pattern on the image family — anchors are pure
    // doc_id arithmetic (mod-251 identical groups); the hash/pair
    // verification booleans are engine-computed, pinned TRUE.
    // x138: FULL exact oracle — cross pairs are exactly the even×odd
    // residue join (hash-equality pairs, probed hamming-14 floor).
    // x143: FULL exact oracle — the streaming screen's plan in batch
    // mode; identical pair set to x139 (and a duplicate emission
    // would hash-fail, proving the exactly-once filter)
    "x143_frozen_screen" ->
      """WITH a AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM a JOIN b USING (g) ORDER BY id_a, id_b""".stripMargin,
    // x142: FULL exact oracle — same relational shape as x137; the
    // format mix (PNG/GIF/JPEG by doc_id mod 3) is invisible to the
    // oracle because all three formats hash identically on the cell
    // fixture (exhaustively probed, JpegDHashSpec)
    "x142_mixed_curation" ->
      """WITH d AS (SELECT doc_id, doc_id % 251 AS g,
        |    doc_id % 7 AS quality FROM documents),
        |gc AS (SELECT g, COUNT(*) AS c FROM d GROUP BY g),
        |w AS (SELECT d.doc_id, d.quality, gc.c,
        |    row_number() OVER (PARTITION BY d.g
        |      ORDER BY d.quality DESC, d.doc_id) AS rn
        |  FROM d JOIN gc USING (g))
        |SELECT doc_id, CAST(quality AS BIGINT) AS quality,
        |  CAST(c AS BIGINT) AS n_copies
        |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // x141: FULL exact oracle — groups are the mod-251 residues;
    // quality recomputed FROM TEXT (the x9 score refined by n_tokens)
    "x141_quality_curation" ->
      """WITH f AS (SELECT doc_id, doc_id % 251 AS g,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|a|is)\b')) AS BIGINT) AS stop_hits,
        |    CAST(length(text) AS BIGINT) AS len_chars
        |  FROM documents),
        |d AS (SELECT doc_id, g,
        |    CAST(CASE WHEN n_tokens BETWEEN 10 AND 100000
        |        THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(stop_hits AS DOUBLE)
        |          / CAST(n_tokens AS DOUBLE) > 0.0 THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(len_chars AS DOUBLE)
        |          / CAST(n_tokens AS DOUBLE) BETWEEN 2.0 AND 12.0
        |        THEN 1 ELSE 0 END AS BIGINT)
        |      * 4294967296 + n_tokens AS quality
        |  FROM f),
        |gc AS (SELECT g, COUNT(*) AS c FROM d GROUP BY g),
        |w AS (SELECT d.doc_id, d.quality, gc.c,
        |    row_number() OVER (PARTITION BY d.g
        |      ORDER BY d.quality DESC, d.doc_id) AS rn
        |  FROM d JOIN gc USING (g))
        |SELECT doc_id, quality, CAST(c AS BIGINT) AS n_copies
        |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // x140: FULL exact oracle — even-phase survivor per residue, then
    // the incremental election over {even survivor} ∪ odds with
    // accumulated n_copies (prior weight + batch count)
    "x140_curation_increment" ->
      """WITH d AS (SELECT doc_id, doc_id % 251 AS g,
        |    doc_id % 7 AS quality FROM documents),
        |e AS (SELECT * FROM d WHERE doc_id % 2 = 0),
        |o AS (SELECT * FROM d WHERE doc_id % 2 = 1),
        |ec AS (SELECT g, COUNT(*) AS n_e FROM e GROUP BY g),
        |es AS (SELECT g, doc_id, quality FROM (
        |    SELECT e.*, row_number() OVER (PARTITION BY g
        |      ORDER BY quality DESC, doc_id) AS rn FROM e)
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT es.g, es.doc_id, es.quality, ec.n_e AS w
        |  FROM es JOIN ec USING (g)
        |  UNION ALL
        |  SELECT g, doc_id, quality, 1 AS w FROM o),
        |gc AS (SELECT g, CAST(SUM(w) AS BIGINT) AS n_copies
        |  FROM cand GROUP BY g),
        |w AS (SELECT cand.g, cand.doc_id, cand.quality, gc.n_copies,
        |    row_number() OVER (PARTITION BY cand.g
        |      ORDER BY cand.quality DESC, cand.doc_id) AS rn
        |  FROM cand JOIN gc USING (g))
        |SELECT doc_id, CAST(quality AS BIGINT) AS quality, n_copies
        |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // x139: FULL exact oracle — PNG (even) × JPEG (odd) residue join;
    // the lossy re-encode hashes identically on the block-margin cell
    // fixture (all 251 seeds probed), so hamming is exactly 0.
    "x139_jpeg_cross_dedup" ->
      """WITH a AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM a JOIN b USING (g) ORDER BY id_a, id_b""".stripMargin,
    // x148: x41's dims-arithmetic oracle extended to six modalities
    "x148_media_dispatch6" ->
      """SELECT doc_id,
        |  CASE doc_id % 6 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
        |    WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'image/jpeg'
        |    WHEN 4 THEN 'video/mp4' ELSE 'image/webp' END AS media_type,
        |  CASE doc_id % 6
        |    WHEN 0 THEN CAST(doc_id % 97 + 4 AS BIGINT)
        |    WHEN 1 THEN CAST(doc_id % 47 + 4 AS BIGINT)
        |    WHEN 2 THEN CAST(NULL AS BIGINT)
        |    WHEN 3 THEN CAST(doc_id % 61 + 8 AS BIGINT)
        |    WHEN 4 THEN CAST(doc_id % 31 + 4 AS BIGINT)
        |    ELSE CAST(doc_id % 43 + 9 AS BIGINT) END AS width,
        |  CASE doc_id % 6
        |    WHEN 0 THEN CAST(doc_id % 53 + 3 AS BIGINT)
        |    WHEN 1 THEN CAST(doc_id % 29 + 3 AS BIGINT)
        |    WHEN 2 THEN CAST(NULL AS BIGINT)
        |    WHEN 3 THEN CAST(doc_id % 37 + 8 AS BIGINT)
        |    WHEN 4 THEN CAST(doc_id % 17 + 3 AS BIGINT)
        |    ELSE CAST(doc_id % 23 + 8 AS BIGINT) END AS height,
        |  CASE doc_id % 6
        |    WHEN 0 THEN CAST((doc_id % 97 + 4) * (doc_id % 53 + 3) AS BIGINT)
        |    WHEN 1 THEN CAST((doc_id % 47 + 4) * (doc_id % 29 + 3) * 3 AS BIGINT)
        |    WHEN 2 THEN CAST(doc_id % 400 + 100 AS BIGINT)
        |    WHEN 3 THEN CAST((doc_id % 61 + 8) * (doc_id % 37 + 8) AS BIGINT)
        |    WHEN 4 THEN CAST((doc_id % 9 + 2) * (doc_id % 31 + 4) * (doc_id % 17 + 3)
        |      AS BIGINT)
        |    ELSE CAST((doc_id % 43 + 9) * (doc_id % 23 + 8) AS BIGINT)
        |    END AS n_samples
        |FROM documents ORDER BY doc_id""".stripMargin,
    // x145: FULL exact oracle — the three-phase incremental chain
    // (even bootstrap, two odd mini-batches) recomputed per residue:
    // each phase elects among {prior survivor at its accumulated
    // weight} ∪ the batch, quality DESC then doc_id; n_copies sums
    "x145_curation_store" ->
      """WITH d AS (SELECT doc_id, doc_id % 251 AS g,
        |    doc_id % 7 AS quality FROM documents),
        |e AS (SELECT * FROM d WHERE doc_id % 2 = 0),
        |b1 AS (SELECT * FROM d WHERE doc_id % 4 = 1),
        |b2 AS (SELECT * FROM d WHERE doc_id % 4 = 3),
        |s0 AS (SELECT g, doc_id, quality, n_copies FROM (
        |    SELECT e.g, e.doc_id, e.quality,
        |      CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n_copies,
        |      row_number() OVER (PARTITION BY g
        |        ORDER BY quality DESC, doc_id) AS rn
        |    FROM e) WHERE rn = 1),
        |c1 AS (SELECT g, doc_id, quality, n_copies AS w FROM s0
        |  UNION ALL SELECT g, doc_id, quality, 1 AS w FROM b1),
        |s1 AS (SELECT g, doc_id, quality, n_copies FROM (
        |    SELECT c1.g, c1.doc_id, c1.quality,
        |      CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS n_copies,
        |      row_number() OVER (PARTITION BY g
        |        ORDER BY quality DESC, doc_id) AS rn
        |    FROM c1) WHERE rn = 1),
        |c2 AS (SELECT g, doc_id, quality, n_copies AS w FROM s1
        |  UNION ALL SELECT g, doc_id, quality, 1 AS w FROM b2),
        |s2 AS (SELECT g, doc_id, quality, n_copies FROM (
        |    SELECT c2.g, c2.doc_id, c2.quality,
        |      CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS n_copies,
        |      row_number() OVER (PARTITION BY g
        |        ORDER BY quality DESC, doc_id) AS rn
        |    FROM c2) WHERE rn = 1)
        |SELECT doc_id, CAST(quality AS BIGINT) AS quality, n_copies
        |FROM s2 ORDER BY doc_id""".stripMargin,
    // x147: FULL exact oracle — a 2:1 frame decimation and the
    // canonical-rate fingerprint of the original decimate to the
    // SAME frame sequence (bit-identical fingerprints, probed per
    // banded seed), so cross pairs are the even×odd residue join
    "x147_audio_resample_dedup" ->
      """WITH a AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM a JOIN b USING (g) ORDER BY id_a, id_b""".stripMargin,
    // x144: FULL exact oracle — WebP-lossless re-saves hash
    // bit-identically to the PNG originals on the cell fixture
    // (probed over every banded seed), so cross pairs are exactly the
    // even×odd residue join at hamming 0, same anchor as x138/x139
    "x144_webp_cross_dedup" ->
      """WITH a AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM a JOIN b USING (g) ORDER BY id_a, id_b""".stripMargin,
    "x138_cross_dedup" ->
      """WITH a AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, doc_id % 251 AS g FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM a JOIN b USING (g) ORDER BY id_a, id_b""".stripMargin,
    // x137: FULL exact oracle — groups are the mod-251 residue
    // classes (hash-equality pairs only; cross-seed hamming floor 14
    // probed), survivor = argmax quality / min id, n_copies = class
    // size (1 for singletons, which never enter a group).
    "x137_near_dup_curation" ->
      """WITH d AS (SELECT doc_id, doc_id % 251 AS g,
        |    doc_id % 7 AS quality FROM documents),
        |gc AS (SELECT g, COUNT(*) AS c FROM d GROUP BY g),
        |w AS (SELECT d.doc_id, d.quality, gc.c,
        |    row_number() OVER (PARTITION BY d.g
        |      ORDER BY d.quality DESC, d.doc_id) AS rn
        |  FROM d JOIN gc USING (g))
        |SELECT doc_id, CAST(quality AS BIGINT) AS quality,
        |  CAST(c AS BIGINT) AS n_copies
        |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "x136_video_fingerprint" ->
      """WITH g AS (SELECT doc_id % 251 AS g FROM documents),
        |grp AS (SELECT g, COUNT(*) AS c FROM g GROUP BY g)
        |SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_videos,
        |  CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT)
        |    AS n_identical_pairs,
        |  TRUE AS identical_all_emitted_h0,
        |  TRUE AS emitted_pairs_verified
        |FROM grp""".stripMargin,
    "x135_audio_fingerprint" ->
      """WITH g AS (SELECT doc_id % 251 AS g FROM documents),
        |grp AS (SELECT g, COUNT(*) AS c FROM g GROUP BY g)
        |SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_streams,
        |  CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT)
        |    AS n_identical_pairs,
        |  TRUE AS identical_all_emitted_h0,
        |  TRUE AS emitted_pairs_verified
        |FROM grp""".stripMargin,
    "x134_image_dhash" ->
      """WITH g AS (SELECT doc_id % 251 AS g FROM documents),
        |grp AS (SELECT g, COUNT(*) AS c FROM g GROUP BY g)
        |SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_images,
        |  CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT)
        |    AS n_identical_pairs,
        |  TRUE AS identical_all_emitted_h0,
        |  TRUE AS emitted_pairs_verified
        |FROM grp""".stripMargin,
    // confusion cells through the independent langid CASE; kappa from
    // pure integer counts
    "x133_kappa" ->
      """WITH pred AS (SELECT lang, CASE
        |    WHEN hits_en > 0 AND hits_en >= hits_fr AND hits_en >= hits_es
        |      AND hits_en >= hits_de AND hits_en >= hits_zh THEN 'en'
        |    WHEN hits_fr > 0 AND hits_fr >= hits_es AND hits_fr >= hits_de
        |      AND hits_fr >= hits_zh THEN 'fr'
        |    WHEN hits_es > 0 AND hits_es >= hits_de AND hits_es >= hits_zh
        |      THEN 'es'
        |    WHEN hits_de > 0 AND hits_de >= hits_zh THEN 'de'
        |    WHEN hits_zh > 0 THEN 'zh'
        |    ELSE 'und' END AS pred
        |  FROM (SELECT lang,
        |    len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|a|is)\b')) AS hits_en,
        |    len(regexp_extract_all(lower(text),
        |      '\b(le|la|les|et|des|un|est)\b')) AS hits_fr,
        |    len(regexp_extract_all(lower(text),
        |      '\b(el|los|las|y|que|un|es)\b')) AS hits_es,
        |    len(regexp_extract_all(lower(text),
        |      '\b(der|die|und|das|ist|ein|zu)\b')) AS hits_de,
        |    len(regexp_extract_all(lower(text),
        |      '(的|是|在|了|不|我|有)')) AS hits_zh
        |    FROM documents)),
        |cells AS (SELECT lang AS a, pred AS b, count(*) AS c
        |  FROM pred WHERE lang IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n
        |  FROM cells),
        |ag AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_agree
        |  FROM cells WHERE a = b),
        |mp AS (SELECT CAST(coalesce(sum(ra * cb), 0) AS BIGINT) AS ps
        |  FROM (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM cells
        |        GROUP BY a) r
        |  JOIN (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells
        |        GROUP BY b) cc ON r.a = cc.b)
        |SELECT tot.n, ag.n_agree,
        |  CASE WHEN tot.n > 0 THEN round(CAST(ag.n_agree AS DOUBLE)
        |    / CAST(tot.n AS DOUBLE), 9) + 0.0 END AS po_r,
        |  CASE WHEN tot.n > 0 THEN round(CAST(mp.ps AS DOUBLE)
        |    / CAST(tot.n * tot.n AS DOUBLE), 9) + 0.0 END AS pe_r,
        |  CASE WHEN tot.n > 0 AND mp.ps <> tot.n * tot.n THEN
        |    round((CAST(ag.n_agree AS DOUBLE) / CAST(tot.n AS DOUBLE)
        |      - CAST(mp.ps AS DOUBLE) / CAST(tot.n * tot.n AS DOUBLE))
        |      / (1.0 - CAST(mp.ps AS DOUBLE)
        |         / CAST(tot.n * tot.n AS DOUBLE)), 9) + 0.0 END AS kappa_r
        |FROM tot, ag, mp""".stripMargin,
    // identical six-BIGINT-sum closed forms; min-x shift replayed
    "x130_trend" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_ms(ts) // 86400000 AS day, count(*) AS n_day
        |  FROM events GROUP BY 1, 2),
        |mn AS (SELECT min(day) AS xmin FROM daily),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(day - xmin) AS BIGINT) AS sx,
        |    CAST(sum(n_day) AS BIGINT) AS sy,
        |    CAST(sum((day - xmin) * n_day) AS BIGINT) AS sxy,
        |    CAST(sum((day - xmin) * (day - xmin)) AS BIGINT) AS sxx,
        |    CAST(sum(n_day * n_day) AS BIGINT) AS syy
        |  FROM daily, mn GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN n*sxx - sx*sx > 0 THEN
        |    round(CAST(n*sxy - sx*sy AS DOUBLE)
        |      / CAST(n*sxx - sx*sx AS DOUBLE), 9) + 0.0 END AS slope_r,
        |  CASE WHEN n*sxx - sx*sx > 0 THEN
        |    round(CAST(sy*sxx - sx*sxy AS DOUBLE)
        |      / CAST(n*sxx - sx*sx AS DOUBLE), 9) + 0.0 END AS intercept_r,
        |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
        |    round(CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) AS DOUBLE)
        |      / CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS DOUBLE), 9) + 0.0
        |    END AS r2_r
        |FROM s ORDER BY event_type""".stripMargin,
    // same clamped declared bins, same share divisions, same
    // (p_a−p_b)·ln(p_a/p_b) expression shape
    "x131_psi" ->
      """WITH tagged AS (
        |  SELECT least(greatest(CAST(floor((value - 0.0) / 50.0)
        |      AS BIGINT), 0), 11) AS bin,
        |    CASE WHEN epoch_ms(ts) // 86400000 < 19738 THEN 0 ELSE 1
        |      END AS side
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT bin,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM tagged GROUP BY bin),
        |p AS (SELECT bin, n_a, n_b,
        |    CAST(n_a AS DOUBLE) / CAST(sum(n_a) OVER () AS DOUBLE)
        |      AS p_a,
        |    CAST(n_b AS DOUBLE) / CAST(sum(n_b) OVER () AS DOUBLE)
        |      AS p_b
        |  FROM c)
        |SELECT bin, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    round((p_a - p_b) * ln(p_a / p_b), 4) + 0.0 END AS psi_term_r,
        |  round(p_a, 9) + 0.0 AS p_a_r, round(p_b, 9) + 0.0 AS p_b_r
        |FROM p ORDER BY bin""".stripMargin,
    // the sketch rebuilt cell-for-cell in SQL (declared mod-hash):
    // GROUP BY (i, bucket) = the d×w matrix, min over rows = estimate
    "x129_cms" ->
      """WITH cms AS (
        |  SELECT t.i,
        |    ((user_id * (2*t.i + 3) + (5*t.i + 11)) % 2147483647) % 64
        |      AS bucket,
        |    count(*) AS cnt
        |  FROM events CROSS JOIN generate_series(0, 3) t(i)
        |  GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT user_id FROM events
        |           WHERE user_id < 20),
        |pb AS (SELECT p.user_id, t.i,
        |    ((p.user_id * (2*t.i + 3) + (5*t.i + 11)) % 2147483647)
        |      % 64 AS bucket
        |  FROM probes p CROSS JOIN generate_series(0, 3) t(i)),
        |est AS (SELECT pb.user_id,
        |    CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est
        |  FROM pb LEFT JOIN cms
        |    ON cms.i = pb.i AND cms.bucket = pb.bucket
        |  GROUP BY 1),
        |ex AS (SELECT user_id, count(*) AS n_exact FROM events
        |       WHERE user_id < 20 GROUP BY 1)
        |SELECT est.user_id, est.est, ex.n_exact,
        |  CAST(est.est - ex.n_exact AS BIGINT) AS overcount
        |FROM est JOIN ex USING (user_id) ORDER BY user_id""".stripMargin,
    // the frame-mean series replayed from doc_id arithmetic alone
    // (pixel (f,x,y) = (seed + f*31 + x) % 256, y-independent):
    // independent of muxer AND demuxer; same IEEE mean/diff shapes
    "x128_scene_cuts" ->
      """WITH p AS (SELECT doc_id, doc_id % 31 + 4 AS w,
        |    doc_id % 17 + 3 AS h, doc_id % 9 + 2 AS nf,
        |    doc_id % 241 AS seed
        |  FROM documents),
        |fx AS (SELECT doc_id, w, h, nf, f.f AS f,
        |    CAST(sum((seed + f.f * 31 + x.x) % 256) AS BIGINT) AS sx
        |  FROM p
        |  CROSS JOIN generate_series(0, 9) f(f)
        |  CROSS JOIN generate_series(0, 34) x(x)
        |  WHERE f.f < nf AND x.x < w
        |  GROUP BY 1, 2, 3, 4, 5),
        |m AS (SELECT doc_id, f,
        |    CAST(sx * h AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean
        |  FROM fx),
        |d AS (SELECT doc_id, f,
        |    mean - lag(mean) OVER (PARTITION BY doc_id ORDER BY f)
        |      AS diff
        |  FROM m),
        |dd AS (SELECT doc_id, f, diff FROM d WHERE diff IS NOT NULL)
        |SELECT p.doc_id, CAST(p.nf AS BIGINT) AS n_frames,
        |  CAST(coalesce(sum(CASE WHEN abs(diff) >
        |    CAST(98.0 AS DOUBLE) THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS n_cuts,
        |  CAST(min(CASE WHEN abs(diff) > CAST(98.0 AS DOUBLE)
        |    THEN f END) AS BIGINT) AS first_cut,
        |  round(max(abs(diff)), 9) + 0.0 AS max_jump_r
        |FROM p LEFT JOIN dd ON dd.doc_id = p.doc_id
        |GROUP BY p.doc_id, p.nf ORDER BY p.doc_id""".stripMargin,
    // the x8/x9/x10 replays composed: independent DuckDB regex/split
    // formulations of every registered function in the SQL query
    "x127_sql_text" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
        |    AS bpeish_tokens,
        |  CASE
        |    WHEN hits_en > 0 AND hits_en >= hits_fr AND hits_en >= hits_es
        |      AND hits_en >= hits_de AND hits_en >= hits_zh THEN 'en'
        |    WHEN hits_fr > 0 AND hits_fr >= hits_es AND hits_fr >= hits_de
        |      AND hits_fr >= hits_zh THEN 'fr'
        |    WHEN hits_es > 0 AND hits_es >= hits_de AND hits_es >= hits_zh
        |      THEN 'es'
        |    WHEN hits_de > 0 AND hits_de >= hits_zh THEN 'de'
        |    WHEN hits_zh > 0 THEN 'zh'
        |    ELSE 'und' END AS pred_lang,
        |  CAST(hits_en AS BIGINT) AS stop_hits,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS n_punct
        |FROM (SELECT doc_id, text,
        |  len(regexp_extract_all(lower(text),
        |    '\b(the|and|of|to|in|a|is)\b')) AS hits_en,
        |  len(regexp_extract_all(lower(text),
        |    '\b(le|la|les|et|des|un|est)\b')) AS hits_fr,
        |  len(regexp_extract_all(lower(text),
        |    '\b(el|los|las|y|que|un|es)\b')) AS hits_es,
        |  len(regexp_extract_all(lower(text),
        |    '\b(der|die|und|das|ist|ein|zu)\b')) AS hits_de,
        |  len(regexp_extract_all(lower(text),
        |    '(的|是|在|了|不|我|有)')) AS hits_zh
        |  FROM documents)
        |WHERE len(list_filter(string_split_regex(text, '\s+'),
        |  x -> x <> '')) > 0
        |ORDER BY doc_id""".stripMargin,
    // x74's metric derivation (exploded GROUP BY) + an independent
    // first-fail CASE chain and window-cumulative funnel
    "x126_gate_attrition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |                x -> x <> '') AS t
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |          CAST(sum(c * len(tok)) AS BIGINT) AS total_chars,
        |          CAST(max(c) AS BIGINT) AS top_count
        |        FROM cnt GROUP BY doc_id),
        |hits AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|a|is)\b')) AS BIGINT) AS stop_hits
        |  FROM documents),
        |m AS (SELECT a.doc_id, n_words,
        |    CAST(total_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
        |      AS mean_len,
        |    h.stop_hits,
        |    CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE)
        |      AS top_share
        |  FROM agg a JOIN hits h USING (doc_id) WHERE n_words > 0),
        |ff AS (SELECT doc_id, CASE
        |    WHEN NOT (n_words >= 5 AND n_words <= 200) THEN 0
        |    WHEN NOT (mean_len >= 2.0 AND mean_len <= 10.0) THEN 1
        |    WHEN NOT (stop_hits >= 1) THEN 2
        |    WHEN NOT (top_share <= 0.2) THEN 3
        |    ELSE 4 END AS fs FROM m),
        |c AS (SELECT fs, count(*) AS n FROM ff GROUP BY fs),
        |s(stage_idx, stage) AS (VALUES (0, 'word_count'),
        |  (1, 'mean_word_len'), (2, 'stopwords'), (3, 'repetition')),
        |t AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total
        |      FROM c),
        |j AS (SELECT CAST(s.stage_idx AS BIGINT) AS stage_idx, s.stage,
        |        CAST(coalesce(c.n, 0) AS BIGINT) AS n_failed
        |      FROM s LEFT JOIN c ON c.fs = s.stage_idx),
        |f AS (SELECT j.stage_idx, j.stage, j.n_failed,
        |    t.total - CAST(sum(j.n_failed) OVER (ORDER BY j.stage_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) + j.n_failed AS n_in
        |  FROM j, t)
        |SELECT stage_idx, stage, n_in, n_failed,
        |  n_in - n_failed AS n_out,
        |  CAST(CASE WHEN n_in > 0 THEN round(CAST(n_failed AS DOUBLE)
        |      / CAST(n_in AS DOUBLE), 9) + 0.0 ELSE 0.0 END AS DOUBLE)
        |    AS drop_rate_r
        |FROM f ORDER BY stage_idx""".stripMargin,
    // BRUTE-FORCE all-pairs Jaccard (no prefix filter, no ordering):
    // hash equality certifies the engine's pruning is lossless
    "x124_prefix_jaccard" ->
      """WITH salted AS (
        |  SELECT doc_id, 'u' || CAST(doc_id AS VARCHAR) || 'a u'
        |    || CAST(doc_id AS VARCHAR) || 'b u'
        |    || CAST(doc_id AS VARCHAR) || 'c ' || text AS text
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM salted
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_slice(toks, 1,
        |      CAST(ceil(0.8 * len(toks)) AS BIGINT)), ' ')
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'),
        |            x -> x <> '') AS toks
        |        FROM salted)),
        |toksets AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS t
        |  FROM corpus),
        |sz AS (SELECT doc_id, len(t) AS n FROM toksets WHERE len(t) > 0),
        |ex AS (SELECT doc_id, unnest(t) AS tok FROM toksets),
        |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS o
        |       FROM ex a JOIN ex b
        |         ON a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(sa.n AS BIGINT) AS n_a,
        |  CAST(sb.n AS BIGINT) AS n_b, CAST(o AS BIGINT) AS overlap,
        |  round(CAST(o AS DOUBLE) / CAST(sa.n + sb.n - o AS DOUBLE), 9) + 0.0
        |    AS jaccard_r
        |FROM ov
        |JOIN sz sa ON sa.doc_id = doc_a
        |JOIN sz sb ON sb.doc_id = doc_b
        |WHERE CAST(o AS DOUBLE) / CAST(sa.n + sb.n - o AS DOUBLE)
        |  >= 0.95
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the same magic-mask Morton interleave in DuckDB's native bit
    // operators; normalization is pure integer `//` — bit-for-bit
    "x125_zorder" ->
      """WITH st AS (SELECT min(l_partkey) amn, max(l_partkey) amx,
        |    min(l_suppkey) bmn, max(l_suppkey) bmx FROM lineitem),
        |nm AS (SELECT l_partkey, l_suppkey,
        |    (l_partkey - amn) * 65536 // (amx - amn + 1) AS an,
        |    (l_suppkey - bmn) * 65536 // (bmx - bmn + 1) AS bn
        |  FROM lineitem, st),
        |s1 AS (SELECT l_partkey, l_suppkey,
        |    ((an | (an << 8)) & 16711935) AS a1,
        |    ((bn | (bn << 8)) & 16711935) AS b1 FROM nm),
        |s2 AS (SELECT l_partkey, l_suppkey,
        |    ((a1 | (a1 << 4)) & 252645135) AS a2,
        |    ((b1 | (b1 << 4)) & 252645135) AS b2 FROM s1),
        |s3 AS (SELECT l_partkey, l_suppkey,
        |    ((a2 | (a2 << 2)) & 858993459) AS a3,
        |    ((b2 | (b2 << 2)) & 858993459) AS b3 FROM s2),
        |zz AS (SELECT l_partkey, l_suppkey,
        |    (((a3 | (a3 << 1)) & 1431655765)
        |     | (((b3 | (b3 << 1)) & 1431655765) << 1)) AS z FROM s3)
        |SELECT z // (1::BIGINT << 26) AS bucket,
        |  count(*) AS n,
        |  CAST(min(l_partkey) AS BIGINT) AS a_min,
        |  CAST(max(l_partkey) AS BIGINT) AS a_max,
        |  CAST(min(l_suppkey) AS BIGINT) AS b_min,
        |  CAST(max(l_suppkey) AS BIGINT) AS b_max,
        |  CAST(max(l_partkey) - min(l_partkey) + 1 AS BIGINT) AS span_a,
        |  CAST(max(l_suppkey) - min(l_suppkey) + 1 AS BIGINT) AS span_b
        |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin,
    // one tall (hypothesis, det, dep) frame grouped twice — group
    // strings never cross engines (only counts do), so cast-to-string
    // formatting only needs to be injective WITHIN each engine
    "x121_fd_profile" ->
      """WITH t AS (
        |  SELECT 'c_custkey->c_mktsegment' AS hypothesis,
        |    CAST(c_custkey AS VARCHAR) AS det, c_mktsegment AS dep
        |  FROM customer
        |  UNION ALL SELECT 'c_name->c_acctbal', c_name,
        |    CAST(c_acctbal AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c_nationkey->c_mktsegment',
        |    CAST(c_nationkey AS VARCHAR), c_mktsegment FROM customer
        |  UNION ALL SELECT 'c_mktsegment->c_nationkey', c_mktsegment,
        |    CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c_nationkey,c_mktsegment->c_custkey',
        |    CAST(c_nationkey AS VARCHAR) || chr(1) || c_mktsegment,
        |    CAST(c_custkey AS VARCHAR) FROM customer),
        |g AS (SELECT hypothesis, det, count(DISTINCT dep) AS n_dep,
        |        count(*) AS nr
        |      FROM t GROUP BY 1, 2)
        |SELECT hypothesis, count(*) AS n_groups,
        |  CAST(sum(nr) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS violating_groups,
        |  CAST(max(n_dep) AS BIGINT) AS max_dep_per_det,
        |  CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
        |    AS holds,
        |  count(*) = CAST(sum(nr) AS BIGINT) AS det_is_unique
        |FROM g GROUP BY hypothesis ORDER BY hypothesis""".stripMargin,
    // leading digit from the exact-cent decimal string; expected
    // shares are the same 15-digit literals the engine embeds, cast
    // to DOUBLE so DuckDB's DECIMAL literal type can't leak out
    "x122_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(abs(CAST(round(l_extendedprice * 100, 0)
        |      AS BIGINT)) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL
        |    AND abs(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) >= 1),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
        |e AS (SELECT c.digit, c.n,
        |    round(CAST(c.n AS DOUBLE) / CAST(tot.t AS DOUBLE), 9) + 0.0
        |      AS frac_r,
        |    CAST(CASE c.digit
        |      WHEN 1 THEN 0.301029995663981 WHEN 2 THEN 0.176091259055681
        |      WHEN 3 THEN 0.124938736608300 WHEN 4 THEN 0.096910013008056
        |      WHEN 5 THEN 0.079181246047625 WHEN 6 THEN 0.066946789630613
        |      WHEN 7 THEN 0.057991946977687 WHEN 8 THEN 0.051152522447381
        |      WHEN 9 THEN 0.045757490560675 END AS DOUBLE) AS expected
        |  FROM c, tot)
        |SELECT digit, n, frac_r, expected,
        |  round(frac_r - expected, 9) + 0.0 AS excess_r
        |FROM e ORDER BY digit""".stripMargin,
    // integer CUSUM replayed with window functions: cumulative count
    // minus the i·T closed form, all BIGINT — an independent
    // formulation of the same recurrence
    "x123_changepoint" ->
      """WITH c AS (SELECT epoch_ms(ts) // 86400000 AS bucket,
        |    count(*) AS n
        |  FROM events GROUP BY 1),
        |w AS (SELECT bucket, n,
        |    count(*) OVER () AS d,
        |    sum(n) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    row_number() OVER (ORDER BY bucket) AS i,
        |    sum(n) OVER () AS t
        |  FROM c)
        |SELECT bucket, CAST(n AS BIGINT) AS n,
        |  CAST(d * cum - i * t AS BIGINT) AS cusum_scaled,
        |  abs(d * cum - i * t) =
        |    max(abs(d * cum - i * t)) OVER ()
        |    AND max(abs(d * cum - i * t)) OVER () > 0 AS is_peak
        |FROM w ORDER BY bucket""".stripMargin,
    // identical RE2/Java segmentation regex, zero-word fragments
    // dropped on both sides, exact-integer sums, one IEEE division
    "x120_sentences" ->
      """WITH sw AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(p, '\s+'),
        |      t -> t <> '')) AS w
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(text, '[.!?]+\s+')) AS p
        |        FROM documents)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_sentences,
        |    CAST(sum(w) AS BIGINT) AS n_words,
        |    CAST(max(w) AS BIGINT) AS max_sent_words
        |  FROM sw WHERE w > 0 GROUP BY doc_id)
        |SELECT doc_id, n_sentences, n_words, max_sent_words,
        |  round(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE),
        |    9) + 0.0 AS mean_sent_words_r
        |FROM agg ORDER BY doc_id""".stripMargin,
    // DuckDB's NATIVE list_cosine_similarity (the x6 precedent) —
    // an independent implementation of the same dot/norm series
    "x119_sql_surface" ->
      """SELECT a.vec_id AS vec_id,
        |  round(list_cosine_similarity(
        |    CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 3) + 0.0 AS cos_next
        |FROM embeddings a
        |JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY vec_id""".stripMargin,
    // ALL in-tolerance candidates ranked in one window: distance,
    // then backward-before-forward, then the side's own tie rule
    // (backward: largest id; forward: smallest) — an independent
    // formulation of the two-carry composition
    "x118_nearest_join" ->
      """WITH l AS (SELECT user_id, event_id, epoch_ms(ts) AS t
        |  FROM events WHERE event_type = 'error'),
        |r AS (SELECT user_id, event_id AS rid, epoch_ms(ts) AS rt
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT l.user_id, l.event_id, l.t, r.rid, r.rt,
        |    abs(l.t - r.rt) AS d,
        |    CASE WHEN r.rt <= l.t THEN 0 ELSE 1 END AS fwd
        |  FROM l JOIN r ON l.user_id = r.user_id
        |    AND abs(l.t - r.rt) <= 3600000),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_id
        |    ORDER BY d, fwd, CASE WHEN fwd = 0 THEN -rid ELSE rid END)
        |    AS rn
        |  FROM c)
        |SELECT l.user_id, l.event_id, l.t AS ts_ms,
        |  rk.rid AS match_id, rk.rt AS nearest_ts
        |FROM l LEFT JOIN rk ON rk.user_id = l.user_id
        |  AND rk.event_id = l.event_id AND rk.rn = 1
        |ORDER BY l.event_id""".stripMargin,
    // triangles closed with plain id-ordered joins (edges are
    // canonical u < v by construction) — independent of the engine's
    // degree-ordered wedge orientation; each triangle credits all
    // three nodes
    "x117_triangles" ->
      """WITH ids AS (SELECT doc_id AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS u, doc_id + 1 AS v FROM documents
        |    WHERE doc_id % 3 <> 2
        |  UNION SELECT doc_id, doc_id + 2 FROM documents
        |    WHERE doc_id % 5 < 4
        |  UNION SELECT doc_id, doc_id + 3 FROM documents
        |    WHERE doc_id % 7 = 0),
        |ee AS (SELECT u, v FROM raw JOIN ids ON raw.v = ids.n),
        |deg AS (SELECT n, count(*) AS d FROM (
        |    SELECT u AS n FROM ee UNION ALL SELECT v FROM ee)
        |  GROUP BY n),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM ee e1
        |  JOIN ee e2 ON e2.u = e1.v
        |  JOIN ee e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (SELECT n, count(*) AS t FROM (
        |    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY n)
        |SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
        |  CAST(coalesce(tn.t, 0) AS BIGINT) AS n_tri,
        |  round(CASE WHEN deg.d >= 2 THEN
        |      2.0 * CAST(coalesce(tn.t, 0) AS DOUBLE)
        |        / (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0))
        |    ELSE 0.0 END, 9) + 0.0 AS cc_r
        |FROM deg LEFT JOIN tn ON tn.n = deg.n
        |ORDER BY node""".stripMargin,
    // decimation replayed arithmetically: sample(i) =
    // ((seed + i*7919) % 2003) - 1001 over i = 0, 3, 6, ... < n —
    // generate_series with the stride as its step
    "x116_audio_decimate" ->
      """SELECT d.doc_id,
        |  CAST((d.doc_id % 400 + 100 + 2) // 3 AS BIGINT) AS n_samples,
        |  CAST(sum((d.doc_id % 1777 + t.i*7919) % 2003 - 1001)
        |    AS BIGINT) AS sum_val,
        |  CAST(sum(((d.doc_id % 1777 + t.i*7919) % 2003 - 1001)
        |         * ((d.doc_id % 1777 + t.i*7919) % 2003 - 1001))
        |    AS BIGINT) AS sum_sq,
        |  CAST(min((d.doc_id % 1777 + t.i*7919) % 2003 - 1001)
        |    AS INTEGER) AS min_val,
        |  CAST(max((d.doc_id % 1777 + t.i*7919) % 2003 - 1001)
        |    AS INTEGER) AS max_val
        |FROM documents d
        |CROSS JOIN generate_series(0, 499, 3) t(i)
        |WHERE t.i < d.doc_id % 400 + 100
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // nearest-neighbor replayed arithmetically: resized col x' reads
    // source col (x'*w)//8 of the known pixel formula
    // (seed + col) % 256, constant down rows → sum = th * Σ_x'
    "x115_image_resize" ->
      """SELECT d.doc_id,
        |  CAST(8 AS BIGINT) AS width,
        |  CAST(6 AS BIGINT) AS height,
        |  CAST(48 AS BIGINT) AS n_samples,
        |  CAST(6 * sum((d.doc_id % 251
        |      + ((t.x * (d.doc_id % 97 + 4)) // 8)) % 256) AS BIGINT)
        |    AS sum_val,
        |  CAST(min((d.doc_id % 251
        |      + ((t.x * (d.doc_id % 97 + 4)) // 8)) % 256) AS INTEGER)
        |    AS min_val,
        |  CAST(max((d.doc_id % 251
        |      + ((t.x * (d.doc_id % 97 + 4)) // 8)) % 256) AS INTEGER)
        |    AS max_val
        |FROM documents d CROSS JOIN generate_series(0, 7) t(x)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // the PLAIN inequality self-join (DuckDB plans IEJoin — an
    // independent algorithm vs the engine's binned exactly-once
    // attribution); x17's session CTE chain verbatim, users < 300
    "x114_session_overlap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_ms
        |  FROM events WHERE user_id < 300),
        |flagged AS (
        |  SELECT user_id, event_id, ts_ms,
        |    CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 7200000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, ts_ms,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, session_id, MIN(ts_ms) AS lo, MAX(ts_ms) AS hi
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT a.user_id AS u_a, count(*) AS n_pairs,
        |  CAST(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT)
        |    AS overlap_ms
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
        |GROUP BY a.user_id ORDER BY u_a""".stripMargin,
    // DuckDB's NATIVE percent_rank (x68 precedent), then the same
    // clamp / equal-width bin / midpoint arithmetic; counts exact,
    // one IEEE division per derived column
    "x112_reliability" ->
      """WITH p AS (SELECT doc_id, lang, n_chars,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars)
        |      AS pct
        |  FROM documents),
        |b AS (SELECT
        |    CAST(least(floor(greatest(least(pct, 1.0), 0.0) * 10),
        |      9.0) AS BIGINT) AS bin,
        |    CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS pos
        |  FROM p)
        |SELECT bin, count(*) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  round((CAST(bin AS DOUBLE) + 0.5) / CAST(10 AS DOUBLE), 9) + 0.0
        |    AS conf_mid_r,
        |  round(CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) + 0.0
        |    AS acc_r,
        |  round(abs(CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    - (CAST(bin AS DOUBLE) + 0.5) / CAST(10 AS DOUBLE)), 9) + 0.0
        |    AS gap_r
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    // type identity replayed on the token TEXT; first-occurrence
    // attribution (min doc_id), per-doc counts exploded per
    // checkpoint — the engine's exact shape in SQL
    "x113_vocab_growth" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |k AS (SELECT CAST(unnest([25, 50, 100, 250, 500]) AS BIGINT)
        |    AS k),
        |f AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok),
        |v AS (SELECT k,
        |    CAST(sum(CASE WHEN first_doc < k THEN 1 ELSE 0 END)
        |      AS BIGINT) AS vocab_size
        |  FROM f, k GROUP BY k),
        |pd AS (SELECT doc_id, count(*) AS c FROM tk GROUP BY doc_id),
        |c AS (SELECT k,
        |    CAST(sum(CASE WHEN doc_id < k THEN c ELSE 0 END) AS BIGINT)
        |      AS n_tokens
        |  FROM pd, k GROUP BY k)
        |SELECT k, n_tokens, vocab_size,
        |  round(CASE WHEN n_tokens = 0 THEN 0.0
        |    ELSE CAST(vocab_size AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    END, 9) + 0.0 AS ttr_r
        |FROM c JOIN v USING (k) ORDER BY k""".stripMargin,
    // equivalence classes over the same QI tuple (64-char length
    // band via integer division), per-k conditional integer sums,
    // one final double division — all CAST to BIGINT (DuckDB sums
    // are HUGEINT)
    "x109_kanon" ->
      """WITH c AS (SELECT lang, source, n_chars // 64 AS b,
        |    count(*) AS sz
        |  FROM documents GROUP BY 1, 2, 3),
        |k AS (SELECT CAST(unnest([2, 5, 25]) AS BIGINT) AS k)
        |SELECT k, count(*) AS n_classes,
        |  CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS classes_below,
        |  CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(sum(sz) AS BIGINT) AS n_rows,
        |  round(CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(sz) AS DOUBLE), 9) + 0.0 AS risk_frac_r
        |FROM c, k GROUP BY k ORDER BY k""".stripMargin,
    // gram identity replayed on the gram TEXT (x97's window
    // machinery); first occurrence = min doc_id; within-first-doc
    // instances all count novel — same rule as the engine
    "x110_novelty" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |w AS (SELECT doc_id,
        |    array_to_string(list_slice(toks, CAST(i AS BIGINT) + 1,
        |      CAST(i AS BIGINT) + 8), ' ') AS g
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(0, len(toks) - 8)) AS i
        |        FROM t WHERE len(toks) >= 8)),
        |dg AS (SELECT doc_id, g, count(*) AS cnt FROM w GROUP BY 1, 2),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM dg GROUP BY g)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN doc_id = first_doc THEN cnt ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN doc_id = first_doc THEN cnt ELSE 0 END)
        |      AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 9) + 0.0 AS novelty_r
        |FROM dg JOIN f USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bounds replayed with the operator's own rank rule (min value
    // with cum >= ceil(p*n) over per-group distinct values — dyadic
    // ps make the double product exact), then the same clip and
    // integer sum
    "x111_winsorize" ->
      """WITH v AS (SELECT lang, n_chars FROM documents
        |  WHERE n_chars IS NOT NULL),
        |c AS (SELECT lang, n_chars AS val, count(*) AS cnt
        |  FROM v GROUP BY 1, 2),
        |cm AS (SELECT lang, val, cnt,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY val) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang) AS n FROM c),
        |q AS (SELECT lang,
        |    min(CASE WHEN cum >= ceil(0.125 * n) THEN val END) AS lo,
        |    min(CASE WHEN cum >= ceil(0.875 * n) THEN val END) AS hi
        |  FROM cm GROUP BY lang)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(CASE WHEN n_chars < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lo,
        |  CAST(sum(CASE WHEN n_chars > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi,
        |  min(lo) AS lo, min(hi) AS hi,
        |  CAST(sum(least(greatest(n_chars, lo), hi)) AS BIGINT)
        |    AS winsorized_sum,
        |  round(CAST(sum(least(greatest(n_chars, lo), hi)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 9) + 0.0 AS winsorized_mean_r
        |FROM v JOIN q USING (lang)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // bucket = least(floor((x - mn)/w), n-1) with w = (mx - mn)/12,
    // the operator's exact double arithmetic; top edge closed
    "x55_histogram" ->
      """WITH s AS (SELECT min(CAST(n_chars AS DOUBLE)) AS mn,
        |                  max(CAST(n_chars AS DOUBLE)) AS mx
        |           FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT CASE WHEN mx = mn THEN 0 ELSE
        |        CAST(least(floor((CAST(n_chars AS DOUBLE) - mn)
        |          / ((mx - mn) / 12)), 11) AS BIGINT) END AS bucket,
        |        mn, (mx - mn) / 12 AS w
        |      FROM documents, s WHERE n_chars IS NOT NULL)
        |SELECT bucket, count(*) AS cnt,
        |  round(min(mn + bucket * w), 4) + 0.0 AS lo_r,
        |  round(min(mn + (bucket + 1) * w), 4) + 0.0 AS hi_r
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // z = (x - mean)/sd with sample stddev; engines' variance merge
    // orders differ ~1e-13 — inside the probed 4dp margins (x56 doc)
    "x56_zscore" ->
      """WITH s AS (SELECT source,
        |    avg(CAST(n_chars AS DOUBLE)) AS m,
        |    stddev_samp(CAST(n_chars AS DOUBLE)) AS sd
        |  FROM documents GROUP BY source)
        |SELECT doc_id, source,
        |  round(CASE WHEN sd IS NULL OR sd = 0 THEN NULL
        |    ELSE (CAST(n_chars AS DOUBLE) - m) / sd END, 4) + 0.0 AS z_r
        |FROM documents JOIN s USING (source)
        |ORDER BY doc_id""".stripMargin,
    // same \W+ tokenization as x40's postings; score arithmetic in
    // the operator's order: tf * ln(CAST(n AS DOUBLE) / df)
    "x54_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |    tf * ln(CAST(n AS DOUBLE) / df) AS tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * ln(CAST(n AS DOUBLE) / df) DESC, term)
        |      AS rank
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df,
        |  round(tfidf, 4) + 0.0 AS tfidf_r
        |FROM sc WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,
    // rates re-derived from counts with the weight literals baked in;
    // threshold replicates Sampling.rateThreshold bit-for-bit:
    // floor(x + 0.5) IS Java Math.round (not DuckDB round), and
    // rate >= 1.0 is the full-keep sentinel 'g' (every hex string
    // sorts below it) — the binding group is kept WHOLE, including a
    // key hashing to exactly ffffffff
    "x53_mixture" ->
      """WITH w(src, wt) AS (
        |  VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
        |n AS (SELECT src, wt, count(*) AS n FROM documents
        |      JOIN w ON source = src GROUP BY src, wt),
        |t AS (SELECT min(n / wt) AS t FROM n),
        |thr AS (SELECT src,
        |    CASE WHEN (wt * t) / n >= 1.0 THEN 'g'
        |    ELSE format('{:08x}', CAST(least(floor(
        |      least(greatest((wt * t) / n, 0), 1.0) * 4294967296 + 0.5),
        |      4294967295) AS BIGINT)) END AS th
        |  FROM n, t)
        |SELECT doc_id, source FROM documents
        |JOIN thr ON source = src
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < th
        |ORDER BY doc_id""".stripMargin,
    // identical double arithmetic in identical order: cast-to-double
    // per element, scale = (127.0 / mx), round = half-away-from-zero
    // on both engines; sums of bigints cast back to BIGINT
    "x52_embed_quant" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max') AS mx,
        |    sqrt(list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id, nrm,
        |    list_transform(embedding, x ->
        |      CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT))
        |      AS qs
        |  FROM m)
        |SELECT vec_id,
        |  CAST(list_aggregate(qs, 'sum') AS BIGINT) AS qsum,
        |  CAST(list_aggregate(qs, 'min') AS BIGINT) AS qmin,
        |  CAST(list_aggregate(qs, 'max') AS BIGINT) AS qmax,
        |  CAST(len(list_filter(qs, x -> abs(x) = 127)) AS BIGINT)
        |    AS n_sat,
        |  round(nrm, 4) + 0.0 AS nrm_r
        |FROM q ORDER BY vec_id""".stripMargin,
    // same fingerprint normalization as x1; NOT IN is safe
    // (md5 never null); row_number replicates first-in-batch
    "x51_incr_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g')))
        |      AS fingerprint
        |  FROM documents),
        |inc AS (
        |  SELECT doc_id, fingerprint FROM fp WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, fingerprint FROM fp
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, fingerprint FROM fp
        |  WHERE doc_id % 20 = 1),
        |win AS (SELECT doc_id, fingerprint,
        |    row_number() OVER (PARTITION BY fingerprint
        |                       ORDER BY doc_id) AS rn
        |  FROM inc)
        |SELECT doc_id, fingerprint FROM win
        |WHERE rn = 1 AND fingerprint NOT IN
        |  (SELECT fingerprint FROM fp WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,
    // same probability arithmetic and evaluation order as the
    // operator: -ln((c_pw + 0.5) / (c_p + (0.5 * V))); avg = sum/count
    // in double on both engines (reorder noise inside the margins
    // documented at x50)
    "x50_bigram_nll" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
        |  FROM base),
        |pw AS (SELECT doc_id, z[1] AS p, z[2] AS w FROM bg),
        |bc AS (SELECT p, w, count(*) AS c_pw FROM pw GROUP BY 1, 2),
        |cc AS (SELECT p, count(*) AS c_p FROM pw GROUP BY 1),
        |v AS (SELECT count(DISTINCT x) AS vs
        |      FROM (SELECT unnest(toks) AS x FROM t)),
        |sc AS (SELECT doc_id, -ln((c_pw + 0.5) / (c_p + 0.5 * vs)) AS nll
        |  FROM pw JOIN bc USING (p, w) JOIN cc USING (p), v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) + 0.0 AS nll_r
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // arithmetic replicated in the operator's evaluation order:
    // (idf * (tf*(k1+1))) / (tf + (k1 * ((1-b) + ((b*dl)/avgdl))));
    // avgdl is exact (integer-valued double sums < 2^53), so the only
    // cross-engine noise is ln's last ulp — margins in the x49 scaladoc
    "x49_bm25" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks) AS dl,
        |    len(list_filter(toks, x -> x = 'spark'))  AS tf0,
        |    len(list_filter(toks, x -> x = 'vector')) AS tf1,
        |    len(list_filter(toks, x -> x = 'merge'))  AS tf2 FROM t),
        |s AS (SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM d),
        |sc AS (SELECT doc_id,
        |    CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) +
        |         (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
        |         (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_matched,
        |    ln(1 + ((n - df0) + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |  + ln(1 + ((n - df1) + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |  + ln(1 + ((n - df2) + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (0.25 + (0.75 * dl) / avgdl)) AS score
        |  FROM d, s WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0),
        |top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 50)
        |SELECT doc_id, n_matched, round(score, 4) + 0.0 AS score_r
        |FROM top ORDER BY doc_id""".stripMargin,
    // window starts re-derived per row: kmax mirrors the operator's
    // floor((n - chunkSize + step - 1) / step) double arithmetic
    // (exact at corpus-plausible counts), list_slice ≡ Spark slice
    "x48_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t
        |      WHERE len(toks) > 0),
        |k AS (SELECT doc_id, toks, n_tok,
        |        CASE WHEN n_tok <= 40 THEN 0
        |             ELSE CAST(floor((n_tok - 40 + 29) / 30.0) AS BIGINT)
        |        END AS kmax
        |      FROM n),
        |e AS (SELECT doc_id, toks, n_tok,
        |        unnest(generate_series(0, kmax)) AS k FROM k)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |  CAST(k * 30 AS BIGINT) AS start_tok,
        |  CAST(least(40, n_tok - k * 30) AS BIGINT) AS chunk_tokens,
        |  array_to_string(list_slice(toks, k * 30 + 1, k * 30 + 40), ' ')
        |    AS chunk_text
        |FROM e
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // DuckDB's independent md5 + '0x' CAST replicate the shard/pos
    // arithmetic exactly; % on non-negative operands ≡ Spark's pmod
    "x45_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id, md5('epoch-1' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, hx,
        |    CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 8 AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
        |    AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,
    // thresholds = rateThreshold(0.8)/(0.9) literals; last split is the
    // unconditional tail, mirroring Sampling.groupSplit
    "x46_group_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN substr(md5(source), 1, 8) < 'cccccccd' THEN 'train'
        |       WHEN substr(md5(source), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // generic min-reachable via recursive transitive closure — no
    // knowledge of the chain arithmetic, so the oracle validates the
    // operator's propagation, not the edge generator
    "x44_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT d.doc_id AS a, d.doc_id + 1 AS b
        |  FROM documents d
        |  WHERE d.doc_id % 10 <> 9 AND d.doc_id % 7 <> 3
        |    AND EXISTS (SELECT 1 FROM documents x
        |                WHERE x.doc_id = d.doc_id + 1)),
        |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(node, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT reach.node, und.b FROM reach JOIN und ON reach.r = und.a)
        |SELECT node AS doc_id,
        |  CAST(least(node, min(r)) AS BIGINT) AS group_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "x5_dedup_embed" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.vec, b.vec), 4) + 0.0 AS cos
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.vec, b.vec) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "x6_ann_brute" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qv, cv) AS cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id)
        |      AS rank
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "x29_pack" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM toks)
        |SELECT doc_id, n_tokens, start_tok,
        |  start_tok // 512 AS seq_id,
        |  start_tok % 512 AS seq_off,
        |  CAST(CASE WHEN n_tokens <= 0 THEN 0
        |    ELSE (start_tok + n_tokens - 1) // 512 - start_tok // 512 + 1
        |  END AS BIGINT) AS n_seqs
        |FROM pos ORDER BY doc_id""".stripMargin,
    "x30_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE WHEN lang = 'en' THEN '40000000' ELSE 'c0000000' END
        |ORDER BY doc_id""".stripMargin,
    "x31_bloom_semijoin" ->
      """SELECT l_returnflag, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x43_cap_per_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents)
        |WHERE rk <= 30 ORDER BY doc_id""".stripMargin,
    "x42_profile" ->
      """SELECT col_name, n_rows, n_nulls, n_distinct FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority) FROM orders)
        |ORDER BY col_name""".stripMargin,
    // five modalities, one CASE — every structural field exact from
    // doc_id (JPEG is lossy in VALUES, never in dims/counts)
    "x41_media_dispatch5" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
        |    WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'image/jpeg'
        |    ELSE 'video/mp4' END AS media_type,
        |  CASE doc_id % 5
        |    WHEN 0 THEN CAST(doc_id % 97 + 4 AS BIGINT)
        |    WHEN 1 THEN CAST(doc_id % 47 + 4 AS BIGINT)
        |    WHEN 2 THEN CAST(NULL AS BIGINT)
        |    WHEN 3 THEN CAST(doc_id % 61 + 8 AS BIGINT)
        |    ELSE CAST(doc_id % 31 + 4 AS BIGINT) END AS width,
        |  CASE doc_id % 5
        |    WHEN 0 THEN CAST(doc_id % 53 + 3 AS BIGINT)
        |    WHEN 1 THEN CAST(doc_id % 29 + 3 AS BIGINT)
        |    WHEN 2 THEN CAST(NULL AS BIGINT)
        |    WHEN 3 THEN CAST(doc_id % 37 + 8 AS BIGINT)
        |    ELSE CAST(doc_id % 17 + 3 AS BIGINT) END AS height,
        |  CASE doc_id % 5
        |    WHEN 0 THEN CAST((doc_id % 97 + 4) * (doc_id % 53 + 3) AS BIGINT)
        |    WHEN 1 THEN CAST((doc_id % 47 + 4) * (doc_id % 29 + 3) * 3 AS BIGINT)
        |    WHEN 2 THEN CAST(doc_id % 400 + 100 AS BIGINT)
        |    WHEN 3 THEN CAST((doc_id % 61 + 8) * (doc_id % 37 + 8) AS BIGINT)
        |    ELSE CAST((doc_id % 9 + 2) * (doc_id % 31 + 4) * (doc_id % 17 + 3)
        |      AS BIGINT) END AS n_samples
        |FROM documents ORDER BY doc_id""".stripMargin,
    // independent implementation: DuckDB's own quantile_disc vs the
    // cumulative-count window plan (p cast to DOUBLE — a bare 0.25
    // literal is DECIMAL and the column-type compare would fail)
    "x39_len_quantiles" ->
      """WITH lens AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      AS BIGINT) AS len
        |  FROM documents)
        |SELECT lang, p, q FROM (
        |  SELECT lang, CAST(0.25 AS DOUBLE) AS p,
        |    CAST(quantile_disc(len, 0.25) AS BIGINT) AS q
        |  FROM lens GROUP BY lang
        |  UNION ALL
        |  SELECT lang, CAST(0.5 AS DOUBLE),
        |    CAST(quantile_disc(len, 0.5) AS BIGINT) FROM lens GROUP BY lang
        |  UNION ALL
        |  SELECT lang, CAST(0.75 AS DOUBLE),
        |    CAST(quantile_disc(len, 0.75) AS BIGINT) FROM lens GROUP BY lang)
        |ORDER BY lang, p""".stripMargin,
    "x40_postings" ->
      """WITH tf AS (
        |  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+')) AS tok
        |    FROM documents) WHERE tok <> '' GROUP BY tok, doc_id)
        |SELECT tok, rank, doc_id, tf, df FROM (
        |  SELECT tok, doc_id, tf,
        |    CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
        |    CAST(row_number() OVER (PARTITION BY tok
        |      ORDER BY tf DESC, doc_id) AS BIGINT) AS rank
        |  FROM tf)
        |WHERE rank <= 3 ORDER BY tok, rank""".stripMargin,
    // the oracle joins literal gram strings where the engine joins
    // 64-bit gram hashes — an (intended) differential check that the
    // hashing introduces no collisions at this scale
    "x38_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 7)) AS i
        |        FROM toks)),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
        |corpus AS (
        |  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 20 <> 0)
        |SELECT c.doc_id, count(*) AS n_shared_grams
        |FROM corpus c JOIN bench b ON c.gram = b.gram
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // pixel (f, x, y) = (seed + f*31 + x) % 256 is y-independent, so
    // the stride-2 frame-sample stats reduce to a double series over
    // (even frames × pixel columns) scaled by height — recomputed from
    // doc_id with no knowledge of MP4 at all
    "x37_video_frames" ->
      """SELECT d.doc_id,
        |  CAST(d.doc_id % 31 + 4 AS BIGINT) AS width,
        |  CAST(d.doc_id % 17 + 3 AS BIGINT) AS height,
        |  CAST(d.doc_id % 9 + 2 AS BIGINT) AS n_frames,
        |  CAST((d.doc_id % 9 + 3) // 2 AS BIGINT) AS n_sampled,
        |  CAST((d.doc_id % 9 + 3) // 2 * (d.doc_id % 31 + 4)
        |    * (d.doc_id % 17 + 3) AS BIGINT) AS n_pixels,
        |  CAST((d.doc_id % 17 + 3)
        |    * sum((d.doc_id % 241 + f.fi*31 + t.x) % 256) AS BIGINT) AS sum_val,
        |  CAST(min((d.doc_id % 241 + f.fi*31 + t.x) % 256) AS INTEGER) AS min_val,
        |  CAST(max((d.doc_id % 241 + f.fi*31 + t.x) % 256) AS INTEGER) AS max_val
        |FROM documents d
        |JOIN generate_series(0, 9) f(fi)
        |  ON f.fi <= d.doc_id % 9 + 1 AND f.fi % 2 = 0
        |JOIN generate_series(0, 33) t(x) ON t.x <= d.doc_id % 31 + 3
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // lossy codec ⇒ oracle pins only the exact structural fields
    "x36_jpeg_decode" ->
      """SELECT doc_id,
        |  CAST(doc_id % 61 + 8 AS BIGINT) AS width,
        |  CAST(doc_id % 37 + 8 AS BIGINT) AS height,
        |  CAST((doc_id % 61 + 8) * (doc_id % 37 + 8) AS BIGINT) AS n_samples
        |FROM documents ORDER BY doc_id""".stripMargin,
    // three modalities, three integer formulas, one UNION — each
    // branch recomputed from doc_id with series joins, independent of
    // every synthesizer and decoder in the chain under test
    "x35_media_dispatch" ->
      """SELECT * FROM (
        |  SELECT d.doc_id, 'image/png' AS media_type,
        |    CAST((d.doc_id % 97 + 4) * (d.doc_id % 53 + 3) AS BIGINT)
        |      AS n_samples,
        |    CAST((d.doc_id % 53 + 3) * sum((d.doc_id % 251 + t.x) % 256)
        |      AS BIGINT) AS sum_val,
        |    CAST(min((d.doc_id % 251 + t.x) % 256) AS INTEGER) AS min_val,
        |    CAST(max((d.doc_id % 251 + t.x) % 256) AS INTEGER) AS max_val
        |  FROM documents d
        |  JOIN generate_series(0, 99) t(x) ON t.x <= d.doc_id % 97 + 3
        |  WHERE d.doc_id % 3 = 0 GROUP BY d.doc_id
        |  UNION ALL
        |  SELECT d.doc_id, 'image/gif',
        |    CAST((d.doc_id % 47 + 4) * (d.doc_id % 29 + 3) * 3 AS BIGINT),
        |    CAST(3 * sum((d.doc_id % 253 + t.x + 2 * u.y) % 256) AS BIGINT),
        |    CAST(min((d.doc_id % 253 + t.x + 2 * u.y) % 256) AS INTEGER),
        |    CAST(max((d.doc_id % 253 + t.x + 2 * u.y) % 256) AS INTEGER)
        |  FROM documents d
        |  JOIN generate_series(0, 59) t(x) ON t.x <= d.doc_id % 47 + 3
        |  JOIN generate_series(0, 39) u(y) ON u.y <= d.doc_id % 29 + 2
        |  WHERE d.doc_id % 3 = 1 GROUP BY d.doc_id
        |  UNION ALL
        |  SELECT d.doc_id, 'audio/wav',
        |    CAST(d.doc_id % 400 + 100 AS BIGINT),
        |    CAST(sum((d.doc_id % 1777 + t.i * 7919) % 2003 - 1001)
        |      AS BIGINT),
        |    CAST(min((d.doc_id % 1777 + t.i * 7919) % 2003 - 1001)
        |      AS INTEGER),
        |    CAST(max((d.doc_id % 1777 + t.i * 7919) % 2003 - 1001)
        |      AS INTEGER)
        |  FROM documents d
        |  JOIN generate_series(0, 499) t(i) ON t.i <= d.doc_id % 400 + 99
        |  WHERE d.doc_id % 3 = 2 GROUP BY d.doc_id
        |) ORDER BY doc_id""".stripMargin,
    // pixel(x, y) = (seed + x + 2y) % 256 over the w×h grid, ×3 RGB
    // samples through the identity-gray palette — recomputed here from
    // doc_id with two constant series, no knowledge of GIF at all
    "x34_gif_pixels" ->
      """SELECT d.doc_id,
        |  CAST(d.doc_id % 47 + 4 AS BIGINT) AS width,
        |  CAST(d.doc_id % 29 + 3 AS BIGINT) AS height,
        |  CAST((d.doc_id % 47 + 4) * (d.doc_id % 29 + 3) * 3 AS BIGINT)
        |    AS n_samples,
        |  CAST(3 * sum((d.doc_id % 253 + t.x + 2 * u.y) % 256) AS BIGINT)
        |    AS sum_val,
        |  CAST(min((d.doc_id % 253 + t.x + 2 * u.y) % 256) AS INTEGER)
        |    AS min_val,
        |  CAST(max((d.doc_id % 253 + t.x + 2 * u.y) % 256) AS INTEGER)
        |    AS max_val
        |FROM documents d
        |JOIN generate_series(0, 59) t(x) ON t.x <= d.doc_id % 47 + 3
        |JOIN generate_series(0, 39) u(y) ON u.y <= d.doc_id % 29 + 2
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "x33_rare_terms" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |dfreq AS (
        |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok)
        |SELECT doc_id, rank, tok, df FROM (
        |  SELECT t.doc_id, t.tok, d.df,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok)
        |      AS rank
        |  FROM tok t JOIN dfreq d USING (tok))
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "x32_skew_report" ->
      """WITH counts AS (
        |  SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY user_id)
        |SELECT key, cnt,
        |  CAST(cnt * 1000000 // (SELECT SUM(cnt) FROM counts) AS BIGINT)
        |    AS share_ppm
        |FROM counts
        |ORDER BY cnt DESC, key LIMIT 20""".stripMargin,
    "x21_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        substr(text, 1, 40) || ' contact user' || doc_id
        |          || '@example.com or +1-555-'
        |          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |          || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d(?:-?\d){8,}', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x22_repetition" ->
      """WITH tok0 AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+')) AS tok,
        |    generate_subscripts(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'), 1) AS ord0
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, tok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ord0) AS ord
        |  FROM tok0 WHERE tok <> ''),
        |grams AS (
        |  SELECT a.doc_id, a.tok || ' ' || b.tok AS g
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1),
        |counts AS (
        |  SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS total_grams,
        |  CAST(MAX(c) AS BIGINT) AS max_gram_count,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio
        |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x20_range_join" ->
      """SELECT p.event_id AS p_id, COUNT(*) AS n_concurrent
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN events e
        |  ON e.ts BETWEEN p.ts - INTERVAL 60 SECOND
        |             AND p.ts + INTERVAL 60 SECOND
        |  AND e.user_id <> p.user_id
        |GROUP BY p.event_id ORDER BY p_id""".stripMargin,
    // native quantile_disc vs the counts-then-window formulation;
    // med/mad are exact data elements, dev arithmetic is exact IEEE
    // same URL replay as x90 (with the page-collapsing pathId), then
    // the aggregation: counts, distinct canonical pages, token sums,
    // and the integer cross-multiplied keep rule — all exact
    // same \W+ tokenization + 1-based positions as x22's oracle; vocab
    // ranked by (n_occ DESC, token) with QUALIFY, OOV -> id 0; the
    // checksum replays sum(id * pos) over the full sequence
    // every statistic recomputed from the same full-outer join of the
    // two key-count frames (x105's skewed key on the left side)
    "x108_join_profile" ->
      """WITH l AS (SELECT CASE WHEN l_orderkey % 10 < 7 THEN 1
        |    ELSE l_suppkey END AS k, count(*) AS lc
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT s_suppkey AS k, count(*) AS rc
        |  FROM supplier GROUP BY 1),
        |j AS (SELECT lc, rc FROM l FULL OUTER JOIN r ON l.k = r.k)
        |SELECT
        |  CAST(sum(coalesce(lc, 0)) AS BIGINT) AS left_rows,
        |  CAST(sum(coalesce(rc, 0)) AS BIGINT) AS right_rows,
        |  CAST(sum(CASE WHEN lc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS left_keys,
        |  CAST(sum(CASE WHEN rc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS right_keys,
        |  CAST(sum(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS match_keys,
        |  CAST(max(coalesce(lc, 0)) AS BIGINT) AS left_max_dup,
        |  CAST(max(coalesce(rc, 0)) AS BIGINT) AS right_max_dup,
        |  CAST(sum(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL
        |    THEN lc * rc ELSE 0 END) AS BIGINT) AS out_rows,
        |  CAST(max(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL
        |    THEN lc * rc ELSE 0 END) AS BIGINT) AS max_key_out
        |FROM j""".stripMargin,
    // same integer counts, z-squared as 1.96*1.96 in DOUBLE (the
    // 3.8416 literal is a different double), identical association
    // order throughout the bound expression
    "x106_wilson_domains" ->
      """WITH a AS (
        |  SELECT source AS grp, count(*) AS n,
        |    CAST(sum(CASE WHEN n_chars >= 150 AND
        |      len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x <> '')) >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM documents
        |  WHERE (n_chars >= 150 AND
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) >= 30) IS NOT NULL
        |  GROUP BY source),
        |b AS (SELECT grp, n, k,
        |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
        |  FROM a)
        |SELECT grp AS source, n, k, round(p, 9) + 0.0 AS rate_r,
        |  round(greatest((p + z2 / (2.0 * nd)
        |      - CAST(1.96 AS DOUBLE)
        |        * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd)))
        |    / (1.0 + z2 / nd), 0.0), 9) + 0.0 AS wilson_lb_r
        |FROM b ORDER BY source""".stripMargin,
    // the same running-frame cumsum per source and the same strict
    // keep rule (preceding mass < budget: the crossing doc is kept)
    "x107_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens - n_tokens < 300
        |ORDER BY doc_id""".stripMargin,
    // the PLAIN join — no salt anywhere — so the hash compare proves
    // the salted execution is semantics-preserving
    "x105_salted_join" ->
      """WITH li AS (SELECT
        |    CASE WHEN l_orderkey % 10 < 7 THEN 1
        |      ELSE l_suppkey END AS k,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem)
        |SELECT s_nationkey, count(*) AS n,
        |  CAST(sum(q) AS BIGINT) AS qty
        |FROM li JOIN supplier ON s_suppkey = li.k
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // identical double binning (clamp, floor, last-bin fold), the same
    // ceil(p*n) discrete rank, and the same within-bin interpolation
    // expression — per-source AND the __ALL__ union branch, so
    // merge ≡ direct is proven by the differential itself
    "x103_quantile_bins" ->
      """WITH v AS (SELECT source, CAST(n_chars AS DOUBLE) AS x
        |  FROM documents WHERE n_chars IS NOT NULL),
        |g AS (
        |  SELECT source AS slice,
        |    CAST(least(floor(least(greatest(x, 0.0), 1024.0) / 16.0),
        |      63.0) AS BIGINT) AS bin,
        |    count(*) AS cnt FROM v GROUP BY 1, 2
        |  UNION ALL
        |  SELECT '__ALL__',
        |    CAST(least(floor(least(greatest(x, 0.0), 1024.0) / 16.0),
        |      63.0) AS BIGINT),
        |    count(*) FROM v GROUP BY 1, 2),
        |c AS (SELECT slice, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY slice ORDER BY bin) AS cum,
        |    sum(cnt) OVER (PARTITION BY slice) AS n FROM g),
        |p AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |    CAST(0.99 AS DOUBLE)]) AS p)
        |SELECT slice, p,
        |  round(0.0 + bin * 16.0 + 16.0 *
        |    CAST(ceil(p * n) - (cum - cnt) AS DOUBLE)
        |    / CAST(cnt AS DOUBLE), 9) + 0.0 AS q_est_r,
        |  CAST(n AS BIGINT) AS n
        |FROM c JOIN p ON ceil(p * n) > cum - cnt AND ceil(p * n) <= cum
        |ORDER BY slice, p""".stripMargin,
    // same whitespace token count as x98, the same smallest-boundary
    // bucket rule, least() truncation at the last boundary, and the
    // waste fraction written as the identical IEEE expression
    "x104_pad_waste" ->
      """WITH t AS (SELECT CAST(len(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT)
        |    AS len FROM documents),
        |b AS (SELECT CASE WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
        |    WHEN len <= 48 THEN 48 WHEN len <= 64 THEN 64
        |    ELSE 80 END AS boundary,
        |  len, least(len, 80) AS used FROM t WHERE len > 0)
        |SELECT CAST(boundary AS BIGINT) AS boundary,
        |  count(*) AS n_docs,
        |  CAST(sum(len) AS BIGINT) AS sum_tokens,
        |  CAST(count(*) * boundary AS BIGINT) AS padded_tokens,
        |  CAST(sum(len - used) AS BIGINT) AS truncated_tokens,
        |  round(CAST(count(*) * boundary
        |      - (sum(len) - sum(len - used)) AS DOUBLE)
        |    / CAST(count(*) * boundary AS DOUBLE), 9) + 0.0 AS waste_frac_r
        |FROM b GROUP BY boundary ORDER BY boundary""".stripMargin,
    // x94's skeleton with seed-conditional teleport: r_{k+1}(v) =
    // (1-d)*tp_v + d*(contrib + dangling*tp_v), tp = 1/|S| on seeds
    "x102_ppr" ->
      """WITH e AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  UNION
        |  SELECT 's' || s_suppkey, 'n' || s_nationkey FROM supplier),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT src AS n FROM e UNION ALL SELECT dst FROM e) u),
        |sd AS (SELECT DISTINCT 'c' || c_custkey AS n FROM customer
        |  WHERE c_custkey < 50),
        |sd2 AS (SELECT sd.n FROM sd JOIN nodes ON nodes.n = sd.n),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM sd2),
        |tp AS (SELECT nodes.n AS node,
        |    CASE WHEN sd2.n IS NULL THEN 0.0
        |         ELSE 1.0 / (SELECT k FROM ns) END AS tp
        |  FROM nodes LEFT JOIN sd2 ON sd2.n = nodes.n),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT node, tp AS r FROM tp),
        |dm1 AS (SELECT coalesce(sum(r0.r), 0) AS m FROM r0
        |  LEFT JOIN deg ON r0.node = deg.src WHERE deg.src IS NULL),
        |c1 AS (SELECT e.dst AS node, sum(r0.r / deg.d) AS c FROM e
        |  JOIN deg ON deg.src = e.src JOIN r0 ON r0.node = e.src
        |  GROUP BY e.dst),
        |r1 AS (SELECT tp.node,
        |  (1.0 - 0.85) * tp.tp + 0.85 * (coalesce(c1.c, 0)
        |    + (SELECT m FROM dm1) * tp.tp) AS r
        |  FROM tp LEFT JOIN c1 ON c1.node = tp.node),
        |dm2 AS (SELECT coalesce(sum(r1.r), 0) AS m FROM r1
        |  LEFT JOIN deg ON r1.node = deg.src WHERE deg.src IS NULL),
        |c2 AS (SELECT e.dst AS node, sum(r1.r / deg.d) AS c FROM e
        |  JOIN deg ON deg.src = e.src JOIN r1 ON r1.node = e.src
        |  GROUP BY e.dst),
        |r2 AS (SELECT tp.node,
        |  (1.0 - 0.85) * tp.tp + 0.85 * (coalesce(c2.c, 0)
        |    + (SELECT m FROM dm2) * tp.tp) AS r
        |  FROM tp LEFT JOIN c2 ON c2.node = tp.node),
        |dm3 AS (SELECT coalesce(sum(r2.r), 0) AS m FROM r2
        |  LEFT JOIN deg ON r2.node = deg.src WHERE deg.src IS NULL),
        |c3 AS (SELECT e.dst AS node, sum(r2.r / deg.d) AS c FROM e
        |  JOIN deg ON deg.src = e.src JOIN r2 ON r2.node = e.src
        |  GROUP BY e.dst),
        |r3 AS (SELECT tp.node,
        |  (1.0 - 0.85) * tp.tp + 0.85 * (coalesce(c3.c, 0)
        |    + (SELECT m FROM dm3) * tp.tp) AS r
        |  FROM tp LEFT JOIN c3 ON c3.node = tp.node)
        |SELECT node, round(r, 9) + 0.0 AS rank_r FROM r3
        |ORDER BY node""".stripMargin,
    // expected EXIF fields from doc_id arithmetic alone — never from
    // the bytes — so synthesis AND parsing must both be right
    "x101_exif_meta" ->
      """SELECT doc_id,
        |  doc_id % 8 + 1 AS orientation,
        |  'Cam' || CAST(doc_id % 5 AS VARCHAR) AS make,
        |  '2024:01:01 00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
        |    || ':' || lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0')
        |    AS datetime
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-source and whole-table profiles computed DIRECTLY (the
    // operator folds partials instead); mean/var written as the same
    // IEEE expressions over exact integer sums
    "x100_incr_stats" ->
      """WITH base AS (
        |  SELECT source AS slice, count(*) AS n_rows,
        |    count(*) - count(n_chars) AS n_nulls,
        |    coalesce(sum(n_chars), 0) AS s1,
        |    coalesce(sum(n_chars * n_chars), 0) AS s2,
        |    min(n_chars) AS min_val, max(n_chars) AS max_val
        |  FROM documents GROUP BY source
        |  UNION ALL
        |  SELECT '__ALL__', count(*), count(*) - count(n_chars),
        |    coalesce(sum(n_chars), 0), coalesce(sum(n_chars * n_chars), 0),
        |    min(n_chars), max(n_chars)
        |  FROM documents)
        |SELECT slice, n_rows, n_nulls, CAST(s1 AS BIGINT) AS s1,
        |  min_val, max_val,
        |  CAST(s1 AS DOUBLE) / CAST(n_rows - n_nulls AS DOUBLE) AS mean,
        |  CAST(s2 AS DOUBLE) / CAST(n_rows - n_nulls AS DOUBLE)
        |    - (CAST(s1 AS DOUBLE) / CAST(n_rows - n_nulls AS DOUBLE))
        |      * (CAST(s1 AS DOUBLE) / CAST(n_rows - n_nulls AS DOUBLE))
        |    AS var_pop
        |FROM base ORDER BY slice""".stripMargin,
    // same perturbation, the same blocking predicate in the candidate
    // join, and both best-of windows replayed with identical tie-break
    // order — DuckDB's native levenshtein is the independent verifier
    "x99_entity_match" ->
      """WITH v AS (
        |  SELECT DISTINCT unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'))
        |    AS word FROM documents),
        |v2 AS (SELECT word FROM v WHERE word <> ''),
        |l0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |      x -> x <> '')[1] AS w
        |  FROM documents WHERE doc_id < 200),
        |l AS (SELECT doc_id, substr(w, 1, len(w) - 1) || 'q' AS noisy
        |  FROM l0 WHERE len(w) >= 2),
        |cand AS (SELECT l.doc_id, l.noisy, v2.word,
        |    levenshtein(l.noisy, v2.word) AS dist
        |  FROM l JOIN v2
        |    ON substr(lower(l.noisy), 1, 2) = substr(lower(v2.word), 1, 2)
        |    AND len(l.noisy) // 4 = len(v2.word) // 4
        |  WHERE levenshtein(l.noisy, v2.word) <= 2),
        |rl AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY dist, word) AS rl FROM cand),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY word
        |    ORDER BY dist, noisy, doc_id) AS rr FROM rl)
        |SELECT doc_id, noisy, word AS matched, CAST(dist AS BIGINT) AS dist
        |FROM rr WHERE rl = 1 AND rr = 1
        |ORDER BY doc_id""".stripMargin,
    // exact integer token mass per source, then pow/divide written as
    // the identical IEEE ops; emitted values rounded, margins probed
    "x98_temperature_mix" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> ''))) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, n_tokens,
        |    pow(CAST(n_tokens AS DOUBLE), 0.7) AS weight FROM per),
        |t AS (SELECT sum(weight) AS tw FROM w)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(weight, 6) + 0.0 AS weight_r,
        |  round(weight / (SELECT tw FROM t), 9) + 0.0 AS rate_r
        |FROM w ORDER BY source""".stripMargin,
    // same synthetic prefix-copy corpus (integer DIV prefix length),
    // then the extent geometry on literal window text: dup windows =
    // count>1 groups, islands split where the position gap exceeds k
    "x97_dup_extents" ->
      """WITH b AS (SELECT doc_id, text FROM documents),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM b WHERE doc_id % 2 = 0),
        |cp AS (SELECT doc_id + 1000000 AS new_doc_id,
        |    array_to_string(list_slice(toks, 1, (len(toks) * 3) // 5), ' ')
        |      || ' zz' || CAST(doc_id AS VARCHAR)
        |      || ' ww' || CAST(doc_id AS VARCHAR) AS text
        |  FROM tk WHERE (len(toks) * 3) // 5 >= 1),
        |corpus AS (SELECT * FROM b
        |  UNION ALL SELECT new_doc_id AS doc_id, text FROM cp),
        |t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM corpus),
        |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    array_to_string(list_slice(toks, CAST(i AS BIGINT) + 1,
        |      CAST(i AS BIGINT) + 8), ' ') AS g
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(0, len(toks) - 8)) AS i
        |        FROM t WHERE len(toks) >= 8)),
        |f AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
        |d AS (SELECT doc_id, pos FROM w JOIN f USING (g)),
        |i AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |      > 8 THEN 1 ELSE 0 END AS gap FROM d),
        |sgrp AS (SELECT doc_id, pos,
        |    sum(gap) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM i)
        |SELECT doc_id, min(pos) AS start_tok, max(pos) + 8 AS end_tok,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM sgrp GROUP BY doc_id, grp
        |ORDER BY doc_id, start_tok""".stripMargin,
    // hashed-bucket counts via the same md5 hex-prefix arithmetic as
    // x45; smoothing and divisions written as the identical IEEE ops;
    // keep threshold = native quantile_disc on the ROUNDED weights
    "x96_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |uni AS (SELECT doc_id, source, unnest(toks) AS g FROM t),
        |bi AS (SELECT doc_id, source,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT) + 1] AS g
        |  FROM (SELECT doc_id, source, toks,
        |          unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |feats AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 1024 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |cnt AS (SELECT b,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc,
        |    count(*) AS sc
        |  FROM feats GROUP BY b),
        |tot AS (SELECT sum(tc) AS tt, sum(sc) AS st FROM cnt),
        |lr AS (SELECT b,
        |    ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE))
        |  - ln(CAST(sc + 1 AS DOUBLE) / CAST(st + 1024 AS DOUBLE)) AS logr
        |  FROM cnt, tot),
        |pw AS (SELECT f.doc_id, count(*) AS n_feats, sum(lr.logr) AS logw
        |  FROM feats f JOIN lr ON lr.b = f.b GROUP BY f.doc_id),
        |r AS (SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
        |    round(logw, 6) + 0.0 AS logw_r FROM pw),
        |m AS (SELECT quantile_disc(logw_r, 0.5) AS med FROM r)
        |SELECT doc_id, n_feats, logw_r,
        |  logw_r >= (SELECT med FROM m) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // three x49-style BM25 rankings (one term bag per query) + the x6
    // cosine ranking, fused by sum(1.0/(60+rank)) — each contribution
    // an exact small-integer division, two-system sums commutative
    "x95_hybrid_rrf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks) AS dl,
        |    len(list_filter(toks, x -> x = 'spark'))  AS tf00,
        |    len(list_filter(toks, x -> x = 'vector')) AS tf01,
        |    len(list_filter(toks, x -> x = 'merge'))  AS tf02,
        |    len(list_filter(toks, x -> x = 'join'))   AS tf10,
        |    len(list_filter(toks, x -> x = 'filter')) AS tf11,
        |    len(list_filter(toks, x -> x = 'scan'))   AS tf12,
        |    len(list_filter(toks, x -> x = 'batch'))  AS tf20,
        |    len(list_filter(toks, x -> x = 'window')) AS tf21,
        |    len(list_filter(toks, x -> x = 'stream')) AS tf22 FROM t),
        |s AS (SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf00 > 0 THEN 1 ELSE 0 END) AS df00,
        |    sum(CASE WHEN tf01 > 0 THEN 1 ELSE 0 END) AS df01,
        |    sum(CASE WHEN tf02 > 0 THEN 1 ELSE 0 END) AS df02,
        |    sum(CASE WHEN tf10 > 0 THEN 1 ELSE 0 END) AS df10,
        |    sum(CASE WHEN tf11 > 0 THEN 1 ELSE 0 END) AS df11,
        |    sum(CASE WHEN tf12 > 0 THEN 1 ELSE 0 END) AS df12,
        |    sum(CASE WHEN tf20 > 0 THEN 1 ELSE 0 END) AS df20,
        |    sum(CASE WHEN tf21 > 0 THEN 1 ELSE 0 END) AS df21,
        |    sum(CASE WHEN tf22 > 0 THEN 1 ELSE 0 END) AS df22 FROM d),
        |sc0 AS (SELECT doc_id,
        |    ln(1 + ((n - df00) + 0.5) / (df00 + 0.5)) * (tf00 * 2.2)
        |      / (tf00 + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |  + ln(1 + ((n - df01) + 0.5) / (df01 + 0.5)) * (tf01 * 2.2)
        |      / (tf01 + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |  + ln(1 + ((n - df02) + 0.5) / (df02 + 0.5)) * (tf02 * 2.2)
        |      / (tf02 + 1.2 * (0.25 + (0.75 * dl) / avgdl)) AS score
        |  FROM d, s WHERE tf00 > 0 OR tf01 > 0 OR tf02 > 0),
        |sc1 AS (SELECT doc_id,
        |    ln(1 + ((n - df10) + 0.5) / (df10 + 0.5)) * (tf10 * 2.2)
        |      / (tf10 + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |  + ln(1 + ((n - df11) + 0.5) / (df11 + 0.5)) * (tf11 * 2.2)
        |      / (tf11 + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |  + ln(1 + ((n - df12) + 0.5) / (df12 + 0.5)) * (tf12 * 2.2)
        |      / (tf12 + 1.2 * (0.25 + (0.75 * dl) / avgdl)) AS score
        |  FROM d, s WHERE tf10 > 0 OR tf11 > 0 OR tf12 > 0),
        |sc2 AS (SELECT doc_id,
        |    ln(1 + ((n - df20) + 0.5) / (df20 + 0.5)) * (tf20 * 2.2)
        |      / (tf20 + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |  + ln(1 + ((n - df21) + 0.5) / (df21 + 0.5)) * (tf21 * 2.2)
        |      / (tf21 + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |  + ln(1 + ((n - df22) + 0.5) / (df22 + 0.5)) * (tf22 * 2.2)
        |      / (tf22 + 1.2 * (0.25 + (0.75 * dl) / avgdl)) AS score
        |  FROM d, s WHERE tf20 > 0 OR tf21 > 0 OR tf22 > 0),
        |l0 AS (SELECT 0 AS query_id, doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM (SELECT * FROM sc0 ORDER BY score DESC, doc_id LIMIT 20)),
        |l1 AS (SELECT 1 AS query_id, doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM (SELECT * FROM sc1 ORDER BY score DESC, doc_id LIMIT 20)),
        |l2 AS (SELECT 2 AS query_id, doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM (SELECT * FROM sc2 ORDER BY score DESC, doc_id LIMIT 20)),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |semr AS (SELECT query_id, neighbor_id AS doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id)
        |      AS rank
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |u AS (SELECT query_id, doc_id, rank FROM l0
        |  UNION ALL SELECT query_id, doc_id, rank FROM l1
        |  UNION ALL SELECT query_id, doc_id, rank FROM l2
        |  UNION ALL SELECT query_id, doc_id, rank FROM semr WHERE rank <= 20),
        |f AS (SELECT query_id, doc_id, sum(1.0 / (60 + rank)) AS score,
        |    count(*) AS n_systems
        |  FROM u GROUP BY query_id, doc_id),
        |r AS (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank,
        |    score, n_systems FROM f)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |  CAST(rank AS BIGINT) AS rank, round(score, 9) + 0.0 AS score_r,
        |  CAST(n_systems AS BIGINT) AS n_systems
        |FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // the identical PageRank recurrence unrolled: r_{k+1}(v) =
    // (1-d)/N + d*(sum_{u->v} r_k(u)/deg(u) + dangling_k/N); literals
    // written as the same IEEE ops Spark performs (1.0 - 0.85, double
    // divisions); only group-sum order differs (~1e-15, under 9dp)
    "x94_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  UNION
        |  SELECT 's' || s_suppkey, 'n' || s_nationkey FROM supplier),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT src AS n FROM e UNION ALL SELECT dst FROM e) u),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT n AS node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
        |dm1 AS (SELECT coalesce(sum(r0.r), 0) AS m FROM r0
        |  LEFT JOIN deg ON r0.node = deg.src WHERE deg.src IS NULL),
        |c1 AS (SELECT e.dst AS node, sum(r0.r / deg.d) AS c FROM e
        |  JOIN deg ON deg.src = e.src JOIN r0 ON r0.node = e.src
        |  GROUP BY e.dst),
        |r1 AS (SELECT nodes.n AS node,
        |  (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * (coalesce(c1.c, 0)
        |    + (SELECT m FROM dm1) / (SELECT n FROM nn)) AS r
        |  FROM nodes LEFT JOIN c1 ON c1.node = nodes.n),
        |dm2 AS (SELECT coalesce(sum(r1.r), 0) AS m FROM r1
        |  LEFT JOIN deg ON r1.node = deg.src WHERE deg.src IS NULL),
        |c2 AS (SELECT e.dst AS node, sum(r1.r / deg.d) AS c FROM e
        |  JOIN deg ON deg.src = e.src JOIN r1 ON r1.node = e.src
        |  GROUP BY e.dst),
        |r2 AS (SELECT nodes.n AS node,
        |  (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * (coalesce(c2.c, 0)
        |    + (SELECT m FROM dm2) / (SELECT n FROM nn)) AS r
        |  FROM nodes LEFT JOIN c2 ON c2.node = nodes.n),
        |dm3 AS (SELECT coalesce(sum(r2.r), 0) AS m FROM r2
        |  LEFT JOIN deg ON r2.node = deg.src WHERE deg.src IS NULL),
        |c3 AS (SELECT e.dst AS node, sum(r2.r / deg.d) AS c FROM e
        |  JOIN deg ON deg.src = e.src JOIN r2 ON r2.node = e.src
        |  GROUP BY e.dst),
        |r3 AS (SELECT nodes.n AS node,
        |  (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * (coalesce(c3.c, 0)
        |    + (SELECT m FROM dm3) / (SELECT n FROM nn)) AS r
        |  FROM nodes LEFT JOIN c3 ON c3.node = nodes.n)
        |SELECT node, round(r, 9) + 0.0 AS rank_r FROM r3
        |ORDER BY node""".stripMargin,
    "x93_token_ids" ->
      """WITH tok0 AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+')) AS tok,
        |    generate_subscripts(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'), 1)
        |      AS ord0
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, tok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ord0) AS pos
        |  FROM tok0 WHERE tok <> ''),
        |vc AS (SELECT tok AS token, count(*) AS n_occ FROM tok GROUP BY 1),
        |vocab AS (
        |  SELECT token,
        |    row_number() OVER (ORDER BY n_occ DESC, token) AS id
        |  FROM vc QUALIFY id <= 20),
        |enc AS (
        |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS tid
        |  FROM tok t LEFT JOIN vocab v ON v.token = t.tok)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  array_to_string(
        |    list_slice(list(CAST(tid AS BIGINT) ORDER BY pos), 1, 12), ',')
        |    AS ids_head,
        |  CAST(sum(tid * pos) AS BIGINT) AS id_checksum
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x92_domain_stats" ->
      """WITH base AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN doc_id % 20 < 10 THEN doc_id
        |         ELSE doc_id % 50 END AS pid
        |  FROM documents),
        |raw AS (
        |  SELECT doc_id, text,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || source || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0 THEN ':443'
        |             WHEN doc_id % 2 <> 0 AND doc_id % 5 = 0 THEN ':80'
        |             ELSE '' END)
        |    || '/Docs/' || CAST(pid AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |    || '?utm_source=feed&page=' || CAST(pid % 7 AS VARCHAR)
        |    || '&fbclid=abc'
        |    || (CASE WHEN doc_id % 6 = 0 THEN '&ref=home' ELSE '' END)
        |    || (CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END)
        |    AS url
        |  FROM base),
        |parts AS (
        |  SELECT doc_id, text, regexp_replace(url, '#.*$', '') AS u
        |  FROM raw),
        |split AS (
        |  SELECT doc_id, text,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(
        |      lower(regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1)),
        |      '^www\.', '') AS hostport,
        |    regexp_replace(
        |      regexp_extract(u, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
        |      '/+$', '') AS path,
        |    regexp_extract(u, '\?([^#]*)', 1) AS query
        |  FROM parts),
        |canon AS (
        |  SELECT doc_id, text, scheme,
        |    CASE WHEN scheme = 'http'
        |           THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https'
        |           THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS domain,
        |    path,
        |    array_to_string(list_filter(string_split(query, '&'),
        |      p -> NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|ref)=')
        |           AND p <> ''), '&') AS qstr
        |  FROM split),
        |per_doc AS (
        |  SELECT domain,
        |    scheme || '://' || domain || path ||
        |      (CASE WHEN qstr <> '' THEN '?' || qstr ELSE '' END)
        |      AS canon_url,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS n_toks
        |  FROM canon)
        |SELECT domain, count(*) AS n_docs,
        |  count(DISTINCT canon_url) AS n_pages,
        |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
        |  (sum(n_toks) >= 53 * count(*)
        |    AND count(DISTINCT canon_url) * 2 > count(*)) AS kept
        |FROM per_doc GROUP BY domain ORDER BY domain""".stripMargin,
    // rebuilds the same synthetic page, then replays the strip rules
    // with DuckDB's regex engine (flags g/i/s); entity decode order
    // is part of the contract — &amp; decodes LAST (single-decode)
    "x91_html_strip" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><head><title>D' || CAST(doc_id AS VARCHAR)
        |    || '</title><style type="text/css">p { color: #333; }</style>'
        |    || (CASE WHEN doc_id % 3 = 0 THEN
        |          '<script>var x = 1 < 2; // <p>not a tag</p>' || chr(10)
        |          || 'var y = "</div>";</script>' ELSE '' END)
        |    || '</head><body><!-- trail: ' || CAST(doc_id AS VARCHAR)
        |    || ' --><h1 class="t">Doc &amp;amp; ' || CAST(doc_id AS VARCHAR)
        |    || '</h1><p>' || text || '</p>'
        |    || (CASE WHEN doc_id % 4 = 0 THEN
        |          '<br/><footer>&copy; Example &nbsp;&#39;Site&#39;</footer>'
        |        ELSE '' END)
        |    || '</body></html>' AS html
        |  FROM documents),
        |c1 AS (SELECT doc_id, length(html) AS n_html_chars,
        |  regexp_replace(html, '<!--.*?-->', ' ', 'gs') AS h FROM raw),
        |c2 AS (SELECT doc_id, n_html_chars,
        |  regexp_replace(h, '<script[^>]*>.*?</script\s*>', ' ', 'gis')
        |  AS h FROM c1),
        |c3 AS (SELECT doc_id, n_html_chars,
        |  regexp_replace(h, '<style[^>]*>.*?</style\s*>', ' ', 'gis')
        |  AS h FROM c2),
        |c4 AS (SELECT doc_id, n_html_chars,
        |  regexp_replace(h, '<[^>"'']*(?:"[^"]*"[^>"'']*|''[^'']*''[^>"'']*)*>', ' ', 'g') AS h FROM c3),
        |c5 AS (SELECT doc_id, n_html_chars,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    h, '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'), '&#39;', chr(39), 'g'),
        |    '&apos;', chr(39), 'g'), '&amp;', '&', 'g') AS h FROM c4),
        |clean AS (SELECT doc_id, n_html_chars,
        |  trim(regexp_replace(h, '\s+', ' ', 'g')) AS clean FROM c5)
        |SELECT doc_id, n_html_chars, length(clean) AS n_clean_chars,
        |  md5(clean) AS clean_md5, substr(clean, 1, 48) AS clean_head
        |FROM clean ORDER BY doc_id""".stripMargin,
    // rebuilds the same messy URL from doc_id/source, then replays
    // every canonicalization rule with DuckDB's own regex/list
    // functions — an independent implementation of the rule set
    "x90_url_canon" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || source || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0 THEN ':443'
        |             WHEN doc_id % 2 <> 0 AND doc_id % 5 = 0 THEN ':80'
        |             ELSE '' END)
        |    || '/Docs/' || CAST(doc_id AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |    || '?utm_source=feed&page=' || CAST(doc_id % 7 AS VARCHAR)
        |    || '&fbclid=abc'
        |    || (CASE WHEN doc_id % 6 = 0 THEN '&ref=home' ELSE '' END)
        |    || (CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END)
        |    AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw),
        |split AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(
        |      lower(regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1)),
        |      '^www\.', '') AS hostport,
        |    regexp_replace(
        |      regexp_extract(u, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
        |      '/+$', '') AS path,
        |    regexp_extract(u, '\?([^#]*)', 1) AS query
        |  FROM parts),
        |canon AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http'
        |           THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https'
        |           THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS domain,
        |    path,
        |    array_to_string(list_filter(string_split(query, '&'),
        |      p -> NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|ref)=')
        |           AND p <> ''), '&') AS qstr
        |  FROM split)
        |SELECT doc_id,
        |  scheme || '://' || domain || path ||
        |    (CASE WHEN qstr <> '' THEN '?' || qstr ELSE '' END)
        |    AS canon_url,
        |  domain
        |FROM canon ORDER BY doc_id""".stripMargin,
    // the full-cardinality groupBy-HAVING the engine's two bounded
    // passes replace; capacity+1 = 31 baked into both sides
    "x88_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS t FROM toks)
        |SELECT token, count(*) AS n_occurrences,
        |  (SELECT t FROM tot) AS n_total,
        |  count(*) * 1000000 // (SELECT t FROM tot) AS share_ppm
        |FROM toks GROUP BY token
        |HAVING count(*) * 31 > (SELECT t FROM tot)
        |ORDER BY token""".stripMargin,
    // the cross-join + row_number formulation the engine deliberately
    // avoids — an independent derivation of the same argmax
    "x87_semantic_screen" ->
      """WITH b AS (
        |  SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS bv
        |  FROM embeddings WHERE vec_id % 17 = 0),
        |c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id % 17 <> 0),
        |s AS (
        |  SELECT c.vec_id, b.bench_id,
        |    list_cosine_similarity(cv, bv) AS cos,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_cosine_similarity(cv, bv) DESC, b.bench_id) AS rn
        |  FROM c CROSS JOIN b)
        |SELECT vec_id, bench_id, round(cos, 4) + 0.0 AS max_cos,
        |  cos >= 0.4 AS contaminated
        |FROM s WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // x44's closure CTE re-aggregated to the size histogram
    "x86_dup_profile" ->
      """WITH RECURSIVE e AS (
        |  SELECT d.doc_id AS a, d.doc_id + 1 AS b
        |  FROM documents d
        |  WHERE d.doc_id % 10 <> 9 AND d.doc_id % 7 <> 3
        |    AND EXISTS (SELECT 1 FROM documents x
        |                WHERE x.doc_id = d.doc_id + 1)),
        |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(node, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT reach.node, und.b FROM reach JOIN und ON reach.r = und.a),
        |labels AS (
        |  SELECT node, least(node, min(r)) AS g FROM reach GROUP BY node),
        |sizes AS (SELECT g, count(*) AS sz FROM labels GROUP BY g)
        |SELECT sz AS group_size, count(*) AS n_groups,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  CAST(sz * count(*) - count(*) AS BIGINT) AS dropped_by_keep_one
        |FROM sizes GROUP BY sz ORDER BY group_size""".stripMargin,
    // SCD2 rebuilt with q16's oracle CTE, then a direct half-open
    // interval join — an independent formulation of the carry
    "x85_pit_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
        |    lag(event_type) OVER w0 AS prev_state,
        |    row_number() OVER w0 AS rn
        |  FROM events
        |  WINDOW w0 AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |chg AS (
        |  SELECT user_id, event_id, event_type, ts_ms
        |  FROM e WHERE rn = 1 OR event_type IS DISTINCT FROM prev_state),
        |h AS (
        |  SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
        |    event_type, ts_ms AS eff_from, lead(ts_ms) OVER w AS eff_to
        |  FROM chg
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |f AS (
        |  SELECT event_id, user_id, epoch_ms(ts) - 1 AS probe_ts
        |  FROM events WHERE event_id % 7 = 0)
        |SELECT f.event_id, f.user_id, f.probe_ts,
        |  h.event_type AS state_at, h.version AS state_version
        |FROM f LEFT JOIN h ON f.user_id = h.user_id
        |  AND h.eff_from <= f.probe_ts
        |  AND (h.eff_to IS NULL OR f.probe_ts < h.eff_to)
        |ORDER BY f.event_id""".stripMargin,
    // same fingerprint rule as x1/x67; survivor = first row ordered by
    // (quality DESC, id ASC) within the fingerprint group
    "x84_keep_best" ->
      """WITH u AS (
        |  SELECT doc_id * 10 + 1 AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id * 10 + 2, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id * 10 + 3, text FROM documents WHERE doc_id % 5 = 0),
        |q AS (SELECT doc_id, text, doc_id % 7 AS quality,
        |    md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g'))) AS f
        |  FROM u),
        |r AS (SELECT doc_id, quality, f,
        |    row_number() OVER (PARTITION BY f
        |      ORDER BY quality DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY f) AS n_copies
        |  FROM q)
        |SELECT doc_id, quality, CAST(n_copies AS BIGINT) AS n_copies
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // profiles join FULL OUTER after aggregation; counters coalesce
    // to 0, cents stay NULL on a missing side
    "x83_drift" ->
      """WITH a AS (SELECT event_type AS key, count(*) AS n_a,
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nulls_a,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents_a
        |  FROM events WHERE event_type <> 'error' AND event_id % 3 <> 0
        |  GROUP BY 1),
        |b AS (SELECT event_type AS key, count(*) AS n_b,
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nulls_b,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents_b
        |  FROM events WHERE event_id % 5 <> 0 GROUP BY 1)
        |SELECT coalesce(a.key, b.key) AS key,
        |  CASE WHEN a.n_a IS NULL THEN 'added'
        |       WHEN b.n_b IS NULL THEN 'removed'
        |       ELSE 'common' END AS status,
        |  coalesce(a.n_a, 0) AS n_a, coalesce(b.n_b, 0) AS n_b,
        |  coalesce(b.n_b, 0) - coalesce(a.n_a, 0) AS delta_n,
        |  coalesce(a.nulls_a, 0) AS nulls_a,
        |  coalesce(b.nulls_b, 0) AS nulls_b,
        |  a.cents_a, b.cents_b
        |FROM a FULL OUTER JOIN b ON a.key = b.key
        |ORDER BY key""".stripMargin,
    // lag over the same (ts, event_id) order; probability is
    // exact-int / exact-int
    "x82_transitions" ->
      """WITH p AS (SELECT event_type AS next,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, next, count(*) AS n FROM p
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot
        |  FROM c GROUP BY prev)
        |SELECT c.prev, c.next, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS p
        |FROM c JOIN tot USING (prev) ORDER BY c.prev, c.next"""
        .stripMargin,
    // vocab = tokens with count >= 20; left join re-derives the same
    // exact integers; rate is exact-int / exact-int
    "x80_oov" ->
      """WITH ex AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |v AS (SELECT tok FROM
        |    (SELECT tok, count(*) AS c FROM ex GROUP BY tok)
        |  WHERE c >= 20)
        |SELECT e.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oov_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM ex e LEFT JOIN v ON e.tok = v.tok
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,
    // the three stage oracles (x74 gate, x75 span dedup, x76 cut)
    // stitched into one chain — validates the inter-stage hand-off
    "x81_pipeline" ->
      """WITH d0 AS (SELECT doc_id,
        |    'subscribe to our newsletter for updates and follow us today '
        |      || text AS text
        |  FROM documents),
        |gt AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |      x -> x <> '') AS t
        |  FROM d0),
        |gex AS (SELECT doc_id, unnest(t) AS tok FROM gt),
        |gcnt AS (SELECT doc_id, tok, count(*) AS c FROM gex GROUP BY 1, 2),
        |gagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(sum(c * len(tok)) AS BIGINT) AS total_chars,
        |    CAST(max(c) AS BIGINT) AS top_count
        |  FROM gcnt GROUP BY doc_id),
        |ghit AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|a|is)\b')) AS BIGINT) AS stop_hits
        |  FROM d0),
        |kept AS (SELECT a.doc_id FROM gagg a JOIN ghit h USING (doc_id)
        |  WHERE n_words > 0 AND n_words >= 5 AND n_words <= 200
        |    AND CAST(total_chars AS DOUBLE) / CAST(n_words AS DOUBLE) >= 2.0
        |    AND CAST(total_chars AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
        |    AND h.stop_hits >= 1
        |    AND CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2),
        |d1 AS (SELECT d0.doc_id, d0.text FROM d0 JOIN kept USING (doc_id)),
        |st AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM d1),
        |snz AS (SELECT doc_id, t FROM st WHERE len(t) > 0),
        |spans AS (SELECT doc_id, i AS span_idx,
        |    array_to_string(t[i*10+1 : i*10+10], ' ') AS span_text
        |  FROM (SELECT doc_id, t,
        |      unnest(generate_series(0,
        |        CAST(floor((len(t)-1)/10) AS BIGINT))) AS i
        |    FROM snz)),
        |flagged AS (SELECT doc_id, span_idx, span_text,
        |    row_number() OVER (PARTITION BY span_text
        |      ORDER BY doc_id, span_idx) AS rn
        |  FROM spans),
        |reb AS (SELECT doc_id,
        |    string_agg(CASE WHEN rn = 1 THEN span_text END, ' '
        |      ORDER BY span_idx) AS text
        |  FROM flagged GROUP BY doc_id),
        |d2 AS (SELECT doc_id, text FROM reb WHERE text IS NOT NULL),
        |tt AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM d2)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(least(len(t), 48) AS BIGINT) AS kept_tokens,
        |  len(t) > 48 AS truncated,
        |  array_to_string(t[1:48], ' ') AS out_text
        |FROM tt ORDER BY doc_id""".stripMargin,
    // same 60-bit hex-prefix uniform as the engine (x45 precedent) and
    // the same inverse-CDF Laplace transform; 4-dp margins probed
    "x79_dp_counts" ->
      """WITH c AS (SELECT user_id % 256 AS grp, count(*) AS n
        |  FROM events GROUP BY 1),
        |h AS (SELECT grp, n,
        |    CAST(('0x' || substr(md5('x79' || CAST(grp AS VARCHAR)),
        |      1, 15)) AS BIGINT) AS hv
        |  FROM c),
        |u AS (SELECT grp, n,
        |    (CAST(hv AS DOUBLE) + 0.5) / 1152921504606846976.0 - 0.5
        |      AS ctr
        |  FROM h)
        |SELECT grp, n,
        |  round(CAST(n AS DOUBLE)
        |    + (-1.0) * sign(ctr) * ln(1.0 - 2.0 * abs(ctr)), 4) + 0.0
        |    AS noisy_r
        |FROM u ORDER BY grp""".stripMargin,
    // GROUPING() bitmask uses the same first-arg-most-significant
    // convention in both engines; dow is exact integer epoch math
    "x78_cube" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow, value
        |  FROM events)
        |SELECT event_type, dow,
        |  CAST(GROUPING(event_type, dow) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM e GROUP BY CUBE (event_type, dow)
        |ORDER BY gid, event_type NULLS FIRST, dow NULLS FIRST"""
        .stripMargin,
    // per-relation CTE quartet (keyed counts → totals + anti-join
    // orphans); coverage is exact-int / exact-int
    "x77_integrity" ->
      """WITH c1 AS (SELECT CASE WHEN o_custkey % 13 = 0 THEN NULL
        |      ELSE o_custkey END AS k FROM orders),
        |p1 AS (SELECT DISTINCT c_custkey AS k FROM customer
        |       WHERE c_custkey % 7 <> 0),
        |k1 AS (SELECT k, count(*) AS cnt FROM c1 GROUP BY k),
        |t1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS child_rows,
        |    CAST(coalesce(sum(CASE WHEN k IS NULL THEN cnt END), 0)
        |      AS BIGINT) AS null_rows,
        |    CAST(count(CASE WHEN k IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS distinct_keys
        |  FROM k1),
        |o1 AS (SELECT CAST(count(*) AS BIGINT) AS orphan_keys,
        |    CAST(coalesce(sum(cnt), 0) AS BIGINT) AS orphan_rows
        |  FROM k1 WHERE k IS NOT NULL AND k NOT IN (SELECT k FROM p1)),
        |c2 AS (SELECT l_orderkey AS k FROM lineitem),
        |p2 AS (SELECT DISTINCT o_orderkey AS k FROM orders),
        |k2 AS (SELECT k, count(*) AS cnt FROM c2 GROUP BY k),
        |t2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS child_rows,
        |    CAST(coalesce(sum(CASE WHEN k IS NULL THEN cnt END), 0)
        |      AS BIGINT) AS null_rows,
        |    CAST(count(CASE WHEN k IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS distinct_keys
        |  FROM k2),
        |o2 AS (SELECT CAST(count(*) AS BIGINT) AS orphan_keys,
        |    CAST(coalesce(sum(cnt), 0) AS BIGINT) AS orphan_rows
        |  FROM k2 WHERE k IS NOT NULL AND k NOT IN (SELECT k FROM p2)),
        |c3 AS (SELECT l_partkey AS k FROM lineitem),
        |p3 AS (SELECT DISTINCT p_partkey AS k FROM part
        |       WHERE p_partkey % 5 <> 0),
        |k3 AS (SELECT k, count(*) AS cnt FROM c3 GROUP BY k),
        |t3 AS (SELECT CAST(sum(cnt) AS BIGINT) AS child_rows,
        |    CAST(coalesce(sum(CASE WHEN k IS NULL THEN cnt END), 0)
        |      AS BIGINT) AS null_rows,
        |    CAST(count(CASE WHEN k IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS distinct_keys
        |  FROM k3),
        |o3 AS (SELECT CAST(count(*) AS BIGINT) AS orphan_keys,
        |    CAST(coalesce(sum(cnt), 0) AS BIGINT) AS orphan_rows
        |  FROM k3 WHERE k IS NOT NULL AND k NOT IN (SELECT k FROM p3))
        |SELECT * FROM (
        |  SELECT 'orders->customer_drop7' AS relation, t1.child_rows,
        |    t1.null_rows, t1.distinct_keys, o1.orphan_keys, o1.orphan_rows,
        |    CAST(t1.child_rows - t1.null_rows - o1.orphan_rows AS DOUBLE)
        |      / CAST(t1.child_rows - t1.null_rows AS DOUBLE) AS coverage
        |  FROM t1, o1
        |  UNION ALL
        |  SELECT 'lineitem->orders', t2.child_rows, t2.null_rows,
        |    t2.distinct_keys, o2.orphan_keys, o2.orphan_rows,
        |    CAST(t2.child_rows - t2.null_rows - o2.orphan_rows AS DOUBLE)
        |      / CAST(t2.child_rows - t2.null_rows AS DOUBLE)
        |  FROM t2, o2
        |  UNION ALL
        |  SELECT 'lineitem->part_drop5', t3.child_rows, t3.null_rows,
        |    t3.distinct_keys, o3.orphan_keys, o3.orphan_rows,
        |    CAST(t3.child_rows - t3.null_rows - o3.orphan_rows AS DOUBLE)
        |      / CAST(t3.child_rows - t3.null_rows AS DOUBLE)
        |  FROM t3, o3)
        |ORDER BY relation""".stripMargin,
    // list slice replicates the whole-token cut; booleans and counts
    // are exact
    "x76_doc_trunc" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(least(len(t), 48) AS BIGINT) AS kept_tokens,
        |  len(t) > 48 AS truncated,
        |  array_to_string(t[1:48], ' ') AS out_text
        |FROM toks ORDER BY doc_id""".stripMargin,
    // winner election over literal span strings (differential on the
    // engine's xxhash64 keying); string_agg skips the dropped spans'
    // NULLs exactly as collect_list does
    "x75_span_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    'subscribe to our newsletter for updates and follow us today '
        |      || text AS text
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM d),
        |nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
        |spans AS (SELECT doc_id, i AS span_idx,
        |    array_to_string(t[i*10+1 : i*10+10], ' ') AS span_text
        |  FROM (SELECT doc_id, t,
        |      unnest(generate_series(0,
        |        CAST(floor((len(t)-1)/10) AS BIGINT))) AS i
        |    FROM nz)),
        |flagged AS (SELECT doc_id, span_idx, span_text,
        |    row_number() OVER (PARTITION BY span_text
        |      ORDER BY doc_id, span_idx) AS rn
        |  FROM spans)
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_spans,
        |  string_agg(CASE WHEN rn = 1 THEN span_text END, ' '
        |    ORDER BY span_idx) AS out_text
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // exploded GROUP BY re-derives the scan-side integers; the two
    // ratios are exact-int/exact-int so the verdict compares identically
    "x74_quality_gate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |                x -> x <> '') AS t
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |          CAST(sum(c * len(tok)) AS BIGINT) AS total_chars,
        |          CAST(max(len(tok)) AS BIGINT) AS max_len,
        |          CAST(max(c) AS BIGINT) AS top_count
        |        FROM cnt GROUP BY doc_id),
        |hits AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|a|is)\b')) AS BIGINT) AS stop_hits
        |  FROM documents)
        |SELECT a.doc_id, n_words,
        |  CAST(total_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_len,
        |  max_len, h.stop_hits, top_count,
        |  CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_share,
        |  (n_words >= 5 AND n_words <= 200
        |   AND CAST(total_chars AS DOUBLE) / CAST(n_words AS DOUBLE) >= 2.0
        |   AND CAST(total_chars AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
        |   AND h.stop_hits >= 1
        |   AND CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2)
        |    AS kept
        |FROM agg a JOIN hits h USING (doc_id)
        |WHERE n_words > 0
        |ORDER BY a.doc_id""".stripMargin,
    "x73_robust_outliers" ->
      """WITH med AS (SELECT event_type,
        |    quantile_disc(value, 0.5) AS med
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |d AS (SELECT e.event_type, e.value, m.med,
        |        abs(e.value - m.med) AS dev
        |      FROM events e JOIN med m USING (event_type)
        |      WHERE e.value IS NOT NULL),
        |mad AS (SELECT event_type, quantile_disc(dev, 0.5) AS mad
        |        FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n, max(d.med) AS med,
        |  max(mad.mad) AS mad,
        |  CAST(sum(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // literal gram strings vs the engine's 64-bit hashes (x38's
    // differential-on-hashing design); whitespace tokens, n=5
    "x71_containment" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 4)) AS i
        |        FROM toks)),
        |ref AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 2 = 0),
        |dg AS (SELECT doc_id, gram FROM grams WHERE doc_id % 2 = 1),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
        |mat AS (SELECT dg.doc_id, count(*) AS n_matched
        |        FROM dg JOIN ref USING (gram) GROUP BY dg.doc_id)
        |SELECT tot.doc_id, n_grams,
        |  coalesce(n_matched, 0) AS n_matched,
        |  CAST(coalesce(n_matched, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |    AS containment
        |FROM tot LEFT JOIN mat ON tot.doc_id = mat.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    // independent formulation: exploded GROUP BY re-derives the
    // scan-side sorted-neighbor hapax integers
    "x72_lexdiv" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |                x -> x <> '') AS t
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |          count(*) AS n_types,
        |          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS hapax
        |        FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types, hapax,
        |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr
        |FROM agg WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin,
    // x17's session CTE + ordered string_agg; ranking is exact-int
    "x70_event_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, ts_ms,
        |    CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 7200000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, event_id, event_type, ts_ms,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM flagged),
        |paths AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS path
        |  FROM sessions GROUP BY user_id, session_id),
        |ranked AS (
        |  SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
        |  ORDER BY n_sessions DESC, path LIMIT 25)
        |SELECT path, n_sessions FROM ranked
        |ORDER BY n_sessions DESC, path""".stripMargin,
    // fingerprint = the x1 rule; jaccard is exact-int / exact-int
    "x67_source_overlap" ->
      """WITH snap AS (
        |  SELECT 'even' AS src, doc_id, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'third', doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'fifth', doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |fp AS (SELECT DISTINCT src,
        |    md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g'))) AS f
        |  FROM snap),
        |sz AS (SELECT src, count(*) AS n FROM fp GROUP BY src),
        |pr AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared
        |       FROM fp a JOIN fp b ON a.f = b.f AND a.src < b.src
        |       GROUP BY 1, 2)
        |SELECT src_a, src_b, shared, sa.n AS n_a, sb.n AS n_b,
        |  CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE)
        |    AS jaccard
        |FROM pr JOIN sz sa ON pr.src_a = sa.src
        |        JOIN sz sb ON pr.src_b = sb.src
        |ORDER BY src_a, src_b""".stripMargin,
    // DuckDB's NATIVE percent_rank vs the counts-then-window
    // formulation — an independent derivation of the same integers
    "x68_calibrate" ->
      """SELECT doc_id, lang, n_chars,
        |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pct
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same word-boundary pattern as x9's stopword oracle
    "x69_blocklist" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(spark|merge|gamma)\b')) AS BIGINT) AS hits,
        |  len(regexp_extract_all(lower(text),
        |    '\b(spark|merge|gamma)\b')) = 0 AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,
    // all-integer: epoch_ns // period replicates Spark's DIV exactly
    "x62_cohorts" ->
      """WITH f AS (SELECT user_id, min(epoch_ns(ts)) AS first_ns
        |           FROM events GROUP BY user_id),
        |j AS (SELECT e.user_id,
        |        f.first_ns // 604800000000000 AS cohort,
        |        epoch_ns(e.ts) // 604800000000000
        |          - f.first_ns // 604800000000000 AS period_offset
        |      FROM events e JOIN f USING (user_id))
        |SELECT cohort, period_offset,
        |  count(DISTINCT user_id) AS active_users
        |FROM j GROUP BY 1, 2 ORDER BY cohort, period_offset""".stripMargin,
    // RANGE frame over raw nanos; cent sums are exact integers so the
    // window reduction order can't diverge
    "x63_rolling" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
        |    AS BIGINT) AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // same blocking predicate (prefix-2 + len//4 band) and the same
    // deterministic corruptions; levenshtein is the classic integer
    // edit distance in both engines
    "x64_fuzzy_lookup" ->
      """WITH v AS (SELECT DISTINCT p_name FROM part),
        |pr AS (
        |  SELECT 'sub:' || p_name AS probe_id,
        |    substr(p_name, 1, 2) || 'z' || substr(p_name, 4) AS probe
        |  FROM v
        |  UNION ALL
        |  SELECT 'del:' || p_name,
        |    substr(p_name, 1, 3) || substr(p_name, 5) FROM v),
        |cand AS (
        |  SELECT pr.probe_id, pr.probe, v.p_name AS matched,
        |    levenshtein(pr.probe, v.p_name) AS dist
        |  FROM pr JOIN v
        |    ON substr(lower(pr.probe), 1, 2) = substr(lower(v.p_name), 1, 2)
        |   AND len(pr.probe) // 4 = len(v.p_name) // 4
        |  WHERE levenshtein(pr.probe, v.p_name) <= 2),
        |rk AS (SELECT *, row_number() OVER
        |         (PARTITION BY probe_id ORDER BY dist, matched) AS rank
        |       FROM cand)
        |SELECT probe_id, probe, matched, dist, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 1 ORDER BY probe_id""".stripMargin,
    // priority ln(u)/w with u = (60-bit md5 prefix + 1) / 2^60, the
    // exact arithmetic of weightedKPerGroup (margins in the scaladoc)
    "x65_weighted_sample" ->
      """WITH d AS (SELECT doc_id, source,
        |    ln((CAST('0x' || substr(md5('w1' || CAST(doc_id AS VARCHAR)),
        |          1, 15) AS BIGINT) + 1)
        |       / 1152921504606846976.0)
        |      / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents),
        |rk AS (SELECT doc_id, source, row_number() OVER
        |         (PARTITION BY source ORDER BY pri DESC, doc_id) AS rank
        |       FROM d)
        |SELECT doc_id, source, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 20 ORDER BY doc_id""".stripMargin,
    // joint and positional-marginal counts over the same bigram
    // stream; pmi arithmetic replicated in evaluation order
    "x66_pmi" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT unnest(list_zip(toks[1:len(toks)-1],
        |         toks[2:len(toks)])) AS z FROM base),
        |pw AS (SELECT z[1] AS p, z[2] AS w FROM bg),
        |j AS (SELECT p, w, count(*) AS c_pw FROM pw
        |      GROUP BY 1, 2 HAVING count(*) >= 20),
        |mp AS (SELECT p, count(*) AS c_p FROM pw GROUP BY 1),
        |mw AS (SELECT w, count(*) AS c_w FROM pw GROUP BY 1),
        |b AS (SELECT count(*) AS bt FROM pw),
        |s AS (SELECT j.p, j.w, j.c_pw,
        |        ln(CAST(j.c_pw AS DOUBLE) * bt
        |           / (CAST(c_p AS DOUBLE) * c_w)) AS pmi
        |      FROM j JOIN mp USING (p) JOIN mw USING (w), b),
        |top AS (SELECT * FROM s ORDER BY pmi DESC, p, w LIMIT 30)
        |SELECT p, w, c_pw, round(pmi, 4) + 0.0 AS pmi_r
        |FROM top ORDER BY pmi_r DESC, p, w""".stripMargin,
    // weights exp((ts - max)/tau) with the long->double cast and
    // division in the operator's order; ts is TIMESTAMP_NS in DuckDB
    // -> epoch_ns() recovers the same integers Spark reads natively
    "x61_decay" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  round(sum(exp((epoch_ns(ts) - epoch_ns(m))
        |    / 86400000000000.0)), 4) + 0.0 AS score_r
        |FROM events, mx GROUP BY user_id ORDER BY user_id""".stripMargin,
    // x5's exact pair predicate + x44's recursive closure, composed;
    // group_id = min vec_id of the component on both sides
    "x60_semantic_groups" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b
        |      FROM v a JOIN v b
        |        ON a.label = b.label AND a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.vec, b.vec) >= 0.4),
        |und AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(node, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT reach.node, und.b FROM reach JOIN und ON reach.r = und.a)
        |SELECT node AS vec_id,
        |  CAST(least(node, min(r)) AS BIGINT) AS group_id
        |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin,
    // chr(769)/chr(768) are the combining acute/grave the Spark side
    // injects; nfc_normalize is utf8proc vs the JDK's Normalizer —
    // THE cross-engine pin; strip_accents must recover md5(text)
    "x59_unicode" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    replace(replace(text, 'a', 'a' || chr(769)),
        |            'e', 'e' || chr(768)) AS i
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(i) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(i)) AS BIGINT) AS n_nfc,
        |  md5(nfc_normalize(i)) AS fp_nfc,
        |  md5(strip_accents(nfc_normalize(i))) AS fp_folded
        |FROM inj ORDER BY doc_id""".stripMargin,
    // each stage = min ts strictly after the previous stage's ts;
    // users without a first-stage event are absent by construction
    "x58_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN t1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN t2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > t2 GROUP BY 1)
        |SELECT t1.user_id,
        |  CAST(1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT
        |    AS BIGINT) AS stage_reached,
        |  epoch_ms(t1) AS t1_ms, epoch_ms(t2) AS t2_ms,
        |  epoch_ms(t3) AS t3_ms
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |ORDER BY t1.user_id""".stripMargin,
    // native ASOF with the inequality flipped (forward); the one-hour
    // attribution window applies as a CASE after the match
    "x57_asof_fwd" ->
      """SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
        |  CASE WHEN epoch_ns(p.ts) - epoch_ns(e.ts) <= 3600000000000 THEN p.event_id END
        |    AS next_purchase_id,
        |  CASE WHEN epoch_ns(p.ts) - epoch_ns(e.ts) <= 3600000000000 THEN p.value END
        |    AS next_purchase_value
        |FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts <= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "x19_asof_join" ->
      """SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
        |  p.event_id AS last_purchase_id, p.value AS last_purchase_value
        |FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "x17_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_ms,
        |    CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 7200000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, event_id, ts_ms,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "x18_rollup" ->
      """SELECT event_type, user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY ROLLUP (event_type, user_id)
        |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST"""
        .stripMargin,
    "x14_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+')) AS tok
        |  FROM documents)
        |SELECT tok, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS doc_freq
        |FROM toks WHERE tok <> '' GROUP BY tok ORDER BY tok""".stripMargin,
    "x15_top_tokens" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+')) AS tok
        |  FROM documents),
        |counts AS (
        |  SELECT lang, tok, COUNT(*) AS cnt FROM toks WHERE tok <> ''
        |  GROUP BY lang, tok)
        |SELECT lang, tok, cnt,
        |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
        |FROM counts
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) <= 5
        |ORDER BY lang, rank""".stripMargin,
    "x1_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g')))
        |    AS fingerprint,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS rep_doc_id
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    // x2/x13 (round 11, ex rows-only): the oracle computes the exact
    // anchors (shingle-bearing doc count, exact-duplicate pair/group
    // counts — the recall floor LSH must reach because identical
    // texts have identical signatures) and pins the engine-side
    // guarantee booleans TRUE; the Spark side computes them genuinely
    // (independent string-shingle Jaccard per emitted pair, label
    // consistency checks), so any violation flips a boolean and the
    // driver hash catches it. Same pattern as b4_approx_agg.
    "x2_dedup_minhash" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |        x -> x <> '')) AS ntok
        |  FROM documents),
        |eligible AS (SELECT doc_id, text FROM tk WHERE ntok >= 3),
        |grp AS (SELECT text, COUNT(*) AS c FROM eligible GROUP BY text)
        |SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT)
        |    AS n_exact_dup_pairs,
        |  TRUE AS exact_dups_all_emitted,
        |  TRUE AS emitted_pairs_verified
        |FROM grp""".stripMargin,
    // x3 (round 11, ex rows-only): same pattern — the anchor is the
    // same-TOKEN-SET pair count (simhash is a function of the
    // distinct-token hash bag, so those pairs are a guaranteed-recall
    // floor at hamming 0); the guarantee booleans are engine-computed
    // and pinned TRUE.
    "x3_dedup_simhash" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_filter(
        |      string_split_regex(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '')))
        |      AS toks
        |  FROM documents),
        |grp AS (SELECT toks, COUNT(*) AS c FROM tk GROUP BY toks)
        |SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT)
        |    AS n_exact_dup_pairs,
        |  TRUE AS exact_dups_all_emitted,
        |  TRUE AS emitted_pairs_verified
        |FROM grp""".stripMargin,
    // x7/x16/x89 (round 11, ex rows-only): ANN guarantee surfaces —
    // anchors are the query-set/corpus sizes and the identical-vector
    // pair count (the family-independent recall floor: an identical
    // vector always shares the query's LSH bucket / IVF cell / PQ
    // code); the verification booleans (independent cosine or ADC
    // recompute per emitted row, rank shape, membership) are
    // engine-computed and pinned TRUE.
    "x7_ann_lsh" ->
      """WITH q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM embeddings),
        |ip AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_identical_pairs
        |  FROM embeddings a JOIN embeddings b
        |    ON a.embedding = b.embedding AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 20)
        |SELECT q.n_queries, c.n_corpus, ip.n_identical_pairs,
        |  TRUE AS identical_recall_floor, TRUE AS emitted_rows_verified
        |FROM q, c, ip""".stripMargin,
    "x16_ann_ivf" ->
      """WITH q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM embeddings),
        |ip AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_identical_pairs
        |  FROM embeddings a JOIN embeddings b
        |    ON a.embedding = b.embedding AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 20)
        |SELECT q.n_queries, c.n_corpus, ip.n_identical_pairs,
        |  TRUE AS identical_recall_floor, TRUE AS emitted_rows_verified
        |FROM q, c, ip""".stripMargin,
    "x89_ann_pq" ->
      """WITH q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM embeddings),
        |ip AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_identical_pairs
        |  FROM embeddings a JOIN embeddings b
        |    ON a.embedding = b.embedding AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 20)
        |SELECT q.n_queries, c.n_corpus, ip.n_identical_pairs,
        |  TRUE AS identical_recall_floor, TRUE AS emitted_rows_verified
        |FROM q, c, ip""".stripMargin,
    // x24 (round 11, ex rows-only): the truth-set completeness count
    // is oracle-recomputable (k=5 rows per query — corpus >> k);
    // range and multi-probe-monotonicity booleans are theorems of
    // the probe-superset construction, engine-checked per query.
    "x24_ann_recall" ->
      """WITH q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        |  FROM embeddings WHERE vec_id < 20)
        |SELECT n_queries, CAST(n_queries * 5 AS BIGINT) AS n_truth_rows,
        |  TRUE AS recall_row_per_query, TRUE AS recalls_in_unit_range,
        |  TRUE AS multiprobe_never_worse
        |FROM q""".stripMargin,
    // x47 (round 11, ex rows-only): the FIRST merge of the BPE loop
    // is plain relational algebra — DuckDB recomputes it from scratch
    // (weighted adjacent-char pair counts over the bounded dictionary,
    // count-desc/lexicographic argmax); later rounds are gated by the
    // engine-side losslessness + probe-rank booleans, pinned TRUE.
    "x47_bpe_merges" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |  FROM documents),
        |wc AS (SELECT word, COUNT(*) AS freq FROM w
        |  WHERE word <> '' GROUP BY word),
        |dict AS (SELECT word, freq FROM wc
        |  ORDER BY freq DESC, word LIMIT 50000),
        |ch AS (SELECT word, freq,
        |  unnest(range(1, length(word))) AS i FROM dict),
        |pr AS (SELECT substring(word, CAST(i AS INT), 1) AS l,
        |    substring(word, CAST(i AS INT) + 1, 1) AS r,
        |    SUM(freq) AS c
        |  FROM ch GROUP BY 1, 2),
        |f AS (SELECT l, r, c FROM pr ORDER BY c DESC, l, r LIMIT 1)
        |SELECT CAST((SELECT COUNT(*) FROM wc) AS BIGINT) AS n_word_types,
        |  CAST((SELECT SUM(freq) FROM wc) AS BIGINT) AS n_words_total,
        |  f.l AS first_left, f.r AS first_right,
        |  CAST(f.c AS BIGINT) AS first_count,
        |  CAST(40 AS BIGINT) AS n_merges,
        |  TRUE AS segmentation_lossless, TRUE AS probe_counts_verified
        |FROM f""".stripMargin,
    "x13_dedup_groups" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |        x -> x <> '')) AS ntok
        |  FROM documents),
        |eligible AS (SELECT doc_id, text FROM tk WHERE ntok >= 3),
        |grp AS (SELECT text, COUNT(*) AS c FROM eligible GROUP BY text)
        |SELECT CAST(COUNT(*) FILTER (WHERE c > 1) AS BIGINT)
        |    AS n_text_dup_groups,
        |  TRUE AS all_same_text_cogrouped,
        |  TRUE AS labels_are_min_members,
        |  TRUE AS labels_closed_under_pairs
        |FROM grp""".stripMargin,
    "x4_dedup_ngram" ->
      """WITH tok0 AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+')) AS tok,
        |    generate_subscripts(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'), 1) AS ord0
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, source, tok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ord0) AS ord
        |  FROM tok0 WHERE tok <> ''),
        |grams AS (
        |  SELECT DISTINCT a.doc_id, a.source,
        |    a.tok || ' ' || b.tok || ' ' || c.tok AS g
        |  FROM tok a
        |  JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
        |  JOIN tok c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        |  FROM grams x JOIN grams y
        |    ON x.g = y.g AND x.source = y.source AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.1
        |ORDER BY doc_a, doc_b""".stripMargin,
    "x8_text_langid" ->
      """SELECT doc_id, CASE
        |  WHEN hits_en > 0 AND hits_en >= hits_fr AND hits_en >= hits_es
        |    AND hits_en >= hits_de AND hits_en >= hits_zh THEN 'en'
        |  WHEN hits_fr > 0 AND hits_fr >= hits_es AND hits_fr >= hits_de
        |    AND hits_fr >= hits_zh THEN 'fr'
        |  WHEN hits_es > 0 AND hits_es >= hits_de AND hits_es >= hits_zh
        |    THEN 'es'
        |  WHEN hits_de > 0 AND hits_de >= hits_zh THEN 'de'
        |  WHEN hits_zh > 0 THEN 'zh'
        |  ELSE 'und' END AS pred_lang
        |FROM (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is)\b')) AS hits_en,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|des|un|est)\b')) AS hits_fr,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|y|que|un|es)\b')) AS hits_es,
        |  len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein|zu)\b')) AS hits_de,
        |  len(regexp_extract_all(lower(text), '(的|是|在|了|不|我|有)')) AS hits_zh
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "x9_text_quality" ->
      """SELECT doc_id, n_tokens, stop_hits, len_chars,
        |  CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |  CAST(CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END
        |   + CASE WHEN CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.0
        |       THEN 1 ELSE 0 END
        |   + CASE WHEN CAST(len_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |       BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END AS BIGINT) AS quality
        |FROM (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |    AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is)\b'))
        |    AS BIGINT) AS stop_hits,
        |  CAST(length(text) AS BIGINT) AS len_chars
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "x10_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |    AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS bpeish_tokens,
        |  CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
        |    x -> x <> ''))) AS BIGINT) AS vocab
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x11_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}_]+', ' ', 'g'))) AS norm_fp,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> ''))),
        |    ' ')) AS bag_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x12_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 640 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 480 + 1 AS BIGINT) AS height,
        |  'image/png' AS media_type
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x23_audio_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 2 + 1 AS INTEGER) AS n_channels,
        |  CAST(8000 * (doc_id % 3 + 1) AS BIGINT) AS sample_rate,
        |  CAST((doc_id % 1000 + 100) * 1000 // (8000 * (doc_id % 3 + 1))
        |    AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x25_video_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 1280 + 16 AS BIGINT) AS width,
        |  CAST(doc_id % 720 + 9 AS BIGINT) AS height,
        |  CAST(doc_id % 60000 + 1000 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x26_line_dedup" ->
      """SELECT doc_id, text AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,
    // pixel value at (x, y) is (seed + x) % 256, y-independent, so the
    // whole-image stats reduce to a series over x scaled by height —
    // recomputed here from doc_id with no knowledge of PNG at all.
    // (DuckDB's generate_series takes only constant bounds, so the
    // series is a constant 0..max-width joined with a per-doc filter.)
    "x27_image_pixels" ->
      """SELECT d.doc_id,
        |  CAST(d.doc_id % 97 + 4 AS BIGINT) AS width,
        |  CAST(d.doc_id % 53 + 3 AS BIGINT) AS height,
        |  CAST((d.doc_id % 97 + 4) * (d.doc_id % 53 + 3) AS BIGINT) AS n_samples,
        |  CAST((d.doc_id % 53 + 3) * sum((d.doc_id % 251 + t.x) % 256)
        |    AS BIGINT) AS sum_val,
        |  CAST(min((d.doc_id % 251 + t.x) % 256) AS INTEGER) AS min_val,
        |  CAST(max((d.doc_id % 251 + t.x) % 256) AS INTEGER) AS max_val
        |FROM documents d
        |JOIN generate_series(0, 99) t(x) ON t.x <= d.doc_id % 97 + 3
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // sample(i) = ((seed + i*7919) % 2003) - 1001 over i in [0, n)
    "x28_audio_samples" ->
      """SELECT d.doc_id,
        |  CAST(d.doc_id % 400 + 100 AS BIGINT) AS n_samples,
        |  CAST(sum((d.doc_id % 1777 + t.i*7919) % 2003 - 1001)
        |    AS BIGINT) AS sum_val,
        |  CAST(sum(((d.doc_id % 1777 + t.i*7919) % 2003 - 1001)
        |         * ((d.doc_id % 1777 + t.i*7919) % 2003 - 1001))
        |    AS BIGINT) AS sum_sq,
        |  CAST(min((d.doc_id % 1777 + t.i*7919) % 2003 - 1001)
        |    AS INTEGER) AS min_val,
        |  CAST(max((d.doc_id % 1777 + t.i*7919) % 2003 - 1001)
        |    AS INTEGER) AS max_val
        |FROM documents d
        |JOIN generate_series(0, 499) t(i) ON t.i <= d.doc_id % 400 + 99
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
  )
}
