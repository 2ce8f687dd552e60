package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] BM25 lexical retrieval scoring: score every corpus document
  * against a small bag of query terms with the Okapi BM25 function —
  * the classic sparse-retrieval baseline a RAG stack runs next to its
  * dense (embedding) index, and the relevance filter training
  * pipelines use to mine topical subsets out of a crawl.
  *
  * 100 TB shape: the query side is a handful of terms known at plan
  * time, so per-term term frequencies are computed SCAN-SIDE as array
  * expressions over the token list — no explode, no (doc, term)
  * shuffle. Corpus statistics (N, avgdl, per-term document frequency)
  * reduce through one partial-aggregate to a single row, which joins
  * back by broadcast; the scoring pass is a second scan that stays
  * inside whole-stage codegen. Two corpus scans, zero wide shuffles —
  * the only exchange anywhere is the single-row stats broadcast, so
  * the plan is embarrassingly parallel at any corpus size.
  *
  * Scoring (Lucene-flavoured BM25):
  * `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))` and
  * `tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))` per term; a document's
  * score is the sum over query terms. Matching is case-insensitive on
  * the shared whitespace tokenization ([[Contamination.wsTokens]]
  * rule); non-matching documents (score 0) are dropped — at corpus
  * scale the output is the relevant slice, not an annotation of every
  * row.
  *
  * Reference scope: deimos has no retrieval; this extends the engine
  * for LLM-corpus work alongside [[Dedup]]/[[Similarity]]
  * (SURVEY.md §2.9).
  */
object Retrieval {

  /** @param terms  query bag; matched case-insensitively, duplicates
    *               and empties rejected (a duplicate term would double
    *               its contribution silently)
    * @param k1     tf saturation (Robertson k1, default 1.2)
    * @param b      length normalization strength (default 0.75)
    * @return one row per matching document: (id, n_matched, score) —
    *         n_matched the count of distinct query terms present
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val q = termBag(terms)
    require(k1 >= 0 && b >= 0 && b <= 1, s"invalid BM25 params k1=$k1 b=$b")
    val perDoc = termFreqs(df, idCol, textCol, q)
    okapi(perDoc, corpusStats(perDoc, q.size), idCol, q.indices, k1, b)
  }

  /** The query bag a scorer matches: lowercased; empty bags, empty
    * terms and duplicates rejected. */
  private def termBag(terms: Seq[String]): Seq[String] = {
    val q = terms.map(_.toLowerCase)
    require(q.nonEmpty, "at least one query term required")
    require(q.forall(_.nonEmpty), "empty query term")
    require(q.distinct == q, s"duplicate query terms in $terms")
    q
  }

  /** One scan over the corpus: (id, `__dl` doc length, `__tf_i` per
    * term), all array expressions over the same whitespace token list
    * (single codegen stage, token list evaluated once per row).
    * spreadScan: per-term tf arithmetic is the dominant scan-side
    * cost; identity on a many-split corpus (guide §2.5). */
  private def termFreqs(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val toks = array_remove(split(lower(col(textCol)), "\\s+"), "")
    graft.operators.Scale.spreadScan(df, col(idCol)).select(
      col(idCol) +: size(toks).cast("long").as("__dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          // tf(t) = |toks| - |toks without t|: two ordinary array
          // expressions instead of a per-element interpreted lambda
          (size(toks) - size(array_remove(toks, t))).cast("long")
            .as(s"__tf_$i")
        }: _*)
  }

  private def tfCol(i: Int): Column = col(s"__tf_$i")

  /** Corpus statistics over a [[termFreqs]] frame: one partial-
    * aggregated job, one output row (N, avgdl, df per term). */
  private def corpusStats(perDoc: DataFrame, nTerms: Int): DataFrame = {
    val statCols = count(lit(1)).as("__n") +: avg(col("__dl")).as("__avgdl") +:
      (0 until nTerms).map(i => sum((tfCol(i) > 0).cast("long")).as(s"__df_$i"))
    perDoc.agg(statCols.head, statCols.tail: _*)
  }

  /** (id, n_matched, score) of every document matching one query, whose
    * terms are the `__tf_i` columns `idxs`, summed in that order (the
    * IEEE addition order); the stats row joins by broadcast. */
  private def okapi(perDoc: DataFrame, stats: DataFrame, idCol: String,
      idxs: Seq[Int], k1: Double, b: Double): DataFrame = {
    val contributions = idxs.map { i =>
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df_$i") + 0.5) / (col(s"__df_$i") + 0.5))
      idf * (tfCol(i) * (k1 + 1)) /
        (tfCol(i) + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }
    val matched = idxs.map(i => (tfCol(i) > 0).cast("int"))
    perDoc.crossJoin(broadcast(stats))
      .select(col(idCol),
        matched.reduce(_ + _).cast("long").as("n_matched"),
        contributions.reduce(_ + _).as("score"))
      .filter(col("n_matched") > 0)
  }

  /** Top-k form: the k best-scoring documents, ties broken by id —
    * plans as TakeOrderedAndProject (per-partition heaps, one tiny
    * ordered exchange of k rows per partition), never a global sort. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    bm25(df, idCol, textCol, terms, k1, b)
      .orderBy(col("score").desc, col(idCol)).limit(k)
  }

  /** MULTI-QUERY top-k: result-identical to one [[bm25TopK]] per query
    * set (BM25Spec pins bit-equality), but the corpus is tokenized
    * ONCE for all of them (round-18, opt guide §1.2 — a hybrid-
    * retrieval stack runs its whole query batch against the same
    * corpus; N separate bm25 branches each re-ran the full tokenize +
    * tf scan). One spread scan computes doc length and the tf of every
    * DISTINCT term across the batch and is cut eagerly (narrow rows:
    * id + one long per distinct term — a fraction of the text bytes);
    * one aggregate produces the shared corpus statistics (N and avgdl
    * are query-independent, per-term df is per distinct term); each
    * query is then a TakeOrderedAndProject heap over the cached narrow
    * frame, with its score summed in ITS OWN term order so the IEEE
    * addition order matches the single-query form exactly.
    *
    * @param querySets (query_id, terms) — each term bag validated by
    *                  the [[bm25]] rules; query ids must be distinct
    * @return (query_id, idCol, n_matched, score): the top k per query,
    *         ties broken by id — the per-query rows equal
    *         `bm25TopK(df, …, terms, k)` exactly
    */
  def bm25TopKMulti(df: DataFrame, idCol: String, textCol: String,
      querySets: Seq[(Long, Seq[String])], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"invalid BM25 params k1=$k1 b=$b")
    require(querySets.nonEmpty, "at least one query set required")
    require(querySets.map(_._1).distinct.size == querySets.size,
      s"duplicate query ids in ${querySets.map(_._1)}")
    val qs = querySets.map { case (qid, terms) => qid -> termBag(terms) }
    val allTerms = qs.flatMap(_._2).distinct
    val termIdx = allTerms.zipWithIndex.toMap
    // ONE tokenize wave over the corpus for the whole query batch,
    // cut eagerly so each query's heap reads cached narrow rows
    // instead of re-running the scan-side tf arithmetic
    val perDoc = termFreqs(df, idCol, textCol, allTerms).localCheckpoint(true)
    // one stats job over the cached frame, shared by every query
    val stats = corpusStats(perDoc, allTerms.size).localCheckpoint(true)
    qs.map { case (qid, q) =>
      okapi(perDoc, stats, idCol, q.map(termIdx), k1, b)
        .orderBy(col("score").desc, col(idCol)).limit(k)
        .select(lit(qid).as("query_id"), col(idCol), col("n_matched"),
          col("score"))
    }.reduce(_ unionAll _)
  }

  /** Reciprocal-rank fusion: merge ranked lists from heterogeneous
    * retrievers (lexical BM25 next to a dense ANN index — the standard
    * hybrid-retrieval combiner) into one ranking per query:
    * `score(d) = Σ_systems 1/(rrfK + rank_s(d))` (Cormack et al.'s
    * RRF), ties broken by document id.
    *
    * 100 TB shape: the inputs are already top-k frames — each upstream
    * retriever reduced the corpus to k rows per query — so the fusion
    * works on query-keyed slivers: one union, one (query, doc) group
    * (partial-aggregated map-side), one per-query k-row window. The
    * heavy lifting stays in the retrievers; fusion never touches the
    * corpus.
    *
    * Determinism: each contribution `1/(rrfK + rank)` is one exact
    * IEEE division of small integers; with two systems the sum is a
    * single commutative add, bit-identical in any engine. Exact score
    * ties (identical rank multisets) break by doc id. (With >2 systems
    * the reduction order can differ in the last ulp across engines;
    * round the emitted score when oracle-comparing such fusions.)
    *
    * @param rankings frames each carrying (queryCol, docCol, rankCol),
    *                 rank 1-based within its system
    * @return (query_id, doc_id, rank, rrf_score, n_systems) — the
    *         fused top `topK` per query, rank re-assigned 1..topK
    */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, docCol: String,
      rankCol: String, rrfK: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking required")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")
    require(topK >= 1, s"topK must be positive, got $topK")
    // ids keep their NATURAL types: the old cast("long") silently
    // turned every string/uuid id into NULL, collapsing all of a
    // query's docs into one fused row (round-15 review). Mismatched id
    // types across systems now fail loudly at the union instead. Only
    // the rank is coerced (it must be numeric), and a rank < 1 is
    // rejected in-plan — RRF's 1/(k+rank) silently overweights 0-based
    // ranks otherwise.
    val shaped = rankings.map(_.select(
      col(queryCol).as("query_id"),
      col(docCol).as("doc_id"),
      col(rankCol).cast("long").as("__rank")))
    val contrib = when(col("__rank").isNull || col("__rank") < 1L, raise_error(
        lit("rrfFuse: rank must be 1-based positive (a NULL rank means " +
          "the rank column was non-numeric or missing)")).cast("double"))
      .otherwise(lit(1.0) / (lit(rrfK.toLong) + col("__rank")))
    val fused = shaped.reduce(_ unionAll _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contrib).as("rrf_score"),
        count(lit(1)).as("n_systems"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("rrf_score"), col("n_systems"))
  }
}
