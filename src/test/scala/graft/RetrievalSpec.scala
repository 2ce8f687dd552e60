package graft

import org.apache.spark.sql.functions._

import graft.ext.Retrieval

/** Specs for BM25 lexical retrieval scoring. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "a a b"),
    (2L, "b c"),
    (3L, "c c c"),
    (4L, "A b a")).toDF("doc_id", "text")

  /** Independent scalar reference of the same published formula. */
  private def ref(tf: Long, dl: Long, df: Long, n: Long, avgdl: Double,
      k1: Double = 1.2, b: Double = 0.75): Double = {
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
  }

  test("single-term scores match the scalar formula; non-matches dropped") {
    val got = Retrieval.bm25(corpus, "doc_id", "text", Seq("a"))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    // N=4, avgdl=11/4; 'a' appears in docs 1 (tf 2) and 4 (tf 2, one
    // capitalized) with df=2
    val avgdl = 11.0 / 4
    assert(got.map(_._1) === Seq(1L, 4L))
    assert(got.map(_._2) === Seq(1L, 1L))
    assert(math.abs(got(0)._3 - ref(2, 3, 2, 4, avgdl)) < 1e-12)
    assert(math.abs(got(1)._3 - ref(2, 3, 2, 4, avgdl)) < 1e-12)
  }

  test("multi-term scores add per-term contributions and count matches") {
    val got = Retrieval.bm25(corpus, "doc_id", "text", Seq("b", "c"))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    val avgdl = 11.0 / 4
    // b: df=3 (docs 1,2,4); c: df=2 (docs 2,3)
    val expect = Seq(
      (1L, 1L, ref(1, 3, 3, 4, avgdl)),
      (2L, 2L, ref(1, 2, 3, 4, avgdl) + ref(1, 2, 2, 4, avgdl)),
      (3L, 1L, ref(3, 3, 2, 4, avgdl)),
      (4L, 1L, ref(1, 3, 3, 4, avgdl)))
    assert(got.map(g => (g._1, g._2)) === expect.map(e => (e._1, e._2)))
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-12, s"doc ${g._1}") }
  }

  test("topK orders by score desc with id tie-break and limits") {
    val got = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("b", "c"), 2)
      .select("doc_id").as[Long].collect().toSeq
    // doc 2 matches both terms (highest); docs 1 and 4 have identical
    // score (same tf/dl) — tie-break picks neither here, doc 3's
    // tf=3 'c' outscores them
    assert(got.head === 2L)
    assert(got.size === 2)
  }

  test("bm25TopKMulti ≡ one bm25TopK per query set, bit-exact") {
    // overlapping term bags (shared tf columns), a term nobody has,
    // ties, and k larger than the match count — the multi path's
    // shared scan + per-query-term-order sums must match the
    // single-query form exactly (packed-bits score equality)
    val sets = Seq(0L -> Seq("b", "c"), 1L -> Seq("a"),
      2L -> Seq("c", "zzz", "a"))
    val multi = Retrieval.bm25TopKMulti(corpus, "doc_id", "text", sets, 3)
      .select(col("query_id"), col("doc_id"), col("n_matched"), col("score"))
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3,
        java.lang.Double.doubleToRawLongBits(r._4))).toSeq).toMap
    sets.foreach { case (qid, terms) =>
      val single = Retrieval.bm25TopK(corpus, "doc_id", "text", terms, 3)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3)))
        .toSeq
      assert(multi.getOrElse(qid, Nil) === single, s"query $qid diverges")
    }
  }

  test("bm25TopKMulti rejects duplicate query ids and bad term bags") {
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKMulti(corpus, "doc_id", "text",
        Seq(0L -> Seq("a"), 0L -> Seq("b")), 2)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKMulti(corpus, "doc_id", "text",
        Seq(0L -> Seq("a", "a")), 2)
    }
  }

  test("tie between identically-profiled docs breaks by id") {
    val got = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("b"), 3)
      .select("doc_id").as[Long].collect().toSeq
    // docs 1 and 4 tie exactly (tf 1, dl 3); doc 2 (dl 2) outscores
    // both via length normalization; tie resolves 1 before 4
    assert(got === Seq(2L, 1L, 4L))
  }

  test("matching is case-insensitive on both sides") {
    val got = Retrieval.bm25(corpus, "doc_id", "text", Seq("A"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got === Seq(1L, 4L))
  }

  test("invalid query bags are rejected") {
    intercept[IllegalArgumentException] {
      Retrieval.bm25(corpus, "doc_id", "text", Seq.empty) }
    intercept[IllegalArgumentException] {
      Retrieval.bm25(corpus, "doc_id", "text", Seq("a", "A")) }
    intercept[IllegalArgumentException] {
      Retrieval.bm25(corpus, "doc_id", "text", Seq("a"), b = 1.5) }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKMulti(corpus, "doc_id", "text",
        Seq(0L -> Seq("a")), k = 2, b = 1.5) }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKMulti(corpus, "doc_id", "text",
        Seq(0L -> Seq("a")), k = 2, k1 = -1.0) }
  }

  test("rrf fusion matches the hand computation, ranks and ties included") {
    // system A ranks: q0 -> d1(1), d2(2), d3(3); system B: d2(1), d4(2)
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L))
      .toDF("q", "d", "r")
    val b = Seq((0L, 2L, 1L), (0L, 4L, 2L)).toDF("q", "d", "r")
    val got = Retrieval.rrfFuse(Seq(a, b), "q", "d", "r", rrfK = 60, topK = 10)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(t => t._2 -> ((t._3, t._4, t._5))).toMap
    // d2 in both: 1/62 + 1/61; d1: 1/61; d4: 1/62; d3: 1/63
    assert(math.abs(got(2L)._2 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(got(2L)._1 === 1L && got(2L)._3 === 2L)
    assert(got(1L)._1 === 2L && math.abs(got(1L)._2 - 1.0 / 61) < 1e-15)
    assert(got(4L)._1 === 3L)
    assert(got(3L)._1 === 4L)
    // exact tie (same single rank in one system each) breaks by doc id
    val t1 = Seq((1L, 7L, 5L)).toDF("q", "d", "r")
    val t2 = Seq((1L, 3L, 5L)).toDF("q", "d", "r")
    val tied = Retrieval.rrfFuse(Seq(t1, t2), "q", "d", "r")
      .as[(Long, Long, Long, Double, Long)].collect().sortBy(_._3)
    assert(tied.map(_._2).toSeq === Seq(3L, 7L))
  }

  test("rrf fusion: topK truncates per query; invalid args rejected") {
    val a = (1L to 5L).map(d => (0L, d, d)).toDF("q", "d", "r")
    val got = Retrieval.rrfFuse(Seq(a), "q", "d", "r", topK = 2)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(got.length === 2 && got.map(_._2).sorted.toSeq === Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq.empty, "q", "d", "r") }
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(a), "q", "d", "r", rrfK = -1) }
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(a), "q", "d", "r", topK = 0) }
  }

  test("plan: broadcast stats join, no wide exchange, top-k via heap") {
    // spark.range input: a LocalRelation corpus lets Catalyst fold the
    // match filter into the scan and drop the limit (maxRows <= k),
    // which would vacuously pass — this shape survives to real scans
    val big = spark.range(100).select(col("id").as("doc_id"),
      concat_ws(" ", lit("a"), col("id").cast("string")).as("text"))
    val plan = Retrieval.bm25TopK(big, "doc_id", "text", Seq("a"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }
  test("rrfFuse preserves string ids (the long-cast used to NULL them)") {
    import spark.implicits._
    val a = Seq(("q1", "doc-a", 1L), ("q1", "doc-b", 2L))
      .toDF("q", "d", "r")
    val b = Seq(("q1", "doc-b", 1L), ("q1", "doc-c", 2L))
      .toDF("q", "d", "r")
    val got = Retrieval.rrfFuse(Seq(a, b), "q", "d", "r", rrfK = 60,
        topK = 10)
      .select("doc_id", "n_systems")
      .as[(String, Long)].collect().toMap
    assert(got === Map("doc-a" -> 1L, "doc-b" -> 2L, "doc-c" -> 1L))
  }

  test("rrfFuse rejects 0-based ranks in-plan") {
    import spark.implicits._
    val a = Seq((1L, 10L, 0L)).toDF("q", "d", "r")
    val e = intercept[Exception] {
      Retrieval.rrfFuse(Seq(a), "q", "d", "r").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("1-based")), e.toString)
  }

  test("rrfFuse rejects NULL ranks (non-numeric rank column) in-plan") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    // a non-numeric rank string must fail loudly, not silently
    // contribute 0 while counting in n_systems: under ANSI (Spark 4
    // default) the cast itself raises; with ANSI off it NULLs and the
    // isNull guard raises instead — loud either way
    val bad = Seq((1L, 10L, "first")).toDF("q", "d", "r")
    val e1 = intercept[Exception] {
      Retrieval.rrfFuse(Seq(bad), "q", "d", "r").collect()
    }
    assert(msgs(e1).exists(m =>
      m.contains("1-based") || m.contains("CAST_INVALID_INPUT")), e1.toString)
    // a genuinely NULL rank in the source data fails the same way
    val withNull = Seq((1L, 10L, Some(1L)), (1L, 11L, None))
      .toDF("q", "d", "r")
    val e2 = intercept[Exception] {
      Retrieval.rrfFuse(Seq(withNull), "q", "d", "r").collect()
    }
    assert(msgs(e2).exists(_.contains("1-based")), e2.toString)
  }
}
