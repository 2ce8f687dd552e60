package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver parses the bench contract line out of the LAST ~4 KB of
  * stdout (round-3 lost a whole round's perf numbers to an oversized
  * line). These pin the line's byte budget and the stats helpers —
  * no SparkSession needed.
  */
class BenchContractSpec extends AnyFunSuite {

  private val calPair = Bench.RunSample(0.0843, 2.1412, 0.0123)

  // The driver's OBSERVED tail capture: every BENCH_r1..r6 artifact
  // records tail length exactly 2000 and parsed:null at every surface
  // size — the ~4 KB window earlier rounds engineered against never
  // existed, and the full line's HEAD (metric/value + early queries)
  // was truncated away each round. Round 8 therefore emits a compact
  // summary line LAST: it must fit the 2000-char tail whole, with
  // ~200 B left for sbt's epilogue and flush slack.
  private val TailWindow = 2000
  private val SummaryBudget = 1800

  private def line(results: Seq[(String, Double)],
      errors: Map[String, String],
      contended: Seq[String] = Nil): String =
    Bench.contractLine(results.map(_._2).filter(_ >= 0).sum, results,
      errors, calPair, calPair, "/root/testdata/sf0.1", contended)

  private def summary(results: Seq[(String, Double)],
      errors: Map[String, String],
      contended: Seq[String] = Nil,
      requeued: Seq[String] = Nil): String =
    Bench.summaryLine(results.map(_._2).filter(_ >= 0).sum, results,
      errors, calPair, calPair, "/root/testdata/sf0.1", contended, requeued)

  test("secStr: adaptive precision, trimmed, valid JSON numbers") {
    assert(Bench.secStr(0.36) === "0.36")
    assert(Bench.secStr(0.105) === "0.11") // baselines are 2-dec anyway
    assert(Bench.secStr(1.2345) === "1.23")
    assert(Bench.secStr(67.0) === "67")
    assert(Bench.secStr(123.456) === "123.5")
    assert(Bench.secStr(-1.0) === "-1") // failed-query sentinel
    assert(Bench.secStr(0.0) === "0")
  }

  test("summary line fits the OBSERVED 2000-char driver tail, whole") {
    // the growth-proof pin lives on the SUMMARY now: its size is
    // O(worst-12 + flags), independent of the query count, so any
    // future surface growth is free. Worst realistic load: the grown
    // surface, 30 errors, 10 contended flags.
    val real = SparkEntry.queries.toSeq.map(_._1 -> 1.2345)
    val grown = real ++ (1 to 20).map(i => f"x2$i%02d_operator_nm" -> 1.2345)
    val errs = grown.take(30)
      .map(t => t._1 -> ("org.apache.spark.sql.AnalysisException: " +
        "x" * 180)).toMap
    val flagged = grown.take(10).map(_._1)
    val worst = summary(grown, errs, flagged, flagged)
    assert(worst.length < SummaryBudget,
      s"summary is ${worst.length} bytes vs budget $SummaryBudget " +
        s"(tail window $TailWindow)")
    assert(!worst.contains('\n'))
    assert(worst.startsWith("{\"metric\":\"total\""))
    assert(worst.endsWith("\"}"))
    assert(worst.contains("\"n_queries\":" + grown.size))
    assert(worst.contains("\"n_errors\":30"))
    assert(worst.contains("\"queries_full\":\"bench_diag.json\""))
  }

  test("final per-query line is emitted LAST; full line carries all queries") {
    val real = SparkEntry.queries.toSeq.map(_._1 -> 1.2345)
    val lines = Bench.outputLines(1.0, real, Map.empty, calPair, calPair,
      "/root/testdata/sf0.1")
    assert(lines.size === 3)
    // parse target: the LAST line must carry the per-query map the
    // driver diffs across rounds (PERF r16/r17 were blind without it)
    assert(lines.last.contains("\"queries\":{"))
    assert(lines.last.contains("\"queries_truncated\":"))
    assert(lines(1).contains("\"queries_full\""))
    assert(!lines.head.contains("\"queries_full\""))
    // the full line remains the complete per-query record
    assert(real.forall { case (k, _) => lines.head.contains("\"" + k + "\":") })
    assert(!lines.head.contains("\"errors\""),
      "empty errors map must be omitted entirely")
    assert(lines.head.startsWith("{\"metric\":\"total\""))
    // sanity cap only — the full line is a log/diag artifact, not the
    // parse target; pathological growth should still trip something
    assert(lines.head.length < 8192)
  }

  test("summary requeued list is capped and omitted when empty") {
    assert(!summary(Seq("q1" -> 1.0), Map.empty).contains("requeued"))
    val rq = (1 to 10).map(i => f"x$i%02d_operator_name")
    val got = summary(rq.map(_ -> 1.0), Map.empty, Nil, rq)
    assert(got.contains("\"requeued\":[\"x01_operator_name\""))
    assert(got.contains("\"more_requeued\":2"), got)
  }

  test("summary contended cap carries a more_contended marker") {
    val flagged = (1 to 10).map(i => f"x$i%02d_operator_name")
    val got = summary(flagged.map(_ -> 9.9), Map.empty, flagged)
    assert(got.contains("\"contended\":[\"x01_operator_name\""))
    assert(got.contains("\"more_contended\":2"), got)
    assert(!summary(Seq("q1" -> 1.0), Map.empty).contains("contended"))
  }

  test("summary ratios come from the recorded baselines") {
    // q1_project base 0.23 -> ratio 2.0 at 0.46; x1_dedup_exact base
    // 0.22 -> ratio 0.5 at 0.11; a no-baseline query is excluded
    val got = summary(Seq("q1_project" -> 0.46, "x1_dedup_exact" -> 0.11,
      "zz_new_query" -> 9.9), Map.empty)
    assert(got.contains("\"median_ratio_vs_baseline\":1.25"), got)
    assert(got.contains("\"worst_ratios\":{\"q1_project\":2,"), got)
    assert(!got.contains("zz_new_query"), got)
  }

  test("errors map appears (escaped) only when a query failed") {
    val got = line(Seq("q1" -> -1.0),
      Map("q1" -> "boom\nline2\t\"quoted\""))
    assert(got.contains("\"errors\""))
    assert(got.contains("boom\\nline2\\t\\\"quoted\\\""))
    // still one physical line
    assert(!got.contains('\n'))
  }

  test("error sample set is deterministic: sorted by query name") {
    val errs = (1 to 12).map(i => f"x$i%02d_q" -> s"err$i").toMap
    val got = line(Seq("q1" -> 1.0), errs)
    val shown = "\"(x\\d+_q)\":".r.findAllMatchIn(got).map(_.group(1)).toSeq
    assert(shown === Seq("x01_q"), got)
    assert(got.contains("\"more_errors\":11"), got)
  }

  test("error messages drop the exception package prefix, not the content") {
    val got = line(Seq("q1" -> -1.0), Map("q1" ->
      "org.apache.spark.sql.AnalysisException: cannot resolve 'zzz'"))
    assert(got.contains("\"q1\":\"AnalysisException: cannot resolve 'zzz'\""),
      got)
  }

  test("mass failure stays within the full line's error budget") {
    // the round-5 regression class (22 × 200-char exceptions inlined)
    // now threatens only the diagnostic full line — the parse target
    // (summary, above) carries a count, never messages. Still pin the
    // 1×44 inline so the full line cannot grow unboundedly on errors.
    val grown = SparkEntry.queries.toSeq.map(_._1 -> 1.2345) ++
      (1 to 20).map(i => f"x2$i%02d_operator_nm" -> 1.2345)
    val errs = grown.take(30)
      .map(t => t._1 -> ("org.apache.spark.sql.AnalysisException: " +
        "x" * 180)).toMap
    val got = line(grown, errs)
    val clean = line(grown, Map.empty)
    assert(got.length - clean.length < 120,
      s"30 errors added ${got.length - clean.length} bytes")
    assert(got.contains("\"more_errors\":29"), got.takeRight(200))
  }

  test("contended flag is capped and omitted when clean") {
    assert(!line(Seq("q1" -> 1.0), Map.empty).contains("contended"))
    val flagged = (1 to 10).map(i => f"x$i%02d_operator_name")
    val got = line(flagged.map(_ -> 9.9), Map.empty, flagged)
    assert(got.contains("\"contended\":[\"x01_operator_name\""))
    assert(got.contains("\"more_contended\":2"), got)
  }

  test("final line fits the driver tail window, whole and parseable") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    // worst realistic load: grown surface, errors present, long totals
    val real = SparkEntry.queries.toSeq.map(_._1 -> 1.2345)
    val grown = real ++ (1 to 20).map(i => f"x2$i%02d_operator_nm" -> 9.8765)
    val errs = grown.take(30).map(t => t._1 -> "boom").toMap
    val got = Bench.finalLine(123.456, grown, errs, "/root/testdata/sf0.1")
    assert(got.length <= Bench.FinalLineBudget,
      s"final line is ${got.length} bytes vs budget ${Bench.FinalLineBudget} " +
        s"(tail window $TailWindow)")
    assert(!got.contains('\n'))
    val node = mapper.readTree(got) // whole-JSON property: must parse
    assert(node.get("metric").asText === "total")
    // totals ≥100 s use secStr's 1-decimal encoding → 123.5
    assert(math.abs(node.get("value").asDouble - 123.456) < 0.06)
    assert(node.get("unit").asText === "sec")
    assert(node.get("n_queries").asInt === grown.size)
    assert(node.get("n_errors").asInt === 30)
    val qs = node.get("queries")
    assert(qs.size + node.get("queries_truncated").asInt === grown.size)
    assert(node.get("sf").asText === "/root/testdata/sf0.1")
  }

  test("final line keeps the MOST EXPENSIVE queries, truncates the cheap tail") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    // realistic cost distribution: heavy queries must all survive
    val names = SparkEntry.queries.toSeq.map(_._1)
    val costs = names.zipWithIndex.map { case (k, i) =>
      k -> (0.05 + 0.04 * i) } // 0.05 .. ~7 s, unique values
    val got = Bench.finalLine(costs.map(_._2).sum, costs, Map.empty,
      "/root/testdata/sf0.1")
    val node = mapper.readTree(got)
    val qsNode = node.get("queries")
    val shown = qsNode.fieldNames().asScala
      .map(k => k -> qsNode.get(k).asDouble).toSeq
    // descending-cost order, and every omitted entry is cheaper than
    // every shown one
    assert(shown.map(_._2) === shown.map(_._2).sortBy(-(_: Double)))
    val shownKeys = shown.map(_._1).toSet
    val omitted = costs.filterNot(c => shownKeys(c._1))
    if (omitted.nonEmpty && shown.nonEmpty)
      assert(omitted.map(_._2).max <= shown.map(_._2).min + 1e-9)
    // the driver needs a usable comparison set: on today's 173-query
    // surface the budget must admit a substantial majority
    assert(shown.size >= 70, s"only ${shown.size} entries fit")
    assert(node.get("queries_truncated").asInt === costs.size - shown.size)
  }

  test("final line: no truncation when everything fits") {
    val few = Seq("q1_project" -> 1.0, "x1_dedup_exact" -> 0.5)
    val got = Bench.finalLine(1.5, few, Map.empty, "/sf")
    assert(got.contains("\"queries_truncated\":0"))
    assert(got.contains("\"q1_project\":1"))
    assert(got.contains("\"x1_dedup_exact\":0.5"))
    assert(!got.contains("n_errors"))
  }

  test("sf path with a quote and a backslash stays valid JSON on every line") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val sf = "C:\\data\\\"sf0.1\""
    val few = Seq("q1_project" -> 1.0, "x1_dedup_exact" -> 0.5)
    val lines = Seq(
      Bench.finalLine(1.5, few, Map.empty, sf),
      Bench.contractLine(1.5, few, Map.empty, calPair, calPair, sf),
      Bench.summaryLine(1.5, few, Map.empty, calPair, calPair, sf))
    lines.foreach(l => assert(mapper.readTree(l).get("sf").asText === sf, l))
  }

  test("final line fails loudly when even zero entries overflow the budget") {
    val e = intercept[IllegalStateException] {
      Bench.finalLine(1.5, Seq("q1_project" -> 1.0), Map.empty,
        "/sf/" + "x" * Bench.FinalLineBudget)
    }
    assert(e.getMessage.contains("no query entries"), e.getMessage)
  }

  test("median: odd, even, empty") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(Bench.median(Nil) === -1.0)
  }

  test("contended: probe evidence must bracket the query's own samples") {
    val name = Bench.recordedBaseline.keys.min
    val base = Bench.recordedBaseline(name)
    val slowVal = base * Bench.AdjudicateFactor * 2
    val calRef = 0.1
    val clean = Bench.RunSample(0.1, 0.1, 0.0)
    val degraded = Bench.RunSample(0.5, 0.5, 0.0) // >= 2x calRef
    // own in-sweep adjudication probe degraded -> contended
    assert(Bench.contendedQueries(Map(name -> Seq((degraded, None))), Nil,
      Map(name -> slowVal), calRef) === Seq(name))
    // clean own probe, degraded requeue probe from a pass that RE-RAN
    // this query -> contended
    assert(Bench.contendedQueries(Map(name -> Seq((clean, None))),
      Seq((degraded, Set(name))), Map(name -> slowVal), calRef) === Seq(name))
    // degraded requeue probe from an UNRELATED pass -> not contended
    // (round-15 advice: no blanket slow-box excuse)
    assert(Bench.contendedQueries(Map(name -> Seq((clean, None))),
      Seq((degraded, Set("x_unrelated"))), Map(name -> slowVal),
      calRef) === Nil)
    // fast query is never contended, even with a degraded own probe
    assert(Bench.contendedQueries(Map(name -> Seq((degraded, None))), Nil,
      Map(name -> base), calRef) === Nil)
    // no positive calibration reference -> no flags at all
    assert(Bench.contendedQueries(Map(name -> Seq((degraded, None))), Nil,
      Map(name -> slowVal), -1.0) === Nil)
  }

  test("recorded baseline covers the query surface it predates") {
    // every baseline key must still be a live query (a renamed query
    // would silently lose adjudication), and the values are sane
    val live = SparkEntry.queries.map(_._1).toSet
    val stale = Bench.recordedBaseline.keySet.diff(live)
    assert(stale.isEmpty, s"baseline entries for dead queries: $stale")
    assert(Bench.recordedBaseline.values.forall(v => v > 0 && v < 60))
  }
}
