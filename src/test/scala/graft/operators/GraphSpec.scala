package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference implementation of the identical formula. */
  private def refPageRank(edges: Seq[(String, String)], iters: Int,
      d: Double = 0.85): Map[String, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(deg.contains).map(r).sum
      val contrib = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = nodes.map(v =>
        v -> ((1 - d) / n + d * (contrib.getOrElse(v, 0.0) + dm / n))).toMap
    }
    r
  }

  test("matches the reference on a dangling chain + hub graph") {
    // a -> b -> c (c dangling), hub d -> {a,b,c}, e isolated-ish (e -> a)
    val edges = Seq("a" -> "b", "b" -> "c", "d" -> "a", "d" -> "b",
      "d" -> "c", "e" -> "a")
    spark.catalog.clearCache()
    val got = Graph.pageRank(edges.toDF("s", "t"), "s", "t", iterations = 4)
      .as[(String, Double)].collect().toMap
    // the result is self-contained: no static frame stays cached
    assert(spark.sharedState.cacheManager.isEmpty)
    val want = refPageRank(edges, 4)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"node $k: $v vs ${want(k)}") }
  }

  test("rank mass is conserved and uniform on a cycle") {
    // pure cycle: every node keeps exactly 1/N at every iteration
    val edges = (0 until 7).map(i => (s"n$i", s"n${(i + 1) % 7}"))
    val got = Graph.pageRank(edges.toDF("s", "t"), "s", "t", iterations = 3)
      .as[(String, Double)].collect()
    assert(got.length === 7)
    got.foreach { case (_, r) => assert(math.abs(r - 1.0 / 7) < 1e-15) }
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-12)
  }

  test("mass conserved with dangling nodes; duplicates edges ignored") {
    val edges = Seq("a" -> "b", "a" -> "b", "b" -> "c", "x" -> "c")
    val got = Graph.pageRank(edges.toDF("s", "t"), "s", "t", iterations = 5)
      .as[(String, Double)].collect()
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-12)
    val want = refPageRank(edges, 5)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12) }
  }

  test("invalid args rejected") {
    val e = Seq("a" -> "b").toDF("s", "t")
    intercept[IllegalArgumentException] { Graph.pageRank(e, "s", "t", 0) }
    intercept[IllegalArgumentException] { Graph.pageRank(e, "s", "t", 1, damping = 1.0) }
  }

  test("mixed src/dst id types fail loudly instead of coercing") {
    // string vs bigint would meet as doubles in the node union/joins
    val mixed = Seq(("9007199254740993", 9007199254740993L)).toDF("s", "t")
    val e1 = intercept[IllegalArgumentException] {
      Graph.pageRank(mixed, "s", "t", 1) }
    assert(e1.getMessage.contains("edge endpoint types differ"))
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(mixed, "s", "t", Seq("a").toDF("n"), "n", 1)
    }
  }

  private def refPpr(edges: Seq[(String, String)], seeds: Set[String],
      iters: Int, d: Double = 0.85): Map[String, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val s = seeds.intersect(nodes.toSet)
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    def tp(v: String): Double = if (s(v)) 1.0 / s.size else 0.0
    var r = nodes.map(v => v -> tp(v)).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(deg.contains).map(r).sum
      val c = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum }
      r = nodes.map(v =>
        v -> ((1 - d) * tp(v) + d * (c.getOrElse(v, 0.0) + dm * tp(v)))).toMap
    }
    r
  }

  test("personalized pagerank matches the reference; mass stays near seeds") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d",
      "d" -> "e", "x" -> "a")
    spark.catalog.clearCache()
    val got = Graph.personalizedPageRank(edges.toDF("s", "t"), "s", "t",
      Seq("a", "zzz-not-in-graph").toDF("n"), "n", iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(spark.sharedState.cacheManager.isEmpty)
    val want = refPpr(edges, Set("a"), 4)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"node $k: $v vs ${want(k)}") }
    // total mass conserved
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // node x (no inbound, not a seed) holds zero rank — the PPR signature
    assert(got("x") === 0.0)
  }

  test("personalized pagerank rejects an empty seed intersection") {
    spark.catalog.clearCache()
    val e = Seq("a" -> "b").toDF("s", "t")
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(e, "s", "t", Seq("zzz").toDF("n"), "n", 2)
    }
    // the rejection comes after the static frames are persisted; they
    // must not outlive the failed call
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("triangles: K4 closes everywhere; a tail node closes nothing") {
    // K4 on 1..4 (every pair), node 5 hangs off node 4
    val edges = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j))
      .toSeq ++ Seq((4L, 5L))
    val got = Graph.nodeTriangles(edges.toDF("a", "b"), "a", "b")
      .select("node", "degree", "n_tri", "cc")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // K4: each node sits in C(3,2) = 3 triangles, cc = 1 except node 4
    // whose degree is 4 (the tail): cc = 2*3/(4*3) = 0.5
    assert(got.toSeq === Seq(
      (1L, 3L, 3L, 1.0), (2L, 3L, 3L, 1.0), (3L, 3L, 3L, 1.0),
      (4L, 4L, 3L, 0.5), (5L, 1L, 0L, 0.0)))
  }

  test("triangles: direction, duplicates and self-loops normalize away") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 2L),
      (2L, 2L)).toDF("a", "b")
    val got = Graph.nodeTriangles(messy, "a", "b")
      .select("node", "degree", "n_tri")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
  }

  test("triangles equal brute force on random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 12
      val edges = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.35
      } yield (i, j)).toSeq
      if (edges.nonEmpty) {
        val got = Graph.nodeTriangles(edges.toDF("a", "b"), "a", "b")
          .select("node", "n_tri").as[(Long, Long)].collect().toMap
        val es = edges.toSet
        def adj(x: Long, y: Long) = es((x min y, x max y))
        val want = (0L until n).map { v =>
          v -> (for {
            (a, b) <- edges if adj(a, v) && adj(b, v)
          } yield 1).size.toLong
        }.filter { case (v, _) => edges.exists(e => e._1 == v || e._2 == v) }
          .toMap
        want.foreach { case (v, t) =>
          assert(got.getOrElse(v, 0L) === t, s"node $v")
        }
      }
    }
  }
  test("null edge endpoints drop instead of minting a phantom node") {
    import spark.implicits._
    val edges = Seq((Some("a"), Some("b")), (Some("b"), None),
      (None, Some("a"))).toDF("s", "d")
    val pr = Graph.pageRank(edges, "s", "d", iterations = 3)
    val clean = Graph.pageRank(
      Seq(("a", "b")).toDF("s", "d"), "s", "d", iterations = 3)
    val got = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = clean.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === want, "null-endpoint edges must not change the graph")
    val ppr = Graph.personalizedPageRank(edges, "s", "d",
      Seq("a").toDF("n"), "n", iterations = 3)
    assert(ppr.count() === 2L)
  }
}
