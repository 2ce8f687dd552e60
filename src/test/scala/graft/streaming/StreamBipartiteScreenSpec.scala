package graft.streaming

import graft.SparkSpec
import graft.ext.Multimodal

/** `StreamNearDup.screenAgainst` — the streaming twin of the x138
  * bipartite screen: arrivals stream against a FROZEN reference with
  * zero state (stream-static bucket join + lowest-SURVIVING-equal-
  * chunk filter). Pins: cross-only pairs, exactly one row per pair
  * per delivery, batch-operator equivalence, the cap's drop-and-
  * report contract (including the case where the LOWEST equal chunk
  * is the hot one — the emission rule must move to the next
  * surviving bucket, not kill the pair), and a RocksDB-provider run
  * (the operator needs no state store, so the provider setting must
  * be inert — the same pipeline answer). */
class StreamBipartiteScreenSpec extends SparkSpec {
  import spark.implicits._

  private val H0 = 0x1234_5678_9ABC_DEF0L
  private val H1 = H0 ^ 1L             // ham 1 vs H0
  private val FAR = 0x0F0F_F0F0_5A5A_A5A5L

  private def refDf(rows: (Long, Long)*) = rows.toDF("id", "ph")

  private def runStream(ref: org.apache.spark.sql.DataFrame,
      name: String, maxBucket: Option[Int] = None)(
      feed: (org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)],
             org.apache.spark.sql.streaming.StreamingQuery) => Unit)
      : Set[(Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val (pairs, _) = StreamNearDup.screenAgainst(ref,
      input.toDF().toDF("id", "ph"), "id", "ph", maxBucket = maxBucket)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"graft-sbs-$name").toString)
      .start()
    try feed(input, q) finally q.stop()
    spark.table(name).as[(Long, Long, Long)].collect().toSet
  }

  test("arrivals pair cross-only, once each, matching the batch operator") {
    val ref = refDf((100L, H0), (101L, FAR))
    val out = runStream(ref, "sbs1") { (input, q) =>
      input.addData((1L, H1), (2L, H0)) // 2 shares ALL 4 chunks with 100
      q.processAllAvailable()
      input.addData((3L, H1)) // same hash as arrival 1: must NOT pair with it
      q.processAllAvailable()
    }
    assert(out === Set((1L, 100L, 1L), (2L, 100L, 0L), (3L, 100L, 1L)))
    // batch equivalence on the union of arrivals
    val batch = Multimodal.hashNearDupAgainst(
      Seq((1L, H1), (2L, H0), (3L, H1)).toDF("id", "ph"), ref, "id", "ph")
      .as[(Long, Long, Long)].collect().toSet
    assert(batch === out)
  }

  test("the streaming plan carries ZERO state operators (the design claim)") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val (pairs, _) = StreamNearDup.screenAgainst(refDf((100L, H0)),
      input.toDF().toDF("id", "ph"), "id", "ph")
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("sbs0")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sbs0").toString)
      .start()
    try {
      input.addData((1L, H1))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "frozen-reference screening must not allocate state: " +
          q.lastProgress.stateOperators.mkString(","))
    } finally q.stop()
  }

  test("emission count is exactly 1 even when all four chunks collide") {
    val ref = refDf((100L, H0))
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val (pairs, _) = StreamNearDup.screenAgainst(ref,
      input.toDF().toDF("id", "ph"), "id", "ph")
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("sbs2")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sbs2").toString)
      .start()
    try {
      input.addData((1L, H0))
      q.processAllAvailable()
    } finally q.stop()
    // COUNT, not set: four buckets all match — only chunk 0 may speak
    assert(spark.table("sbs2").count() === 1L)
  }

  test("hot LOWEST chunk: pair still emitted via the next surviving bucket") {
    // refs 100/101 share chunks 0, 2, 3 — at cap 1 those buckets are
    // hot and dropped. The arrival equals ref 100 EVERYWHERE, so its
    // lowest EQUAL chunk (0) is hot: the emission rule must move to
    // the lowest SURVIVING bucket (chunk 1), not kill the pair. Pair
    // (1, 101)'s equal chunks are exactly the hot ones {0, 2, 3} —
    // legitimately missed under the drop-and-report contract, and the
    // overflow frame names all three buckets.
    val refB = H0 ^ (1L << 17) // differs in chunk 1 only
    val ref = refDf((100L, H0), (101L, refB))
    val (pairsDf, overflow) = StreamNearDup.screenAgainst(ref,
      Seq((1L, H0)).toDF("id", "ph"), "id", "ph", maxBucket = Some(1))
    val got = pairsDf.as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 100L, 0L)))
    val hot = overflow.as[(Int, Long, Long)].collect().toSet
    assert(hot === Set(
      (0, H0 & 0xffffL, 2L),
      (2, (H0 >>> 32) & 0xffffL, 2L),
      (3, (H0 >>> 48) & 0xffffL, 2L)))
  }

  test("pair missed only when ALL its equal chunks are hot; reported") {
    // three identical ref docs: every chunk bucket holds 3 > cap 2 ⇒
    // all four dropped; the arrival finds nothing, overflow says why
    val ref = refDf((100L, H0), (101L, H0), (102L, H0))
    val (pairsDf, overflow) = StreamNearDup.screenAgainst(ref,
      Seq((1L, H0)).toDF("id", "ph"), "id", "ph", maxBucket = Some(2))
    assert(pairsDf.count() === 0L)
    assert(overflow.count() === 4L)
  }

  test("broadcast-set regime (hot keys > literal max) emits the identical pairs and overflow") {
    // a reference with more than 1024 hot buckets: at cap 1, 300 pairs
    // of identical hashes make 1200 hot (chunk, value) buckets. Near
    // copies of 50 twins differ in chunk 1 only (three hot buckets, one
    // cold); the pairs and the overflow must equal a brute-force oracle
    // of the drop-and-report contract
    val rnd = new scala.util.Random(1207)
    val twins = Seq.fill(300)(rnd.nextLong())
    val nearTwins = twins.take(50).map(_ ^ (1L << (16 + rnd.nextInt(16))))
    val singles = Seq.fill(200)(rnd.nextLong())
    val ref = (twins.flatMap(h => Seq(h, h)) ++ nearTwins ++ singles)
      .zipWithIndex.map { case (h, i) => (1000L + i, h) }
    val arrivals = (twins.take(20) ++ nearTwins.map(_ ^ 1L) ++
      singles.take(100).map(_ ^ (1L << 40)) ++ Seq.fill(30)(rnd.nextLong()))
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val cap = 1
    val (pairsDf, overflow) = StreamNearDup.screenAgainst(refDf(ref: _*),
      arrivals.toDF("id", "ph"), "id", "ph", maxBucket = Some(cap))

    def chunk(h: Long, c: Int): Long = (h >>> (16 * c)) & 0xffffL
    val width = ref
      .flatMap { case (_, h) => (0 until 4).map(c => (c, chunk(h, c))) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val hot = width.filter(_._2 > cap)
    assert(hot.size > 1024, "the fixture must hold more than 1024 hot keys")
    val near = for ((a, ha) <- arrivals; (b, hb) <- ref;
        ham = java.lang.Long.bitCount(ha ^ hb) if ham <= 3)
      yield (a, b, ham.toLong, (0 until 4).exists(c =>
        chunk(ha, c) == chunk(hb, c) && !hot.contains((c, chunk(ha, c)))))
    val want = near.filter(_._4).map(p => (p._1, p._2, p._3)).sorted
    assert(want.nonEmpty && near.exists(!_._4),
      "the fixture must yield both kept and dropped pairs")
    // sorted sequences, not sets: each pair is emitted exactly once
    assert(pairsDf.as[(Long, Long, Long)].collect().toSeq.sorted === want)
    assert(overflow.as[(Int, Long, Long)].collect().toSet ===
      hot.map { case ((c, v), n) => (c, v, n) }.toSet)
    // plan pin: no hot key is a literal in the plan, whether 1 key is
    // hot per chunk or more than 1024 are — the plan holds the same
    // literals either way, none an array, none a hot chunk value
    val (pOne, oOne) = StreamNearDup.screenAgainst(
      refDf((100L, H0), (101L, H0)), Seq((1L, H0)).toDF("id", "ph"),
      "id", "ph", maxBucket = Some(1))
    assert(oOne.count() === 4L, "one hot key per chunk")
    def literals(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
        _.collect { case l: org.apache.spark.sql.catalyst.expressions.Literal =>
          l.value }))
    assert(literals(pOne).sortBy(String.valueOf) ===
      literals(pairsDf).sortBy(String.valueOf),
      "the plan's literals do not depend on the hot set")
    assert(!literals(pOne).exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]),
      "no array literal")
    assert(!literals(pOne).exists(v =>
      (0 until 4).exists(c => v == chunk(H0, c))), "no hot chunk value")
  }

  test("radius-7 screen streams with ZERO state; pairs at hamming 4-7 arrive once") {
    implicit val sqlCtx = spark.sqlContext
    // reference member 6 bits from the arrival (beyond any equal
    // 16-bit chunk in the touched chunk, found via the 1-bit ball on
    // an untouched chunk), plus a hamming-9 member that must NOT pair
    val h9 = H0 ^ 0x1ffL // 9 bits, chunk 0
    val ref = refDf((100L, H0 ^ 0x3fL), (101L, h9))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val (pairs, _) = StreamNearDup.screenAgainst(ref,
      input.toDF().toDF("id", "ph"), "id", "ph", maxHamming = 7)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("sbs7")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sbs7").toString)
      .start()
    try {
      input.addData((1L, H0))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "radius-7 screening must stay stateless")
    } finally q.stop()
    assert(spark.table("sbs7").as[(Long, Long, Long)].collect().toSeq ===
      Seq((1L, 100L, 6L)))
  }

  test("RocksDB provider is inert: stateless plan, same answer") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = runStream(refDf((100L, H0)), "sbs5") { (input, q) =>
        input.addData((1L, H1))
        q.processAllAvailable()
      }
      assert(out === Set((1L, 100L, 1L)))
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }
}
