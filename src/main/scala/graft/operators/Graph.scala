package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge frames — PageRank with proper
  * dangling-mass redistribution, fixed-iteration and fully
  * deterministic (a pure function of the edge set).
  *
  * 100 TB shape: each iteration is exactly two key shuffles — ranks
  * join edges on `src` (both sides hash-partitioned on the node id, so
  * consecutive iterations reuse the exchange) and the contribution sum
  * groups by `dst`. The dangling mass and node count cross the driver
  * plan as ONE-ROW aggregate frames broadcast back (`crossJoin
  * (broadcast(...))`, the same shape as [[Decay.recencyScore]] /
  * [[Scale]]); no collect, no per-node driver state. Out-degrees are
  * computed once and reused by every iteration. For deep runs
  * (`iterations` ≫ 10) pass `materializeEvery` so the lineage is cut
  * with `localCheckpoint` instead of growing a plan Catalyst has to
  * re-optimize per iteration — the same converge-or-bound discipline
  * as [[graft.ext.Dedup.components]].
  *
  * Reference scope: deimos has no graph analytics; this extends the
  * engine for crawl-curation work (domain authority, link spam) —
  * SURVEY.md §2.9.
  */
object Graph {

  /** Node ids keep the caller's type, so src and dst must share it: a
    * string/bigint mix would otherwise meet through implicit
    * union/join coercion (compared as doubles, lossy above 2^53). */
  private def requireUniformIds(edges: DataFrame, srcCol: String,
      dstCol: String): Unit = {
    val Seq(st, dt) = edges.select(col(srcCol), col(dstCol)).schema
      .map(_.dataType)
    require(st == dt, s"edge endpoint types differ: $srcCol is " +
      s"${st.simpleString}, $dstCol is ${dt.simpleString} — cast both " +
      "to one node id type")
  }

  /** PageRank over `edges` (srcCol → dstCol, duplicates allowed — they
    * are distinct'd). Nodes = src ∪ dst. Uniform initial rank 1/N;
    * per iteration
    *   r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)/deg(u) + D/N)
    * where D is the total rank mass parked on dangling nodes (no
    * out-edges) — the standard formulation, so Σ r stays 1 every
    * iteration.
    *
    * @param materializeEvery cut lineage with localCheckpoint every k
    *        iterations. Default 1 — every superstep materializes, the
    *        way any graph engine runs: a fully lazy chain re-executes
    *        iteration k-1 inside BOTH the contribution join and the
    *        dangling aggregate of iteration k, doubling the rank
    *        subtree per level (O(2^iters) plan growth — a structural
    *        fact of the two consumers; at bench scale the measured
    *        difference is noise because the per-iteration frames are
    *        tiny, but at depth or data scale the lazy chain is
    *        unrunnable). 0 = never (plan-purity / tiny-graph option).
    * @return (node, rank) — one row per node
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      materializeEvery: Int = 1): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    requireUniformIds(edges, srcCol, dstCol)
    // NULL endpoints drop: an edge with a null src/dst can't join
    // anything, but the null NODE it would mint still entered N and
    // absorbed (1-d)/N + dangling mass every iteration — a phantom
    // node silently deflating every real rank (round-15 review).
    // nodeTriangles already drops them structurally (least/greatest
    // skip nulls → u===v); the rank ops do it explicitly.
    //
    // ONE edge shuffle for the whole setup (round-17 batch 6, guide
    // §2.4 "two operations keyed the same way can share one
    // exchange"): the raw pairs are hash-partitioned by __src with an
    // explicit count (REPARTITION_BY_NUM — AQE never coalesces it),
    // which co-locates equal (src,dst) tuples, so the dedup aggregate
    // (clustering {__src,__dst} ⊇ partitioning {__src}), the
    // out-degree groupBy (__src), and the eDeg join (__src) ALL
    // satisfy their required distributions from that single exchange —
    // the old shape paid three 600k-row edge shuffles here (distinct,
    // deg groupBy, eDeg repartition). persist(), NOT localCheckpoint,
    // for the static loop inputs: under AQE a checkpoint's LogicalRDD
    // reports UnknownPartitioning(0), so every iteration RE-SHUFFLED
    // the full edge frame (plan-verified round 17); InMemoryRelation
    // preserves the cached plan's partitioning AND ordering. All
    // static frames are unpersisted before returning, after the
    // result is materialized. The count is the session's shuffle
    // parallelism, so it scales with the deployment.
    // Node ids keep the CALLER's type (round-18, guide §2.3 "narrower
    // types"): the old unconditional cast("string") made every
    // superstep shuffle and the persisted adjacency carry wide strings
    // even when the source ids are longs — a long id is 8 bytes in an
    // UnsafeRow where a short string is 16+, and hashes/compares
    // cheaper in every join and groupBy. Callers that want a string
    // node label cast in their own final projection.
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = edges.select(col(srcCol).as("__src"),
      col(dstCol).as("__dst"))
      .filter(col("__src").isNotNull && col("__dst").isNotNull)
      .repartition(nParts, col("__src"))
      .dropDuplicates("__src", "__dst")
      .persist()
    // per-edge out-degree (exact: each contribution term stays one
    // IEEE division rank/deg, the op order the oracle replicates)
    val deg = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
    val eDeg = e
      .join(deg, Seq("__src"))
      .persist()
    // Round-17 superstep restructure (opt guide §2.4 "remove shuffles
    // outright"): the rank frame CARRIES its node's static dangling
    // flag, so the per-iteration dangling mass is a one-row aggregate
    // over ranks — the old formulation's rank⋈danglingNodes semi join
    // was a SortMergeJoin with two Exchanges EVERY iteration (both
    // sides are checkpoint scans with no stats, so it never
    // broadcast). The node frame is hash-partitioned on `node` and
    // sorted before its one persist (InMemoryRelation preserves
    // partitioning+ordering), so the per-iteration nodes⋈contrib join
    // needs no nodes-side Exchange or Sort, and the contrib side
    // arrives hash-partitioned by __dst from its own groupBy. Each
    // superstep now plans exactly TWO exchanges (ranks→__src for the
    // contribution join, contribution groupBy __dst) — the
    // fundamental pair — instead of five. Same arithmetic, same
    // addend sets; only the plan shape changed.
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
      .join(deg.select(col("__src").as("node"), lit(true).as("__out")),
        Seq("node"), "left")
      .select(col("node"), col("__out").isNull.as("__dang"))
      .repartition(nParts, col("node"))
      .sortWithinPartitions(col("node"))
      .persist()
    // N is ONE scalar — collect it once rather than re-broadcasting a
    // one-row frame into every iteration's plan (this also
    // materializes the nodes cache)
    val n = nodes.count()
    var ranks = nodes.select(col("node"), col("__dang"),
      (lit(1.0) / n).as("rank"))
    for (i <- 1 to iterations) {
      ranks = pageRankSuperstep(nodes, eDeg, ranks, n, damping)
      if (materializeEvery > 0 && i % materializeEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint()
    }
    // materialize BEFORE unpersisting the static frames the lazy tail
    // still references — the caller gets a self-contained frame and
    // the session cache stays clean (no leaked entries across calls)
    val out = ranks.select(col("node"), col("rank")).localCheckpoint(true)
    e.unpersist(false)
    eDeg.unpersist(false)
    nodes.unpersist(false)
    out
  }

  /** One PageRank superstep — factored so `GraphSuperstepPlanSpec` can
    * pin the plan shape the loop executes (the loop itself runs behind
    * eager checkpoints, invisible to a caller's explain):
    *  - dangling mass: ONE-ROW aggregate over the rank frame (the rank
    *    frame carries the static `__dang` flag — no per-iteration semi
    *    join; sum skips non-dangling nulls, addend set identical);
    *  - contribution join keyed `__src` against the persisted,
    *    pre-partitioned adjacency; contribution groupBy `__dst`;
    *  - rank rebuild: persisted pre-partitioned+sorted node frame
    *    LEFT-joined to contributions (no nodes-side exchange or sort).
    * Exactly two ShuffleExchanges per superstep — the fundamental
    * pair (ranks→`__src`, groupBy `__dst`). */
  private[graft] def pageRankSuperstep(nodes: DataFrame, eDeg: DataFrame,
      ranks: DataFrame, n: Long, damping: Double): DataFrame = {
    // mass parked on dangling nodes this iteration: one-row agg over
    // the rank frame (sum skips the nulls of non-dangling nodes;
    // addend set identical to the old semi-join formulation)
    val dangling = ranks
      .agg(coalesce(sum(when(col("__dang"), col("rank"))), lit(0.0))
        .as("__dm"))
    val contrib = eDeg
      .join(ranks.select(col("node").as("__src"), col("rank")),
        Seq("__src"))
      .groupBy(col("__dst"))
      .agg(sum(col("rank") / col("__deg")).as("__c"))
    nodes
      .join(contrib, nodes("node") === contrib("__dst"), "left")
      .crossJoin(broadcast(dangling))
      .select(col("node"), col("__dang"),
        (lit(1.0 - damping) / n +
          lit(damping) * (coalesce(col("__c"), lit(0.0)) +
            col("__dm") / n)).as("rank"))
  }

  /** Personalized PageRank: teleport goes to a SEED set instead of
    * uniformly — the graph-proximity score ("how close is v to these
    * seeds via link structure") that crawl curation uses for
    * authority/spam distance and recommenders use for
    * similar-node mining.
    *
    *   r'(v) = (1-d)·s_v + d · (Σ_{u→v} r(u)/deg(u) + D·s_v)
    *
    * with `s_v = 1/|S|` on seeds, 0 elsewhere (D = dangling mass, so
    * total rank stays 1 and parks near the seeds). `r0 = s`. Same
    * execution shape as [[pageRank]] — adjacency materialized once,
    * two key shuffles per superstep; the seed set joins the node frame
    * once up front. Seeds not present in the graph are ignored
    * (|S| counts the intersection); empty intersections are rejected.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int,
      damping: Double = 0.85, materializeEvery: Int = 1): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    requireUniformIds(edges, srcCol, dstCol)
    // one edge shuffle for dedup + degrees + eDeg — [[pageRank]]'s
    // round-17 batch-6 shape (shared __src exchange)
    // node ids keep the caller's type — see [[pageRank]] (round-18)
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = edges.select(col(srcCol).as("__src"),
      col(dstCol).as("__dst"))
      .filter(col("__src").isNotNull && col("__dst").isNotNull)
      .repartition(nParts, col("__src"))
      .dropDuplicates("__src", "__dst")
      .persist()
    val deg = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
    val eDeg = e
      .join(deg, Seq("__src"))
      .persist()
    // teleport mass AND the static dangling flag ride the node frame
    // (same round-17 superstep restructure as [[pageRank]]: dangling
    // mass becomes a one-row agg over ranks instead of a per-iteration
    // semi join, and the pre-partitioned node frame erases the
    // per-iteration nodes-side Exchange+Sort — two exchanges per
    // superstep, the fundamental pair).
    //
    // Round-17 batch 2 (opt guide §1.2 — don't compute things twice):
    // the node set is built ONCE with a boolean __isSeed flag and
    // persisted; nSeeds — the seed∩nodes count the old code derived
    // from a SEPARATE seedSet.count() action that re-executed the
    // whole union+distinct node build (and then re-executed it again
    // for the node frame itself) — is now one count over the persisted
    // frame, which also materializes the cache before the loop. The
    // per-node teleport share 1/|S| is folded in with ONE cheap
    // projection below instead of being baked into the persisted rows.
    // Same seed-intersection semantics (left join + flag ⊇ left_semi).
    // seeds are cast to the EDGE frame's id type (for string edges this
    // is the old cast("string"); for narrow-typed edges the join stays
    // narrow instead of coercing the node side wide)
    val idType = e.schema("__src").dataType
    val nodes0 = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
      .join(seeds.select(col(seedCol).cast(idType).as("node"))
          .distinct().withColumn("__isSeed", lit(true)),
        Seq("node"), "left")
      .join(deg.select(col("__src").as("node"), lit(true).as("__out")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__isSeed"), lit(false)).as("__isSeed"),
        col("__out").isNull.as("__dang"))
      .repartition(nParts, col("node"))
      .sortWithinPartitions(col("node"))
      .persist()
    val nSeeds = nodes0.filter(col("__isSeed")).count()
    require(nSeeds > 0, "no seed intersects the graph's node set")
    // __tp is derived IN the persisted frame's projection (no second
    // node build, no re-partition: a projection preserves partitioning
    // and ordering) — every downstream reference is unchanged
    val nodes = nodes0.select(col("node"),
      when(col("__isSeed"), lit(1.0) / nSeeds).otherwise(lit(0.0)).as("__tp"),
      col("__dang"))
    var ranks = nodes.select(col("node"), col("__tp"), col("__dang"),
      col("__tp").as("rank"))
    for (i <- 1 to iterations) {
      val dangling = ranks
        .agg(coalesce(sum(when(col("__dang"), col("rank"))), lit(0.0))
          .as("__dm"))
      val contrib = eDeg
        .join(ranks.select(col("node").as("__src"), col("rank")),
          Seq("__src"))
        .groupBy(col("__dst"))
        .agg(sum(col("rank") / col("__deg")).as("__c"))
      ranks = nodes
        .join(contrib, nodes("node") === contrib("__dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("__tp"), col("__dang"),
          (lit(1.0 - damping) * col("__tp") +
            lit(damping) * (coalesce(col("__c"), lit(0.0)) +
              col("__dm") * col("__tp"))).as("rank"))
      if (materializeEvery > 0 && i % materializeEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint()
    }
    // materialize-then-unpersist, the [[pageRank]] cleanup contract
    val out = ranks.select(col("node"), col("rank")).localCheckpoint(true)
    e.unpersist(false)
    eDeg.unpersist(false)
    nodes0.unpersist(false)
    out
  }

  /** Per-node triangle counts + local clustering coefficient — the
    * community-structure / link-spam signal next to [[pageRank]]'s
    * authority. Input edges are undirected (direction and duplicates
    * collapse in normalization; self-loops drop).
    *
    * The algorithm is the standard distributed one (degree-ordered
    * wedge enumeration): every edge is oriented from its
    * lower-(degree, id) endpoint to the higher, each node enumerates
    * pairs of its ORIENTED out-neighbors (a wedge), and a wedge
    * closed by an oriented edge is a triangle found exactly once.
    * Orientation is the scale discipline: out-degree after it is
    * O(√m) even at a celebrity node, so wedge count is Σ d_out² —
    * the minimum any enumeration pays — instead of a hub's d²
    * exploding the join. Shuffles key on node ids throughout; the
    * wedge-closure join is the only edge-keyed join.
    *
    * Exactness: counts are integers; the coefficient
    * `2·tri / (deg·(deg−1))` is one IEEE expression over exact
    * integers (nodes with deg < 2 report 0.0).
    *
    * @return (node, degree, n_tri, cc) — one row per node with ≥1 edge
    */
  def nodeTriangles(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val norm = edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    // deg and oriented each feed multiple branches whose different
    // column prunings defeat exchange reuse (the ImportanceSampling
    // lesson) — materialize them once, the pageRank adjacency
    // discipline
    val deg = norm.select(col("u").as("n"))
      .unionAll(norm.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
      .localCheckpoint(false)
    val keyed = norm
      .join(deg.select(col("n").as("u"), col("degree").as("__du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("degree").as("__dv")), Seq("v"))
    // identical field names in both key structs — CASE branches must
    // share one type
    val ku = struct(col("__du").as("d"), col("u").as("n"))
    val kv = struct(col("__dv").as("d"), col("v").as("n"))
    val oriented = keyed.select(
        when(ku < kv, col("u")).otherwise(col("v")).as("src"),
        when(ku < kv, col("v")).otherwise(col("u")).as("dst"),
        when(ku < kv, kv).otherwise(ku).as("__dstKey"))
      .localCheckpoint(false)
    val w1 = oriented.select(col("src"), col("dst").as("w1"),
      col("__dstKey").as("__k1"))
    val w2 = oriented.select(col("src"), col("dst").as("w2"),
      col("__dstKey").as("__k2"))
    // wedge pairs ordered by the SAME (degree, id) key as the
    // orientation, so a closing edge — if present — is oriented
    // exactly w1 → w2 and the closure join needs no direction cases
    val wedges = w1.join(w2, Seq("src"))
      .filter(col("__k1") < col("__k2"))
      .select(col("src").as("apex"), col("w1"), col("w2"))
    val tris = wedges.join(
      oriented.select(col("src").as("w1"), col("dst").as("w2")),
      Seq("w1", "w2"))
    val perNode = tris.select(col("apex").as("n"))
      .unionAll(tris.select(col("w1").as("n")))
      .unionAll(tris.select(col("w2").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc",
        when(col("degree") >= 2L,
          lit(2.0) * col("n_tri").cast("double") /
            (col("degree").cast("double") *
              (col("degree").cast("double") - lit(1.0))))
          .otherwise(lit(0.0)))
  }
}
