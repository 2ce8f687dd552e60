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
  * groups by `dst`. The dangling mass crosses the plan as a ONE-ROW
  * aggregate frame broadcast back (`crossJoin(broadcast(...))`, the
  * same shape as [[Decay.recencyScore]] / [[Scale]]); no collect, no
  * per-node driver state. Out-degrees are computed once and reused by
  * every iteration, and every superstep but the last is cut with
  * `localCheckpoint` — the same converge-or-bound discipline as
  * [[graft.ext.Dedup.components]].
  *
  * One kernel: [[pageRank]] and [[personalizedPageRank]] share the
  * adjacency build, the superstep and the loop; they differ only in
  * the teleport distribution a mass is spread over (uniform 1/N, or
  * 1/|S| on the seed set — Haveliwala's topic-sensitive PageRank).
  *
  * Reference scope: deimos has no graph analytics; this extends the
  * engine for crawl-curation work (domain authority, link spam) —
  * SURVEY.md §2.9.
  */
object Graph {

  /** The rank operators' static frames: the deduplicated edges, the
    * edges with their source's out-degree, and the node frame (one row
    * per node with its flags and `__dang`). All three are persisted;
    * [[unpersist]] releases them. */
  private[graft] final case class Adjacency(e: DataFrame, eDeg: DataFrame,
      nodes: DataFrame) {
    def unpersist(): Unit = {
      e.unpersist(false)
      eDeg.unpersist(false)
      nodes.unpersist(false)
    }
  }

  /** Spreads a mass over the teleport distribution, per node. */
  private[graft] type Share = Column => Column

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

  /** Builds the static frames both rank operators iterate over.
    *
    * @param flag the operator's own left join onto the distinct node
    *        set (a `node` column in, `node` plus boolean flag columns
    *        out); a flag left NULL by the join reads false. Identity
    *        for [[pageRank]], the seed flag for [[personalizedPageRank]].
    */
  private[graft] def adjacency(edges: DataFrame, srcCol: String,
      dstCol: String, flag: DataFrame => DataFrame): Adjacency = {
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
    // preserves the cached plan's partitioning AND ordering. The count
    // is the session's shuffle parallelism, so it scales with the
    // deployment.
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
    // outright"): the node frame CARRIES its static dangling flag, so
    // the per-iteration dangling mass is a one-row aggregate over
    // ranks — the old formulation's rank⋈danglingNodes semi join was a
    // SortMergeJoin with two Exchanges EVERY iteration. The node frame
    // is hash-partitioned on `node` and sorted before its one persist
    // (InMemoryRelation preserves partitioning+ordering), so the
    // per-iteration nodes⋈contrib join needs no nodes-side Exchange or
    // Sort, and the contrib side arrives hash-partitioned by __dst
    // from its own groupBy.
    val flagged = flag(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct())
    val nodes = flagged
      .join(deg.select(col("__src").as("node"), lit(true).as("__out")),
        Seq("node"), "left")
      .select(col("node") +: flagged.columns.toSeq.filter(_ != "node")
          .map(c => coalesce(col(c), lit(false)).as(c)) :+
        col("__out").isNull.as("__dang"): _*)
      .repartition(nParts, col("node"))
      .sortWithinPartitions(col("node"))
      .persist()
    Adjacency(e, eDeg, nodes)
  }

  /** One rank superstep over the static frames, for either operator:
    *
    *   r'(v) = share(1-d) + d * (Σ_{u→v} r(u)/deg(u) + share(D))
    *
    *  - dangling mass D: ONE-ROW aggregate over the rank frame (the
    *    rank frame carries the static `__dang` flag — no per-iteration
    *    semi join);
    *  - contribution join keyed `__src` against the persisted,
    *    pre-partitioned adjacency; contribution groupBy `__dst`;
    *  - rank rebuild: persisted pre-partitioned+sorted node frame
    *    LEFT-joined to contributions (no nodes-side exchange or sort).
    * Exactly two ShuffleExchanges per superstep — the fundamental
    * pair (ranks→`__src`, groupBy `__dst`); `GraphSuperstepPlanSpec`
    * pins it (the loop runs behind eager checkpoints, invisible to a
    * caller's explain). The output keeps `nodes`' columns plus `rank`.
    */
  private[graft] def superstep(nodes: DataFrame, eDeg: DataFrame,
      ranks: DataFrame, damping: Double, share: Share): DataFrame = {
    // mass parked on dangling nodes this iteration: sum skips the
    // nulls of non-dangling nodes
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
      .select(nodes.columns.toSeq.map(col) :+
        (share(lit(1.0 - damping)) +
          lit(damping) * (coalesce(col("__c"), lit(0.0)) +
            share(col("__dm")))).as("rank"): _*)
  }

  /** The one rank loop: builds the [[adjacency]], lets `teleport` turn
    * its node frame into the iterated one plus its [[Share]], starts
    * from `share(1)`, runs `iterations` supersteps cut after every one
    * but the last (a fully lazy chain re-executes iteration k-1 inside
    * BOTH the contribution join and the dangling aggregate of
    * iteration k — O(2^iters) plan growth), and materializes the
    * result BEFORE releasing the static frames its lazy tail still
    * references. The release sits in a `finally`, so a failure
    * anywhere after the build (a rejected seed set included) leaves
    * the session cache clean too. */
  private def rankLoop(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double, flag: DataFrame => DataFrame)(
      teleport: DataFrame => (DataFrame, Share)): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val adj = adjacency(edges, srcCol, dstCol, flag)
    try {
      val (nodes, share) = teleport(adj.nodes)
      var ranks = nodes.select(nodes.columns.toSeq.map(col) :+
        share(lit(1.0)).as("rank"): _*)
      for (i <- 1 to iterations) {
        ranks = superstep(nodes, adj.eDeg, ranks, damping, share)
        if (i < iterations) ranks = ranks.localCheckpoint()
      }
      ranks.select(col("node"), col("rank")).localCheckpoint(true)
    } finally adj.unpersist()
  }

  /** [[pageRank]]'s teleport: uniform, `share(m) = m / N`. N is ONE
    * scalar — collected once (which also materializes the node cache)
    * rather than re-broadcast as a one-row frame into every superstep. */
  private[graft] def uniformTeleport(nodes: DataFrame): (DataFrame, Share) = {
    val n = nodes.count()
    (nodes, _ / n)
  }

  /** [[personalizedPageRank]]'s node flag: `__isSeed`, from a left join
    * of the distinct seeds cast to the node id type (for narrow-typed
    * edges the join stays narrow instead of coercing the node side
    * wide). */
  private[graft] def seedFlag(seeds: DataFrame, seedCol: String)(
      nodes: DataFrame): DataFrame =
    nodes.join(seeds.select(col(seedCol).cast(nodes.schema("node").dataType)
        .as("node")).distinct().withColumn("__isSeed", lit(true)),
      Seq("node"), "left")

  /** [[personalizedPageRank]]'s teleport: `share(m) = m * __tp` with
    * `__tp = 1/|S|` on seeds, 0 elsewhere. |S| is one count over the
    * persisted node frame (which also materializes its cache); `__tp`
    * is a projection of it, so partitioning and ordering carry over. */
  private[graft] def seedTeleport(nodes: DataFrame): (DataFrame, Share) = {
    val nSeeds = nodes.filter(col("__isSeed")).count()
    require(nSeeds > 0, "no seed intersects the graph's node set")
    (nodes.select(col("node"),
      when(col("__isSeed"), lit(1.0) / nSeeds).otherwise(lit(0.0)).as("__tp"),
      col("__dang")), _ * col("__tp"))
  }

  /** PageRank over `edges` (srcCol → dstCol, duplicates allowed — they
    * are distinct'd; NULL endpoints drop). Nodes = src ∪ dst. Uniform
    * initial rank 1/N; per iteration
    *   r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)/deg(u) + D/N)
    * where D is the total rank mass parked on dangling nodes (no
    * out-edges) — the standard formulation, so Σ r stays 1 every
    * iteration.
    *
    * @return (node, rank) — one row per node
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85): DataFrame =
    rankLoop(edges, srcCol, dstCol, iterations, damping, identity)(
      uniformTeleport)

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
    * kernel as [[pageRank]]; only the teleport share differs. Seeds
    * not present in the graph are ignored (|S| counts the
    * intersection); empty intersections are rejected.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int,
      damping: Double = 0.85): DataFrame =
    rankLoop(edges, srcCol, dstCol, iterations, damping,
      seedFlag(seeds, seedCol))(seedTeleport)

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
