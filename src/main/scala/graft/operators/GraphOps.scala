package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** Iterative graph computation — the fixed-point-iteration operator
  * family (PageRank-style centrality). Connected components
  * ([[Dedup.dedupComponents]]) covered the CONVERGE-ON-LABELS half of
  * distributed graph algorithms; this covers the CONVERGE-ON-VALUES
  * half: a damped random-walk mass iteration, the shape behind
  * PageRank / TrustRank / harmonic quality signals that large-scale
  * corpus curation uses as document-authority features (the web-graph
  * side of crawl quality, e.g. Common Crawl's host-level centrality
  * ranks).
  *
  * Everything is INTEGER fixed-point so the DuckDB oracle can replay
  * the exact arithmetic: ranks live in units of 1/[[PrScale]], every
  * division is a floor-div on non-negative longs, and the iteration
  * count is a fixed constant — no float accumulation order, no
  * convergence epsilon, byte-identical across engines and partitionings
  * (each iteration is one join + one sum per destination; longs sum
  * associatively).
  *
  * Scale design (100 TB lens):
  *  - The edge relation is aggregated ONCE from the fact join (distinct
  *    (src, dst) pairs with weights — far smaller than the fact table)
  *    and persisted across iterations (MEMORY_AND_DISK; spill-safe).
  *  - The rank relation is NODE-sized. While the node count is under
  *    [[DefaultBroadcastNodeLimit]] (overridable per call or via
  *    `graft.graph.broadcastNodeLimit`), each iteration broadcasts
  *    it into the edge scan (explicit `broadcast` hint), so the edges
  *    are never re-shuffled: per iteration one broadcast + one partial
  *    (map-side) sum keyed by `dst`. Above the limit an unconditional
  *    broadcast would OOM the driver (a TPC-H-shaped 100 TB graph has
  *    ~10⁹ nodes), so the SAME loop switches to hinted
  *    sort-merge joins against the cached edge relation. The whole
  *    iteration materializes as ONE job, and each iteration's
  *    edge-side exchange (hash on `src` over the cached scan) is
  *    canonically identical — exchange/stage reuse shuffles the edges
  *    ONCE per job; per iteration only the node-sized rank relation
  *    moves. The switch is decided from the out-degree relation's
  *    exact row count (already needed for the base rank), not from
  *    optimizer size estimates.
  *  - Fixed iteration count keeps lineage bounded (6 chained
  *    plans); no driver-side data loop — the only driver scalar is the
  *    node count (one metadata-sized action, the kmeans posture).
  */
object GraphOps {

  /** Rank unit: ranks are integers in units of 1/PrScale of total walk
    * mass. 1e12 leaves headroom: rank·weight products stay far below
    * 2⁶³ for any realistic fan-in.
    */
  val PrScale = 1000000000000L

  /** Damping factor as an integer percentage (the canonical 0.85). */
  val PrDampPct = 85L

  /** Fixed iteration count — convergence is geometric in the damping
    * factor, so 6 iterations bound the per-node error at ~0.85⁶ ≈ 38%
    * of a unit mass REDISTRIBUTION (not of the rank itself); ranks are
    * stable to well under the integer quantum for the graded graph
    * (PageRankSpec asserts the iteration-5→6 max delta).
    */
  val PrIters = 6

  /** Node-count ceiling for broadcasting any NODE-sized relation
    * (ranks, degrees, labels) into an edge-sized scan, family-wide.
    * 50 M nodes of (long, long) is ~800 MB hashed on the driver — the
    * edge of sane for a large driver; past it the shuffled form is
    * mandatory. Override per call, or session-wide via the
    * `graft.graph.broadcastNodeLimit` conf ([[broadcastNodeLimitFor]]).
    */
  val DefaultBroadcastNodeLimit = 50000000L

  /** The node-count ceiling every graph operator resolves: the explicit
    * limit, else the `graft.graph.broadcastNodeLimit` conf, else
    * [[DefaultBroadcastNodeLimit]].
    */
  private def broadcastNodeLimitFor(spark: SparkSession,
      broadcastNodeLimit: Option[Long]): Long =
    broadcastNodeLimit.getOrElse(
      spark.conf.get("graft.graph.broadcastNodeLimit",
        DefaultBroadcastNodeLimit.toString).toLong)

  /** The family-wide broadcast-vs-merge plan switch (q154's guard,
    * shared by triangles and link prediction): TRUE while the node
    * relation's EXACT row count is at or under
    * [[broadcastNodeLimitFor]]. Decided from a real count, never
    * optimizer size estimates, so tiny test graphs and misestimated
    * stats both get the plan the node count demands; above the limit
    * the caller must hint merge joins — on a power-law 100 TB graph
    * the node relation is ~10⁹ rows and an unconditional broadcast
    * hint OOMs the driver.
    */
  private[operators] def nodeBroadcastOk(nodes: DataFrame,
      broadcastNodeLimit: Option[Long],
      allowCount: Boolean = true): Boolean = {
    val lim = broadcastNodeLimitFor(nodes.sparkSession, broadcastNodeLimit)
    // no job when the answer doesn't need one: a non-positive limit is
    // the forced-merge posture (the plan-shape tests' Some(0L)), and a
    // materialize=false caller asked for a LAZY plan — running a real
    // count over the uncached edge pipeline at plan-construction time
    // would violate that contract, so it conservatively takes the
    // merge plan (correct at any size; broadcast is only a fast path)
    if (lim <= 0L) false
    else if (!allowCount) false
    else nodes.count() <= lim
  }

  /** One damped integer PageRank sweep over `edges` (`src`, `dst`, `w`
    * — longs, weights positive). Returns (`node`, `rank_q`) after
    * [[PrIters]] iterations.
    *
    * `broadcastNodeLimit`: explicit node-count ceiling for the
    * broadcast plan (tests pass `Some(0)` to force the shuffled plan);
    * `None` resolves it as [[broadcastNodeLimitFor]] does. Both plans
    * execute the identical integer contract — GraphOpsSpec asserts
    * byte-identical ranks.
    *
    * `checkpointDir`: lineage truncation for the materialized result —
    * `None` uses `localCheckpoint()` (single-JVM tests/bench; blocks
    * die with the executor), a reliable dir (HDFS/S3) makes the result
    * survive executor loss on a real cluster (same contract as
    * [[Dedup.connectedComponentsStars]]).
    *
    * Exact arithmetic contract (replayed verbatim by the oracle):
    * {{{
    *   base     = PrScale div N
    *   teleport = (15 * base) div 100
    *   r0(u)    = base
    *   contrib(u→v) = (r_i(u) * w(u,v)) div out_w(u)
    *   r_{i+1}(v)   = teleport + (85 * Σ_u contrib(u→v)) div 100
    * }}}
    * Nodes are the DISTINCT `src` set; callers wanting sink nodes to
    * hold rank must pre-symmetrize the edge list (the trade graph
    * below does, by construction).
    */
  def pagerank(edges: DataFrame, iters: Int = PrIters,
      materialize: Boolean = true,
      broadcastNodeLimit: Option[Long] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    val bcLimit = broadcastNodeLimitFor(spark, broadcastNodeLimit)
    // cache the edge relation FIRST: the out-degree aggregate and the
    // annotated edge relation both derive from it, so the (expensive)
    // edge-building pipeline upstream runs exactly once
    val e0 = edges.persist(StorageLevel.MEMORY_AND_DISK)
    // the out-degree relation IS the node relation (one row per src) —
    // persist it and derive node count and the initial ranks from it,
    // so no separate distinct pass ever runs
    val outW = e0.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = outW.count()
    val bcast = n <= bcLimit
    // attach out-degrees: broadcast while node-sized; above the limit
    // force a merge join (a hint, not an estimate, so tiny test graphs
    // and misestimated stats both get the plan the node count demands)
    val e1 =
      if (bcast) e0.join(broadcast(outW), Seq("src"))
      else e0.hint("merge").join(outW, Seq("src"))
    val e2 = e1.select(col("src"), col("dst"), col("w"), col("out_w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = PrScale / n
    val tele = (15L * base) / 100L
    var ranks = outW.select(col("src").as("node"))
      .withColumn("rank_q", lit(base))
    for (_ <- 1 to iters) {
      val joined =
        if (bcast) e2.join(broadcast(ranks), e2("src") === ranks("node"))
        else e2.hint("merge").join(ranks, e2("src") === ranks("node"))
      ranks = joined
        .select(col("dst"), expr("(rank_q * w) div out_w").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_mass"))
        .select(col("dst").as("node"),
          (lit(tele) + expr(s"($PrDampPct * in_mass) div 100")).as("rank_q"))
    }
    if (!materialize) ranks // lazy: plan inspection (caller owns the cache)
    // materialize before releasing the caches the plan depends on
    else
      try Dedup.checkpointer(spark, checkpointDir)(ranks)
      finally { e2.unpersist(); outW.unpersist(); e0.unpersist() }
  }

  /** The q154 edge relation: symmetrized shipment counts between
    * parity-namespaced supplier (2k) and customer (2k+1) nodes.
    */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("s"), col("o_custkey").as("c"))
      .agg(count(lit(1)).as("w"))
    pairs.select(explode(array(
        struct((col("s") * 2L).as("src"), (col("c") * 2L + 1L).as("dst"),
          col("w")),
        struct((col("c") * 2L + 1L).as("src"), (col("s") * 2L).as("dst"),
          col("w")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.w"))
  }

  /** q154: authority centrality of the supplier↔customer trade graph.
    * Edges are shipment counts from the lineitem⋈orders fact join,
    * symmetrized (supplier→customer and back) so the walk mixes; node
    * ids are parity-namespaced (supplier 2k, customer 2k+1). Because
    * shipment weights are asymmetric across counterparties, the damped
    * walk's fixed point is NOT proportional to weighted degree — it is
    * a genuine recursive centrality ("trading with well-connected
    * counterparties raises your rank").
    */
  def tradePagerank(spark: SparkSession, dir: String): DataFrame =
    pagerank(tradeEdges(spark, dir))
      .select(
        when(col("node") % 2L === 0L, lit("supplier"))
          .otherwise(lit("customer")).as("node_type"),
        expr("node div 2").as("node_key"),
        col("rank_q"))

  /** Per-order co-supplier list cap (deterministic: smallest supplier
    * ids) — bounds the per-order pair explosion; TPC-H-shaped orders
    * carry ≤ 7 line items, so the cap only guards degenerate data.
    */
  val OrderSuppCap = 16

  /** Triangle counting + local clustering coefficients (q176) on the
    * co-supply graph — the third distributed-graph shape beside
    * converge-on-labels (components, q70) and converge-on-values
    * (PageRank, q154): a MOTIF count. Nodes are suppliers; an edge
    * joins two suppliers that co-supplied at least one order. The
    * clustering coefficient (2·Δ / deg·(deg−1), in exact ppm) is the
    * community-density signal web-scale curation uses to separate
    * organic link neighborhoods from spam farms.
    *
    * Scale design: the per-order supplier lists are capped and pair
    * explosion is per-order-bounded; the edge relation then collapses
    * to DISTINCT pairs. Triangles use the degree-ORIENTED node-iterator
    * algorithm (Suri & Vassilvitskii's MapReduce form): every edge
    * points from its lower (deg, id) endpoint to the higher, which
    * caps any node's out-degree at O(√m), so the out-neighbor pair
    * join cannot fan out on hub nodes — the reason this survives a
    * power-law 100 TB graph where the naive a<b orientation dies.
    * Oriented out-neighbor pairs then semi-join the oriented edge set
    * once. The NODE-sized degree relation attaches under the q154
    * guard ([[nodeBroadcastOk]]): broadcast while the exact node count
    * is under the limit, hinted merge joins above it — both plans
    * execute the identical contract (GraphOpsSpec asserts byte-equal
    * motif counts).
    */
  /** The heavy-tail co-supply edge relation shared by the q176 motif
    * count and the q178 k-core peel: undirected (a < b) supplier pairs
    * co-supplying MORE orders than the 95th-percentile pair — the
    * co-occurrence graph of uniformly-shuffled order data is
    * near-complete, where every orientation is equivalent and motif
    * counts degenerate toward C(n,3); the heavy-tail cut yields a
    * genuinely sparse association graph at every scale (the same
    * posture as q166's collocation min-support). The exact percentile
    * comes from the WEIGHT-VALUE histogram (bounded by the max
    * co-occurrence count, a few hundred values — its global window is
    * metadata-sized), never a global sort of the edge relation.
    */
  def coSupplyEdges(li: DataFrame): DataFrame = {
    val perOrder = li
      .groupBy(col("l_orderkey"))
      .agg(expr(s"slice(sort_array(collect_set(l_suppkey)), 1, $OrderSuppCap)")
        .as("ss"))
      .filter(size(col("ss")) >= 2)
    val weighted = perOrder
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ss) - 1), i ->
          |  transform(sequence(i + 1, size(ss)), j ->
          |    struct(element_at(ss, i) AS a, element_at(ss, j) AS b))))"""
          .stripMargin)).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("w"))
    val hist = weighted.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val thrDf = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("w")).rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n_pairs"))))
      .filter(col("cum") * 20L >= col("n_pairs") * 19L)
      .agg(min(col("w")).as("thr_w"))
    weighted.crossJoin(broadcast(thrDf))
      .filter(col("w") > col("thr_w"))
      .select(col("a"), col("b"))
  }

  def supplierTriangles(spark: SparkSession, dir: String): DataFrame =
    supplierTrianglesFor(Tables.lineitem(spark, dir))

  /** `materialize = false` returns the lazy plan (no persist, no
    * checkpoint) for plan-shape inspection — the caller owns cost.
    */
  def supplierTrianglesFor(li: DataFrame,
      broadcastNodeLimit: Option[Long] = None,
      materialize: Boolean = true): DataFrame = {
    val edges0 = coSupplyEdges(li)
    // persist the shared relations: edges feed the degree pass, the
    // orientation join and the closing semi-join; degrees feed both
    // orientation sides and the final coefficient join — without the
    // cache the whole coSupplyEdges pipeline (a fact-table aggregation)
    // replays once per consumer inside ONE query
    val edges =
      if (materialize) edges0.persist(StorageLevel.MEMORY_AND_DISK) else edges0
    val deg0 = edges
      .select(explode(array(col("a"), col("b"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val deg =
      if (materialize) deg0.persist(StorageLevel.MEMORY_AND_DISK) else deg0
    val bcast = nodeBroadcastOk(deg, broadcastNodeLimit, allowCount = materialize)
    // total order (deg, id) as one comparable key; supplier ids are
    // far below 1e9 at every graded scale (asserted cheaply upstream
    // by key ranges), so the packing is collision-free
    def okey(d: Column, id: Column): Column = d * lit(1000000000L) + id
    val degA = deg.select(col("s").as("a"), col("deg").as("deg_a"))
    val degB = deg.select(col("s").as("b"), col("deg").as("deg_b"))
    val annotated =
      if (bcast) edges.join(broadcast(degA), Seq("a"))
        .join(broadcast(degB), Seq("b"))
      else edges.hint("merge").join(degA, Seq("a"))
        .hint("merge").join(degB, Seq("b"))
    val oriented = annotated
      .select(
        when(okey(col("deg_a"), col("a")) < okey(col("deg_b"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(okey(col("deg_a"), col("a")) < okey(col("deg_b"), col("b")),
          struct(col("deg_b").as("d"), col("b").as("n")))
          .otherwise(struct(col("deg_a").as("d"), col("a").as("n"))).as("vk"))
      .select(col("u"), col("vk.n").as("v"), okey(col("vk.d"), col("vk.n")).as("vkey"))
    // out-neighbor pairs of u, ordered by the SAME (deg, id) key so the
    // closing edge (v → w) is oriented exactly once
    val p1 = oriented.select(col("u"), col("v"), col("vkey"))
    val p2 = oriented.select(col("u"), col("v").as("w"), col("vkey").as("wkey"))
    val wedges = p1.join(p2, Seq("u")).filter(col("vkey") < col("wkey"))
    val tris = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_tri"))
    val out = deg.join(perNode, Seq("s"), "left_outer")
      .na.fill(0L, Seq("n_tri"))
      .select(col("s").as("suppkey"), col("deg"), col("n_tri"),
        expr("CASE WHEN deg >= 2 THEN n_tri * 2000000 DIV (deg * (deg - 1)) " +
          "ELSE 0 END").as("clust_ppm"))
    if (!materialize) out
    else {
      // materialize before releasing the caches the plan depends on
      val m = out.localCheckpoint()
      deg.unpersist(); edges.unpersist()
      m
    }
  }

  /** Minimum degree a node needs to survive a q178 peel round. */
  val KCoreK = 3

  /** Fixed peel-round count the graded query unrolls (the PageRank
    * fixed-iteration discipline: deterministic and SQL-replayable; the
    * trajectory itself shows whether the fixpoint was reached — equal
    * consecutive rows — instead of hiding it behind a data-dependent
    * loop).
    */
  val KCoreRounds = 6

  /** k-core peel trajectory (q178) — the SUBGRAPH-MINING fourth of the
    * graph family (labels q70, values q154, motifs q176): repeatedly
    * drop nodes of degree < k; what survives all rounds is (an
    * approximation converging to) the k-core, the standard dense-
    * community extraction web-curation uses to find link farms and
    * authority clusters. Output is one row per round: survivors of the
    * degree cut and the edges among them — the shrink trajectory.
    *
    * Scale: each round is one degree aggregation plus two semi-joins
    * on the shrinking edge relation, materialized per round (the
    * PageRank checkpoint discipline — without it the 3-references-per-
    * round lineage grows 3^rounds). Edge relations only shrink, so
    * the whole peel is bounded by rounds × the first degree pass.
    */
  def kCoreTrajectory(spark: SparkSession, dir: String): DataFrame =
    kCoreTrajectoryFor(coSupplyEdges(Tables.lineitem(spark, dir)))

  def kCoreTrajectoryFor(edges: DataFrame, k: Int = KCoreK,
      rounds: Int = KCoreRounds,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = Dedup.checkpointer(edges.sparkSession, checkpointDir)
    var e = ckpt(edges)
    val stats = (1 to rounds).map { r =>
      val deg = e.select(explode(array(col("a"), col("b"))).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("s"))
      e = ckpt(e
        .join(keep.withColumnRenamed("s", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("s", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      keep.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
    }
    stats.reduce(_.unionByName(_))
  }

  /** Seed-set size for the q207 multi-source BFS: the [[BfsSeeds]]
    * smallest node ids of the co-supply node set — a deterministic,
    * scale-independent rule (TakeOrdered on a node-sized relation,
    * never a full sort).
    */
  val BfsSeeds = 4

  /** Fixed hop count the graded BFS (q207) unrolls — the q154/q178
    * fixed-round discipline: deterministic, SQL-replayable, and the
    * trajectory itself shows saturation (empty frontiers) instead of
    * hiding it behind a data-dependent loop.
    */
  val BfsHops = 4

  /** Multi-source BFS hop trajectory (q207) — the TRAVERSAL sixth of
    * the graph family (labels q70, values q154, motifs q176, cores
    * q178, communities q189): from the [[BfsSeeds]] smallest co-supply
    * nodes, expand one hop per round; output per round the frontier
    * size (newly reached nodes), the cumulative reach, and a bit_xor
    * witness of the frontier's membership. Hop histograms from fixed
    * seed sets are the reachability / influence-radius signal curation
    * uses on link graphs (how much of the crawl is within h hops of
    * the trusted seed hosts — the TrustRank neighborhood question).
    *
    * Scale design: each round is one semi-join of the adjacency
    * relation against the (node-sized, shrinking-growth) frontier,
    * one distinct, and one anti-join against the reached set — all
    * keyed shuffles, no broadcast of data-sized relations; frontier
    * and reached are checkpointed per round (the q154/q178 lineage
    * discipline; reliable dir optional). The adjacency relation is
    * materialized once and reused by every round.
    */
  def bfsReach(spark: SparkSession, dir: String): DataFrame =
    bfsReachFor(coSupplyEdges(Tables.lineitem(spark, dir)))

  def bfsReachFor(edges0: DataFrame, hops: Int = BfsHops,
      seeds: Int = BfsSeeds, checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = Dedup.checkpointer(edges0.sparkSession, checkpointDir)
    val edges = ckpt(edges0)
    val adj = ckpt(edges.select(col("a").as("s"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("s"), col("a").as("nb"))))
    // TakeOrdered: a bounded heap per partition + a seeds-sized merge,
    // never a global sort of the node relation
    var frontier = ckpt(adj.select(col("s")).distinct()
      .orderBy(col("s")).limit(seeds))
    var reached = frontier
    def statRow(round: Int, f: DataFrame, r: DataFrame): DataFrame =
      f.agg(count(lit(1)).as("n_frontier"),
          expr("bit_xor(s)").as("frontier_xor"))
        .crossJoin(broadcast(r.agg(count(lit(1)).as("n_reached"))))
        .select(lit(round.toLong).as("round"), col("n_frontier"),
          col("n_reached"), col("frontier_xor"))
    val rows = Seq.newBuilder[DataFrame]
    rows += statRow(0, frontier, reached)
    for (h <- 1 to hops) {
      val next = ckpt(adj
        .join(frontier, Seq("s"), "left_semi")
        .select(col("nb").as("s")).distinct()
        .join(reached, Seq("s"), "left_anti"))
      reached = ckpt(reached.unionByName(next))
      frontier = next
      rows += statRow(h, frontier, reached)
    }
    rows.result().reduce(_.unionByName(_))
  }

  /** Fixed synchronous rounds the graded LPA query (q189) unrolls. */
  val LpaRounds = 4

  /** Label propagation communities (q189) — the COMMUNITY fifth of the
    * graph family (labels q70, values q154, motifs q176, cores q178):
    * every node starts as its own label; each synchronous round it
    * adopts the most frequent label among its neighbors, ties to the
    * smallest label (Raghavan et al. 2007, made deterministic). Unlike
    * q70's connected components (which converge to per-component min
    * labels), mode-adoption finds DENSE sub-communities inside one
    * component — the organic-cluster signal curation uses where
    * components are too coarse.
    *
    * Output per round: distinct-label count, nodes that changed label,
    * and a bit_xor membership checksum (node·10⁹+label, the q176
    * packing) — the convergence trajectory plus an exact witness of
    * the final labeling.
    *
    * Scale: the argmax is max(struct(count, −label)) — a plain
    * aggregation with map-side partials, NEVER a per-node window sort.
    * Each round is two keyed shuffles over the (shrinking-entropy but
    * fixed-size) adjacency relation; labels are checkpointed per round
    * (the q154/q178 lineage discipline), reliable-checkpoint optional.
    */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame =
    labelPropagationFor(coSupplyEdges(Tables.lineitem(spark, dir)))

  def labelPropagationFor(edges0: DataFrame, rounds: Int = LpaRounds,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = Dedup.checkpointer(edges0.sparkSession, checkpointDir)
    val edges = ckpt(edges0)
    var lbl = lpaSeedLabels(edges, ckpt)
    val stats = (1 to rounds).map { r =>
      val next = lpaRound(edges, lbl, ckpt)
      val moved = next
        .join(lbl.select(col("s"), col("label").as("prev")), Seq("s"))
        .filter(col("label") =!= col("prev"))
        .agg(count(lit(1)).as("n_moved"))
      val row = next
        .agg(countDistinct(col("label")).as("n_labels"),
          expr("bit_xor(s * 1000000000 + label)").as("checksum"))
        .crossJoin(broadcast(moved))
        .select(lit(r.toLong).as("round"), col("n_labels"), col("n_moved"),
          col("checksum"))
      lbl = next
      row
    }
    stats.reduce(_.unionByName(_))
  }

  private def lpaSeedLabels(edges: DataFrame,
      ckpt: DataFrame => DataFrame): DataFrame =
    ckpt(edges
      .select(explode(array(col("a"), col("b"))).as("s")).distinct()
      .select(col("s"), col("s").as("label")))

  /** One synchronous LPA round: argmax neighbor label, ties minimal. */
  private def lpaRound(edges: DataFrame, lbl: DataFrame,
      ckpt: DataFrame => DataFrame): DataFrame = {
    val adj = edges.select(col("a").as("s"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("s"), col("a").as("nb")))
    ckpt(adj
      .join(lbl.select(col("s").as("nb"), col("label")), Seq("nb"))
      .groupBy(col("s"), col("label")).agg(count(lit(1)).as("n"))
      .groupBy(col("s"))
      .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("m"))
      .select(col("s"), (-col("m.neg")).as("label")))
  }

  /** Final LPA labeling after `rounds` synchronous rounds. */
  private[operators] def lpaLabels(edges: DataFrame, rounds: Int,
      ckpt: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(lpaSeedLabels(edges, ckpt))(
      (l, _) => lpaRound(edges, l, ckpt))

  /** Community modularity panel (q194) — the QUALITY score of q189's
    * labeling: Newman modularity Q = Σ_c (e_c/m − (d_c/2m)²)
    * decomposed per community in exact ppm — q_cell_ppm =
    * e_c·10⁶ DIV m − d_c²·10⁶ DIV 4m² (DECIMAL-widened; d_c ≤ 2m so
    * the square stays ≤ 4m², exact past 10¹⁰-edge graphs). Positive
    * cells are denser-than-chance communities; the panel sums to
    * Q·10⁶. This is how a curation pipeline decides whether LPA's
    * communities are real structure or noise before acting on them.
    *
    * Scale: labels ride the q189 machinery; the panel is two keyed
    * joins of the edge relation against the label relation plus
    * label-bounded aggregations; only 1-row totals broadcast.
    */
  def communityModularity(spark: SparkSession, dir: String): DataFrame =
    communityModularityFor(coSupplyEdges(Tables.lineitem(spark, dir)))

  def communityModularityFor(edges0: DataFrame, rounds: Int = LpaRounds,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = Dedup.checkpointer(edges0.sparkSession, checkpointDir)
    val edges = ckpt(edges0)
    val lbl = lpaLabels(edges, rounds, ckpt)
    val m = edges.agg(count(lit(1)).as("m"))
    val eIn = edges
      .join(lbl.select(col("s").as("a"), col("label").as("la")), Seq("a"))
      .join(lbl.select(col("s").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
    val dTot = edges
      .select(explode(array(col("a"), col("b"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("deg"))
      .join(lbl, Seq("s"))
      .groupBy(col("label"))
      .agg(sum(col("deg")).as("d_tot"), count(lit(1)).as("n_nodes"))
    dTot
      .join(eIn, Seq("label"), "left_outer")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("e_in"), col("d_tot"),
        expr("CAST(CAST(e_in AS DECIMAL(38,0)) * 1000000 DIV m AS BIGINT) - " +
          "CAST(CAST(d_tot AS DECIMAL(38,0)) * d_tot * 1000000 " +
          "DIV (CAST(m AS DECIMAL(38,0)) * m * 4) AS BIGINT)")
          .as("q_cell_ppm"))
  }

  /** Per-middle-node neighbor-list cap for [[linkPrediction]]'s wedge
    * generation — the LSH band-cap posture: candidate generation is
    * bounded BY CONSTRUCTION, never by hoping degrees stay small.
    */
  val LpNeighborCap = 32

  /** Minimum (capped) common-neighbor count for a predicted link. */
  val LpMinCommon = 2L

  /** q224: common-neighbor / Jaccard link prediction (Liben-Nowell &
    * Kleinberg 2003) on the heavy-tail co-supply graph — the
    * PREDICTION fifth of the graph family (labels q70/q189, values
    * q154, motifs q176, subgraphs q178): which supplier pairs that
    * have NOT co-supplied an order are most likely to, scored by
    * common neighbors and the Jaccard of their neighborhoods (exact
    * ppm, true degrees in the denominator).
    *
    * Scale: wedges (a–m–b) are enumerated per middle node from its
    * neighbor list CAPPED at [[LpNeighborCap]] (smallest ids —
    * deterministic), so a hub contributes O(cap²) wedges instead of
    * O(deg²); existing edges leave via one anti-join and the NODE-sized
    * degree relation attaches under the q154 guard ([[nodeBroadcastOk]]):
    * broadcast under the limit, hinted merge joins above it — both
    * plans score identically (GraphOpsSpec asserts byte-equal rows).
    * The same capped-candidates-then-exact-score shape as the LSH
    * dedup path.
    */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame =
    linkPredictionFor(coSupplyEdges(Tables.lineitem(spark, dir)))

  /** `materialize = false` returns the lazy plan (no persist/checkpoint)
    * for plan-shape inspection — the caller owns execution cost.
    */
  def linkPredictionFor(edges0: DataFrame,
      materialize: Boolean = true,
      broadcastNodeLimit: Option[Long] = None): DataFrame = {
    val edges =
      if (materialize) edges0.persist(StorageLevel.MEMORY_AND_DISK) else edges0
    val sym = edges.select(col("a").as("m"), col("b").as("n"))
      .union(edges.select(col("b").as("m"), col("a").as("n")))
    val deg0 = sym.groupBy(col("m").as("s")).agg(count(lit(1)).as("deg"))
    val deg =
      if (materialize) deg0.persist(StorageLevel.MEMORY_AND_DISK) else deg0
    val bcast = nodeBroadcastOk(deg, broadcastNodeLimit, allowCount = materialize)
    val capped = sym
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("m")).orderBy(col("n"))))
      .filter(col("rn") <= LpNeighborCap)
      .select(col("m"), col("n"))
    val wedges = capped.as("l")
      .join(capped.as("r"), col("l.m") === col("r.m") && col("l.n") < col("r.n"))
      .select(col("l.n").as("a"), col("r.n").as("b"))
    val cn = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= LpMinCommon)
      .join(edges, Seq("a", "b"), "left_anti")
    val degA = deg.select(col("s").as("a"), col("deg").as("deg_a"))
    val degB = deg.select(col("s").as("b"), col("deg").as("deg_b"))
    val annotated =
      if (bcast) cn.join(broadcast(degA), Seq("a"))
        .join(broadcast(degB), Seq("b"))
      else cn.hint("merge").join(degA, Seq("a"))
        .hint("merge").join(degB, Seq("b"))
    val scored = annotated
      .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
        expr("n_common * 1000000 DIV (deg_a + deg_b - n_common)")
          .as("jaccard_ppm"))
    if (!materialize) scored
    else {
      val out = scored.localCheckpoint()
      deg.unpersist(); edges.unpersist()
      out
    }
  }
}
