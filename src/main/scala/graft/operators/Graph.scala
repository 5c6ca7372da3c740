package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph analytics over relational edges. Complements
  * [[Dedup.nearDupClusters]] (unweighted label propagation): PageRank
  * propagates WEIGHTED mass, the other canonical big-data iterative
  * pattern (ref has no graph surface; this is §2.7 extension work).
  */
object Graph {

  /** Weighted PageRank over the customer→supplier purchase graph:
    * an edge (c, s) with weight = number of lineitems c bought from s.
    * Node ids share one key space via parity (customer 2k, supplier
    * 2k+1). Damping d=0.85, a FIXED `iters` sweeps from the uniform
    * start — fixed so the DuckDB oracle can unroll the same loop as
    * CTEs and hash-match bit-for-bit semantics (suppliers are sinks in
    * this bipartite graph, so dangling mass simply decays; both
    * engines drop it identically).
    *
    * Scale shape: each sweep is one shuffle join of ranks×edges on src
    * (both sides hash-partitioned on the same key — AQE reuses the
    * exchange) plus a map-side-combined sum over dst. Rank state is
    * one row per NODE, never materialized on the driver; 3 sweeps = 3
    * shuffles of node-count rows, independent of edge skew (a hot
    * supplier only concentrates its dst-sum, which partial aggregation
    * absorbs map-side). The final top-k is a TakeOrdered, not a global
    * sort.
    */
  def pageRankQuery(t: Tables, iters: Int = 3, d: Double = 0.85,
      topK: Int = 20): DataFrame = {
    val edges = t.orders
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    val nodes = t.customer.select((col("c_custkey") * 2).as("node"))
      .unionAll(t.supplier.select((col("s_suppkey") * 2 + 1).as("node")))
    pageRankOf(edges, nodes, iters, d, topK)
  }

  /** ONE damped sweep — shared verbatim by the fixed-iteration form
    * and the convergence form, so "stopping after k sweeps returns
    * bit-for-bit pageRankOf(iters = k)" is structural, not two
    * hand-synchronized copies of the arithmetic.
    */
  /** `ew` is the edge table PRE-JOINED with its out-weights —
    * (src, dst, w, wout) — so a sweep is ONE join + one aggregate. The
    * contribution expression is unchanged (`rank * w / wout`, same
    * operand order), so per-row values are bit-identical to the old
    * three-table form; the oracle gate at sf0.001/0.01/0.1 pins the
    * fold.
    */
  private def sweep(ew: DataFrame, nodes: DataFrame,
      nTotal: DataFrame, ranks: DataFrame, d: Double): DataFrame = {
    val contribs = ew
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("rank") * col("w") / col("wout")).as("contrib"))
    nodes.crossJoin(broadcast(nTotal))
      .join(contribs, Seq("node"), "left")
      .select(col("node"),
        (lit(1 - d) / col("n") + lit(d) * coalesce(col("contrib"), lit(0.0))).as("rank"))
  }

  private def uniformRanks(nodes: DataFrame, nTotal: DataFrame): DataFrame =
    nodes.crossJoin(broadcast(nTotal))
      .select(col("node"), (lit(1.0) / col("n")).as("rank"))

  private def topKRanks(ranks: DataFrame, topK: Int): DataFrame =
    ranks
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(topK)

  /** Library form over explicit `(src, dst, w)` edges and a `node`
    * universe (nodes with no in-edges keep the teleport floor; nodes
    * absent from `nodes` receive no rank even if edges mention them).
    */
  def pageRankOf(edges: DataFrame, nodes: DataFrame, iters: Int = 3,
      d: Double = 0.85, topK: Int = 20): DataFrame = {
    // r15: the out-weights are pre-joined ONCE into the edge view, so a
    // sweep is a single join + aggregate instead of two joins — the
    // contribution arithmetic is unchanged (`rank * w / wout`). Kept
    // LAZY: an eager localCheckpoint of the joined table was measured
    // WORSE for q_pagerank (1.78 → 2.28 s at sf0.1) — it serializes
    // the edge build into its own job where ReusedExchange already
    // dedups the per-sweep re-references inside one AQE-overlapped job.
    val outw = edges.groupBy("src").agg(sum(col("w")).as("wout"))
    val ew = edges.join(outw, "src")
    val nTotal = nodes.agg(count(lit(1)).cast("double").as("n"))

    var ranks = uniformRanks(nodes, nTotal)
    for (i <- 1 to iters) {
      ranks = sweep(ew, nodes, nTotal, ranks, d)
      // Lineage cut every 5 sweeps: each sweep nests the previous plan,
      // so analysis cost and the re-derivation of edges/outw grow with
      // iters — fine at the default 3, fatal for a library caller at
      // iters ≈ 20.
      ranks = Lineage.cutEvery(ranks, i, iters)
    }
    topKRanks(ranks, topK)
  }

  def pageRankSql(iters: Int = 3, d: Double = 0.85, topK: Int = 20): String = {
    val base =
      s"""WITH edges AS (
         |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         |    CAST(count(*) AS DOUBLE) AS w
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
         |nodes AS (
         |  SELECT c_custkey * 2 AS node FROM customer
         |  UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier
         |), nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nt)""".stripMargin
    val sweeps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank * e.w / o.wout) AS contrib
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src JOIN outw o ON o.src = e.src
         |  GROUP BY e.dst
         |), r$i AS (
         |  SELECT nd.node, ${1 - d} / nt.n + $d * coalesce(c.contrib, 0) AS rank
         |  FROM nodes nd CROSS JOIN nt LEFT JOIN c$i c ON c.node = nd.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$sweeps
       |SELECT node, round(rank, 6) AS rank FROM r$iters
       |ORDER BY round(rank, 6) DESC, node LIMIT $topK""".stripMargin
  }

  /** [[pageRankOf]] with an L1-delta CONVERGENCE stop — the control a
    * library caller needs that the fixed-sweep gated form (kept as the
    * oracle twin) deliberately lacks: sweeps run until
    * Σ|rank−prevRank| < tol or `maxIters`, whichever first. The
    * per-sweep plan is IDENTICAL to the fixed form's, so stopping
    * after k sweeps returns bit-for-bit `pageRankOf(…, iters = k)` —
    * that equivalence is the spec. The delta is a 1-row aggregate
    * collected per sweep (the changed-count stop of
    * `Dedup.nearDupClusters`, mass instead of labels); edges and
    * out-weights are cached across sweeps since convergence mode
    * re-reads them O(sweeps) times, and lineage is cut on the same
    * 5-sweep cadence. Returns the converged top-k and the sweep count.
    */
  def pageRankConvergedWithSweeps(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 50, d: Double = 0.85, topK: Int = 20,
      tol: Double = 1e-6): (DataFrame, Int) = {
    val e = edges.cache()
    val outw = e.groupBy("src").agg(sum(col("w")).as("wout"))
    // same pre-joined edge shape as the fixed-sweep form — the
    // bit-identity spec between the two forms holds structurally
    val ew = e.join(outw, "src").cache()
    val nTotal = nodes.agg(count(lit(1)).cast("double").as("n"))
    var ranks = uniformRanks(nodes, nTotal).cache()
    var sweeps = 0
    var delta = Double.MaxValue
    while (sweeps < maxIters && delta >= tol) {
      var next = sweep(ew, nodes, nTotal, ranks, d).cache()
      delta = next.join(ranks.select(col("node"), col("rank").as("prev")), "node")
        .agg(sum(abs(col("rank") - col("prev"))).as("d")).head().getDouble(0)
      sweeps += 1
      next = Lineage.cutEvery(next, sweeps)
      ranks.unpersist(blocking = false)
      ranks = next
    }
    e.unpersist(blocking = false)
    ew.unpersist(blocking = false)
    (topKRanks(ranks, topK), sweeps)
  }

  def pageRankConverged(edges: DataFrame, nodes: DataFrame, maxIters: Int = 50,
      d: Double = 0.85, topK: Int = 20, tol: Double = 1e-6): DataFrame =
    pageRankConvergedWithSweeps(edges, nodes, maxIters, d, topK, tol)._1

  // --------------------------------------------------------- k-core

  /** k-core of the customer↔supplier purchase graph (undirected,
    * unweighted distinct trading pairs): iteratively peel nodes of
    * degree < k until fixpoint — the third canonical iterative graph
    * pattern next to [[pageRankOf]] (weighted mass) and
    * [[graft.operators.Dedup.nearDupClusters]] (label propagation),
    * and the standard "dense enough to matter" filter before
    * community/embedding work on an interaction graph.
    *
    * Equivalence with the unrolled-CTE DuckDB oracle is UNCONDITIONAL:
    * both run exactly `iters` peel rounds (a round past the fixpoint
    * is a no-op in both engines — the early stop here is purely a cost
    * optimization, taken when a round's survivor count is unchanged),
    * then recompute final degrees over the surviving induced subgraph.
    *
    * Scale shape per round: two semi-joins of the edge list against
    * the shrinking alive set plus one map-side-combined degree count —
    * only (node) keys shuffle, never adjacency lists; the alive set
    * re-caches per round and peeling depth is bounded by `iters`, not
    * by graph diameter.
    */
  def kCoreOf(edges: DataFrame, k: Int, iters: Int = 6): DataFrame = {
    // A lineage cut, NOT cache + unpersist: the peel loop runs
    // eagerly at build time, so the old `und.unpersist` at the end of
    // this method fired BEFORE the returned plan ever executed — the
    // final degree pass re-derived the whole orders⋈lineitem distinct
    // union from scratch (measured: the two re-derivation scan stages
    // were the query's largest, ~1.5 s of its 4.6 s at sf0.1). The
    // checkpoint materializes the edge table once, every peel round
    // and the final pass read the materialized blocks (their lifetime
    // is the Lineage scaladoc's).
    // r15: one per-row explode instead of a two-branch unionAll — the
    // union made each direction its own subtree, so the orders⋈lineitem
    // distinct executed once PER DIRECTION inside this checkpoint job
    // (OptLab showed four ~98 MB scan stages; two remain).
    val und = edges.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a"), col("e.b"))
      .transform(Lineage.cut)
    var alive = und.select(col("a").as("node")).distinct().cache()
    var prev = alive.count()
    var r = 0
    var fixed = false
    while (r < iters && !fixed) {
      val next = und
        .join(alive.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .groupBy(col("a"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("a").as("node"))
        .cache()
      val n = next.count()
      alive.unpersist(blocking = false)
      alive = next
      fixed = n == prev
      prev = n
      r += 1
    }
    val out = und
      .join(alive.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
      .join(alive.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("degree"))
      .select(col("node"),
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
        (col("node") / lit(2)).cast("long").as("key"),
        col("degree"))
      .orderBy("node")
    out
  }

  def kCoreQuery(t: Tables, k: Int = 8, iters: Int = 6): DataFrame =
    kCoreOf(
      t.orders
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct(),
      k, iters)

  def kCoreSql(k: Int = 8, iters: Int = 6): String = {
    val base =
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |), und AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |alive0 AS (SELECT DISTINCT a AS node FROM und)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""alive$i AS (
         |  SELECT a AS node FROM und
         |  WHERE a IN (SELECT node FROM alive${i - 1})
         |    AND b IN (SELECT node FROM alive${i - 1})
         |  GROUP BY a HAVING count(*) >= $k
         |)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT a AS node,
       |  CASE WHEN a % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  CAST(a // 2 AS BIGINT) AS key, count(*) AS degree
       |FROM und
       |WHERE a IN (SELECT node FROM alive$iters)
       |  AND b IN (SELECT node FROM alive$iters)
       |GROUP BY a ORDER BY a""".stripMargin
  }

  // ------------------------------------------------------------ HITS

  /** HITS hubs & authorities (Kleinberg) over the customer→supplier
    * purchase graph — the OTHER canonical link-analysis fixpoint next
    * to [[pageRankQuery]]: hubs (customers) score by the authorities
    * they buy from, authorities (suppliers) by the hubs that buy from
    * them. Fixed `iters` mutual-recursion sweeps from the uniform
    * start, L1-normalized each half-sweep (exact SUM normalization —
    * the oracle can reproduce it; an L2 norm would put a sqrt inside
    * every sweep's float chain). Each half-sweep is one edges⋈scores
    * shuffle join + a map-side-combined sum — node-count rows of
    * state, same scale shape as PageRank; the oracle unrolls the same
    * sweeps as CTEs.
    */
  def hitsQuery(t: Tables, iters: Int = 3, topK: Int = 20): DataFrame =
    hitsOf(
      t.orders
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("hub"), col("l_suppkey").as("auth"))
        .agg(count(lit(1)).cast("double").as("w")),
      iters, topK)

  /** Library form over explicit `(hub, auth, w)` edges.
    *
    * Normalization happens ONCE, after the last sweep: HITS updates
    * are linear, so dividing by the L1 total at the end is exactly the
    * per-half-sweep textbook normalization (the spec checks the hand
    * values either way) — and it keeps every sweep a pure join+agg
    * like [[pageRankOf]]'s. The first form normalized inside the loop:
    * each scalar total re-evaluated its half-sweep's whole subtree, so
    * the edge derivation recomputed a growing number of times per
    * sweep — 15.6 s at sf0.1 where this form runs in ~1 s.
    */
  def hitsOf(edges0: DataFrame, iters: Int = 3, topK: Int = 20): DataFrame = {
    // every half-sweep references the edge table: 2·iters re-derivations
    // of the upstream join without a cut. One lineage cut
    // materializes it once (node-pair rows, fixed width) — the same
    // trade pageRankConverged makes with its cache
    // NOTE (r14 optimization round, negative result kept): pinning two
    // hash-partitioned edge views (repartition by hub / by auth, shared
    // across sweeps via ReusedExchange) + SHUFFLE_HASH-building the
    // score side measured a clear LOSS in the driver-shaped bench
    // (q_hits 3.47 → 6.29 s at sf0.1) — AQE's runtime SMJ→BHJ
    // conversion on the tiny score tables already avoids the per-sweep
    // edge shuffle, and the explicit exchanges only added stages.
    // NOTE (r15 round 2, negative result kept): re-checkpointing the
    // edge table at defaultParallelism ("the sweeps re-scan a ~6-block
    // AQE-coalesced checkpoint 6×-wide while 26 cores idle") measured
    // WORSE across the whole iterative stack (q_hits 2.89 → 3.14,
    // q_bfs_hops 2.29 → 3.46, q_modularity 2.99 → 3.98 at sf0.1;
    // OptLab: per-sweep task time 2.4 s → 12.4 s at t=32) — the
    // deserialized-block cache reads are memory-bandwidth-bound, and
    // 32-way fan-out multiplies block-manager/deserialization work
    // instead of splitting it. 6-wide cache scans are the cheap form.
    val edges = edges0.transform(Lineage.cut)
    val hubs = edges.select(col("hub")).distinct()
    var hub = hubs.join(hubs.agg(count(lit(1)).as("n")))
      .select(col("hub"), (lit(1.0) / col("n")).as("h"))
    var auth: DataFrame = null
    // r15 (guide §2.4): no per-half-sweep rejoin against the hub/auth
    // universe — both universes are DERIVED from `edges`, so every
    // distinct auth (resp. hub) appears in the half-sweep aggregate's
    // output already and the old left join + coalesce(0.0) was a
    // row-for-row no-op costing one join stage per half-sweep (the
    // coalesce never fired: an edges-derived key cannot be missing
    // from an aggregate OVER edges). Values and row sets identical.
    for (_ <- 1 to iters) {
      auth = edges.join(hub, "hub")
        .groupBy("auth").agg(sum(col("h") * col("w")).as("a"))
      hub = edges.join(auth, "auth")
        .groupBy("hub").agg(sum(col("a") * col("w")).as("h"))
    }
    val aTot = auth.agg(sum(col("a")).as("a_tot"))
    val hTot = hub.agg(sum(col("h")).as("h_tot"))
    // two TakeOrdereds, no window: each side's top-k is its own
    // bounded fetch over the node-count score table
    val topHubs = hub.crossJoin(broadcast(hTot))
      .select(lit("hub").as("kind"), col("hub").as("key"),
        round(col("h") / col("h_tot"), 6).as("score"))
      .orderBy(col("score").desc, col("key")).limit(topK)
    val topAuths = auth.crossJoin(broadcast(aTot))
      .select(lit("authority").as("kind"), col("auth").as("key"),
        round(col("a") / col("a_tot"), 6).as("score"))
      .orderBy(col("score").desc, col("key")).limit(topK)
    topAuths.unionByName(topHubs)
      .orderBy(col("kind"), col("score").desc, col("key"))
  }

  def hitsSql(iters: Int = 3, topK: Int = 20): String = {
    val base =
      """WITH edges AS (
        |  SELECT o_custkey AS hub, l_suppkey AS auth, CAST(count(*) AS DOUBLE) AS w
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), hubs AS (SELECT DISTINCT hub FROM edges),
        |auths AS (SELECT DISTINCT auth FROM edges),
        |h0 AS (SELECT hub, 1.0 / (SELECT count(*) FROM hubs) AS h FROM hubs)""".stripMargin
    val sweeps = (1 to iters).map { i =>
      s"""ar$i AS (
         |  SELECT e.auth, sum(r.h * e.w) AS a_raw
         |  FROM edges e JOIN h${i - 1} r ON r.hub = e.hub GROUP BY 1
         |), a$i AS (
         |  SELECT au.auth, coalesce(x.a_raw, 0.0) AS a
         |  FROM auths au LEFT JOIN ar$i x ON x.auth = au.auth
         |), hr$i AS (
         |  SELECT e.hub, sum(r.a * e.w) AS h_raw
         |  FROM edges e JOIN a$i r ON r.auth = e.auth GROUP BY 1
         |), h$i AS (
         |  SELECT hu.hub, coalesce(x.h_raw, 0.0) AS h
         |  FROM hubs hu LEFT JOIN hr$i x ON x.hub = hu.hub
         |)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$sweeps,
       |scored AS (
       |  SELECT 'hub' AS kind, hub AS key,
       |    round(h / (SELECT sum(h) FROM h$iters), 6) AS score FROM h$iters
       |  UNION ALL
       |  SELECT 'authority', auth,
       |    round(a / (SELECT sum(a) FROM a$iters), 6) FROM a$iters
       |), ranked AS (
       |  SELECT kind, key, score,
       |    row_number() OVER (PARTITION BY kind ORDER BY score DESC, key) AS rn
       |  FROM scored
       |)
       |SELECT kind, key, score FROM ranked WHERE rn <= $topK
       |ORDER BY kind, score DESC, key""".stripMargin
  }

  // ------------------------------------------------------- triangles

  /** Per-node triangle counts over the supplier co-purchase graph —
    * the local-clustering primitive behind community detection and
    * link spam screens. The BIPARTITE purchase graph has no triangles
    * by construction, so the operator first PROJECTS it: suppliers
    * are adjacent when they share distinct customers, and only the
    * `maxEdges` STRONGEST pairs (most shared customers; (s1,s2)
    * tie-break makes the cut deterministic) survive — the projection
    * of a bipartite graph is dense noise without a strength cut, and
    * the cap also bounds every downstream join. Enumeration is the
    * classic oriented form: edges kept as s1<s2, each triangle found
    * exactly once as (a<b)⋈(b<c)⋈(a<c).
    *
    * Scale shape: the one corpus-proportional pass is the per-customer
    * pair expansion — fanout is C(basket,2) with basket = distinct
    * suppliers per customer (bounded by order size, NOT corpus size),
    * and the (s1,s2) count aggregate combines map-side. The top-E cut
    * is a TakeOrdered (no global sort materialization), and the
    * ≤maxEdges edge set broadcasts into both triangle joins, so
    * triangle enumeration never shuffles.
    */
  def trianglesOf(edges: DataFrame, maxEdges: Int): DataFrame = {
    // Lineage cut BEFORE the 3-way broadcast self-join: `e` is
    // referenced three times (e1⋈e2⋈e3) plus the degree rollup, and
    // without a cut each broadcast re-executed the whole upstream
    // pair aggregate + top-E TakeOrdered (measured: the ~5 s ×8.7M-
    // group aggregate ran 2-3× per query at sf0.1). The checkpoint
    // pins the ≤maxEdges (600-row) edge list — the broadcasts then
    // build from those rows for free.
    val e = broadcast(
      edges.orderBy(col("n_common").desc, col("s1"), col("s2")).limit(maxEdges)
        .select("s1", "s2").transform(Lineage.cut))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.s2") === col("e2.s1"))
      .join(e.as("e3"),
        col("e3.s1") === col("e1.s1") && col("e3.s2") === col("e2.s2"))
      .select(col("e1.s1").as("a"), col("e1.s2").as("b"), col("e2.s2").as("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("suppkey"))
      .groupBy("suppkey").agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("s1").as("suppkey"))
      .unionAll(e.select(col("s2").as("suppkey")))
      .groupBy("suppkey").agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("suppkey"), "left")
      .select(col("suppkey"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("suppkey")
  }

  /** The co-purchase strength table: supplier pairs weighted by how
    * many distinct customers bought from both.
    */
  private def coPurchaseEdges(t: Tables): DataFrame = {
    val cs = t.orders
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
      // pin the pair-expansion width — same rationale (and measured
      // shape) as jaccardPairsQuery: C(basket,2) fanout per customer
      // makes row cost ≫ byte size, which AQE's coalescing can't see
      .repartition(t.spark.sparkContext.defaultParallelism, col("c"))
    cs.as("a").join(cs.as("b"),
        col("a.c") === col("b.c") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(count(lit(1)).as("n_common"))
  }

  def trianglesQuery(t: Tables, maxEdges: Int = 600): DataFrame =
    trianglesOf(coPurchaseEdges(t), maxEdges)

  def trianglesSql(maxEdges: Int = 600): String =
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), pairs AS (
       |  SELECT a.s AS s1, b.s AS s2, count(*) AS n_common
       |  FROM cs a JOIN cs b ON b.c = a.c AND a.s < b.s
       |  GROUP BY 1, 2
       |), e AS (
       |  SELECT s1, s2 FROM pairs
       |  ORDER BY n_common DESC, s1, s2 LIMIT $maxEdges
       |), tri AS (
       |  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
       |  FROM e e1 JOIN e e2 ON e2.s1 = e1.s2
       |    JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
       |), per_node AS (
       |  SELECT suppkey, count(*) AS n_triangles FROM (
       |    SELECT a AS suppkey FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY 1
       |), deg AS (
       |  SELECT suppkey, count(*) AS degree FROM (
       |    SELECT s1 AS suppkey FROM e UNION ALL SELECT s2 FROM e)
       |  GROUP BY 1
       |)
       |SELECT d.suppkey, d.degree,
       |  coalesce(p.n_triangles, 0) AS n_triangles
       |FROM deg d LEFT JOIN per_node p ON p.suppkey = d.suppkey
       |ORDER BY d.suppkey""".stripMargin

  // --------------------------------------------- Jaccard link scores

  /** Most-similar customer pairs by Jaccard over their distinct PART
    * sets — the set-overlap link-prediction / audience-lookalike
    * score. Intersections come from one equi self-join on partkey
    * (fanout per part is C(buyers,2) — parts are the fine-grained
    * side, so buyer lists stay short where a supplier-keyed join
    * would square hub fanout), degrees from one map-side-combined
    * distinct count, and Jaccard = inter/(d1+d2−inter) divides exact
    * LONGs, rounded to 6dp BEFORE the top-k rank so the
    * (score, c1, c2) order is engine-stable. `minInter` prunes the
    * singleton-overlap noise pairs before they reach the rank.
    */
  def jaccardPairsOf(pairs: DataFrame, degrees: DataFrame,
      minInter: Long, topK: Int): DataFrame = {
    val d1 = degrees.select(col("cust").as("c1"), col("deg").as("d1"))
    val d2 = degrees.select(col("cust").as("c2"), col("deg").as("d2"))
    pairs.filter(col("inter") >= minInter)
      .join(d1, "c1").join(d2, "c2")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("d1") + col("d2") - col("inter")), 6))
      .select("c1", "c2", "inter", "d1", "d2", "jaccard")
      .orderBy(col("jaccard").desc, col("c1"), col("c2"))
      .limit(topK)
  }

  def jaccardPairsQuery(t: Tables, minInter: Long = 3, topK: Int = 100): DataFrame = {
    val cp = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("p"))
      .distinct()
    // pin the pair-expansion side's partition count: the C(buyers,2)
    // fanout makes this stage's ROW cost ~15× its input BYTES, so
    // AQE's bytes-based coalescing under-parallelizes it (measured 5
    // map tasks carrying a 9M-row pair aggregate at sf0.1); an
    // explicit hash repartition by the join key keeps the expansion
    // and the partial aggregate at full width (guide §2.5)
    val dp = t.spark.sparkContext.defaultParallelism
    val cpSpread = cp.repartition(dp, col("p"))
    val pairs = cpSpread.as("a").join(cpSpread.as("b"),
        col("a.p") === col("b.p") && col("a.cust") < col("b.cust"))
      .groupBy(col("a.cust").as("c1"), col("b.cust").as("c2"))
      .agg(count(lit(1)).as("inter"))
    // r15 round 2 (guide §2.4): degrees from cpSpread, NOT cp — the
    // bare-cp subtree re-executed the whole lineitem⋈orders+distinct
    // pass just for this rollup (OptLab: two near-identical ~2.3 s
    // post-distinct stages), while the two join sides already share
    // the repartition exchange. Reading the same exchange here makes
    // the distinct pass run ONCE; the extra (cust) re-exchange is
    // key+count-sized. Same rows, so deg values are identical.
    val degrees = cpSpread.groupBy("cust").agg(count(lit(1)).as("deg"))
    jaccardPairsOf(pairs, degrees, minInter, topK)
  }

  def jaccardPairsSql(minInter: Long = 3, topK: Int = 100): String =
    s"""WITH cp AS (
       |  SELECT DISTINCT o_custkey AS cust, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), pairs AS (
       |  SELECT a.cust AS c1, b.cust AS c2, count(*) AS inter
       |  FROM cp a JOIN cp b ON b.p = a.p AND a.cust < b.cust
       |  GROUP BY 1, 2 HAVING count(*) >= $minInter
       |), deg AS (
       |  SELECT cust, count(*) AS deg FROM cp GROUP BY 1
       |)
       |SELECT p.c1, p.c2, p.inter, da.deg AS d1, db.deg AS d2,
       |  round(CAST(p.inter AS DOUBLE) / (da.deg + db.deg - p.inter), 6) AS jaccard
       |FROM pairs p JOIN deg da ON da.cust = p.c1 JOIN deg db ON db.cust = p.c2
       |ORDER BY jaccard DESC, p.c1, p.c2 LIMIT $topK""".stripMargin
}
