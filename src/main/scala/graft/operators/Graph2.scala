package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Traversal and community structure over the purchase graph —
  * completes the graph tranche ([[Graph]]: mass propagation, cores,
  * hubs; [[Dedup.nearDupClusters]]: connected components) with the
  * two remaining canonical iterative patterns: breadth-first DISTANCE
  * (how far is everything from a seed set) and label-propagation
  * COMMUNITIES (who clusters with whom when labels follow the
  * neighborhood majority). Reference has no graph surface; §2.6
  * extension work.
  */
object Graph2 {

  /** Symmetric bipartite purchase edges on the [[Graph.pageRankQuery]]
    * node key space (customer 2k, supplier 2k+1): one distinct
    * (cust, supp) pass, then both directions — BFS and label prop
    * walk edges undirected.
    */
  private def purchaseEdges(t: Tables): DataFrame = {
    // r15: the old two-branch unionAll made each direction a separate
    // subtree, so the orders⋈lineitem join (and its 98 MB lineitem
    // scan stage) executed once PER DIRECTION — only the scan exchange
    // was reused. A per-row explode of both directions keeps ONE join
    // subtree (same rows, order-insensitive consumers). An eager
    // localCheckpoint of the pair table instead was measured WORSE
    // (label_prop 2.88 → 3.20 solo): it serializes a job AQE overlaps.
    val cs = t.orders
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    cs.select(explode(array(
        struct(col("c").as("src"), col("s").as("dst")),
        struct(col("s").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
  }

  private def allNodes(t: Tables): DataFrame =
    t.customer.select((col("c_custkey") * 2).as("node"))
      .unionAll(t.supplier.select((col("s_suppkey") * 2 + 1).as("node")))

  // ----------------------------------------------------------- BFS

  /** Multi-source BFS hop distances from the seed suppliers, reported
    * as the hop HISTOGRAM (hop → node count, unreached as hop = −1).
    * Frontier-based: sweep i joins ONLY the nodes first reached at
    * hop i−1 against the edge table — the classic optimization that
    * keeps per-sweep work proportional to the frontier, not to the
    * accumulated distance table (on this bipartite graph the frontier
    * saturates by hop 3-4, which is exactly when the naive re-join of
    * everything would be most expensive). Each sweep is one shuffle
    * join on src + a min-aggregate; distances never leave the
    * cluster; fixed `hops` so the oracle unrolls the same sweeps as
    * CTEs ([[Graph.pageRankSql]] discipline).
    */
  def bfsHopsOf(edges0: DataFrame, nodes: DataFrame, seeds: DataFrame,
      hops: Int): DataFrame = {
    // every sweep references the edge table — one lineage cut
    // materializes the upstream join/distinct once instead of `hops`
    // times (the hitsOf lesson, same trade)
    val edges = edges0.transform(Lineage.cut)
    var dist = seeds.select(col("node"), lit(0L).as("d"))
    var frontier = dist.select("node")
    for (i <- 1 to hops) {
      // r15 (guide §3.1): broadcast the frontier EXPLICITLY. Each sweep
      // is its own job (the dist checkpoint below is eager), so AQE's
      // runtime SMJ→BHJ rescue never spans sweeps, and the frontier —
      // a filter over a checkpoint leaf — carries no size stats: the
      // planner defaulted to SMJ and re-shuffled the whole edge table
      // by src EVERY sweep (4 × 11 MB exchanges at sf0.1, the dominant
      // stages in the OptLab breakdown). The frontier is bounded by
      // the NODE universe (dimension-sized here), never by edges.
      val candidates = edges
        .join(broadcast(frontier.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), lit(i.toLong).as("d"))
      // dist_i is referenced TWICE downstream (next sweep's union AND
      // its frontier filter) — without a cut each level's subtree
      // evaluates twice per consumer, doubling per sweep; one
      // node-sized lineage cut per sweep keeps the plan flat
      dist = dist.unionAll(candidates)
        .groupBy("node").agg(min(col("d")).as("d"))
        .transform(Lineage.cut)
      frontier = dist.filter(col("d") === i).select("node")
    }
    val reached = dist.groupBy(col("d").as("hop")).agg(count(lit(1)).as("n_nodes"))
    val totals = nodes.agg(count(lit(1)).as("n_all"))
      .crossJoin(dist.agg(count(lit(1)).as("n_reached")))
    val unreached = totals
      .select(lit(-1L).as("hop"), (col("n_all") - col("n_reached")).as("n_nodes"))
      .filter(col("n_nodes") > 0)
    reached.unionAll(unreached).orderBy("hop")
  }

  /** Gated form: seeds = suppliers 1 and 2 (nodes 3 and 5), 4 hops
    * over the full bipartite purchase graph.
    */
  def bfsHopsQuery(t: Tables, maxSeedSupp: Long = 2L, hops: Int = 4): DataFrame =
    bfsHopsOf(purchaseEdges(t), allNodes(t),
      t.supplier.filter(col("s_suppkey") <= maxSeedSupp)
        .select((col("s_suppkey") * 2 + 1).as("node")),
      hops)

  def bfsHopsSql(maxSeedSupp: Long = 2L, hops: Int = 4): String = {
    val sweeps = (1 to hops).map { i =>
      s"""d$i AS (
         |  SELECT node, min(d) AS d FROM (
         |    SELECT node, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, $i AS d
         |    FROM edges e JOIN f${i - 1} f ON e.src = f.node)
         |  GROUP BY node
         |), f$i AS (SELECT node FROM d$i WHERE d = $i)""".stripMargin
    }.mkString(",\n")
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM cs
       |  UNION ALL SELECT s AS src, c AS dst FROM cs
       |), nodes AS (
       |  SELECT c_custkey * 2 AS node FROM customer
       |  UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier
       |), d0 AS (
       |  SELECT s_suppkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS d
       |  FROM supplier WHERE s_suppkey <= $maxSeedSupp
       |), f0 AS (SELECT node FROM d0),
       |$sweeps,
       |reached AS (
       |  SELECT d AS hop, count(*) AS n_nodes FROM d$hops GROUP BY d
       |), un AS (
       |  SELECT CAST(-1 AS BIGINT) AS hop,
       |    (SELECT count(*) FROM nodes) - (SELECT count(*) FROM d$hops) AS n_nodes
       |)
       |SELECT hop, CAST(n_nodes AS BIGINT) AS n_nodes FROM reached
       |UNION ALL SELECT hop, CAST(n_nodes AS BIGINT) FROM un WHERE n_nodes > 0
       |ORDER BY hop""".stripMargin
  }

  // --------------------------------------------- label propagation

  /** Synchronous label propagation communities: every node starts as
    * its own label; each sweep reassigns every node the MODE over its
    * own + its neighbors' labels (ties → smallest label — a total,
    * deterministic rule, so fixed sweeps unroll in the oracle exactly
    * like [[Graph.pageRankSql]]). Differs from
    * [[Dedup.nearDupClusters]]' min-label rule in kind, not degree:
    * min-label floods every connected component to ONE cluster;
    * majority-label lets dense neighborhoods hold their own label
    * against a well-connected minority, which is what makes it a
    * COMMUNITY detector rather than a component finder. Per sweep:
    * one shuffle join labels⋈edges on src, one (node, label) count —
    * map-side combinable — and one max_by argmax per node; label
    * state is node-sized, never on the driver. Output: the top
    * communities by size.
    */
  def labelPropOf(edges0: DataFrame, nodes: DataFrame, sweeps: Int,
      topK: Int): DataFrame =
    labelPropLabelsOf(edges0, nodes, sweeps)
      .groupBy("label").agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("label"))
      .limit(topK)
      .select(col("label").as("community"), col("size"))

  /** The converged (node, label) assignment behind [[labelPropOf]]'s
    * size rollup — exposed so community-QUALITY metrics
    * ([[modularityOf]]) evaluate the same assignment they gate.
    */
  def labelPropLabelsOf(edges0: DataFrame, nodes: DataFrame,
      sweeps: Int): DataFrame =
    labelPropLabelsOfCp(edges0.transform(Lineage.cut), nodes, sweeps)

  /** [[labelPropLabelsOf]] over an ALREADY-materialized edge table —
    * so a composer that also consumes the edges ([[modularityOf]]'s
    * degree/intra passes) shares one checkpoint instead of paying two.
    */
  private def labelPropLabelsOfCp(edges: DataFrame, nodes: DataFrame,
      sweeps: Int): DataFrame = {
    // NOTE (r14 optimization round, negative result kept): replacing
    // the edge checkpoint with a pinned src-hash repartition shared
    // across sweeps (ReusedExchange) + SHUFFLE_HASH on the labels side
    // read slightly WORSE in the driver-shaped bench (q_label_prop
    // 3.05 → 3.33, q_modularity 4.76 → 5.13 at sf0.1): AQE already
    // converts the per-sweep join's label side to a runtime broadcast,
    // and the explicit exchange only added a stage.
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to sweeps) {
      // the node's OWN label is one of the votes: pure neighbor-mode
      // staggers on synchronous sweeps (a triangle's labels rotate
      // instead of settling — the planted two-triangle spec caught
      // exactly that) and oscillates on bipartite structure; the
      // self-vote is the standard damping, and it makes isolated
      // nodes keep their label with no special case
      val votes = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"))
        .unionAll(labels)
      // r15 (guide §2.4): one exchange per sweep instead of two. The
      // vote rows are near-distinct per (node, label) — the (node,
      // label) exchange's partial pass combined almost nothing — so
      // hash-clustering the raw votes by node once satisfies BOTH
      // aggregates' distributions (node ⊆ {node, label}): the count
      // and the per-node argmax then run exchange-free back-to-back.
      labels = votes
        .repartition(col("node"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max_by(col("label"), struct(col("cnt"), (-col("label")).as("nl")))
          .as("label"))
    }
    labels
  }

  def labelPropQuery(t: Tables, sweeps: Int = 2, topK: Int = 20): DataFrame =
    labelPropOf(purchaseEdges(t), allNodes(t), sweeps, topK)

  def labelPropSql(sweeps: Int = 2, topK: Int = 20): String = {
    val rounds = (1 to sweeps).map { i =>
      s"""v$i AS (
         |  SELECT node, label, count(*) AS cnt FROM (
         |    SELECT e.dst AS node, l.label
         |    FROM edges e JOIN l${i - 1} l ON l.node = e.src
         |    UNION ALL SELECT node, label FROM l${i - 1})
         |  GROUP BY node, label
         |), w$i AS (
         |  SELECT node, label,
         |    row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
         |  FROM v$i
         |), l$i AS (
         |  SELECT node, label FROM w$i WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM cs
       |  UNION ALL SELECT s AS src, c AS dst FROM cs
       |), l0 AS (
       |  SELECT node, node AS label FROM (
       |    SELECT c_custkey * 2 AS node FROM customer
       |    UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier)
       |),
       |$rounds
       |SELECT label AS community, count(*) AS size
       |FROM l$sweeps
       |GROUP BY label
       |ORDER BY size DESC, label
       |LIMIT $topK""".stripMargin
  }

  // ------------------------------------------------- assortativity

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetric directed edge list — do
    * hubs attach to hubs (r > 0, social networks) or to leaves
    * (r < 0, bipartite/hub-and-spoke topologies like this purchase
    * graph)? Both directions of every undirected edge are summed, so
    * the symmetric Newman form collapses to plain Pearson and ALL
    * five moments (Σx, Σy, Σxy, Σx², Σy²) are exact
    * DECIMAL(38)/HUGEINT integers of integer degrees — ONE map-side
    * aggregate over the degree-joined edge list, r the only double,
    * shipped UNROUNDED (identical integers divide identically).
    * Degree-regular graphs (zero variance) read NULL, not 0/0.
    */
  def assortativityOf(edges: DataFrame): DataFrame = {
    // r15 (guide §2.3/§2.4): on the SYMMETRIC edge list every edge-sum
    // moment collapses to a per-node degree moment — m2 = Σd, sx = sy =
    // Σd², sxx = syy = Σd³ — so one of the two edge-sized edges⋈deg
    // joins (and the old 5-moment edge-sized aggregate) disappears;
    // only Σxy genuinely needs neighbor structure, via ONE edges⋈deg
    // join rolled up to a per-node neighbor-degree sum. All moments
    // stay exact integers (the same values the old form summed
    // edge-wise, re-associated — integer addition is order-free), so
    // the final doubles and the unchanged independent DuckDB twin
    // agree bit-for-bit. A/B solo at sf0.1: 2.33 → 2.18 s (modest —
    // the shared purchase-edge derivation and the ~10-stage serial
    // chain dominate this query, not the removed join), but the
    // edge-sized join and 5-moment edge aggregate it removes are the
    // scale-relevant cost at 100 TB.
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val d = (c: Column) => c.cast("decimal(18,0)")
    val nbr = edges
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      .groupBy(col("src").as("node"))
      .agg(sum(d(col("dy"))).as("nbr_sum"))
    val m = deg.join(nbr, "node").agg(
      // coalesce: the old count(*) read 0 on an empty graph where a
      // SUM reads NULL — n_edges must stay 0, not NULL (EdgeCase5Spec)
      coalesce(sum(col("deg")), lit(0L)).as("m2"),
      sum(d(col("deg")) * d(col("deg"))).as("sx"),
      sum(d(col("deg")) * d(col("deg")) * d(col("deg"))).as("sxx"),
      sum(d(col("deg")) * col("nbr_sum")).as("sxy"))
    val mD = col("m2").cast("decimal(20,0)")
    val num = (mD * col("sxy") - col("sx") * col("sx")).cast("double")
    val den = (mD * col("sxx") - col("sx") * col("sx"))
    m.select(
      (col("m2") / 2).cast("long").as("n_edges"),
      when(den > 0,
        num / (sqrt(den.cast("double")) * sqrt(den.cast("double"))))
        .as("assortativity"))
  }

  /** Gated form: the undirected purchase graph (customer 2k,
    * supplier 2k+1), both edge directions in the list.
    */
  def assortativityQuery(t: Tables): DataFrame =
    assortativityOf(purchaseEdges(t))

  val assortativitySql: String =
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |), edges AS (
      |  SELECT c AS src, s AS dst FROM cs
      |  UNION ALL SELECT s AS src, c AS dst FROM cs
      |), deg AS (
      |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
      |), paired AS (
      |  SELECT dx.deg AS dx, dy.deg AS dy
      |  FROM edges e
      |  JOIN deg dx ON dx.node = e.src
      |  JOIN deg dy ON dy.node = e.dst
      |), m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS m2,
      |    sum(CAST(dx AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
      |    sum(CAST(dx AS HUGEINT) * dy) AS sxy,
      |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
      |    sum(CAST(dy AS HUGEINT) * dy) AS syy
      |  FROM paired
      |)
      |SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
      |  CASE WHEN m2 * sxx - sx * sx > 0 AND m2 * syy - sy * sy > 0 THEN
      |    CAST(m2 * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(m2 * syy - sy * sy AS DOUBLE)))
      |  END AS assortativity
      |FROM m""".stripMargin

  // --------------------------------------------------- modularity

  /** Newman modularity of the label-propagation communities — the
    * quality number behind the `q_label_prop` size rollup ("are these
    * communities denser inside than a random graph with the same
    * degrees?"). Over the symmetric directed edge list of D rows
    * (D = 2m): Q = Σ_c (intra_c·D − d_c²) / D², where intra_c counts
    * DIRECTED intra-community edges (one labels join per endpoint)
    * and d_c sums member degrees — so every per-community numerator
    * (intra_c·D − d_c²) is an EXACT DECIMAL integer and both the
    * per-community contributions and total Q are single divisions of
    * exact integers (bit-identical doubles, shipped unrounded). One
    * edge-table pass for intra counts, one degree agg, a
    * communities-sized rollup; the summary row (community = −1)
    * carries total Q.
    */
  def modularityOf(edges0: DataFrame, nodes: DataFrame, sweeps: Int = 2,
      topK: Int = 20): DataFrame = {
    // r15: ONE edge checkpoint shared by the label-prop sweeps AND this
    // method's own dTot/deg/intra passes — previously the latter three
    // re-derived the orders⋈lineitem distinct union from scratch while
    // the sweeps used their own checkpointed copy.
    val edges = edges0.transform(Lineage.cut)
    // labels feed THREE consumers (both intra-join sides + the degree
    // rollup) — but unlike hitsOf/bfsHops, a localCheckpoint of LABELS
    // is a measured LOSS (A/B at sf0.1: 5.0 s plain vs 7.0 s
    // checkpointed): the sweep loop's own per-iteration aggregates
    // leave exchanges AQE already reuses across the consumers, so the
    // cut only adds a serialization pass. Negative result kept.
    val labels = labelPropLabelsOfCp(edges, nodes, sweeps)
    val dTot = edges.agg(count(lit(1)).as("dd"))
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val intra = edges
      .join(labels.select(col("node").as("src"), col("label").as("l1")), "src")
      .join(labels.select(col("node").as("dst"), col("label").as("l2")), "dst")
      .filter(col("l1") === col("l2"))
      .groupBy(col("l1").as("label")).agg(count(lit(1)).as("intra_dir"))
    val dc = labels.join(deg, "node")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("size"), sum(col("deg")).as("d_c"))
    val d = (c: Column) => c.cast("decimal(20,0)")
    // per-community numerator intra·D − d_c² is an EXACT integer;
    // total Q sums the NUMERATORS (still exact) and divides ONCE —
    // summing per-community contribution doubles would have
    // engine/partition-dependent fold order
    val per = dc.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(dTot))
      .select(col("label").as("community"), col("size"),
        (coalesce(col("intra_dir"), lit(0L)) / 2).cast("long").as("intra_edges"),
        col("d_c"),
        (d(coalesce(col("intra_dir"), lit(0L))) * d(col("dd"))
          - d(col("d_c")) * d(col("d_c"))).as("num"),
        (d(col("dd")) * d(col("dd"))).as("dd2"))
    val total = per.agg(
        sum(col("size")).as("size"),
        sum(col("intra_edges")).as("intra_edges"),
        sum(col("d_c")).as("d_c"),
        sum(col("num")).as("num"),
        max(col("dd2")).as("dd2"))
      .select(lit(-1L).as("community"), col("size"), col("intra_edges"),
        col("d_c").cast("long").as("d_c"),
        (col("num").cast("double") / col("dd2").cast("double")).as("contribution"))
    per
      .select(col("community"), col("size"), col("intra_edges"), col("d_c"),
        (col("num").cast("double") / col("dd2").cast("double")).as("contribution"))
      .orderBy(col("size").desc, col("community")).limit(topK)
      .unionAll(total)
      .orderBy(col("community"))
  }

  def modularityQuery(t: Tables, sweeps: Int = 2, topK: Int = 20): DataFrame =
    modularityOf(purchaseEdges(t), allNodes(t), sweeps, topK)

  def modularitySql(sweeps: Int = 2, topK: Int = 20): String = {
    val rounds = (1 to sweeps).map { i =>
      s"""v$i AS (
         |  SELECT node, label, count(*) AS cnt FROM (
         |    SELECT e.dst AS node, l.label
         |    FROM edges e JOIN l${i - 1} l ON l.node = e.src
         |    UNION ALL SELECT node, label FROM l${i - 1})
         |  GROUP BY node, label
         |), w$i AS (
         |  SELECT node, label,
         |    row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
         |  FROM v$i
         |), l$i AS (
         |  SELECT node, label FROM w$i WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM cs
       |  UNION ALL SELECT s AS src, c AS dst FROM cs
       |), l0 AS (
       |  SELECT node, node AS label FROM (
       |    SELECT c_custkey * 2 AS node FROM customer
       |    UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier)
       |),
       |$rounds,
       |dtot AS (SELECT CAST(count(*) AS HUGEINT) AS dd FROM edges),
       |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
       |intra AS (
       |  SELECT l1.label, count(*) AS intra_dir
       |  FROM edges e
       |  JOIN l$sweeps l1 ON l1.node = e.src
       |  JOIN l$sweeps l2 ON l2.node = e.dst
       |  WHERE l1.label = l2.label
       |  GROUP BY l1.label
       |), dc AS (
       |  SELECT l.label, count(*) AS size, CAST(sum(d.deg) AS HUGEINT) AS d_c
       |  FROM l$sweeps l JOIN deg d ON d.node = l.node
       |  GROUP BY l.label
       |), per AS (
       |  SELECT dc.label AS community, dc.size,
       |    CAST(coalesce(intra.intra_dir, 0) / 2 AS BIGINT) AS intra_edges,
       |    CAST(dc.d_c AS BIGINT) AS d_c,
       |    CAST(coalesce(intra.intra_dir, 0) AS HUGEINT) * dd
       |      - dc.d_c * dc.d_c AS num,
       |    dd * dd AS dd2
       |  FROM dc LEFT JOIN intra ON intra.label = dc.label
       |  CROSS JOIN dtot
       |), top AS (
       |  SELECT * FROM per ORDER BY size DESC, community LIMIT $topK
       |)
       |SELECT community, CAST(size AS BIGINT) AS size, intra_edges, d_c,
       |  CAST(num AS DOUBLE) / CAST(dd2 AS DOUBLE) AS contribution
       |FROM top
       |UNION ALL
       |SELECT -1 AS community, CAST(sum(size) AS BIGINT) AS size,
       |  CAST(sum(intra_edges) AS BIGINT) AS intra_edges,
       |  CAST(sum(d_c) AS BIGINT) AS d_c,
       |  CAST(sum(num) AS DOUBLE) / CAST(max(dd2) AS DOUBLE) AS contribution
       |FROM per
       |ORDER BY community""".stripMargin
  }
}
