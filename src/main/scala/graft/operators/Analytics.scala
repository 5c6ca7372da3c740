package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Product/behavioral analytics shapes a warehouse team runs daily —
  * each one written in the form that survives a 100 TB fact table:
  * cuts and calendars broadcast as 1-row/tiny aggregates, prefix
  * scans as the bucketed two-phase pattern ([[Layout.packShardsOf]]),
  * never an unpartitioned window or a corpus-sized driver collect.
  */
object Analytics {

  // ---------------------------------------------------------------- RFM

  /** Quintile bucket of `v` against 4 broadcast cut points (strictly
    * greater ⇒ next bucket; cuts rounded 6dp on both engines so the
    * comparison is against the identical double).
    */
  private def bucketOf(v: Column, cuts: Column): Column =
    (1 to 4).map(i => when(v > round(element_at(cuts, i), 6), 1).otherwise(0))
      .reduce(_ + _) + lit(1)

  /** RFM segmentation (recency / frequency / monetary quintiles) —
    * the classic CRM cut of a customer base. One customer-key
    * aggregate builds the (r,f,m) triple; the quintile cut points are
    * ONE 1-row exact-percentile aggregate broadcast back (the
    * `ntile(5)` textbook form is a global sort — the single-task shape
    * this repo bans); bucket assignment is a map-side comparison.
    * Output: the segment grid with population and value.
    */
  def rfmOf(orders: DataFrame): DataFrame = {
    val maxDay = orders.agg(max(to_date(col("o_orderdate"))).as("max_day"))
    // integer-cent sums (the q7/q15 convention): float accumulation
    // order must never decide a quintile or a 2dp average
    val rfm = orders
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("m_cents"))
      .crossJoin(broadcast(maxDay))
      .select(col("o_custkey"),
        datediff(col("max_day"), col("last_day")).cast("long").as("recency"),
        col("frequency"), col("m_cents"),
        (col("m_cents").cast("double") / 100).as("monetary"))
    val cuts = rfm.agg(
      expr("percentile(recency, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
      expr("percentile(frequency, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
      expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
    rfm.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("m_cents"),
        // recency: smaller = better = higher score (classic RFM), so invert
        (lit(6) - bucketOf(col("recency"), col("rc"))).as("r_score"),
        bucketOf(col("frequency"), col("fc")).as("f_score"),
        bucketOf(col("monetary"), col("mc")).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        // round in CENTS, then divide: round(v/100, 2) re-rounds an
        // already-inexact double and can flip a half-cent cross-engine
        (round(sum(col("m_cents")).cast("double") / count(lit(1)), 0) / 100).as("avg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  def rfm(t: Tables): DataFrame = rfmOf(t.orders)

  val rfmSql: String =
    """WITH rfm AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
      |      (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) AS BIGINT) AS recency,
      |    count(*) AS frequency,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS monetary
      |  FROM orders GROUP BY o_custkey
      |), cuts AS (
      |  SELECT
      |    [round(quantile_cont(recency, 0.2), 6), round(quantile_cont(recency, 0.4), 6),
      |     round(quantile_cont(recency, 0.6), 6), round(quantile_cont(recency, 0.8), 6)] AS rc,
      |    [round(quantile_cont(frequency, 0.2), 6), round(quantile_cont(frequency, 0.4), 6),
      |     round(quantile_cont(frequency, 0.6), 6), round(quantile_cont(frequency, 0.8), 6)] AS fc,
      |    [round(quantile_cont(monetary, 0.2), 6), round(quantile_cont(monetary, 0.4), 6),
      |     round(quantile_cont(monetary, 0.6), 6), round(quantile_cont(monetary, 0.8), 6)] AS mc
      |  FROM rfm
      |), scored AS (
      |  SELECT m_cents,
      |    6 - (1 + CASE WHEN recency > rc[1] THEN 1 ELSE 0 END + CASE WHEN recency > rc[2] THEN 1 ELSE 0 END
      |           + CASE WHEN recency > rc[3] THEN 1 ELSE 0 END + CASE WHEN recency > rc[4] THEN 1 ELSE 0 END) AS r_score,
      |    1 + CASE WHEN frequency > fc[1] THEN 1 ELSE 0 END + CASE WHEN frequency > fc[2] THEN 1 ELSE 0 END
      |      + CASE WHEN frequency > fc[3] THEN 1 ELSE 0 END + CASE WHEN frequency > fc[4] THEN 1 ELSE 0 END AS f_score,
      |    1 + CASE WHEN monetary > mc[1] THEN 1 ELSE 0 END + CASE WHEN monetary > mc[2] THEN 1 ELSE 0 END
      |      + CASE WHEN monetary > mc[3] THEN 1 ELSE 0 END + CASE WHEN monetary > mc[4] THEN 1 ELSE 0 END AS m_score
      |  FROM rfm CROSS JOIN cuts
      |)
      |SELECT r_score, f_score, m_score, count(*) AS n_customers,
      |  round(CAST(sum(m_cents) AS DOUBLE) / count(*)) / 100 AS avg_monetary
      |FROM scored GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin

  // ------------------------------------------- cumulative distinct users

  /** Cumulative distinct users by day — the "total accounts ever" /
    * adoption curve. Streaming DISTINCT over an expanding frame is
    * quadratic and a global window besides; the identity
    * `|∪ users(≤d)| = Σ_{d'≤d} |{u : first_day(u) = d'}|` turns it
    * into one user-keyed min + a prefix sum over the per-DAY table,
    * which is calendar-sized (≤ days), never corpus-sized; the prefix
    * is a triangular self-join on that tiny table — no window at all.
    */
  def runningDistinctOf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    daily
      .join(daily.select(col("day").as("d2"), col("new_users").as("n2")),
        col("d2") <= col("day"))
      .groupBy(col("day"), col("new_users"))
      .agg(sum(col("n2")).as("cum_users"))
      .orderBy(col("day"))
  }

  def runningDistinct(t: Tables): DataFrame = runningDistinctOf(t.events)

  val runningDistinctSql: String =
    """WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
      |daily AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1)
      |SELECT day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM daily ORDER BY day""".stripMargin

  // ------------------------------------------------- time to convert

  /** Signup→first-purchase latency distribution by signup day-of-week
    * — the activation query behind every onboarding dashboard. One
    * user_id-keyed join/aggregate builds each user's (signup, first
    * purchase ≥ signup) pair; delays then collapse to a ≤7-group
    * aggregate with exact interpolated percentiles (bounded groups, so
    * exact is safe; the unbounded-group path is `percentile_approx`,
    * gated at [[Relational2.qApproxPercentiles]]).
    */
  def timeToConvertOf(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val firstPurchase = signups
      .join(events.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts")),
        Seq("user_id"))
      .filter(col("ts") >= col("signup_ts"))
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(col("ts")).as("purchase_ts"))
    firstPurchase
      .select(dayofweek(col("signup_ts")).cast("long").as("signup_dow"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("signup_ts")))
          .as("delay_s"))
      .groupBy("signup_dow")
      .agg(count(lit(1)).as("n_converted"),
        round(avg(col("delay_s")) / 3600d, 4).as("avg_delay_h"),
        round(expr("percentile(delay_s, 0.5)") / 3600d, 4).as("p50_delay_h"),
        round(expr("percentile(delay_s, 0.9)") / 3600d, 4).as("p90_delay_h"))
      .orderBy("signup_dow")
  }

  def timeToConvert(t: Tables): DataFrame = timeToConvertOf(t.events)

  val timeToConvertSql: String =
    """WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |fp AS (
      |  SELECT s.user_id, s.signup_ts, min(e.ts) AS purchase_ts
      |  FROM s JOIN events e ON e.user_id = s.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      |  GROUP BY 1, 2
      |), d AS (
      |  SELECT CAST(dayofweek(signup_ts) + 1 AS BIGINT) AS signup_dow,
      |    date_diff('second', signup_ts, purchase_ts) AS delay_s
      |  FROM fp
      |)
      |SELECT signup_dow, count(*) AS n_converted,
      |  round(avg(delay_s) / 3600, 4) AS avg_delay_h,
      |  round(quantile_cont(delay_s, 0.5) / 3600, 4) AS p50_delay_h,
      |  round(quantile_cont(delay_s, 0.9) / 3600, 4) AS p90_delay_h
      |FROM d GROUP BY 1 ORDER BY signup_dow""".stripMargin

  // ------------------------------------------------------ YoY growth

  /** Year-over-year revenue growth per order priority — the trend
    * report shape: the fact table collapses to a (priority × year)
    * aggregate first (map-side combined), and the lag window runs over
    * that tiny grid, partitioned by priority.
    */
  def yoyGrowthOf(orders: DataFrame): DataFrame = {
    val yearly = orders
      .groupBy(col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
    val w = Window.partitionBy(col("priority")).orderBy(col("yr"))
    yearly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("yoy_pct",
        round((col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100, 4))
      .orderBy("priority", "yr")
  }

  def yoyGrowth(t: Tables): DataFrame = yoyGrowthOf(t.orders)

  val yoyGrowthSql: String =
    """WITH yearly AS (
      |  SELECT o_orderpriority AS priority, CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    round(sum(o_totalprice), 2) AS revenue
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT priority, yr, revenue,
      |  lag(revenue, 1) OVER (PARTITION BY priority ORDER BY yr) AS prev_revenue,
      |  round((revenue - lag(revenue, 1) OVER (PARTITION BY priority ORDER BY yr))
      |    / lag(revenue, 1) OVER (PARTITION BY priority ORDER BY yr) * 100, 4) AS yoy_pct
      |FROM yearly ORDER BY priority, yr""".stripMargin

  // -------------------------------------------------------- skyline

  /** 2-D skyline (Pareto frontier): parts no other part dominates
    * (price ≤ AND size ≥, one strict). The textbook NOT EXISTS is the
    * O(n²) oracle; the scalable plan is the sort-based sweep — keep a
    * price level iff its max size strictly exceeds the running max
    * over all strictly-cheaper levels — with the running max computed
    * by the bucketed two-phase pattern: contiguous price-range buckets
    * (bounds from a 1-row broadcast), per-bucket maxes, exclusive
    * prefix over the ≤`buckets` totals via triangular self-join,
    * bucket-local windows only. Ties: equal (price, size) points all
    * survive (dominance needs one strict inequality).
    */
  def skylineOf(part: DataFrame, buckets: Int = 32): DataFrame = {
    val pts = part.select(col("p_partkey"), col("p_retailprice").as("price"),
      col("p_size").cast("long").as("size"))
    val perPrice = pts.groupBy(col("price")).agg(max(col("size")).as("max_size"))
    val bounds = perPrice.agg(min(col("price")).as("lo"), max(col("price")).as("hi"))
    // bucket id is plan-internal: float wobble here moves rows between
    // buckets, never changes the prefix-max they observe
    val bucketed = perPrice.crossJoin(broadcast(bounds))
      .withColumn("_b", least(lit(buckets - 1), greatest(lit(0),
        floor((col("price") - col("lo")) / (col("hi") - col("lo") + lit(1e-9)) * buckets)
          .cast("int"))))
      .drop("lo", "hi")
    val totals = bucketed.groupBy(col("_b")).agg(max(col("max_size")).as("_bmax"))
    val prefix = totals
      .join(totals.select(col("_b").as("_b2"), col("_bmax").as("_m2")),
        col("_b2") < col("_b"), "left")
      .groupBy(col("_b"))
      .agg(coalesce(max(col("_m2")), lit(Long.MinValue)).as("_poff"))
    // per-price rows are distinct in price, so ROWS ... -1 = strictly cheaper
    val wLocal = Window.partitionBy(col("_b")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bucketed.join(broadcast(prefix), Seq("_b"))
      .withColumn("_pmax",
        greatest(col("_poff"), coalesce(max(col("max_size")).over(wLocal), lit(Long.MinValue))))
      .filter(col("max_size") > col("_pmax"))
      .select(col("price").as("f_price"), col("max_size"))
    pts.join(frontier,
        pts("price") === col("f_price") && pts("size") === col("max_size"), "left_semi")
      .select(col("p_partkey"), col("price"), col("size"))
      .orderBy("p_partkey")
  }

  def skyline(t: Tables): DataFrame = skylineOf(t.part)

  val skylineSql: String =
    """SELECT p_partkey, p_retailprice AS price, CAST(p_size AS BIGINT) AS size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------ triangles

  /** Triangle participation on the co-purchase graph (parts sharing
    * ≥ `minSupport` orders) — the graph-density / community signal
    * next to [[Graph.pageRankQuery]]'s centrality. The naive 3-way
    * self-join fans out on hot nodes; orienting every edge by the
    * total order (degree, id) caps each node's out-degree at O(√m)
    * (Schank-Wagner), so the wedge join is bounded and both wedge legs
    * AND the closing edge probe are plain equi-joins. Triangle
    * identity is orientation-invariant, so the oracle counts the same
    * triangles from the id-ordered form.
    */
  def trianglesOf(lineitem: DataFrame, minSupport: Int = 2, topK: Int = 20): DataFrame = {
    val op = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val pairs = op.as("a")
      .join(op.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .select(col("u"), col("v"))
    // NOTE (r15 round 2, negative result kept): localCheckpoint'ing
    // this pair table — it is referenced by the degree rollup and
    // (via both deg joins) twice more in the oriented-edge build —
    // measured WORSE in low-steal OptLab A/B (warm 2.44 → 2.73 s,
    // duplicated-stage run 2.6 s → 4.9 s incl. the checkpoint write):
    // the duplicate is only the post-exchange final aggregate (the
    // expansion exchange is already reused), which is cheaper than
    // materializing + re-deserializing the edge list.
    // r15: explode, not a two-branch union — one reference to the
    // expensive pair aggregate instead of two
    val deg = pairs.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient s→t iff (deg(s), s) < (deg(t), t); carry the order key
    val e = pairs
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
      // r15 (guide §5): both wedge legs and the closing-edge probe
      // reference this oriented edge list — materialize it once
      .transform(Lineage.cut)
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.s") === col("e2.s") &&
        struct(col("e1.dt"), col("e1.t")) < struct(col("e2.dt"), col("e2.t")))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
      // closing edge is oriented b→c by construction (π(b) < π(c))
      .join(e.select(col("s").as("b"), col("t").as("c")).as("e3"), Seq("b", "c"), "left_semi")
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("p_partkey"))
      .limit(topK)
  }

  def triangles(t: Tables): DataFrame = trianglesOf(t.lineitem)

  def trianglesSql(minSupport: Int = 2, topK: Int = 20): String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (
       |  SELECT a.pk AS u, b.pk AS v FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |), tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e0 e1
       |  JOIN e0 e2 ON e2.u = e1.u AND e2.v > e1.v
       |  JOIN e0 e3 ON e3.u = e1.v AND e3.v = e2.v
       |), corners AS (
       |  SELECT a AS pk FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
       |)
       |SELECT pk AS p_partkey, count(*) AS n_triangles
       |FROM corners GROUP BY 1
       |ORDER BY n_triangles DESC, p_partkey LIMIT $topK""".stripMargin
}
