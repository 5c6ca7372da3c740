package graft.operators

import org.apache.spark.sql.DataFrame

/** Scan-parallelism guard for per-row-HEAVY operators (tokenize + hash
  * chains), per optimization-guide §2.5: "input skew: one huge
  * unsplittable file … repartition immediately after the read."
  *
  * The driver's testdata ships each table as a single-row-group
  * parquet file, so a scan executes as ONE task and everything fused
  * into the scan stage (per-window md5, shingling, tokenization)
  * serializes on one core of local[32]. `spread` hash-repartitions by
  * a stable key ONLY when the input cannot already feed the session's
  * default parallelism — at production scale a corpus spans thousands
  * of row-group splits, the condition is false, and no exchange (and
  * no text shuffle) is added. Hash-by-key placement is content-derived
  * and deterministic under task retry (no round-robin, no
  * sort-before-repartition pass).
  *
  * Deliberately NOT applied at the shared source layer: measured as a
  * blanket `Tables` rewrite it regressed the suite (every cheap scan
  * paid an AQE stage + broke build-side size estimates); only
  * operators whose scan-stage CPU dominates their runtime opt in.
  */
object Par {
  def spread(df: DataFrame, key: String): DataFrame = spread(df, Seq(key))

  /** Multi-column key variant — use when no single column spreads well
    * (guide §2.5: a key with few distinct values leaves partitions
    * empty or doubled under hash collisions).
    */
  def spread(df: DataFrame, keys: Seq[String]): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    narrowPartitions(df) match {
      case Some(p) if p < parallelism => df.repartition(parallelism, keys.map(df(_)): _*)
      case _                          => df
    }
  }

  /** The partition count of `df` when its plan has no exchange, else
    * None. Guard (r14 ADVICE): `.rdd` under AQE triggers
    * getFinalPhysicalPlan, which eagerly RUNS upstream shuffle stages
    * at plan-build time if the plan contains exchanges; an exchange-free
    * plan only lists its splits. Callers treat None as "already
    * shuffled": AQE sizes post-shuffle parallelism there anyway.
    */
  def narrowPartitions(df: DataFrame): Option[Int] = {
    val hasExchange = df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    if (hasExchange) None else Some(df.rdd.getNumPartitions)
  }
}
