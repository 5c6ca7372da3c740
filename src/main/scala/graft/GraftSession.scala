package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory.
  *
  * The reference engine hand-manages parallelism (CPU affinity, RAM
  * estimates, queue sizes — /root/reference v2/main.py:205-266,
  * v2/core/affinity.py). In Spark all of that collapses into session
  * conf: AQE re-plans at runtime, shuffle partitioning replaces queue
  * fan-out, and the scheduler replaces the hand-rolled process pools.
  */
object GraftSession {

  /** Defaults chosen for local[32] testing but scale-safe: AQE handles
    * partition coalescing and skew at any cluster size; shuffle
    * partitions are overridden per-deployment (32 locally; on a real
    * cluster set ~2-3x total cores or rely on AQE coalescing).
    */
  def builder(master: String = "local[32]", appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      // Pinned, not just inherited (Spark 4 default = true): the
      // integer fast paths (q_spearman's LONG rank products,
      // featureScaleOf's LONG Σx²) are exact-or-LOUD only under ANSI —
      // with ansi off they would silently wrap past their documented
      // scale ceilings (n ≈ 1.5e9 rank rows) instead of erroring.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // dimension/size tables up to 64 MB broadcast instead of SMJ;
      // genuinely big sides (shingle/fact tables at scale) still exceed
      // this and fall back to shuffle joins.
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is INT64 TIMESTAMP(NANOS) which the vectorized
      // reader rejects; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName = appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
