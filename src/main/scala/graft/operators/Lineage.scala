package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one lineage-cut policy: every checkpoint in graft goes through
  * [[cut]], so which kind of checkpoint a plan gets is decided here.
  *
  * Reliable when a checkpoint dir is configured (`sc.setCheckpointDir`,
  * any production run): the cut is written to that dir, so replay after
  * executor loss is bounded to the work above the cut. Without a dir it
  * is a `localCheckpoint`, whose blocks live on the executor that made
  * them — losing that executor fails the job instead of replaying it, an
  * accepted trade in local/test mode where there is no shared store.
  *
  * Persist first on the reliable path: an eager reliable checkpoint runs
  * TWO jobs (materialize, then write the files), and without a persist
  * the second recomputes the whole plan from lineage.
  *
  * Lifetime: the input's own cache (and the persist above) is released
  * as soon as the cut exists — the result reads only checkpointed data.
  * The result has no explicit release: local checkpoint blocks and the
  * checkpointed RDD are freed by Spark's ContextCleaner once the
  * returned DataFrame is unreachable, so a long session running many
  * queries holds them until the driver's GC collects the plans. Reliable
  * checkpoint FILES outlive that and stay until the application ends
  * unless `spark.cleaner.referenceTracking.cleanCheckpoints=true` — set
  * it in long-running deployments.
  */
object Lineage {

  /** A plan whose analyzed form is one leaf over materialized `df`. */
  def cut(df: DataFrame): DataFrame = {
    val cached = df.storageLevel != StorageLevel.NONE
    val reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    val out =
      if (reliable) {
        if (!cached) df.persist()
        df.checkpoint()
      } else df.localCheckpoint()
    if (cached || reliable) df.unpersist(blocking = false)
    out
  }

  /** The iterative loops' cadence: [[cut]] every 5 rounds, else `df`
    * unchanged. Each round nests the previous round's plan, so plan
    * analysis (and even the explain string) grows with the round count
    * long before the data work does — a 24-merge BPE run once OOMed on
    * the plan text. Skipped at `round == last`: the caller's own action
    * materializes the final round anyway.
    */
  def cutEvery(df: DataFrame, round: Int, last: Int = Int.MaxValue): DataFrame =
    if (round % 5 == 0 && round < last) cut(df) else df
}
