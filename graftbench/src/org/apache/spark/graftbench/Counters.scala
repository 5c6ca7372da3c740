package org.apache.spark.graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-listener counters for the traced run: jobs, stages, tasks and
  * the task metrics that say where a pass spends its time. Lives under
  * `org.apache.spark` only to reach the listener bus's drain, so a span
  * can read counts that include every event its body produced.
  */
final class Counters extends SparkListener {
  private val c = Counters.Keys.map(_ -> new AtomicLong).toMap

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_rows", m.inputMetrics.recordsRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("output_rows", m.outputMetrics.recordsWritten)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

object Counters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns",
    "gc_ms", "input_bytes", "input_rows", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "output_bytes", "output_rows")

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
