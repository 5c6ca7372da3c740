package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Counters

/** One recorded span: wall times in ns since the tracer started, the
  * enclosing span (-1 at top level), the pass it belongs to, and the
  * listener-counter deltas its body produced.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, endNs: Long, counts: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. `Tracer.Off` runs bodies untouched, so the
  * untraced passes and the traced ones share one code path.
  */
class Tracer private (sc: SparkContext, counters: Counters) {
  private val origin = System.nanoTime()
  private val recorded = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def enabled: Boolean = counters != null

  def span[T](name: String, pass: Int)(body: => T): T =
    if (!enabled) body
    else {
      Counters.drain(sc)
      val before = counters.snapshot()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        Counters.drain(sc)
        val after = counters.snapshot()
        stack = stack.tail
        recorded += Span(id, name, parent, pass, t0 - origin, t1 - origin,
          after.map { case (k, v) => k -> (v - before(k)) })
      }
    }

  def spans: Seq[Span] = recorded.toSeq.sortBy(_.id)

  def writeJsonl(path: String): Unit = {
    val lines = spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "pass": ${s.pass}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counts": {$counts}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val Off: Tracer = new Tracer(null, null)

  def on(sc: SparkContext): (Tracer, Counters) = {
    val c = new Counters
    sc.addSparkListener(c)
    (new Tracer(sc, c), c)
  }
}
