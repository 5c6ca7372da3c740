package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark JVM. One process per run, one client in a closed loop.
  *
  * {{{
  * BenchMain <mode> <workload> <inputDir> <workDir> <seconds> <cpus> <expected.tsv|->
  * }}}
  *
  *  - `setup`: start the session, say READY, dump the oracle SQL, stop.
  *  - `run`:   warm up, then time passes for `seconds`; write result.json.
  *  - `trace`: warm up, time untraced and traced passes, then materialize
  *             each layer's pipeline prefix; write result.json and spans.jsonl.
  *
  * Every pass runs its cheap row-count checks against `expected.tsv`;
  * the full output check runs outside this process.
  */
object BenchMain {
  private val WarmupPasses = 3
  private val MinTimedPasses = 3
  private val TracedPasses = 2   // each traced and untraced, in ABBA order
  private val PrefixReps = 3

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, input, work, seconds, cpus, expectedPath) = args
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(master = s"local[$cpus]", appName = s"graftbench-$workload")
      .getOrCreate()
    val sessionStart = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    println("GRAFTBENCH READY")
    System.out.flush()
    try {
      if (mode == "setup") writeOracleSql(s"$work/oracle_sql.json")
      else {
        val expected = if (expectedPath == "-") Map.empty[String, Long] else readExpected(expectedPath)
        val w = Workload(workload, spark, input, s"$work/out", expected)
        val res = new Json
        res.num("session_start_s", sessionStart)
        if (mode == "run") timedRun(spark, w, seconds.toDouble, res)
        else tracedRun(spark, w, work, res)
        res.num("peak_rss_mb", vmHwmMb())
        Files.writeString(Paths.get(s"$work/result.json"), res.render)
      }
    } finally spark.stop()
  }

  private def runPass(spark: SparkSession, w: Workload, tr: Tracer, id: Int): (Double, Seq[Op]) = {
    val t0 = System.nanoTime()
    val ops = w.pass(tr, id)
    val secs = (System.nanoTime() - t0) / 1e9
    // each pass is a fresh job: nothing it cached may serve the next one
    spark.catalog.clearCache()
    (secs, ops)
  }

  private def warmup(spark: SparkSession, w: Workload, res: Json): Seq[Op] = {
    val passes = (0 until WarmupPasses).map(i => runPass(spark, w, Tracer.Off, i))
    res.num("first_pass_s", passes.head._1)
    res.nums("warmup_pass_s", passes.map(_._1))
    passes.flatMap(_._2)
  }

  private def timedRun(spark: SparkSession, w: Workload, seconds: Double, res: Json): Unit = {
    val ops = ArrayBuffer.empty[Op]
    ops ++= warmup(spark, w, res)
    val passes = ArrayBuffer.empty[(Double, Seq[Op])]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.size < MinTimedPasses || System.nanoTime() < deadline)
      passes += runPass(spark, w, Tracer.Off, WarmupPasses + passes.size)
    ops ++= passes.flatMap(_._2)
    writeCheckOutputs(w)
    res.nums("pass_s", passes.map(_._1).toSeq)
    res.nums("op_s", passes.flatMap(_._2.map(_.seconds)).toSeq)
    res.num("ops_per_pass", passes.head._2.size)
    opSummary(ops.toSeq, res)
  }

  private def tracedRun(spark: SparkSession, w: Workload, work: String, res: Json): Unit = {
    val ops = ArrayBuffer.empty[Op]
    ops ++= warmup(spark, w, res)
    ops ++= runPass(spark, w, Tracer.Off, WarmupPasses)._2
    // untraced and traced passes in ABBA order, so a warm-up trend that is
    // still running cancels out of trace.overhead; untraced passes run
    // without the listener too
    val sc = spark.sparkContext
    val (tr, counters) = Tracer.on(sc)
    val untraced, traced = ArrayBuffer.empty[(Double, Seq[Op])]
    (1 to TracedPasses).foreach { i =>
      val order = if (i % 2 == 1) Seq(false, true) else Seq(true, false)
      order.foreach { on =>
        if (on) traced += runPass(spark, w, tr, 200 + i)
        else {
          sc.removeSparkListener(counters)
          try untraced += runPass(spark, w, Tracer.Off, 100 + i)
          finally sc.addSparkListener(counters)
        }
      }
    }
    ops ++= (untraced ++ traced).flatMap(_._2)
    writeCheckOutputs(w)
    res.nums("untraced_pass_s", untraced.map(_._1).toSeq)
    res.nums("traced_pass_s", traced.map(_._1).toSeq)

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
    def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

    res.num("list_s", median((1 to PrefixReps).map(_ => time(w.sources()))))
    val prefix = new Json
    w.prefixes.foreach { case (name, build) =>
      prefix.num(name, median((1 to PrefixReps).map { r =>
        spark.catalog.clearCache()
        // building counts too: a layer call may run eager jobs (curate's checkpoint)
        tr.span(s"prefix.$name", 300 + r)(time(build().foreach(Workload.noop)))
      }))
    }
    spark.catalog.clearCache()
    res.obj("prefix_s", prefix)
    val plan = new Json
    w.planned.foreach { case (name, build) =>
      plan.num(name, median((1 to PrefixReps).map { _ =>
        val df = build()
        time(df.queryExecution.executedPlan)
      }))
    }
    res.obj("plan_s", plan)
    sc.removeSparkListener(counters)
    tr.writeJsonl(s"$work/spans.jsonl")
    opSummary(ops.toSeq, res)
  }

  /** A failed write shows up as a missing output in the full check. */
  private def writeCheckOutputs(w: Workload): Unit =
    try w.writeCheckOutputs()
    catch { case e: Throwable => System.err.println(s"[graftbench] check outputs: $e") }

  private def opSummary(ops: Seq[Op], res: Json): Unit = {
    res.num("attempted", ops.size)
    res.num("failed", ops.count(_.error.isDefined))
    res.strs("errors", ops.flatMap(o => o.error.map(e => s"${o.name}: $e")).distinct.take(20))
  }

  private def writeOracleSql(path: String): Unit = {
    val j = new Json
    (WarehouseQueries.Mix :+ "corpus_curate").foreach(q => j.str(q, SparkEntry.oracleSql(q)))
    Files.writeString(Paths.get(path), j.render)
  }

  /** `key<TAB>rows` lines written by the driver script from the references. */
  private def readExpected(path: String): Map[String, Long] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t")
      k -> v.toLong
    }.toMap

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Just enough JSON for result.json. */
final class Json {
  private val fields = ArrayBuffer.empty[String]

  private def q(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def num(k: String, v: Double): Unit = fields += s"${q(k)}: $v"
  def nums(k: String, vs: Seq[Double]): Unit = fields += s"${q(k)}: ${vs.mkString("[", ", ", "]")}"
  def str(k: String, v: String): Unit = fields += s"${q(k)}: ${q(v)}"
  def strs(k: String, vs: Seq[String]): Unit = fields += s"${q(k)}: ${vs.map(q).mkString("[", ", ", "]")}"
  def obj(k: String, v: Json): Unit = fields += s"${q(k)}: ${v.render}"
  def render: String = fields.mkString("{", ", ", "}")
}
