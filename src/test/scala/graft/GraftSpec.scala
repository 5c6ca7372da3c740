package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs: local[4] keeps test startup light. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", appName = "graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh temp dir, deleted with everything under it when the JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      scala.util.Try(java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p)))
    }
    dir
  }

  /** Run `body` with the shared session's checkpoint dir set to a fresh
    * [[tempDir]], so lineage cuts take the reliable branch; the dir is
    * unset again afterwards, whatever `body` does.
    */
  def withCheckpointDir[T](prefix: String)(body: java.io.File => T): T = {
    val dir = tempDir(prefix).toFile
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir)
    finally spark.sparkContext.setCheckpointDir(null)
  }

  /** True once anything under `f` is a regular file (Spark creates the
    * checkpoint dir's subdirectories eagerly; files mean a checkpoint).
    */
  def anyFile(f: java.io.File): Boolean =
    f.isFile || Option(f.listFiles).exists(_.exists(anyFile))

  /** Stop a continuously-triggering query OFF the commit path (VERDICT
    * r12 #3): a stop() that lands mid-batch races the state store
    * commit and the killed tasks log CANNOT_WRITE_STATE_STORE.
    * CANNOT_COMMIT aborts — retried and harmless, but ERROR-level
    * noise that eventually reads as a flake. Wait (bounded) for the
    * next batch COMMIT so the stop lands in the inter-trigger gap,
    * and scope the three loggers that narrate a raced shutdown to OFF
    * for the stop call alone — a residual collision stays possible
    * (there is no public quiesce API), and a REAL stop-time failure
    * still surfaces through stop()'s own exception, which is not
    * suppressed. MemoryStream specs don't need this: there
    * processAllAvailable() already returns post-commit.
    */
  def stopAfterBatch(q: org.apache.spark.sql.streaming.StreamingQuery,
      graceMs: Long = 5000): Unit = {
    def batch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val b0 = batch
    val deadline = System.currentTimeMillis() + graceMs
    while (System.currentTimeMillis() < deadline && batch == b0) Thread.sleep(20)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val silenced = Seq(
      "org.apache.spark.scheduler.TaskSetManager",
      "org.apache.spark.executor.Executor",
      "org.apache.spark.sql.execution.streaming.state")
    val prev = silenced.map(n => n -> LogManager.getLogger(n).getLevel)
    silenced.foreach(n => Configurator.setLevel(n, Level.OFF))
    try q.stop()
    finally prev.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }
}

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("no duplicate key literals in SparkEntry (a Map silently keeps the LAST)") {
    // Map dedup made two r11 keys shadow older operators without any
    // compile/test signal — only the gate's entry count moved. Pin the
    // SOURCE: every quoted key literal in SparkEntry.scala must be
    // unique within its map.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val key = """"([a-z0-9_]+)"\s*->""".r
    Seq("def queries" -> "def oracleSql", "def oracleSql" -> "ZZZ_END").foreach {
      case (from, to) =>
        val body = src.split(java.util.regex.Pattern.quote(from), 2).last
          .split(java.util.regex.Pattern.quote(to), 2).head
        val keys = key.findAllMatchIn(body).map(_.group(1)).toSeq
        val dups = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
        assert(dups.isEmpty, s"duplicate keys after '$from': $dups")
    }
  }

  test("all queries run at sf0.001 and return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, TestSpark.sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }
}
