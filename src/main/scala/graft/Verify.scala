package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Multi-JVM evidence hook (VERDICT r12 #4): SPARK_GRAFT_MASTER=
    // local-cluster[2,16,8192] (+ SPARK_HOME and SPARK_GRAFT_EXECUTOR_CP
    // pointing at target/scala-2.13/classes) runs the SAME gated dump
    // against real separate executor JVMs — serialized closures and
    // broadcasts, cross-JVM shuffle, the reliable-checkpoint branch —
    // instead of local mode's same-JVM shortcuts. The driver's own runs
    // never set it; docs/verify_cluster_r13.md records the off-single-
    // JVM gate result.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = GraftSession.builder(master = master, appName = "graft-verify")
      .config("spark.sql.shuffle.partitions", cpus)
    val spark = sys.env.get("SPARK_GRAFT_EXECUTOR_CP")
      .fold(builder)(cp => builder.config("spark.executor.extraClassPath", cp))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // 4 concurrent dumps: queries are independent Spark jobs sharing
    // the session; the scheduler interleaves their stages.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // Local-iteration filter: comma-separated query names; unset → the
    // driver's full dump. Fails loudly on a typo rather than dumping an
    // empty dir that reads as a clean run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: $unknown")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val tasks = selected.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          // coalesce(1), deliberately NOT repartition(1): the gate is
          // row-order sensitive and repartition round-robins away the
          // final orderBy. coalesce only collapses the stage after the
          // sort's range-exchange, so the expensive query work upstream
          // of that shuffle still runs at full parallelism.
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Under SPARK_GRAFT_ONLY, the oracle list shrinks with the dump so
    // the checker doesn't fail on parquet dirs that were never written.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
