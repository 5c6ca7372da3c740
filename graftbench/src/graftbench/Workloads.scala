package graftbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.ShinglesExpr
import graft.operators.{ArabicCorpus, Curate, Dedup, TextFunctions}
import graft.sinks.Sinks
import graft.sources.{Tables, TextFiles}

/** One operation of a pass: its wall time and, if it threw or failed
  * its cheap output check, why.
  */
final case class Op(name: String, seconds: Double, error: Option[String])

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** A batch workload driven through graft's public API. `pass` is the
  * timed unit; the rest describes the traced run's layer prefixes.
  */
abstract class Workload(val spark: SparkSession, val input: String, val out: String,
    expected: Map[String, Long]) {

  /** Runs one pass; `tr` records spans at the layer calls when enabled. */
  def pass(tr: Tracer, id: Int): Seq[Op]

  /** Builds the source DataFrames (file listing and footer reads are eager). */
  def sources(): Seq[DataFrame]

  /** Pipeline prefixes in order, each ending at one layer's call; the
    * traced run materializes each to noop and subtracts the previous.
    */
  def prefixes: Seq[(String, () => Seq[DataFrame])]

  /** DataFrames whose time to an executed plan is reported. */
  def planned: Seq[(String, () => DataFrame)]

  /** Writes what the full output check reads; runs outside the timed region. */
  def writeCheckOutputs(): Unit = ()

  protected def op(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    Op(name, (System.nanoTime() - t0) / 1e9, err)
  }

  protected def expect(key: String, got: Long): Unit = {
    val want = expected.getOrElse(key, throw new CheckFailed(s"no expected row count for $key"))
    if (got != want) throw new CheckFailed(s"$key: $got rows, expected $want")
  }

  /** `df` with a row counter riding along the action that consumes it. */
  protected def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  protected def rows(obs: Observation): Long =
    Await.result(obs.future, 120.seconds).getLong(0)
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def apply(name: String, spark: SparkSession, input: String, out: String,
      expected: Map[String, Long]): Workload = name match {
    case "flagship_etl"      => new FlagshipEtl(spark, input, out, expected)
    case "warehouse_queries" => new WarehouseQueries(spark, input, out, expected)
    case "curation"          => new Curation(spark, input, out, expected)
    case other               => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's job: the calls `graft.Flagship.main` makes between
  * session start and stop, with the CSV loader selected.
  */
final class FlagshipEtl(spark: SparkSession, input: String, out: String,
    expected: Map[String, Long]) extends Workload(spark, input, out, expected) {
  private val corpus = s"$input/corpus"

  def pass(tr: Tracer, id: Int): Seq[Op] = Seq(op("flagship_etl") {
    tr.span("pass", id) {
      val words = tr.span("operators.word_stats", id)(ArabicCorpus.wordStats(spark, corpus).cache())
      val nRows = tr.span("operators.word_stats.count", id)(words.count())
      tr.span("sinks.csv", id) {
        Sinks.conditional(true)(words) { df =>
          Sinks.loadBalanced(df, 4)(Sinks.csv(_, s"$out/words_csv"))
        }
      }
      val files = tr.span("summary", id)(
        words.agg(countDistinct(col("file_path"))).head().getLong(0))
      expect("rows", nRows)
      expect("files", files)
    }
  })

  def sources(): Seq[DataFrame] = Seq(TextFiles.wholeText(spark, "*.txt", corpus))

  /** The token prefix of `ArabicCorpus.wordStats`, up to the normalizer. */
  private def tokens(): DataFrame =
    TextFiles.wholeText(spark, "*.txt", corpus)
      .select(col("file_path"), explode(TextFunctions.arabicTokens(col("content"))).as("word"))
      .select(col("file_path"), TextFunctions.normalizeWord(col("word")).as("word"))
      .filter(col("word") =!= "")

  def prefixes: Seq[(String, () => Seq[DataFrame])] = Seq(
    "sources.read"         -> (() => sources()),
    "operators.tokenize"   -> (() => Seq(tokens())),
    "operators.word_stats" -> (() => Seq(ArabicCorpus.wordStats(spark, corpus))))

  def planned: Seq[(String, () => DataFrame)] =
    Seq("word_stats" -> (() => ArabicCorpus.wordStats(spark, corpus)))
}

/** Twelve `SparkEntry.queries` in a fixed order, each written to noop. */
final class WarehouseQueries(spark: SparkSession, input: String, out: String,
    expected: Map[String, Long]) extends Workload(spark, input, out, expected) {

  def pass(tr: Tracer, id: Int): Seq[Op] = tr.span("pass", id) {
    WarehouseQueries.Mix.map { q =>
      op(q) {
        tr.span(s"operators.$q", id) {
          val (df, obs) = observed(SparkEntry.queries(q)(spark, input))
          Workload.noop(df)
          expect(q, rows(obs))
        }
      }
    }
  }

  def sources(): Seq[DataFrame] = {
    val t = Tables(spark, input)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem, t.events)
  }

  def prefixes: Seq[(String, () => Seq[DataFrame])] = Seq("sources.read" -> (() => sources()))

  def planned: Seq[(String, () => DataFrame)] =
    WarehouseQueries.Mix.map(q => q -> (() => SparkEntry.queries(q)(spark, input)))

  /** Same layout as `graft.Verify`: one ordered parquet dir per query. */
  override def writeCheckOutputs(): Unit =
    WarehouseQueries.Mix.foreach { q =>
      SparkEntry.queries(q)(spark, input).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/check/$q")
    }
}

object WarehouseQueries {
  val Mix: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q17_small_qty_revenue", "q21_waiting_supplier", "q_window_rank", "q_events_sessionize",
    "q_interval_overlap", "q_market_basket", "q_json_extract", "q_percentiles", "q_pagerank")
}

/** `Curate.curate` from `sources.Tables` into `Sinks.compactParquet`. */
final class Curation(spark: SparkSession, input: String, out: String,
    expected: Map[String, Long]) extends Workload(spark, input, out, expected) {

  def pass(tr: Tracer, id: Int): Seq[Op] = Seq(op("curation") {
    tr.span("pass", id) {
      val t = tr.span("sources.tables", id)(Tables(spark, input))
      val curated = tr.span("operators.curate", id)(Curate.curate(t))
      val (df, obs) = observed(curated)
      tr.span("sinks.compact_parquet", id)(Sinks.compactParquet(df, s"$out/curated"))
      expect("curation", rows(obs))
    }
  })

  private def docs(): DataFrame = Tables(spark, input).documents

  def sources(): Seq[DataFrame] = Seq(docs())

  def prefixes: Seq[(String, () => Seq[DataFrame])] = Seq(
    "sources.read"            -> (() => sources()),
    "operators.annotate"      -> (() => Seq(Curate.annotatedOf(docs()))),
    "operators.minhash_lsh"   -> (() => Seq(Dedup.minhashLshPairs(Tables(spark, input)))),
    "operators.window_hashes" -> (() => Seq(Dedup.windowHashesOf(docs(), 10))),
    "operators.tok_stats"     -> (() => Seq(Curate.tokStatsOf(docs()))),
    "functions.shingles"      -> (() => Seq(docs().select(col("doc_id"),
      explode(ShinglesExpr.distinctShingles(col("text"), 3)).as("shingle")))),
    "operators.curate"        -> (() => Seq(Curate.curate(Tables(spark, input)))))

  def planned: Seq[(String, () => DataFrame)] =
    Seq("curate" -> (() => Curate.curate(Tables(spark, input))))
}
