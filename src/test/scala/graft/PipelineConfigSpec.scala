package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ArabicCorpus, WordPipeline}
import graft.sources.Tables

/** Config-driven assembly must be a thin skin over the code-first
  * library: the same ops from JSON produce bit-identical results (the
  * plans are assembled from the same Column/DataFrame calls, so
  * Catalyst sees no difference), and malformed configs die loudly.
  */
class PipelineConfigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)

  test("config-assembled unique-words pipeline is bit-identical to the code-first twin") {
    val json = s"""{
      "source": {"type": "table", "dir": "${TestSpark.sf}", "name": "documents"},
      "transforms": [
        {"op": "tokenize", "col": "text", "to": "word"},
        {"op": "derive", "cols": {"word": "lower(trim(word))"}},
        {"op": "filter", "where": "word <> ''"},
        {"op": "unique", "by": ["doc_id", "word"]},
        {"op": "derive", "cols": {"word_len": "length(word)"}},
        {"op": "select", "cols": ["doc_id", "word", "word_len"]}
      ]
    }"""
    val got = PipelineConfig.assemble(spark, json)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val want = WordPipeline.tokens(t).dropDuplicates("doc_id", "word")
      .select(col("doc_id"), col("word"), length(col("word")).as("word_len"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("config-assembled words_count matches the code-first aggregate") {
    val json = s"""{
      "source": {"type": "table", "dir": "${TestSpark.sf}", "name": "documents"},
      "transforms": [
        {"op": "tokenize", "col": "text", "to": "word"},
        {"op": "derive", "cols": {"word": "lower(trim(word))"}},
        {"op": "filter", "where": "word <> ''"},
        {"op": "count_by", "by": ["doc_id"], "as": "words_count"}
      ]
    }"""
    val got = PipelineConfig.assemble(spark, json)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = WordPipeline.wordsCount(t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("text_files source + arabic tokenizer assemble from config") {
    val json = s"""{
      "source": {"type": "text_files", "path": "${ArabicCorpus.SampleDir}",
                 "pattern": "*.txt", "wholetext": true},
      "transforms": [
        {"op": "tokenize", "col": "content", "to": "word", "arabic": true},
        {"op": "unique", "by": ["file_path", "word"]},
        {"op": "count_by", "by": ["file_path"], "as": "n_unique"}
      ]
    }"""
    val rows = PipelineConfig.assemble(spark, json).collect()
    assert(rows.length == 1 && rows.head.getLong(1) > 100)
  }

  test("unknown ops and missing fields fail loudly at assembly") {
    val bad1 = s"""{"source": {"type": "table", "dir": "${TestSpark.sf}", "name": "documents"},
      "transforms": [{"op": "frobnicate"}]}"""
    val e1 = intercept[RuntimeException](PipelineConfig.assemble(spark, bad1))
    assert(e1.getMessage.contains("unknown op"))
    val bad2 = """{"source": {"type": "table", "dir": "/nope"}}"""
    val e2 = intercept[RuntimeException](PipelineConfig.assemble(spark, bad2))
    assert(e2.getMessage.contains("missing 'name'"))
    val bad3 = s"""{"source": {"type": "table", "dir": "${TestSpark.sf}", "name": "documents"},
      "sink": {"type": "laserdisc"}}"""
    val e3 = intercept[RuntimeException](PipelineConfig.run(spark, bad3))
    assert(e3.getMessage.contains("unknown sink"))
  }

  test("config jdbc sink is the Flagship --db path: Derby round-trip, bit-equal to code-first") {
    // the reference's settings switch includes DB loaders (py-beam
    // settings.json output / v2 MySQL_DBLoader) — the config surface
    // must reach the same partition-parallel JDBC writer the code-first
    // Flagship --db path uses
    val url = "jdbc:derby:target/derby-plc;create=true"
    val json = s"""{
      "source": {"type": "text_files", "path": "${ArabicCorpus.SampleDir}",
                 "pattern": "*.txt", "wholetext": true},
      "transforms": [
        {"op": "tokenize", "col": "content", "to": "word", "arabic": true},
        {"op": "derive", "cols": {"word": "lower(trim(word))"}},
        {"op": "filter", "where": "word <> ''"},
        {"op": "unique", "by": ["file_path", "word"]},
        {"op": "derive", "cols": {"word_len": "length(word)"}},
        {"op": "select", "cols": ["word", "word_len"]}
      ],
      "sink": {"type": "jdbc", "url": "jdbc:derby:target/derby-plc;create=true",
               "table": "config_words", "batchsize": 500, "mode": "overwrite"}
    }"""
    PipelineConfig.run(spark, json)
    // run TWICE: mode=overwrite must be idempotent — a multiset compare
    // (sorted seq, not set) would catch silently appended duplicates
    PipelineConfig.run(spark, json)
    val back = spark.read.jdbc(url, "config_words", new java.util.Properties())
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    val want = graft.sources.TextFiles.wholeText(spark, "*.txt", ArabicCorpus.SampleDir)
      .select(col("file_path"),
        explode(graft.operators.TextFunctions.arabicTokens(col("content"))).as("word"))
      .select(col("file_path"), lower(trim(col("word"))).as("word"))
      .filter(col("word") =!= "")
      .dropDuplicates("file_path", "word")
      .select(col("word"), length(col("word")).as("word_len"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(back == want && back.nonEmpty)
  }

  test("sink with a missing path fails loudly instead of writing to a junk dir") {
    val json = s"""{"source": {"type": "table", "dir": "${TestSpark.sf}", "name": "region"},
      "sink": {"type": "csv"}}"""
    val e = intercept[RuntimeException](PipelineConfig.run(spark, json))
    assert(e.getMessage.contains("missing 'path'"))
    val json2 = s"""{"source": {"type": "table", "dir": "${TestSpark.sf}", "name": "region"},
      "sink": {"type": "jdbc", "url": "jdbc:derby:target/derby-plc;create=true"}}"""
    val e2 = intercept[RuntimeException](PipelineConfig.run(spark, json2))
    assert(e2.getMessage.contains("missing 'table'"))
  }

  test("config sink writes: csv round-trips the assembled frame") {
    val out = TestSpark.tempDir("plc").toString + "/out"
    val json = s"""{
      "source": {"type": "table", "dir": "${TestSpark.sf}", "name": "documents"},
      "transforms": [
        {"op": "tokenize", "col": "text", "to": "word"},
        {"op": "derive", "cols": {"word": "lower(trim(word))"}},
        {"op": "filter", "where": "word <> ''"},
        {"op": "count_by", "by": ["doc_id"], "as": "words_count"}
      ],
      "sink": {"type": "csv", "path": "$out"}
    }"""
    val df = PipelineConfig.run(spark, json)
    val back = spark.read.option("header", "true").option("sep", ";").csv(out)
    assert(back.count() == df.count() && df.count() > 0)
  }
}
