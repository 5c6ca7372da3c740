package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Lineage
import TestSpark.{anyFile, withCheckpointDir}

/** The lineage-cut policy: which checkpoint a plan gets, when the loops
  * cut, and that the input's cache is released either way.
  */
class LineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def frame(): DataFrame =
    spark.range(40).select(col("id"), (col("id") * 3 % 7).as("v"))
      .groupBy("v").agg(sum("id").as("s"))

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  private def isLeaf(df: DataFrame) = df.queryExecution.analyzed.children.isEmpty

  test("cutEvery cuts every 5th round before the last, else returns the same frame") {
    val df = frame()
    for (r <- Seq(1, 4, 6, 9)) assert(Lineage.cutEvery(df, r) eq df, s"round $r")
    assert(Lineage.cutEvery(df, 5, last = 5) eq df, "the last round is never cut")
    assert(Lineage.cutEvery(df, 10, last = 10) eq df, "the last round is never cut")
    for (r <- Seq(5, 10)) {
      val out = Lineage.cutEvery(df, r, last = 12)
      assert(!(out eq df) && isLeaf(out), s"round $r")
    }
  }

  test("without a checkpoint dir: a local cut to one leaf, the input's cache released") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val df = frame().cache()
    val want = rows(frame())
    val out = Lineage.cut(df)
    assert(isLeaf(out), out.queryExecution.analyzed.treeString)
    assert(df.storageLevel == StorageLevel.NONE, "input cache kept")
    assert(rows(out) == want)
  }

  test("with a checkpoint dir: a reliable cut, the input's and the helper's cache released") {
    withCheckpointDir("graft-lineage-ckpt") { dir =>
      val want = rows(frame())
      for (df <- Seq(frame().cache(), frame())) {
        val out = Lineage.cut(df)
        assert(isLeaf(out), out.queryExecution.analyzed.treeString)
        assert(df.storageLevel == StorageLevel.NONE, "cache kept after the cut")
        assert(rows(out) == want)
      }
      assert(anyFile(dir), "no reliable checkpoint written")
    }
  }
}
