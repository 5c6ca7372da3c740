package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Pca
import graft.sources.Tables

/** The invariants that make [[Pca]] a PCA — this is the correctness
  * gate for the rows-only `embed_pca` / `embed_pca_project` rows.
  */
class PcaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t = Tables(spark, TestSpark.sf)
  private lazy val model = Pca.fit(t.embeddings)
  private def d = model.mean.length

  test("eigenbasis is orthonormal") {
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(k => model.components(i)(k) * model.components(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"<v$i,v$j> = $dot")
    }
  }

  test("eigenpairs satisfy Cv = λv and eigenvalues are sorted descending, nonnegative") {
    val (_, _, cov) = Pca.moments(t.embeddings)
    for (i <- 0 until d) {
      val v = model.components(i)
      val cv = Array.tabulate(d)(r => (0 until d).map(c => cov(r)(c) * v(c)).sum)
      val resid = math.sqrt((0 until d).map(k => {
        val r = cv(k) - model.eigenvalues(i) * v(k); r * r
      }).sum)
      assert(resid < 1e-8, s"eigen residual for component $i: $resid")
    }
    assert(model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(model.eigenvalues.forall(_ >= -1e-10), "covariance is PSD")
  }

  test("sum of eigenvalues equals total variance (trace)") {
    val (_, _, cov) = Pca.moments(t.embeddings)
    val trace = (0 until d).map(i => cov(i)(i)).sum
    assert(math.abs(model.eigenvalues.sum - trace) < 1e-8 * math.max(1.0, trace))
  }

  test("projected covariance is diagonal with the eigenvalues; whitened covariance is I") {
    val k = 6
    def covOf(df: org.apache.spark.sql.DataFrame): Array[Array[Double]] = {
      val n = df.count().toDouble
      val cols = (0 until k).map(i => s"y$i")
      val sums = df.agg(
        sum(col(cols(0))), cols.drop(1).map(c => sum(col(c))) ++
          (for (i <- 0 until k; j <- i until k) yield sum(col(cols(i)) * col(cols(j)))): _*)
        .collect()(0)
      val m = Array.tabulate(k)(i => sums.getDouble(i) / n)
      val out = Array.ofDim[Double](k, k)
      var idx = k
      for (i <- 0 until k; j <- i until k) {
        val c = sums.getDouble(idx) / n - m(i) * m(j)
        out(i)(j) = c; out(j)(i) = c
        idx += 1
      }
      out
    }
    val plain = covOf(Pca.project(t.embeddings, model, k))
    for (i <- 0 until k; j <- 0 until k) {
      val want = if (i == j) model.eigenvalues(i) else 0.0
      assert(math.abs(plain(i)(j) - want) < 1e-6,
        s"projected cov($i,$j) = ${plain(i)(j)}, want $want")
    }
    val white = covOf(Pca.project(t.embeddings, model, k, whiten = true))
    for (i <- 0 until k; j <- 0 until k) {
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(white(i)(j) - want) < 1e-6, s"whitened cov($i,$j) = ${white(i)(j)}")
    }
  }

  test("full-rank projection preserves pairwise distances (rotation)") {
    import graft.functions.VectorFunctions
    val proj = Pca.project(t.embeddings, model, d)
    val yNorm = proj.select(
      sqrt((0 until d).map(i => col(s"y$i") * col(s"y$i")).reduce(_ + _)).as("ny"))
      .agg(sum("ny")).collect()(0).getDouble(0)
    val meanLit = array(model.mean.map(lit(_)).toIndexedSeq: _*)
    val centered = zip_with(transform(col("embedding"), x => x.cast("double")),
      meanLit, (x, m) => x - m)
    val xNorm = t.embeddings
      .select(sqrt(VectorFunctions.dot(centered, centered)).as("nx"))
      .agg(sum("nx")).collect()(0).getDouble(0)
    assert(math.abs(yNorm - xNorm) < 1e-6 * math.max(1.0, xNorm),
      s"rotation changed total centered norm: $yNorm vs $xNorm")
  }

  test("sign convention: every component's largest-|x| entry is positive") {
    model.components.foreach { v =>
      val best = v.indices.maxBy(i => math.abs(v(i)))
      assert(v(best) > 0)
    }
  }

  test("gated queries: scree rows are k, ratios cumulative and bounded; projection is stable across two fits") {
    val scree = Pca.componentsQuery(t, k = 8).collect()
    assert(scree.length == 8)
    val cums = scree.map(_.getAs[Double]("cum_ratio"))
    assert(cums.sliding(2).forall(p => p(0) <= p(1) + 1e-12))
    assert(cums.last <= 1.0 + 1e-9)
    val a = Pca.projectQuery(t).collect().map(_.toSeq).toList
    val b = Pca.projectQuery(t).collect().map(_.toSeq).toList
    assert(a == b, "same session, same conf: projection must be bit-stable")
  }

  test("projectGate: full verdict grid true; a corrupted basis flips moment verdicts (r11 verdict #4)") {
    val k = 4
    val rows = Pca.projectGate(t, k).collect()
    assert(rows.length == k * (k + 1) / 2)
    rows.foreach(r => assert(r.getBoolean(2) && r.getBoolean(3),
      s"invariant broke at (${r.getLong(0)},${r.getLong(1)})"))
    // sensitivity: the gate must actually FAIL on a wrong projection —
    // a 4× mis-scaled λ0 (the botched-whitening class) drives the
    // (0,0) second moment to exactly 1/4, far outside the tolerance
    val bad = model.copy(eigenvalues = model.eigenvalues.updated(0, model.eigenvalues(0) * 4))
    val y = Pca.project(t.embeddings, bad, k, whiten = true)
    val n = y.count().toDouble
    val m00 = y.agg(sum(col("y0") * col("y0"))).collect()(0).getDouble(0) / n
    assert(math.abs(m00 - 1.0) > 1e-3,
      s"gate has no teeth: mis-scaled second moment $m00 still within tolerance")
  }

  test("pcaTopK with shortlist >= corpus is bit-equal to the exact cosineTopK") {
    val exact = graft.operators.Similarity.cosineTopK(t).collect().map(_.toSeq).toList
    val two   = Pca.pcaTopK(t, shortlist = 100000).collect().map(_.toSeq).toList
    assert(two == exact)
  }

  test("opq: allocation is a balanced partition; rotation stays orthonormal; beats contiguous slicing") {
    val m = 4
    val buckets = Pca.opqAllocate(model.eigenvalues, m)
    assert(buckets.length == m && buckets.forall(_.length == d / m))
    assert(buckets.flatten.sorted.toSeq == (0 until d))
    val rot = Pca.opqRotation(model, m)
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(c => rot(i)(c) * rot(j)(c)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
    // the balance CLAIM, on a well-conditioned analytic spectrum (the
    // sf0.001 model is rank-deficient — n < d — so its tail λ ≈ 0 and
    // no capacity-constrained allocation can balance it): eigenvalue
    // allocation must spread log-variance at least as evenly as the
    // contiguous slicing it replaces
    val spec = Array.tabulate(16)(i => math.pow(2.0, 8 - i / 2).toDouble)
    def spread(parts: Array[Array[Int]]): Double = {
      val logs = parts.map(_.map(i => math.log(spec(i))).sum)
      logs.max - logs.min
    }
    val alloc = Pca.opqAllocate(spec, 4)
    val contiguous = Array.tabulate(4)(b => Array.tabulate(4)(i => b * 4 + i))
    assert(spread(alloc) <= spread(contiguous) + 1e-12,
      s"allocation spread ${spread(alloc)} worse than contiguous ${spread(contiguous)}")
    assert(spread(alloc) < spread(contiguous), "allocation should strictly improve this spectrum")
  }

  test("opq: rotated quantization error does not exceed the unrotated baseline (clustered corpus)") {
    // the dominance that is OPQ's point, measured where quantization
    // error is meaningful (planted clusters; the driver testdata is
    // near-random — nothing to decorrelate)
    val dir = TestSpark.tempDir("opq_clustered").toString
    graft.sources.Synthetic.writeClusteredCorpus(spark, dir, 1000L)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val m = 4; val k = 16
    val clModel = Pca.fit(emb)
    def mse(rot: Array[Array[Double]]): Double =
      Pca.opqCodesWith(emb, clModel.mean, rot, m, k)
        .agg(sum("sq_err")).collect()(0).getDouble(0)
    val rotated = mse(Pca.opqRotation(clModel, m))
    val plain = mse(Pca.identityRotation(clModel.mean.length))
    assert(rotated <= plain * 1.0001,
      s"OPQ rotation should not lose to the unrotated baseline: $rotated vs $plain")
  }

  test("jacobi on a known matrix: exact analytic eigenpairs") {
    // [[2,1],[1,2]] → λ = 3 (v ∝ (1,1)/√2), λ = 1 (v ∝ (−1,1)/√2)
    val (ev, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(ev(0) - 3.0) < 1e-12 && math.abs(ev(1) - 1.0) < 1e-12)
    val r2 = 1.0 / math.sqrt(2.0)
    assert(math.abs(vecs(0)(0) - r2) < 1e-12 && math.abs(vecs(0)(1) - r2) < 1e-12)
    assert(math.abs(math.abs(vecs(1)(0)) - r2) < 1e-12)
    // sign convention on the second vector: largest-|x| entry positive
    assert(vecs(1)(0) > 0 || vecs(1)(1) > 0)
  }
}
