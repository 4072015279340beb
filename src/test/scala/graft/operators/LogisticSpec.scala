package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Logistic.fitBatch contract: the null-model row, learning on a
  * separable fixture, the audit-row invariants, and bit-exact
  * partitioning invariance (the determinism claim the oracle's CTE
  * replay depends on).
  */
class LogisticSpec extends SparkSpec {
  import spark.implicits._

  // 1-D separable fixture: y = [x > 0], features (bias, x).
  private def feats = (-20 to 20).filter(_ != 0)
    .map(i => (if (i > 0) 1.0 else 0.0, 1.0, i / 10.0))
    .toDF("y", "x0", "x1")

  test("row 0 is the null model; accuracy reaches 1.0 on separable data") {
    val hist = Logistic.fitBatch(feats, Seq("x0", "x1"), "y",
      lr = 5.0, iters = 12)
    assert(hist.length === 13)
    assert(hist.head.iter === 0 && hist.head.w.forall(_ == 0.0))
    // z = 0 everywhere under the null model -> predicts positive for all
    assert(hist.head.nCorrect === 20L)
    assert(hist.last.nCorrect === hist.last.n,
      s"separable fixture should be fit; got ${hist.last.nCorrect}/${hist.last.n}")
    // the slope weight moved in the separating direction
    assert(hist.last.w(1) > 0.0)
  }

  test("audit invariants: n constant, iter contiguous, d+1 weights") {
    val hist = Logistic.fitBatch(feats, Seq("x0", "x1"), "y", 2.0, 4)
    assert(hist.map(_.iter) === (0 to 4))
    assert(hist.map(_.n).distinct === Seq(40L))
    assert(hist.forall(_.w.length == 2))
  }

  test("bit-exact shuffle/input-partition invariance") {
    val base = Logistic.fitBatch(feats, Seq("x0", "x1"), "y", 2.0, 6)
    val repart = Logistic.fitBatch(feats.repartition(7), Seq("x0", "x1"),
      "y", 2.0, 6)
    base.zip(repart).foreach { case (a, b) =>
      assert(a.w == b.w && a.nCorrect == b.nCorrect,
        s"iter ${a.iter}: $a vs $b")
    }
  }

  test("iters and xCols are validated") {
    intercept[IllegalArgumentException] {
      Logistic.fitBatch(feats, Seq("x0", "x1"), "y", 1.0, 0)
    }
    intercept[IllegalArgumentException] {
      Logistic.fitBatch(feats, Nil, "y", 1.0, 3)
    }
  }

  test("fitBatchGrouped is bit-identical to fitBatch on a bounded grid") {
    // duplicate-heavy bounded grid: every (x, y) cell carries many
    // rows, so the cell fold exercises the cnt-multiplication path
    val g = (0 until 400).map { i =>
      val x1 = (i % 10).toDouble / 10.0
      val y = if ((i % 10) >= 4) 1.0 else 0.0
      (y, 1.0, x1)
    }.toDF("y", "x0", "x1").repartition(7)
    val a = Logistic.fitBatch(g, Seq("x0", "x1"), "y", 2.0, 8)
    val b = Logistic.fitBatchGrouped(g, Seq("x0", "x1"), "y", 2.0, 8)
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, yy) =>
      assert(x.iter === yy.iter)
      assert(x.n === yy.n)
      assert(x.nCorrect === yy.nCorrect, s"iter ${x.iter}")
      assert(x.w === yy.w, s"iter ${x.iter}: ${x.w} vs ${yy.w}")
    }
  }

  test("fitBatchGrouped matches fitBatch where the sigmoid clamps") {
    // large features: after one step |z| = |w0 + w1·x1| is far past 30,
    // so every later pass runs through the ±30 clamp on both paths
    val g = (for (k <- -5 to 5 if k != 0; _ <- 1 to 3)
      yield (if (k > 0) 1.0 else 0.0, 1.0, k * 10.0))
      .toDF("y", "x0", "x1").repartition(5)
    val a = Logistic.fitBatch(g, Seq("x0", "x1"), "y", 1.0, 4)
    val b = Logistic.fitBatchGrouped(g, Seq("x0", "x1"), "y", 1.0, 4)
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, yy) =>
      assert(x.nCorrect === yy.nCorrect, s"iter ${x.iter}")
      assert(x.w === yy.w, s"iter ${x.iter}: ${x.w} vs ${yy.w}")
    }
    val maxAbsZ = (for (it <- a; k <- -5 to 5)
      yield math.abs(1.0 * it.w(0) + k * 10.0 * it.w(1))).max
    assert(maxAbsZ > 30.0, s"max |z| = $maxAbsZ never reaches the clamp")
  }

  test("fitBatchGrouped refuses an unbounded grid") {
    val cont = (1 to 500).map(i => (i.toDouble / 500.0, 1.0, i * 0.001))
      .toDF("y", "x0", "x1")
    intercept[IllegalArgumentException] {
      Logistic.fitBatchGrouped(cont, Seq("x0", "x1"), "y", 1.0, 2,
        maxCells = 100)
    }
  }
}
