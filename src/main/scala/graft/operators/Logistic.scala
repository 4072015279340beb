package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Portable.{dsum8, dsum8Sql, sigmoid, sigmoidSqlCtes}

/** Full-batch logistic regression — the CALIBRATED member of the
  * linear-gate family next to [[Perceptron]] (which separates but
  * whose margin is not a probability) and `Isotonic` (which calibrates
  * an existing score but can't learn one). The classic shallow quality
  * classifier a curation pipeline trains where fastText-style models
  * would need libm: here every float op is pinned so the trained
  * weights are bit-identical on any engine and any partitioning.
  *
  * Determinism discipline, per gradient-descent iteration:
  *  - z = Σ x_j·w_j folds the previous iteration's weights in as
  *    plan-time literals (no weight join — the [[Perceptron]]/q102
  *    discipline), left-associated in a pinned order;
  *  - σ(z) = 1/(1+expDet(−clamp(z, ±30))) rides
  *    [[graft.expressions.ExpDet]], the deterministic exp, so both
  *    engines compute the SAME double (libm exp is only faithfully
  *    rounded and breaks cross-engine hash parity);
  *  - gradient components Σ (σ(z)−y)·x_j accumulate with the
  *    pround8 → DECIMAL(28,8) order-free exact sum;
  *  - the weight update w_j − lr·(g_j/n) is one pinned op sequence on
  *    the driver, mirrored verbatim by [[fitBatchSqlCtes]].
  *
  * Shape at scale: iterations × ONE map-side-combined aggregation over
  * a cached/checkpointed feature frame; driver state is d+1 doubles
  * (bounded-driver contract). Accuracy needs no exp at all —
  * σ(z) ≥ ½ ⇔ z ≥ 0 — so the audit column is exact integer counting.
  */
object Logistic {

  /** One iteration's audit row: the weights entering iteration `iter`
    * and the training accuracy measured UNDER those weights.
    */
  final case class Iter(iter: Int, n: Long, nCorrect: Long, w: Seq[Double])

  /** Train `iters` full-batch GD steps from w = 0 over double feature
    * columns `xCols` (include a constant-1 column for the bias); `yCol`
    * is 0.0/1.0. Returns iters+1 rows: iter t carries w_t (the weights
    * after t updates) and the accuracy of w_t on the training frame —
    * so row 0 is the null model and the last row is the shipped gate.
    */
  def fitBatch(features: DataFrame, xCols: Seq[String], yCol: String,
      lr: Double, iters: Int): Seq[Iter] = {
    require(iters >= 1 && xCols.nonEmpty)
    var w = Seq.fill(xCols.length)(0.0)
    val out = Seq.newBuilder[Iter]
    for (t <- 0 to iters) {
      val z: Column = xCols.zip(w)
        .map { case (c, wj) => col(c) * lit(wj) }
        .reduce(_ + _)
      val s = sigmoid(z)
      val correct = ((z >= 0.0) === (col(yCol) === 1.0)).cast("long")
      val aggs = Seq(count(lit(1)).as("n"), sum(correct).as("n_correct")) ++
        xCols.zipWithIndex.map { case (c, j) =>
          dsum8((s - col(yCol)) * col(c)).as(s"g$j")
        }
      val row = features.agg(aggs.head, aggs.tail: _*).head()
      val n = row.getAs[Long]("n")
      out += Iter(t, n, row.getAs[Long]("n_correct"), w)
      if (t < iters) {
        val nD = n.toDouble
        w = w.zipWithIndex.map { case (wj, j) =>
          wj - lr * (row.getAs[Double](s"g$j") / nD)
        }
      }
    }
    out.result()
  }

  /** Oracle replay of [[fitBatch]]: CTE text over the feature CTE
    * `feats` (columns `xCols` and `yCol`, none named `z`, `s` or
    * `w<j>`). `${pfx}w0` holds the zero weights; for every pass
    * t = 0..iters, `${pfx}g$t` aggregates `n`, `n_correct` (z ≥ 0 ⇔
    * y = 1) and the gradients `g<j>` under `${pfx}w$t`, and for t < iters
    * `${pfx}w${t + 1}` holds `w<j> − lr·(g<j>/n)`. Every op is the one
    * fitBatch runs: z = Σ x_j·w_j left-associated in xCols order,
    * [[graft.queries.Portable.sigmoidSqlCtes]], each gradient term
    * summed by `dsum8Sql`, and the weight update in the driver's order.
    */
  def fitBatchSqlCtes(pfx: String, feats: String, xCols: Seq[String],
      yCol: String, lr: Double, iters: Int): String = {
    val js = xCols.indices
    val carry = (yCol +: xCols :+ "z").mkString(", ")
    val z = js.map(j => s"${xCols(j)} * w$j").reduce((a, b) => s"($a) + $b")
    val w0 = js.map(j => s"CAST(0 AS DOUBLE) AS w$j").mkString(", ")
    val passes = (0 to iters).map { t =>
      val grads = js.map(j =>
        s"${dsum8Sql(s"(s - $yCol) * ${xCols(j)}")} AS g$j")
      val update = if (t < iters) s""",
      ${pfx}w${t + 1} AS MATERIALIZED (
        SELECT ${js.map(j => s"w$j - $lr * (g$j / n) AS w$j").mkString(", ")}
        FROM ${pfx}w$t CROSS JOIN ${pfx}g$t)""" else ""
      s"""${sigmoidSqlCtes(s"${pfx}s$t", s"$feats CROSS JOIN ${pfx}w$t",
        carry, z)},
      ${pfx}g$t AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN (z >= 0) = ($yCol = 1.0) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
          ${grads.mkString(",\n          ")}
        FROM ${pfx}s${t}sig)$update"""
    }
    (s"${pfx}w0 AS (SELECT $w0)" +: passes).mkString(",\n      ")
  }

  /** [[fitBatch]] for feature frames whose (xCols, y) tuple lives on a
    * BOUNDED grid (a caller contract, enforced by `maxCells`): ONE
    * map-side-combined groupBy collapses the corpus to counted cells,
    * and every GD iteration then folds driver-side with the SAME math
    * the distributed aggregate runs — per-cell gradient term
    * round8((σ(z)−y)·x_j) entered as BigDecimal scale-8 HALF_UP
    * (Spark's double→DECIMAL(28,8) cast) × cell count, summed exactly
    * (decimal addition is associative, and all rows of a cell carry
    * the identical term). Returns BIT-IDENTICAL history to
    * [[fitBatch]] (LogisticSpec pins it) with iters+1 jobs → 1 job:
    * the q289 bounded-cell-key fold as a reusable fitter.
    */
  def fitBatchGrouped(features: DataFrame, xCols: Seq[String],
      yCol: String, lr: Double, iters: Int,
      maxCells: Int = 100000): Seq[Iter] = {
    require(iters >= 1 && xCols.nonEmpty)
    // limit(maxCells+1) bounds the driver materialization BEFORE the
    // contract check: an unbounded grid surfaces as the intended
    // IllegalArgumentException, never a driver OOM. A result shorter
    // than the limit is already the full cell set.
    val cells = features
      .groupBy((xCols :+ yCol).map(col(_).cast("double")): _*)
      .agg(count(lit(1)).as("__cnt"))
      .limit(maxCells + 1)
      .collect()
      .map { r =>
        (xCols.indices.map(r.getDouble).toArray,
          r.getDouble(xCols.length), r.getLong(xCols.length + 1))
      }
    require(cells.length <= maxCells,
      s"> $maxCells cells — feature grid is not bounded; use fitBatch")
    val n = cells.map(_._3).sum
    def round8(x: Double): Double = math.floor(x * 1e8 + 0.5) / 1e8
    def dec8(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(8, java.math.RoundingMode.HALF_UP)
    var w = Seq.fill(xCols.length)(0.0)
    val out = Seq.newBuilder[Iter]
    val wArr = new Array[Double](xCols.length)
    for (t <- 0 to iters) {
      // gradient accumulators: unscaled scale-8 longs on the fast
      // path, with a BigDecimal side car for terms outside its proof
      // range or on long overflow. Fast-path exactness: for
      // |v| ≤ 1e7, round8(v) is a double within ulp/2 < 0.5e-8 of
      // K·1e-8 (K = ⌊v·1e8 + 0.5⌋), so its shortest decimal repr
      // HALF_UP-rounds at scale 8 to exactly K·1e-8 — i.e.
      // dec8(round8(v)) ≡ BigDecimal(K, 8), and the decimal sum of
      // count × term is the plain integer sum of K·cnt.
      val gLong = new Array[Long](xCols.length)
      val gBig = Array.fill(xCols.length)(java.math.BigDecimal.ZERO)
      var nCorrect = 0L
      var c = 0
      var i = 0
      while (i < w.length) { wArr(i) = w(i); i += 1 }
      while (c < cells.length) {
        val (xs, y, cnt) = cells(c)
        // the exact fitBatch float program: left-associated z, ±30
        // clamp, ExpDet sigmoid, per-feature round8 term
        var z = xs(0) * wArr(0)
        var j = 1
        while (j < xs.length) { z = z + xs(j) * wArr(j); j += 1 }
        val sV = graft.expressions.ExpDet.sigmoid(z)
        if ((z >= 0.0) == (y == 1.0)) nCorrect += cnt
        j = 0
        while (j < xs.length) {
          val v = (sV - y) * xs(j)
          if (java.lang.Math.abs(v) <= 1e7) {
            val k = math.floor(v * 1e8 + 0.5).toLong
            try gLong(j) = Math.addExact(gLong(j), Math.multiplyExact(k, cnt))
            catch { case _: ArithmeticException =>
              gBig(j) = gBig(j)
                .add(java.math.BigDecimal.valueOf(gLong(j), 8))
                .add(java.math.BigDecimal.valueOf(k, 8)
                  .multiply(java.math.BigDecimal.valueOf(cnt)))
              gLong(j) = 0L
            }
          } else {
            gBig(j) = gBig(j).add(dec8(round8(v))
              .multiply(java.math.BigDecimal.valueOf(cnt)))
          }
          j += 1
        }
        c += 1
      }
      out += Iter(t, n, nCorrect, w)
      if (t < iters) {
        val nD = n.toDouble
        w = w.zipWithIndex.map { case (wj, j) =>
          val g = gBig(j).add(java.math.BigDecimal.valueOf(gLong(j), 8))
          wj - lr * (g.doubleValue / nD)
        }
      }
    }
    out.result()
  }
}
