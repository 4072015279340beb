package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dist2Decimal / Dist2Double contract: the native kernels must be
  * BIT-IDENTICAL to the aggregate∘zip_with chains they replaced in
  * KMeans (dist2 / assign d2c / subspace d2) — including the decimal
  * HALF_UP rounding of each per-dim square, null poisoning, length
  * mismatch, NaN, and overflow-to-null behavior.
  */
class Dist2Spec extends SparkSpec {
  import spark.implicits._

  /** The exact chain Dist2Decimal replaced (KMeans.dist2 pre-r15). */
  private def hofDecimal(vec: org.apache.spark.sql.Column,
      cent: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      zip_with(vec, cent, (a, b) => {
        val d = a.cast("double") - b.cast("double")
        (d * d).cast(DecimalType(28, 8))
      }),
      lit(0L).cast(DecimalType(38, 8)),
      (acc, x) => (acc + x).cast(DecimalType(38, 8)))

  /** The exact chain Dist2Double replaced (KMeans.assign d2c). */
  private def hofDouble(vec: org.apache.spark.sql.Column,
      cent: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      zip_with(vec, cent, (a, b) => {
        val d = a.cast("double") - b.cast("double")
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  private val cases: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] =
    Seq(
      // ordinary values, negatives, exact representables
      (Seq(1.0, 2.5, -3.25), Seq(0.5, 2.5, 3.0)),
      // values whose squares hit the 8-decimal rounding boundary
      (Seq(1e-4, 1.000000005e-4, 0.012345678949), Seq(0.0, 0.0, 0.0)),
      // tiny squares that round to 0 at scale 8
      (Seq(1e-9, -1e-9, 3e-5), Seq(0.0, 0.0, 0.0)),
      // large-ish magnitudes (still inside DECIMAL(28,8))
      (Seq(12345.678, -9876.54321), Seq(-12345.678, 9876.54321)),
      // identical vectors → exactly 0
      (Seq(0.1, 0.2, 0.3), Seq(0.1, 0.2, 0.3)),
      // empty arrays → init value 0
      (Seq.empty, Seq.empty),
      // null element → null
      (Seq(1.0, null, 2.0), Seq(1.0, 1.0, 1.0)),
      // NaN / Infinity → null (decimal) / NaN (double)
      (Seq(Double.NaN, 1.0), Seq(0.0, 1.0)),
      (Seq(1e200, 1.0), Seq(-1e200, 1.0)))

  test("Dist2Decimal ≡ aggregate∘zip_with decimal chain on doubles") {
    val df = cases.toDF("v", "c")
    val rows = df.select(
        call_function("graft_dist2q8", col("v"), col("c")).as("native"),
        hofDecimal(col("v"), col("c")).as("hof"))
      .collect()
    rows.zip(cases).foreach { case (r, (v, c)) =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null mismatch for ($v, $c): native=${r.get(0)} hof=${r.get(1)}")
      if (!r.isNullAt(0))
        assert(r.getDecimal(0) == r.getDecimal(1),
          s"value mismatch for ($v, $c)")
    }
  }

  test("Dist2Decimal ≡ chain on float arrays and length mismatch") {
    val df = Seq(
        (Seq(1.5f, 2.25f, -0.125f), Seq(0.5, -2.0, 0.0)),
        (Seq(0.1f, 0.2f, 0.3f), Seq(0.1, 0.2, 0.3))
      ).toDF("v", "c")
    val rows = df.select(
        call_function("graft_dist2q8", col("v"), col("c")).as("native"),
        hofDecimal(col("v"), col("c")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0) && r.getDecimal(0) == r.getDecimal(1))
    }
    // length mismatch: zip_with pads with null → null; native → null
    val mm = Seq((Seq(1.0, 2.0), Seq(1.0)))
      .toDF("v", "c")
      .select(call_function("graft_dist2q8", col("v"), col("c")).as("n"),
        hofDecimal(col("v"), col("c")).as("h"))
      .head()
    assert(mm.isNullAt(0) && mm.isNullAt(1))
    // null array → null
    val na = Seq((Option.empty[Seq[Double]], Option(Seq(1.0))))
      .toDF("v", "c")
      .select(call_function("graft_dist2q8", col("v"), col("c")).as("n"))
      .head()
    assert(na.isNullAt(0))
  }

  test("Dist2Decimal randomized parity sweep (1000 vectors, dims 16)") {
    val rnd = new scala.util.Random(42)
    val data = (1 to 1000).map { _ =>
      val d = 16
      (Seq.fill(d)(rnd.nextDouble() * 200 - 100),
        Seq.fill(d)(rnd.nextDouble() * 200 - 100))
    }
    val bad = data.toDF("v", "c")
      .select(call_function("graft_dist2q8", col("v"), col("c")).as("n"),
        hofDecimal(col("v"), col("c")).as("h"))
      .filter(not(col("n") <=> col("h")))
      .count()
    assert(bad == 0L)
  }

  test("Dist2Decimal fast-path guard: ulp walks around scale-8 ties " +
      "and the 4e15 cutoff") {
    // squares whose ·1e8 value sits within a few ulps of a k+0.5
    // HALF_UP tie — exactly the region the fast path must hand back
    // to BigDecimal — plus magnitudes straddling the 4e15 fast-path
    // cutoff. 1-dim vectors so every element's rounding is compared
    // directly (no cancellation in the fold).
    val rnd = new scala.util.Random(7)
    val ds = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to 500) {
      val k = (rnd.nextDouble() * 4e9).toLong
      val d = math.sqrt((k + 0.5) / 1e8)
      var lo = d
      var hi = d
      ds += d
      for (_ <- 1 to 8) {
        lo = Math.nextDown(lo); hi = Math.nextUp(hi)
        ds += lo; ds += hi
      }
    }
    for (_ <- 1 to 200) { // sq·1e8 ∈ [3.6e15, 4.4e15): both branches
      val sq = 4.0e7 * (0.9 + rnd.nextDouble() * 0.2)
      ds += math.sqrt(sq)
    }
    val bad = ds.toSeq.map(d => (Seq(d), Seq(0.0))).toDF("v", "c")
      .select(call_function("graft_dist2q8", col("v"), col("c")).as("n"),
        hofDecimal(col("v"), col("c")).as("h"))
      .filter(not(col("n") <=> col("h")))
      .count()
    assert(bad == 0L)
  }

  test("Dist2Decimal fold step overflows to null at scale 8, as the cast") {
    // one step of the chain's fold: (acc + x) typed DECIMAL(38,7), cast
    // to DECIMAL(38,8). Just below the boundary the sum needs 38 digits
    // at scale 8; at it, 38 digits at scale 7 (fits the add) but 39 at
    // scale 8, so the cast gives null. No array reaches such a sum
    // (each square is < 1e20), so the step is pinned directly.
    val x = new java.math.BigDecimal("1.00000000")
    Seq("99999999999999999999999999999.99999999",
        "999999999999999999999999999999.99999999").foreach { a =>
      val acc = new java.math.BigDecimal(a)
      val chain = spark.range(1).select(
        (lit(acc).cast(DecimalType(38, 8)) + lit(x).cast(DecimalType(28, 8)))
          .cast(DecimalType(38, 8))).head()
      val step = Dist2Kernels.addCast38x8(acc, x)
      assert((step == null) === chain.isNullAt(0), s"null mismatch at $a")
      if (step != null) assert(step.compareTo(chain.getDecimal(0)) == 0, a)
    }
    assert(Dist2Kernels.addCast38x8(
      new java.math.BigDecimal("999999999999999999999999999999.99999999"), x) == null)
  }

  test("Dist2Double ≡ aggregate∘zip_with double chain incl. NaN flow") {
    val df = cases.toDF("v", "c")
    val rows = df.select(
        call_function("graft_dist2", col("v"), col("c")).as("native"),
        hofDouble(col("v"), col("c")).as("hof"))
      .collect()
    rows.zip(cases).foreach { case (r, (v, c)) =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null mismatch for ($v, $c)")
      if (!r.isNullAt(0)) {
        val (n, h) = (r.getDouble(0), r.getDouble(1))
        assert(java.lang.Double.compare(n, h) == 0 ||
          (n.isNaN && h.isNaN), s"value mismatch for ($v, $c): $n vs $h")
      }
    }
  }
}
