package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-parity arithmetic shared by every query group.
  *
  * Raw money columns are 2-decimal; products have ≤4 decimals. Double
  * sums differ in the last ulp between engines (summation order), and
  * round(double) itself differs at .xx5 boundaries (Spark rounds the
  * shortest decimal repr HALF_UP, DuckDB the binary value). So:
  *  - sums of money values accumulate as DECIMAL(18,4) — exact and
  *    order-independent — and are rounded in decimal domain;
  *  - quotients (avgs, ratios) round via floor(x*10^d + 0.5)/10^d,
  *    which is the same double arithmetic in both engines.
  */
object Portable {
  /** Exact, order-independent sum of ≤4-decimal values, as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")
  def dsumSql(x: String): String =
    s"CAST(sum(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"

  /** Exact, order-independent sum of arbitrary doubles, as double: each
    * term is pinned to 8 decimals by [[pround]] and enters a
    * DECIMAL(28,8) sum, so the result is the same at any partitioning
    * and in both engines (the gradient, moment and score sums of the
    * fitted-model queries).
    */
  def dsum8(c: Column): Column =
    sum(pround(c, 8).cast(DecimalType(28, 8))).cast("double")
  def dsum8Sql(x: String): String =
    s"CAST(sum(CAST(${proundSql(x, 8)} AS DECIMAL(28,8))) AS DOUBLE)"

  /** Exact money sum rounded in decimal domain (HALF_UP both engines). */
  def moneySum(c: Column, d: Int = 2): Column =
    round(sum(c.cast(DecimalType(18, 4))), d).cast("double")
  def moneySumSql(x: String, d: Int = 2): String =
    s"CAST(round(sum(CAST($x AS DECIMAL(18,4))), $d) AS DOUBLE)"

  /** Portable double rounding: identical float ops in both engines. */
  def pround(c: Column, d: Int): Column = {
    val p = math.pow(10, d)
    floor(c * lit(p) + lit(0.5)).cast("double") / lit(p)
  }
  def proundSql(x: String, d: Int): String = {
    val p = math.pow(10, d)
    s"floor(($x) * $p + 0.5) / $p"
  }

  /** Oracle replay of [[graft.expressions.ExpDet]] (deterministic exp,
    * domain |x| ≤ 43): k = floor(x/ln2 + 0.5), 12-term Horner on the
    * reduced r, then the six exact binary scale steps — every op the
    * same two-operand IEEE op the engine executes. Returns CTE text;
    * the final CTE `${pfx}expv` carries `$carry` plus `expv` =
    * expDet($xExpr). `src` must provide the carry columns and whatever
    * $xExpr reads.
    */
  def expDetSqlCtes(pfx: String, src: String, carry: String,
      xExpr: String): String = {
    val steps = Seq((4294967296.0, 32), (65536.0, 16), (256.0, 8),
      (16.0, 4), (4.0, 2), (2.0, 1))
    val scCtes = steps.zipWithIndex.map { case ((m, sub), i) =>
      s"""${pfx}sc${i + 1} AS (
        SELECT $carry, p, neg,
          CASE WHEN ka >= $sub THEN sc * $m ELSE sc END AS sc,
          CASE WHEN ka >= $sub THEN ka - $sub ELSE ka END AS ka
        FROM ${pfx}sc$i)"""
    }.mkString(",\n      ")
    s"""${pfx}kr AS (
        SELECT $carry, floor(($xExpr) / ${graft.expressions.ExpDet.LN2}
            + 0.5) AS k,
          ($xExpr) - floor(($xExpr) / ${graft.expressions.ExpDet.LN2}
            + 0.5) * ${graft.expressions.ExpDet.LN2} AS r
        FROM $src),
      ${pfx}hp AS (
        SELECT $carry, k,
          1 + r * (1 + r * (CAST(1 AS DOUBLE) / 2 + r * (
            CAST(1 AS DOUBLE) / 6 + r * (CAST(1 AS DOUBLE) / 24 + r * (
            CAST(1 AS DOUBLE) / 120 + r * (CAST(1 AS DOUBLE) / 720 + r * (
            CAST(1 AS DOUBLE) / 5040 + r * (CAST(1 AS DOUBLE) / 40320 + r * (
            CAST(1 AS DOUBLE) / 362880 + r * (CAST(1 AS DOUBLE) / 3628800
            + r * (CAST(1 AS DOUBLE) / 39916800))))))))))) AS p
        FROM ${pfx}kr),
      ${pfx}sc0 AS (
        SELECT $carry, p, k < 0 AS neg,
          CAST(1 AS DOUBLE) AS sc,
          least(CASE WHEN k < 0 THEN -k ELSE k END, 63.0) AS ka
        FROM ${pfx}hp),
      $scCtes,
      ${pfx}expv AS (
        SELECT $carry,
          CASE WHEN neg THEN p / sc ELSE p * sc END AS expv
        FROM ${pfx}sc6)"""
  }

  /** Oracle replay of [[graft.expressions.LnDet]] (the deterministic
    * ln for x ≥ 1): emits the 6 binary range-reduction steps as
    * chained CTEs plus the Horner atanh-series final, every op the
    * same two-operand IEEE op the engine executes. Returns the CTE
    * text (no leading/trailing comma); the final CTE `${pfx}lnv`
    * carries `$carry` plus `lnp` = lnDet($xExpr). `src` must provide
    * the carry columns and whatever $xExpr reads.
    */
  def lnDetSqlCtes(pfx: String, src: String, carry: String,
      xExpr: String): String = {
    val steps = Seq((4294967296L, 32), (65536L, 16), (256L, 8),
      (16L, 4), (4L, 2), (2L, 1))
    val redCtes = steps.zipWithIndex.map { case ((p, add), i) =>
      s"""${pfx}red${i + 1} AS (
        SELECT $carry,
          CASE WHEN m >= $p THEN m / $p ELSE m END AS m,
          CASE WHEN m >= $p THEN e + $add ELSE e END AS e
        FROM ${pfx}red$i)"""
    }.mkString(",\n      ")
    s"""${pfx}red0 AS (
        SELECT $carry, $xExpr AS m, CAST(0 AS DOUBLE) AS e FROM $src),
      $redCtes,
      ${pfx}tv AS (
        SELECT $carry, e, (m - 1) / (m + 1) AS t FROM ${pfx}red6),
      ${pfx}t2v AS (
        SELECT $carry, e, t, t * t AS t2 FROM ${pfx}tv),
      ${pfx}lnv AS (
        SELECT $carry,
          e * 0.6931471805599453 + 2 * (t * (1 + t2 * (
            CAST(1 AS DOUBLE) / 3 + t2 * (CAST(1 AS DOUBLE) / 5 + t2 * (
            CAST(1 AS DOUBLE) / 7 + t2 * (CAST(1 AS DOUBLE) / 9 + t2 * (
            CAST(1 AS DOUBLE) / 11 + t2 * (CAST(1 AS DOUBLE) / 13 + t2 * (
            CAST(1 AS DOUBLE) / 15))))))))) AS lnp
        FROM ${pfx}t2v)"""
  }

  /** Deterministic two-sided normal p-value 2(1−Φ(|z|)) = erfc(|z|/√2)
    * via Abramowitz-Stegun 7.1.26 (|err| < 1.5e-7), its exp through
    * graft_expdet with the x² argument clamped at 43 (saturated tail ⇒
    * p ≈ 0 exactly where the error is irrelevant). Every op is an IEEE
    * two-operand op [[pTwoSidedSqlCtes]] replays verbatim — the
    * engine's reusable p-value primitive (first used inline by q296).
    */
  def pTwoSided(z: Column): Column = {
    val x = abs(z) * lit(0.7071067811865476)
    val x2c = least(x * x, lit(43.0))
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = tt * (lit(0.254829592) + tt * (lit(-0.284496736)
      + tt * (lit(1.421413741) + tt * (lit(-1.453152027)
        + tt * lit(1.061405429)))))
    poly * call_function("graft_expdet", -x2c)
  }

  /** Oracle replay of [[pTwoSided]]: CTE text whose final CTE
    * `${pfx}pv` carries `$carry` plus `${pfx}p` = pTwoSided($zExpr).
    * `src` must provide the carry columns and whatever $zExpr reads.
    */
  def pTwoSidedSqlCtes(pfx: String, src: String, carry: String,
      zExpr: String): String =
    s"""${pfx}x AS (
        SELECT $carry, abs($zExpr) * 0.7071067811865476 AS ${pfx}xv
        FROM $src),
      ${pfx}t AS (
        SELECT *, least(${pfx}xv * ${pfx}xv, 43.0) AS ${pfx}x2c,
          1.0 / (1.0 + 0.3275911 * ${pfx}xv) AS ${pfx}tt
        FROM ${pfx}x),
      ${expDetSqlCtes(s"${pfx}e", s"${pfx}t", s"$carry, ${pfx}tt",
        s"-${pfx}x2c")},
      ${pfx}pv AS (
        SELECT $carry,
          ${pfx}tt * (0.254829592 + ${pfx}tt * (-0.284496736
            + ${pfx}tt * (1.421413741 + ${pfx}tt * (-1.453152027
              + ${pfx}tt * 1.061405429)))) * expv AS ${pfx}p
        FROM ${pfx}eexpv)"""

  /** Deterministic logistic sigmoid σ(z) = 1/(1+expDet(−clamp(z, ±30))):
    * the clamp keeps the exp inside graft_expdet's domain and saturates
    * the far tails identically in both engines; the driver-side twin is
    * [[graft.expressions.ExpDet.sigmoid]].
    */
  def sigmoid(z: Column): Column = {
    val zc = when(z > 30.0, 30.0).when(z < -30.0, -30.0).otherwise(z)
    lit(1.0) / (lit(1.0) + call_function("graft_expdet", -zc))
  }

  /** Oracle replay of [[sigmoid]]: CTE text whose final CTE `${pfx}sig`
    * carries `$carry` plus `s` = sigmoid($zExpr). `$zExpr` is bound as
    * column `z` over every column of `src` (a table expression, e.g.
    * `feats CROSS JOIN w3`), so `$carry` may name `z` but `src` must not
    * have a column of that name.
    */
  def sigmoidSqlCtes(pfx: String, src: String, carry: String,
      zExpr: String): String =
    s"""${pfx}zc AS (
        SELECT $carry,
          CASE WHEN z > 30 THEN 30 WHEN z < -30 THEN -30 ELSE z END AS zc
        FROM (SELECT *, $zExpr AS z FROM $src)),
      ${expDetSqlCtes(s"${pfx}e", s"${pfx}zc", carry, "-zc")},
      ${pfx}sig AS (
        SELECT $carry,
          CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + expv) AS s
        FROM ${pfx}eexpv)"""
}
