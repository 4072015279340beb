package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Portable.dsum8

/** Exact ROC-AUC — the discrimination metric every quality-classifier
  * gate reports before its threshold is trusted.
  *
  * Computed as the Mann-Whitney rank statistic with average-rank tie
  * handling, kept INTEGRAL until the final division so the value is
  * bit-exact and order-independent:
  *
  * With ascending ranks 1..n by score and tied rows taking their
  * average rank, AUC = (Σ₊ rank − n₊(n₊+1)/2) / (n₊·n₋). For a tied
  * score value of c rows (c₊ of them positive) preceded by `below`
  * lower-scored rows, each row's average rank is below + (c+1)/2, so
  *   2·Σ₊ rank = Σ_values c₊ · (2·below + c + 1)   — exact BIGINT.
  * Hence AUC = (num2 − n₊(n₊+1)) / (2·n₊·n₋), one double division.
  *
  * Shape at scale: records collapse to distinct score values in one
  * hash aggregation (map-side partial; value count ≪ record count),
  * then a window cumulative sum per group over those values, then one
  * final aggregation. No driver state, no collect.
  */
object RocAuc {

  /** Per-`groupCol` AUC of `scoreCol` (any orderable numeric) against
    * boolean `posCol`. Groups lacking both classes report NULL auc —
    * discrimination is undefined there, and an audit must say so
    * rather than emit 0.5.
    *
    * Output: groupCol, n_pos, n_neg, n_ties (rows sharing a score
    * value with the opposite class — the mass where ranking is
    * ambiguous), auc.
    */
  def auc(scored: DataFrame, groupCol: String, scoreCol: String,
      posCol: String): DataFrame = {
    val vals = scored
      .groupBy(col(groupCol), col(scoreCol).as("s"))
      .agg(
        count(lit(1)).as("c"),
        sum(col(posCol).cast("long")).as("c_pos"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vals.withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
    ranked
      .groupBy(col(groupCol))
      .agg(
        sum(col("c_pos")).as("n_pos"),
        sum(col("c") - col("c_pos")).as("n_neg"),
        sum(when(col("c_pos") > 0 && col("c_pos") < col("c"), col("c"))
          .otherwise(0L)).as("n_ties"),
        sum(col("c_pos") * (lit(2L) * col("below") + col("c") + lit(1L)))
          .as("num2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"), col("n_ties"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("num2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double")
            / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
          .as("auc"))
  }

  /** Exact AVERAGE PRECISION (area under the precision-recall curve,
    * step-wise over distinct thresholds — the sklearn definition,
    * which is well-defined under ties where per-row interpolation is
    * not): AP = Σ_thresholds (ΔTP/n₊)·(TP/N) with TP/N the cumulative
    * positives/rows at or above the threshold. AUC (above) weighs
    * errors by the NEGATIVE class; on imbalanced gate data AP is the
    * metric that moves when the positive slice is rare — report both.
    *
    * Exactness: each block term is one double division of BIGINT
    * products (ΔTP·TP over n₊·N), accumulated with the
    * pround8/DECIMAL(28,8) order-free sum. Same scale shape as
    * [[auc]]: one hash agg to distinct values, one window per group,
    * one final agg.
    *
    * Output: groupCol, n_pos, n_neg, n_thresholds, prevalence (the
    * random-classifier AP floor), ap. Groups with no positives
    * report NULL ap.
    */
  def averagePrecision(scored: DataFrame, groupCol: String,
      scoreCol: String, posCol: String): DataFrame = {
    val vals = scored
      .groupBy(col(groupCol), col(scoreCol).as("sv"))
      .agg(count(lit(1)).as("c"),
        sum(when(col(posCol), 1L).otherwise(0L)).as("c_pos"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("sv").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals.select(col(groupCol), col("c"), col("c_pos"),
      sum(col("c")).over(w).as("cn"),
      sum(col("c_pos")).over(w).as("tp"))
      .withColumn("npos_all",
        sum(col("c_pos")).over(Window.partitionBy(col(groupCol))))
    cum.groupBy(col(groupCol))
      .agg(
        sum(col("c_pos")).as("n_pos"),
        sum(col("c") - col("c_pos")).as("n_neg"),
        count(lit(1)).as("n_thresholds"),
        dsum8((col("c_pos") * col("tp")).cast("double")
          / (col("npos_all") * col("cn")).cast("double")).as("ap_raw"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        col("n_thresholds"),
        (col("n_pos").cast("double")
          / (col("n_pos") + col("n_neg")).cast("double")).as("prevalence"),
        when(col("n_pos") > 0, col("ap_raw")).as("ap"))
  }
}
