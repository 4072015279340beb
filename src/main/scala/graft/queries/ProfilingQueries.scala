package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables.Tpch
import Portable._

/** Data-profiling surface (SURVEY.md §2.4 A11/A12): describe()-style
  * summary statistics and single-pass null/duplicate profiling.
  *
  * The reference profiles one column per Spark job (notebook cell 7);
  * here every statistic for every column rides ONE aggregation pass —
  * at 100 TB that is one scan instead of one per column.
  *
  * Float parity: mean/stddev derive from exact DECIMAL sums (order-
  * independent), with the variance algebra done in identical double
  * ops both engines: var = (sumsq − sum²/n)/(n−1).
  */
object ProfilingQueries {

  private val numCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def statsFor(c: String): Seq[Column] = Seq(
    count(col(c)).as(s"${c}_count"),
    sum(col(c).cast(DecimalType(28, 6))).cast("double").as(s"${c}_sum"),
    sum((col(c) * col(c)).cast(DecimalType(28, 6))).cast("double").as(s"${c}_sumsq"),
    round(min(col(c)), 6).as(s"${c}_min"),
    round(max(col(c)), 6).as(s"${c}_max"))

  private def statsSqlFor(c: String): String = Seq(
    s"count($c) AS ${c}_count",
    s"CAST(sum(CAST($c AS DECIMAL(28,6))) AS DOUBLE) AS ${c}_sum",
    s"CAST(sum(CAST($c * $c AS DECIMAL(28,6))) AS DOUBLE) AS ${c}_sumsq",
    s"round(min($c), 6) AS ${c}_min",
    s"round(max($c), 6) AS ${c}_max").mkString(", ")

  // -- A11: describe()-equivalent, one row per column ------------------
  private val q30 = Q(
    "q30_summary_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      val wide = t.lineitem.agg(
        statsFor(numCols.head).head,
        (statsFor(numCols.head).tail ++ numCols.tail.flatMap(statsFor)): _*)
      // one row per column via explode over the single wide row — a
      // union of per-column selects would embed the whole aggregate
      // subtree once PER BRANCH and Catalyst does not CSE across
      // union arms: measured 4 full lineitem scans (90 task-sec at
      // 10×) for what is one aggregation pass
      wide.select(explode(array(numCols.map { c =>
          struct(
            lit(c).as("column_name"),
            col(s"${c}_count").as("n"),
            pround(col(s"${c}_sum") / col(s"${c}_count"), 6).as("mean"),
            pround(sqrt(
              (col(s"${c}_sumsq") - col(s"${c}_sum") * col(s"${c}_sum")
                / col(s"${c}_count"))
                / (col(s"${c}_count") - 1)), 6).as("stddev"),
            col(s"${c}_min").as("min_val"),
            col(s"${c}_max").as("max_val"))
        }: _*)).as("s"))
        .select(col("s.*"))
        .orderBy(col("column_name"))
    },
    Some {
      val wide = s"SELECT ${numCols.map(statsSqlFor).mkString(", ")} FROM lineitem"
      val perCol = numCols.map { c =>
        s"""SELECT '$c' AS column_name, ${c}_count AS n,
           ${proundSql(s"${c}_sum / ${c}_count", 6)} AS mean,
           ${proundSql(s"sqrt((${c}_sumsq - ${c}_sum * ${c}_sum / ${c}_count) / (${c}_count - 1))", 6)} AS stddev,
           ${c}_min AS min_val, ${c}_max AS max_val
         FROM wide"""
      }.mkString("\nUNION ALL\n")
      s"WITH wide AS ($wide)\n$perCol\nORDER BY column_name"
    })

  // -- A12: single-pass null + duplicate profiling ---------------------
  private val q31 = Q(
    "q31_null_dup_profile",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.events.agg(
        count(lit(1)).as("total_rows"),
        countDistinct(col("user_id"), col("event_type")).as("distinct_keys"),
        (count(lit(1)) - countDistinct(col("user_id"), col("event_type")))
          .as("dup_rows"),
        sum(col("value").isNull.cast("long")).as("null_value"),
        sum(col("props").isNull.cast("long")).as("null_props"),
        sum(col("event_type").isNull.cast("long")).as("null_event_type"))
    },
    // integer sum() → HUGEINT → float64 in pandas; CAST keeps int64 so
    // the driver's hash matches Spark's long counters
    Some("""SELECT count(*) AS total_rows,
      count(DISTINCT (user_id, event_type)) AS distinct_keys,
      count(*) - count(DISTINCT (user_id, event_type)) AS dup_rows,
      CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
      CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
      CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type
    FROM events"""))

  // -- JSON extraction over the events props column --------------------
  private val q32 = Q(
    "q32_json_extract",
    (s, dir) => {
      val t = Tpch(s, dir)
      // per-row JSON parse is the cost — restore scan splits locally
      graft.core.Scan.fanOut(t.events)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          pround(sum(col("k")).cast("double") / count(col("k")), 4).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, count(*) AS n_events,
      CAST(sum(k) AS BIGINT) AS sum_k,
      ${proundSql("CAST(sum(k) AS DOUBLE) / count(k)", 4)} AS avg_k,
      min(k) AS min_k, max(k) AS max_k
    FROM (SELECT event_type,
            CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    ORDER BY event_type"""))

  // -- A13 (engine addition): pairwise Pearson correlation matrix from
  //    EXACT decimal sums — the feature-analysis profiling step. One
  //    aggregation pass produces n, Σx, Σx², Σxy for every pair; the
  //    correlation algebra then runs in identical double ops on both
  //    engines (a built-in corr() aggregate accumulates doubles in
  //    partition order and can NOT hash-match across engines). Pair
  //    rows come from the q30 explode-over-struct shape: ONE scan. ---
  private val corrPairs =
    for (i <- numCols.indices; j <- i + 1 until numCols.size)
      yield (numCols(i), numCols(j))
  private def sxyName(a: String, b: String) = s"${a}__${b}_sumxy"
  private val q84 = Q(
    "q84_correlation_matrix",
    (s, dir) => {
      val t = Tpch(s, dir)
      // PRECONDITION: the profiled columns must be non-null — one global
      // count(*) serves as n for every pair (lineitem numerics are
      // NOT NULL by construction). On nullable columns this shape would
      // skew r silently (sums skip nulls, n doesn't): switch to
      // per-pair count(a)&count(b)… sums before reusing it there.
      //
      // 28 exact-decimal products per row is the compute-heavy-narrow
      // shape fanOut exists for: restore scan splits so the single-
      // row-group local file doesn't serialize the whole aggregation
      // onto one task (q32's lesson; no-op on multi-split data).
      val src = graft.core.Scan.fanOut(t.lineitem
        .select(numCols.map(col): _*))
      val aggs =
        Seq(count(lit(1)).as("n")) ++
          numCols.flatMap(c => Seq(
            sum(col(c).cast(DecimalType(38, 6))).cast("double").as(s"${c}_sum"),
            sum((col(c) * col(c)).cast(DecimalType(38, 6))).cast("double")
              .as(s"${c}_sumsq"))) ++
          corrPairs.map { case (a, b) =>
            sum((col(a) * col(b)).cast(DecimalType(38, 6))).cast("double")
              .as(sxyName(a, b))
          }
      val wide = src.agg(aggs.head, aggs.tail: _*)
      val nD = col("n").cast("double")
      wide.select(explode(array(corrPairs.map { case (a, b) =>
          val num = nD * col(sxyName(a, b)) - col(s"${a}_sum") * col(s"${b}_sum")
          val denA = sqrt(nD * col(s"${a}_sumsq")
            - col(s"${a}_sum") * col(s"${a}_sum"))
          val denB = sqrt(nD * col(s"${b}_sumsq")
            - col(s"${b}_sum") * col(s"${b}_sum"))
          struct(lit(a).as("col_x"), lit(b).as("col_y"),
            pround(num / (denA * denB), 6).as("pearson_r"))
        }: _*)).as("s"))
        .select(col("s.*"))
        .orderBy(col("col_x"), col("col_y"))
    },
    Some {
      val stats = numCols.map(c =>
        s"""CAST(sum(CAST($c AS DECIMAL(38,6))) AS DOUBLE) AS ${c}_sum,
           CAST(sum(CAST($c * $c AS DECIMAL(38,6))) AS DOUBLE) AS ${c}_sumsq""")
      val xys = corrPairs.map { case (a, b) =>
        s"CAST(sum(CAST($a * $b AS DECIMAL(38,6))) AS DOUBLE) AS ${sxyName(a, b)}"
      }
      val pairRows = corrPairs.map { case (a, b) =>
        val num = s"(CAST(n AS DOUBLE) * ${sxyName(a, b)} - ${a}_sum * ${b}_sum)"
        val denA = s"sqrt(CAST(n AS DOUBLE) * ${a}_sumsq - ${a}_sum * ${a}_sum)"
        val denB = s"sqrt(CAST(n AS DOUBLE) * ${b}_sumsq - ${b}_sum * ${b}_sum)"
        s"""SELECT '$a' AS col_x, '$b' AS col_y,
           ${proundSql(s"$num / ($denA * $denB)", 6)} AS pearson_r FROM wide"""
      }.mkString("\nUNION ALL\n")
      s"""WITH wide AS (
        SELECT count(*) AS n, ${(stats ++ xys).mkString(",\n          ")}
        FROM lineitem)
      $pairRows
      ORDER BY col_x, col_y"""
    })

  // -- A15 (engine addition): 3rd/4th standardized moments per numeric
  //    column from EXACT decimal power sums — ONE scan, one wide agg
  //    (the q84 shape). Powers multiply as doubles in a pinned
  //    left-assoc chain, each product cast to DECIMAL(38,6) before the
  //    (order-free) decimal sum; the moment algebra then runs in
  //    textually identical double ops on both engines. skew/kurtosis
  //    flag heavy-tailed value columns (prices, delays, token counts)
  //    that mean/std profiling (q30) cannot distinguish. -------------
  private val q106 = Q(
    "q106_moments",
    (s, dir) => {
      val t = Tpch(s, dir)
      val src = graft.core.Scan.fanOut(t.lineitem
        .select(numCols.map(col): _*))
      val aggs = Seq(count(lit(1)).as("n")) ++ numCols.flatMap { c =>
        val x = col(c).cast("double")
        val x2 = x * x
        val x3 = x2 * x
        val x4 = x3 * x
        Seq(
          sum(x.cast(DecimalType(38, 8))).cast("double").as(s"${c}_s1"),
          sum(x2.cast(DecimalType(38, 8))).cast("double").as(s"${c}_s2"),
          sum(x3.cast(DecimalType(38, 8))).cast("double").as(s"${c}_s3"),
          sum(x4.cast(DecimalType(38, 8))).cast("double").as(s"${c}_s4"))
      }
      val wide = src.agg(aggs.head, aggs.tail: _*)
      val nD = col("n").cast("double")
      wide.select(explode(array(numCols.map { c =>
          val m1 = col(s"${c}_s1") / nD
          val m2 = col(s"${c}_s2") / nD
          val m3 = col(s"${c}_s3") / nD
          val m4 = col(s"${c}_s4") / nD
          val va = m2 - m1 * m1
          val sk = (m3 - lit(3.0) * m1 * m2 + lit(2.0) * m1 * m1 * m1) /
            (va * sqrt(va))
          val ku = (m4 - lit(4.0) * m1 * m3 + lit(6.0) * m1 * m1 * m2
            - lit(3.0) * m1 * m1 * m1 * m1) / (va * va) - lit(3.0)
          struct(lit(c).as("col_name"), col("n").as("n"),
            pround(m1, 6).as("mean"), pround(sqrt(va), 6).as("stddev_pop"),
            pround(sk, 6).as("skewness"), pround(ku, 6).as("kurtosis_excess"))
        }: _*)).as("s"))
        .select(col("s.*"))
        .orderBy(col("col_name"))
    },
    Some {
      val sums = numCols.flatMap { c =>
        val x = s"CAST($c AS DOUBLE)"
        Seq(
          s"CAST(sum(CAST($x AS DECIMAL(38,8))) AS DOUBLE) AS ${c}_s1",
          s"CAST(sum(CAST($x * $x AS DECIMAL(38,8))) AS DOUBLE) AS ${c}_s2",
          s"CAST(sum(CAST($x * $x * $x AS DECIMAL(38,8))) AS DOUBLE) AS ${c}_s3",
          s"CAST(sum(CAST($x * $x * $x * $x AS DECIMAL(38,8))) AS DOUBLE) AS ${c}_s4")
      }.mkString(",\n          ")
      val rows = numCols.map { c =>
        val n = "CAST(n AS DOUBLE)"
        val m1 = s"(${c}_s1 / $n)"
        val m2 = s"(${c}_s2 / $n)"
        val m3 = s"(${c}_s3 / $n)"
        val m4 = s"(${c}_s4 / $n)"
        val va = s"($m2 - $m1 * $m1)"
        val sk = s"($m3 - 3.0 * $m1 * $m2 + 2.0 * $m1 * $m1 * $m1) " +
          s"/ ($va * sqrt($va))"
        val ku = s"($m4 - 4.0 * $m1 * $m3 + 6.0 * $m1 * $m1 * $m2" +
          s" - 3.0 * $m1 * $m1 * $m1 * $m1) / ($va * $va) - 3.0"
        s"""SELECT '$c' AS col_name, n,
           ${proundSql(m1, 6)} AS mean,
           ${proundSql(s"sqrt($va)", 6)} AS stddev_pop,
           ${proundSql(sk, 6)} AS skewness,
           ${proundSql(ku, 6)} AS kurtosis_excess FROM wide"""
      }.mkString("\nUNION ALL\n")
      s"""WITH wide AS (
        SELECT count(*) AS n,
          $sums
        FROM lineitem)
      $rows
      ORDER BY col_name"""
    })

  // -- A14 (engine addition): chi-square association between two
  //    categorical columns + Cramér's V — log-free feature-selection
  //    statistics (entropy/MI need ln(), which differs in the last
  //    ulp across libm implementations; chi² is rational + one sqrt).
  //    The cell fold runs in SORTED cell order on both engines
  //    (aggregate∘sort_array ≡ list_reduce∘list_sort), so the double
  //    sum is partition- and engine-independent. Contingency table =
  //    one hash agg; everything after is broadcast-scale. ------------
  private val q85 = Q(
    "q85_chi2_association",
    (s, dir) => {
      val t = Tpch(s, dir)
      // materialize the (tiny) contingency table once: it feeds FOUR
      // branches (row totals, col totals, grand, the term join) and
      // Catalyst does not CSE across branches — without this the
      // lineitem scan+agg ran four times (the q30/semanticDedup
      // lesson applied)
      val cells = t.lineitem
        .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(true)
      val rowTot = cells.groupBy(col("rf")).agg(sum(col("o")).as("rt"))
      val colTot = cells.groupBy(col("ls")).agg(sum(col("o")).as("ct"))
      val grand = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("rf")).as("r"), countDistinct(col("ls")).as("c"))
      val term = {
        val e = col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double")
        val d = col("o").cast("double") - e
        d * d / e
      }
      cells
        .join(broadcast(rowTot), "rf")
        .join(broadcast(colTot), "ls")
        .crossJoin(broadcast(grand))
        .select(col("rf"), col("ls"), term.as("term"),
          col("n"), col("r"), col("c"))
        .agg(
          aggregate(sort_array(collect_list(struct(col("rf"), col("ls"),
              col("term")))),
            lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"),
          first(col("n")).as("n_rows"),
          first(col("r")).as("n_rf"), first(col("c")).as("n_ls"))
        .select(
          pround(col("chi2"), 6).as("chi2"),
          pround(sqrt(col("chi2")
            / (col("n_rows").cast("double")
              * least(col("n_rf") - 1, col("n_ls") - 1).cast("double"))), 6)
            .as("cramers_v"),
          col("n_rows"), col("n_rf"), col("n_ls"))
    },
    Some(s"""WITH cells AS (
        SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS o
        FROM lineitem GROUP BY 1, 2),
      rt AS (SELECT rf, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY rf),
      ct AS (SELECT ls, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY ls),
      g AS (SELECT CAST(sum(o) AS BIGINT) AS n,
          count(DISTINCT rf) AS r, count(DISTINCT ls) AS c FROM cells),
      terms AS (
        SELECT cells.rf, cells.ls,
          (CAST(o AS DOUBLE)
            - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(o AS DOUBLE)
            - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
            AS term,
          n, r, c
        FROM cells JOIN rt USING (rf) JOIN ct USING (ls) CROSS JOIN g),
      folded AS (
        SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(
              list_sort(list(struct_pack(rf := rf, ls := ls, term := term))),
              x -> x.term)),
            (a, b) -> a + b) AS chi2,
          min(n) AS n_rows, min(r) AS n_rf, min(c) AS n_ls
        FROM terms)
      SELECT ${proundSql("chi2", 6)} AS chi2,
        ${proundSql(
          "sqrt(chi2 / (CAST(n_rows AS DOUBLE) * CAST(LEAST(n_rf - 1, n_ls - 1) AS DOUBLE)))",
          6)} AS cramers_v,
        n_rows, n_rf, n_ls
      FROM folded"""))

  // -- Approximate sketches (HLL distinct + approx percentiles).
  //    Sketch VALUES differ between engines by construction (HLL
  //    register layout, t-digest vs KLL), so the oracle checks the
  //    sketch CONTRACT instead: each engine computes its own sketch
  //    AND the exact answer, and emits the exact values plus boolean
  //    within-bounds flags. Both sides agree bit-exactly on those —
  //    an out-of-bounds sketch on either engine flips a flag and
  //    fails the hash compare. Tolerances are generous multiples of
  //    the advertised error (3x rsd for HLL; 5% relative for the
  //    percentile sketches at accuracy 10k) so the flags are stable,
  //    while the tight bounds stay asserted in SketchesSpec. --------
  private val q40 = Q(
    "q40_approx_sketches",
    (s, dir) => {
      val t = Tpch(s, dir)
      // ONE lineitem scan, ONE exchange: the sort-based exact-
      // percentile dataflow (window rank keyed by l_returnflag, O(1)
      // memory/group — not Spark's builtin `percentile`, whose
      // per-group value buffering cost ~25x this whole query's task
      // time at sf0.1) carries l_partkey through the ranked rows, so
      // every other aggregate rides the same pass and the final hash
      // aggregation reuses the window's partitioning. r4 re-read
      // lineitem for the sketch side and joined — two scans.
      //
      // exact_distinct deliberately avoids countDistinct: mixing a
      // distinct with non-distinct aggregates makes Spark Expand the
      // rows and build the HLL/percentile_approx sketch partials per
      // (group, partkey) — ~20k sketch buffers at sf0.1, the dominant
      // cost of both r4's version (17.9 task-sec) and a naive fusion
      // (21.5). Instead a lag window over partkey (same partitioning,
      // one extra in-partition sort, no exchange) marks each first
      // occurrence and exact_distinct is a plain sum — every aggregate
      // stays non-distinct, no Expand, sketch buffers per GROUP only.
      val pkRuns = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_partkey"))
      val prevPk = lag(col("l_partkey"), 1).over(pkRuns)
      val marked = t.lineitem
        .select(col("l_returnflag"), col("l_partkey"), col("l_extendedprice"))
        .withColumn("__new_pk",
          (col("l_partkey").isNotNull &&
            (prevPk.isNull || prevPk =!= col("l_partkey"))).cast("long"))
      val fused = graft.operators.Percentiles.groupedExactWithAggs(
        marked, "l_returnflag", "l_extendedprice",
        Seq(0.5, 0.95, 0.99), Seq("__ep50", "__ep95", "__ep99"),
        Seq(
          count(lit(1)).as("n_rows"),
          sum(col("__new_pk")).as("exact_distinct"),
          graft.operators.Sketches.approxDistinct(col("l_partkey"), 0.05)
            .as("__ad"),
          // accuracy 2000: rank error n/2000 = 0.05% of the group, far
          // inside the 5% value tolerance, at ~1/5 the update cost of
          // the 10000 default
          graft.operators.Sketches.approxPercentiles(col("l_extendedprice"),
            Seq(0.5, 0.95, 0.99), accuracy = 2000).as("__ap")))
      def pOk(i: Int, ep: String) =
        (abs(col("__ap")(i) - col(ep)) / col(ep) <= lit(0.05))
      fused
        .select(col("l_returnflag"), col("n_rows"), col("exact_distinct"),
          (abs(col("__ad") - col("exact_distinct"))
            / col("exact_distinct").cast("double") <= lit(0.15))
            .as("distinct_ok"),
          pround(col("__ep50"), 4).as("exact_p50"), pOk(0, "__ep50").as("p50_ok"),
          pround(col("__ep95"), 4).as("exact_p95"), pOk(1, "__ep95").as("p95_ok"),
          pround(col("__ep99"), 4).as("exact_p99"), pOk(2, "__ep99").as("p99_ok"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""SELECT l_returnflag, count(*) AS n_rows,
      count(DISTINCT l_partkey) AS exact_distinct,
      abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        / CAST(count(DISTINCT l_partkey) AS DOUBLE) <= 0.15 AS distinct_ok,
      ${proundSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS exact_p50,
      abs(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
        / quantile_cont(l_extendedprice, 0.5) <= 0.05 AS p50_ok,
      ${proundSql("quantile_cont(l_extendedprice, 0.95)", 4)} AS exact_p95,
      abs(approx_quantile(l_extendedprice, 0.95) - quantile_cont(l_extendedprice, 0.95))
        / quantile_cont(l_extendedprice, 0.95) <= 0.05 AS p95_ok,
      ${proundSql("quantile_cont(l_extendedprice, 0.99)", 4)} AS exact_p99,
      abs(approx_quantile(l_extendedprice, 0.99) - quantile_cont(l_extendedprice, 0.99))
        / quantile_cont(l_extendedprice, 0.99) <= 0.05 AS p99_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""))

  // -- A15 (engine addition): robust location/scale profiling — exact
  //    per-group median and MAD (median absolute deviation) plus the
  //    |dev| > 3·1.4826·MAD outlier count, the robust-z-score outlier
  //    rule a feature pipeline applies where mean/stddev would be
  //    dragged by the outliers themselves. Three passes by necessity
  //    (median → deviations → MAD → count), each fully parallel: the
  //    percentile passes ride the auto-dispatched rank-select shape
  //    (3 groups ≪ P — the window shape would serialize onto 3 tasks)
  //    and the tiny bounds tables broadcast back. Bit-exact vs DuckDB:
  //    the rank-select interpolation performs quantile_cont's exact
  //    double arithmetic (the q67 parity), so every outlier comparison
  //    agrees.
  private val q92 = Q(
    "q92_robust_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      val P = graft.operators.Percentiles
      val src = t.lineitem.select(col("l_returnflag"), col("l_extendedprice"))
      val med = P.groupedExactAuto(src, "l_returnflag",
        Seq(("l_extendedprice", Seq(0.5), Seq("med"))), groupCountHint = 3L)
      val dev = src.join(broadcast(med), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          abs(col("l_extendedprice") - col("med")).as("absdev"))
      val mad = P.groupedExactAuto(dev, "l_returnflag",
        Seq(("absdev", Seq(0.5), Seq("mad"))), groupCountHint = 3L)
      val bounds = med.join(mad, Seq("l_returnflag"))
      src.join(broadcast(bounds), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          pround(any_value(col("med")), 4).as("median"),
          pround(any_value(col("mad")), 4).as("mad"),
          sum((abs(col("l_extendedprice") - col("med")) >
            lit(3.0) * lit(1.4826) * col("mad")).cast("long")).as("n_outliers"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""WITH med AS (
        SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY l_returnflag),
      mad AS (
        SELECT l.l_returnflag,
          quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
        FROM lineitem l JOIN med m USING (l_returnflag)
        GROUP BY l.l_returnflag),
      b AS (
        SELECT med.l_returnflag, med.med, mad.mad
        FROM med JOIN mad USING (l_returnflag))
      SELECT l.l_returnflag, count(*) AS n_rows,
        ${proundSql("min(b.med)", 4)} AS median,
        ${proundSql("min(b.mad)", 4)} AS mad,
        CAST(sum(CASE WHEN abs(l.l_extendedprice - b.med)
            > 3.0 * 1.4826 * b.mad THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers
      FROM lineitem l JOIN b USING (l_returnflag)
      GROUP BY l.l_returnflag
      ORDER BY l.l_returnflag"""))

  // -- P9: histogram-sketch quantiles vs exact — the MERGEABLE
  //    quantile path for 100 TB (a fixed-bin histogram is one
  //    B-bounded hash agg, shard histograms fold by addition — where
  //    exact quantiles need a sort) with its error MEASURED against
  //    the exact interpolated percentiles on the same rows (the
  //    q228/q230 sketch-row discipline). Binning is integer-exact on
  //    price cents; the estimator places rank p·(n−1) uniformly
  //    within its bin; the exact side is Percentiles.groupedExact
  //    (quantile_cont semantics, strict-proven by q38/q67). The
  //    64-row histogram is bounded driver state (the centroid
  //    discipline), so estimation is plain driver arithmetic replayed
  //    by the oracle's prefix-sum CTE.
  private val HQ_B = 64
  private val HQ_PS = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
  private val q239 = Q(
    "q239_hist_quantiles",
    (s, dir) => {
      val t = Tpch(s, dir)
      // floor(x·100 + 0.5): the portable cents conversion — a bare
      // cast rounds in DuckDB but truncates in Spark (dialect gotcha)
      val v = t.lineitem
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long")
          .as("c"))
        .localCheckpoint(true) // scanned by stats+hist and the exact sort
      val st = v.agg(min(col("c")).as("mn"), max(col("c")).as("mx"),
        count(lit(1)).as("n")).head()
      val (mn, mx, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
      val hist = v
        .select(expr(s"((c - $mn) * $HQ_B) div ($mx - $mn + 1)").as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      val west = (mx - mn + 1).toDouble / HQ_B
      val cum = hist.scanLeft(0L)(_ + _._2).init // count before each bin
      val estRows = HQ_PS.map { p =>
        val pos = p * (n - 1).toDouble
        val rank = math.floor(pos).toLong + 1 // 1-based
        val i = hist.indices.find(i => cum(i) + hist(i)._2 >= rank).get
        val (b, cnt) = hist(i)
        val est = mn + (b.toDouble + (pos - cum(i).toDouble) / cnt.toDouble) * west
        (math.round(p * 100).toInt, est)
      }
      val sp = s
      import sp.implicits._
      val est = estRows.toDF("pct", "hist_est")
      val names = HQ_PS.map(p => s"p${math.round(p * 100)}")
      val exactRow = graft.operators.Percentiles.groupedExact(
        v.withColumn("g", lit(1)), "g", "c", HQ_PS, names)
      val exact = exactRow.select(explode(array(
          HQ_PS.zip(names).map { case (p, nm) =>
            struct(lit(math.round(p * 100).toInt).as("pct"),
              col(nm).as("exact_v"))
          }: _*)).as("e"))
        .select(col("e.pct").as("pct"), col("e.exact_v").as("exact_v"))
      est.join(broadcast(exact), Seq("pct"))
        .select(col("pct"), pround(col("exact_v"), 6).as("exact_v"),
          pround(col("hist_est"), 6).as("hist_est"),
          pround(abs(col("hist_est") - col("exact_v")), 6).as("abs_err"),
          pround(abs(col("hist_est") - col("exact_v")) / col("exact_v"), 8)
            .as("rel_err"))
        .orderBy(col("pct"))
    },
    Some {
      val exUnion = HQ_PS.map(p =>
        s"""SELECT ${math.round(p * 100)} AS pct,
          quantile_cont(CAST(c AS DOUBLE), $p) AS exact_v FROM v""")
        .mkString(" UNION ALL ")
      // CAST each p: a bare 0.25 literal is DECIMAL in DuckDB, and a
      // decimal pos would diverge from the engine's double arithmetic
      val psList = HQ_PS.map(p => s"CAST($p AS DOUBLE)").mkString(", ")
      s"""WITH v AS MATERIALIZED (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        FROM lineitem),
      st AS MATERIALIZED (
        SELECT min(c) AS mn, max(c) AS mx, CAST(count(*) AS BIGINT) AS n
        FROM v),
      hist AS MATERIALIZED (
        SELECT ((c - mn) * $HQ_B) // (mx - mn + 1) AS b,
          CAST(count(*) AS BIGINT) AS cnt
        FROM v CROSS JOIN st GROUP BY 1),
      cum AS (
        SELECT b, cnt, sum(cnt) OVER (ORDER BY b) - cnt AS cb FROM hist),
      qs AS (SELECT unnest([$psList]) AS p),
      sel AS (
        SELECT p, pos, b, cnt, cb FROM (
          SELECT q.p, q.p * (st.n - 1) AS pos, c2.b, c2.cnt, c2.cb,
            row_number() OVER (PARTITION BY q.p ORDER BY c2.b) AS rn
          FROM qs q CROSS JOIN st
          JOIN cum c2 ON c2.cb + c2.cnt >= floor(q.p * (st.n - 1)) + 1)
        WHERE rn = 1),
      est AS (
        SELECT CAST(round(p * 100) AS INT) AS pct,
          mn + (b + (pos - cb) / cnt) * (CAST(mx - mn + 1 AS DOUBLE) / $HQ_B)
            AS hist_est
        FROM sel CROSS JOIN st),
      ex AS ($exUnion)
      SELECT pct, ${proundSql("exact_v", 6)} AS exact_v,
        ${proundSql("hist_est", 6)} AS hist_est,
        ${proundSql("abs(hist_est - exact_v)", 6)} AS abs_err,
        ${proundSql("abs(hist_est - exact_v) / exact_v", 8)} AS rel_err
      FROM est JOIN ex USING (pct)
      ORDER BY pct"""
    })

  // -- P10: BENFORD first-digit audit — the fraud/corruption screen
  //    every data-quality suite carries: the leading digit of a
  //    naturally-spread positive measure should follow
  //    P(d) = log10(1 + 1/d); a flat or spiked distribution flags
  //    synthetic, truncated, or hand-edited data. Expected
  //    frequencies are ln-ratio constants computed ONCE via the
  //    deterministic lnDet (ln(1+1/d)/ln(10) — nine shared literals,
  //    engine and oracle interpolate the identical doubles); the
  //    leading digit itself is integer arithmetic (repeated //10);
  //    χ² contribution per digit is a fixed two-operand expression
  //    over exact counts. The verdict row: lineitem prices measure
  //    χ² ≈ small (dgen prices are spread), a deliberately truncated
  //    column would spike — the statistic is REPORTED per digit so
  //    the reader sees where the mass sits.
  private val q241 = Q(
    "q241_benford_audit",
    (s, dir) => {
      val t = Tpch(s, dir)
      // leading digit = first char of the decimal rendering (integers
      // print identically in both engines). NOT a nested when-chain of
      // conditional divisions: each when level TRIPLES the expression
      // tree (condition + both branches repeat the child), and the
      // 7-level version measured ~3.2 s of pure Catalyst driver time
      // per run — the q241 lesson on expression-tree blowup.
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      def ld(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        substring(c.cast("string"), 1, 1)
      val benford = (1 to 9).map(d =>
        d -> graft.expressions.LnDet.compute(1.0 + 1.0 / d) /
          graft.expressions.LnDet.compute(10.0))
      val expLit = map(benford.flatMap { case (d, p) =>
        Seq(lit(d), lit(p)) }: _*)
      val counts = t.lineitem
        .select(ld(cents).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
      val n = counts.agg(sum(col("obs")).as("n"))
      counts.crossJoin(broadcast(n))
        .select(col("digit"), col("obs"),
          (element_at(expLit, col("digit")) * col("n").cast("double"))
            .as("expected"))
        .select(col("digit"), col("obs"),
          pround(col("expected"), 4).as("expected"),
          pround((col("obs").cast("double") - col("expected"))
            * (col("obs").cast("double") - col("expected"))
            / col("expected"), 6).as("chi2_term"))
        .orderBy(col("digit"))
    },
    Some {
      val benford = (1 to 9).map(d =>
        d -> graft.expressions.LnDet.compute(1.0 + 1.0 / d) /
          graft.expressions.LnDet.compute(10.0))
      val expCase = benford.map { case (d, p) =>
        s"WHEN $d THEN CAST($p AS DOUBLE)" }.mkString(" ")
      s"""WITH digits AS MATERIALIZED (
        SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT) AS digit
        FROM (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
              AS x FROM lineitem)),
      counts AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS obs
        FROM digits GROUP BY digit),
      n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM counts)
      SELECT digit, obs,
        ${proundSql("(CASE digit " + expCase + " END) * CAST(n.n AS DOUBLE)",
          4)} AS expected,
        ${proundSql(
          """(CAST(obs AS DOUBLE)
              - (CASE digit """ + expCase + """ END) * CAST(n.n AS DOUBLE))
            * (CAST(obs AS DOUBLE)
              - (CASE digit """ + expCase + """ END) * CAST(n.n AS DOUBLE))
            / ((CASE digit """ + expCase + """ END) * CAST(n.n AS DOUBLE))""",
          6)} AS chi2_term
      FROM counts CROSS JOIN n
      ORDER BY digit"""
    })

  // -- P11: k-anonymity / l-diversity release audit
  //    ([[graft.operators.Privacy]]) — the privacy gate a training-
  //    data release runs before shipping rows that carry demographic
  //    quasi-identifiers. Records = orders × customer; QI =
  //    (nation, market segment, order year) — attributes an adversary
  //    can cross-reference; sensitive = order priority. Per nation:
  //    the k the release actually achieves (min class size), the l of
  //    the sensitive column, and how much record mass sits in classes
  //    below the k=5 release threshold. Two hash aggregations, no
  //    driver state — the 100 TB shape is identical.
  private val ANON_K = 5L
  private val q245 = Q(
    "q245_k_anonymity",
    (s, dir) => {
      val t = Tpch(s, dir)
      val recs = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      graft.operators.Privacy.kAnonymityAudit(recs,
          Seq("c_nationkey", "c_mktsegment", "o_year"),
          "o_orderpriority", ANON_K, Seq("c_nationkey"))
        .orderBy(col("c_nationkey"))
    },
    Some(s"""WITH recs AS (
        SELECT c.c_nationkey, c.c_mktsegment,
          year(o.o_orderdate) AS o_year, o.o_orderpriority
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      classes AS (
        SELECT c_nationkey, c_mktsegment, o_year,
          CAST(count(*) AS BIGINT) AS class_size,
          CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS class_l
        FROM recs GROUP BY 1, 2, 3)
      SELECT c_nationkey,
        CAST(sum(class_size) AS BIGINT) AS n_records,
        CAST(count(*) AS BIGINT) AS n_classes,
        CAST(min(class_size) AS BIGINT) AS k_anonymity,
        CAST(min(class_l) AS BIGINT) AS l_diversity,
        CAST(sum(CASE WHEN class_size < $ANON_K THEN class_size
          ELSE 0 END) AS BIGINT) AS n_risky_records,
        ${proundSql(
          s"""CAST(sum(CASE WHEN class_size < $ANON_K THEN class_size
            ELSE 0 END) AS DOUBLE) / CAST(sum(class_size) AS DOUBLE)""",
          6)} AS pct_risky
      FROM classes
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""))

  // -- P12: exact ROC-AUC scorer audit ([[graft.operators.RocAuc]]) —
  //    before a quality gate's threshold is trusted, its score must be
  //    shown to DISCRIMINATE: AUC is the probability a random positive
  //    outranks a random negative. Two candidate scorers over the
  //    embeddings corpus (first component, squared norm) are ranked
  //    against the label<5 class in one scan (explode to long form) +
  //    the operator's integral Mann-Whitney: every intermediate is a
  //    BIGINT, one double division at the end, so the audit is
  //    bit-exact at any scale and any partitioning.
  private def norm2Sql(v: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       | list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       | (x, y) -> x + y)""".stripMargin
  private val q246 = Q(
    "q246_score_auc",
    (s, dir) => {
      val t = Tpch(s, dir)
      val scored = t.embeddings.select(
          (col("label") < 5).as("pos"),
          explode(array(
            struct(lit("component_1").as("scorer"),
              element_at(col("embedding"), 1).cast("double").as("score")),
            struct(lit("squared_norm").as("scorer"),
              graft.operators.Similarity.norm2(col("embedding"))
                .as("score")))).as("sc"))
        .select(col("sc.scorer").as("scorer"), col("sc.score").as("score"),
          col("pos"))
      graft.operators.RocAuc.auc(scored, "scorer", "score", "pos")
        .select(col("scorer"), col("n_pos"), col("n_neg"), col("n_ties"),
          pround(col("auc"), 6).as("auc"))
        .orderBy(col("scorer"))
    },
    Some(s"""WITH base AS (
        SELECT label < 5 AS pos,
          CAST(embedding[1] AS DOUBLE) AS component_1,
          ${norm2Sql("embedding")} AS squared_norm
        FROM embeddings),
      scored AS (
        SELECT 'component_1' AS scorer, component_1 AS score, pos FROM base
        UNION ALL
        SELECT 'squared_norm', squared_norm, pos FROM base),
      vals AS (
        SELECT scorer, score AS sv, CAST(count(*) AS BIGINT) AS c,
          CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos
        FROM scored GROUP BY 1, 2),
      ranked AS (
        SELECT scorer, c, c_pos,
          coalesce(sum(c) OVER (PARTITION BY scorer ORDER BY sv
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM vals),
      agg AS (
        SELECT scorer,
          CAST(sum(c_pos) AS BIGINT) AS n_pos,
          CAST(sum(c - c_pos) AS BIGINT) AS n_neg,
          CAST(sum(CASE WHEN c_pos > 0 AND c_pos < c THEN c ELSE 0 END)
            AS BIGINT) AS n_ties,
          CAST(sum(c_pos * (2 * below + c + 1)) AS BIGINT) AS num2
        FROM ranked GROUP BY scorer)
      SELECT scorer, n_pos, n_neg, n_ties,
        ${proundSql(
          """CAST(num2 - n_pos * (n_pos + 1) AS DOUBLE)
             / CAST(2 * n_pos * n_neg AS DOUBLE)""", 6)} AS auc
      FROM agg
      ORDER BY scorer"""))

  // -- P13: THEIL-SEN robust trend — the median-of-pairwise-slopes
  //    estimator (29% breakdown point: a third of the days can be
  //    corrupted before the trend moves) next to the OLS slope it
  //    robustifies, per event type over daily counts. Every slope is
  //    one double division of exact integers (day diffs × count
  //    diffs), the median is an order-statistic pick (row_number) —
  //    no accumulation anywhere, so the estimate is bit-exact. Pair
  //    count is |days|²/2 per type — days, not rows, so the self-join
  //    is over an aggregate bounded by the calendar at any corpus
  //    size.
  private val q253 = Q(
    "q253_theil_sen",
    (s, dir) => {
      val t = Tpch(s, dir)
      val daily = t.eventsUs
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val p = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type")
            && col("a.day") < col("b.day"))
        .select(col("a.event_type").as("event_type"),
          col("a.day").as("ad"), col("b.day").as("bd"),
          ((col("b.n") - col("a.n")).cast("double")
            / (col("b.day") - col("a.day")).cast("double")).as("slope"))
      val m = p.groupBy(col("event_type")).agg(count(lit(1)).as("m"))
      val rk = p.withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("slope").asc, col("ad").asc, col("bd").asc)))
      val med = rk.join(m, Seq("event_type"))
        .filter(col("rk") === expr("(m + 1) div 2")
          || col("rk") === expr("m div 2 + 1"))
        .groupBy(col("event_type"))
        .agg((sum(col("slope")) / count(lit(1))).as("ts_slope"),
          min(col("m")).as("n_pairs"))
      val ols = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("day")).as("sx"), sum(col("n")).as("sy"),
          sum(col("day") * col("day")).as("sxx"),
          sum(col("day") * col("n")).as("sxy"))
        .select(col("event_type"), col("n_days"),
          ((col("n_days") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (col("n_days") * col("sxx") - col("sx") * col("sx"))
              .cast("double")).as("ols_slope"))
      ols.join(med, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          pround(col("ts_slope"), 6).as("ts_slope"),
          pround(col("ols_slope"), 6).as("ols_slope"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH daily AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      p AS MATERIALIZED (
        SELECT a.event_type, a.day AS ad, b.day AS bd,
          CAST(b.n - a.n AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
            AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m
        FROM p GROUP BY 1),
      rk AS (
        SELECT event_type, slope, row_number() OVER (
            PARTITION BY event_type
            ORDER BY slope ASC, ad ASC, bd ASC) AS rk
        FROM p),
      med AS (
        SELECT rk.event_type AS event_type,
          sum(slope) / count(*) AS ts_slope,
          min(m) AS n_pairs
        FROM rk JOIN m USING (event_type)
        WHERE rk = (m + 1) // 2 OR rk = m // 2 + 1
        GROUP BY 1),
      ols AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          CAST(count(*) * sum(day * n) - sum(day) * sum(n) AS DOUBLE)
            / CAST(count(*) * sum(day * day) - sum(day) * sum(day)
              AS DOUBLE) AS ols_slope
        FROM daily GROUP BY 1)
      SELECT event_type, n_days, n_pairs,
        ${proundSql("ts_slope", 6)} AS ts_slope,
        ${proundSql("ols_slope", 6)} AS ols_slope
      FROM ols JOIN med USING (event_type)
      ORDER BY event_type"""))

  // -- P14: t-closeness release audit ([[graft.operators.Privacy
  //    .tClosenessAudit]]) — completes the release-privacy triad next
  //    to q245's k-anonymity/l-diversity: a class can pass both and
  //    still leak through its sensitive-value DISTRIBUTION. Ordered
  //    EMD over the 5 ordinal o_orderpriority values, exact BIGINT
  //    numerator (|C_i·N − G_i·s| sums), one double division per
  //    class; the violation gate is the scale-free noise-normalized
  //    deviation emd·√class_size > 0.5 so the audit keeps meaning
  //    (and both gate branches stay live) from sf0.001 through the
  //    10× sweep. Same QI tuple as q245 so the two audits read as one
  //    report family.
  private val TCLOSE_C = 0.5
  private val q267 = Q(
    "q267_t_closeness",
    (s, dir) => {
      val t = Tpch(s, dir)
      val recs = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      graft.operators.Privacy.tClosenessAudit(recs,
          Seq("c_nationkey", "c_mktsegment", "o_year"),
          "o_orderpriority", TCLOSE_C, Seq("c_nationkey"),
          normalized = true)
        .orderBy(col("c_nationkey"))
    },
    Some(s"""WITH recs AS (
        SELECT c.c_nationkey, c.c_mktsegment,
          year(o.o_orderdate) AS o_year, o.o_orderpriority AS sv
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      cells AS MATERIALIZED (
        SELECT c_nationkey, c_mktsegment, o_year, sv,
          CAST(count(*) AS BIGINT) AS cnt
        FROM recs GROUP BY 1, 2, 3, 4),
      gd AS MATERIALIZED (
        SELECT sv, CAST(sum(gcnt) OVER (ORDER BY sv) AS BIGINT) AS gcum
        FROM (SELECT sv, count(*) AS gcnt FROM recs GROUP BY 1)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM recs),
      mrow AS (SELECT CAST(count(*) AS BIGINT) AS m_vals FROM gd),
      classes AS (
        SELECT c_nationkey, c_mktsegment, o_year,
          CAST(sum(cnt) AS BIGINT) AS class_size
        FROM cells GROUP BY 1, 2, 3),
      grid AS (
        SELECT cl.*, g.sv, COALESCE(ce.cnt, 0) AS cnt
        FROM classes cl CROSS JOIN (SELECT sv FROM gd) g
        LEFT JOIN cells ce
          USING (c_nationkey, c_mktsegment, o_year, sv)),
      cum AS (
        SELECT *, CAST(sum(cnt) OVER (
            PARTITION BY c_nationkey, c_mktsegment, o_year
            ORDER BY sv) AS BIGINT) AS ccum
        FROM grid),
      emd AS (
        SELECT c_nationkey, class_size,
          CAST(sum(abs(ccum * n_total - gcum * class_size)) AS DOUBLE)
            / (CAST(class_size AS DOUBLE) * n_total * (m_vals - 1)) AS emd
        FROM cum JOIN gd USING (sv) CROSS JOIN tot CROSS JOIN mrow
        GROUP BY c_nationkey, c_mktsegment, o_year, class_size,
          n_total, m_vals)
      SELECT c_nationkey,
        CAST(sum(class_size) AS BIGINT) AS n_records,
        CAST(count(*) AS BIGINT) AS n_classes,
        ${proundSql("max(emd)", 6)} AS t_max,
        CAST(sum(CASE WHEN emd * sqrt(CAST(class_size AS DOUBLE))
          > $TCLOSE_C THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        CAST(sum(CASE WHEN emd * sqrt(CAST(class_size AS DOUBLE))
          > $TCLOSE_C THEN class_size ELSE 0 END) AS BIGINT)
          AS n_exposed_records,
        ${proundSql(
          s"""CAST(sum(CASE WHEN emd * sqrt(CAST(class_size AS DOUBLE))
            > $TCLOSE_C THEN class_size ELSE 0 END) AS DOUBLE)
            / CAST(sum(class_size) AS DOUBLE)""", 6)} AS pct_exposed
      FROM emd
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""))

  // -- P15: autocorrelation audit — the metrology UNDER the monitor
  //    family's assumptions: q270's Holt-Winters pins m=7 weekly
  //    seasonality and q242/q254 assume short-memory residuals; the
  //    ACF measures whether the daily series actually carries those
  //    structures. Exact arithmetic: with S = Σx over the n days, the
  //    lag-k autocorrelation Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²
  //    rescales to ALL-INTEGER sums Σ(n·x_t−S)(n·x_{t+k}−S) over
  //    Σ(n·x_t−S)² (the n² cancels) — one double division per lag,
  //    bit-exact at any partitioning. The ±2/√n white-noise band is
  //    emitted alongside (sqrt is correctly-rounded IEEE) so the
  //    audit row reads as significant/not per lag. Small-data note:
  //    the lag-k numerator runs over n−k aligned pairs, the plain
  //    Box-Jenkins estimator.
  private val ACF_MAXLAG = 10
  private val q273 = Q(
    "q273_acf_audit",
    (s, dir) => {
      val t = Tpch(s, dir)
      val daily = t.eventsUs
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("sn"))
      val cent = daily.join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), col("day"), col("nd"),
          (col("nd") * col("n") - col("sn")).as("c"))
        .localCheckpoint(true)
      val lags = lagSpine(s)
      val den = cent.groupBy(col("event_type"))
        .agg(sum(col("c") * col("c")).as("den"), min(col("nd")).as("nd"))
      val num = cent.as("a")
        .crossJoin(broadcast(lags))
        .join(cent.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.day") === col("a.day") + col("lag"))
        .groupBy(col("a.event_type").as("event_type"), col("lag"))
        .agg(sum(col("a.c") * col("b.c")).as("num"),
          count(lit(1)).as("n_pairs"))
      num.join(broadcast(den), Seq("event_type"))
        .select(col("event_type"), col("lag"), col("n_pairs"),
          pround(col("num").cast("double") / col("den").cast("double"), 6)
            .as("acf"),
          pround(lit(2.0) / sqrt(col("nd").cast("double")), 6).as("band"))
        .orderBy(col("event_type"), col("lag"))
    },
    Some(s"""WITH daily AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
          CAST(sum(n) AS BIGINT) AS sn
        FROM daily GROUP BY event_type),
      cent AS MATERIALIZED (
        SELECT d.event_type, d.day, s.nd, d.n * s.nd - s.sn AS c
        FROM daily d JOIN stats s USING (event_type)),
      den AS (
        SELECT event_type, CAST(sum(c * c) AS BIGINT) AS den,
          min(nd) AS nd
        FROM cent GROUP BY event_type),
      num AS (
        SELECT a.event_type, l.lag,
          CAST(sum(a.c * b.c) AS BIGINT) AS num,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM cent a
        CROSS JOIN (SELECT unnest(generate_series(1, $ACF_MAXLAG)) AS lag) l
        JOIN cent b ON b.event_type = a.event_type
          AND b.day = a.day + l.lag
        GROUP BY a.event_type, l.lag)
      SELECT event_type, lag, n_pairs,
        ${proundSql("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)", 6)} AS acf,
        ${proundSql("2.0 / sqrt(CAST(nd AS DOUBLE))", 6)} AS band
      FROM num JOIN den USING (event_type)
      ORDER BY event_type, lag"""))

  private def lagSpine(s: SparkSession) =
    s.range(1, ACF_MAXLAG + 1).select(col("id").cast("long").as("lag"))

  // -- P16: Poisson-bootstrap confidence intervals — THE bootstrap
  //    that scales: classic multinomial resampling needs coordinated
  //    draws across the whole dataset (impossible in one pass at
  //    100 TB); the Poisson bootstrap gives each (row, resample) an
  //    i.i.d. Poisson(1) weight, so all B resamples ride ONE narrow
  //    pass + one keyed aggregation. Weights come from the slotWide
  //    hash of (row_key, b) compared against PRECOMPUTED integer
  //    inverse-CDF thresholds (floor(cum_k·slotRange), interpolated
  //    as the same literals into both engines) — zero runtime libm,
  //    bit-exact everywhere. Per (returnflag, resample): effective n
  //    and the resampled mean of l_extendedprice via the exact
  //    DECIMAL(18,4) money-sum discipline; the unresampled point
  //    estimate rides alongside so the 32-resample spread reads as a
  //    CI directly.
  private val BOOT_B = 32L
  // Poisson(1) CDF at k = 0..6 (fixed literals; tail mass -> w = 7)
  private val POIS_CUM = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119)
  private val POIS_T: Seq[Long] = POIS_CUM.map(c =>
    math.floor(c * graft.operators.Sampling.slotRange).toLong)
  private val q274 = Q(
    "q274_poisson_bootstrap",
    (s, dir) => {
      val t = Tpch(s, dir)
      // 32 slotWide evaluations per input row is the compute-heavy-
      // narrow shape fanOut exists for (q84's lesson): restore scan
      // splits so the B-fold explode parallelizes past the file's
      // row-group count (measured 9.9s on 3 tasks -> sub-second wide).
      val base = graft.core.Scan.fanOut(t.lineitem)
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("x"),
          (col("l_orderkey") * lit(8L) + col("l_linenumber")).as("rk"))
      val hv = graft.operators.Sampling.slotWide(
        col("rk") * lit(BOOT_B) + col("b"))
      val w = POIS_T.zipWithIndex
        .foldLeft(org.apache.spark.sql.functions.when(lit(false), 0L)) {
          case (acc, (tk, k)) => acc.when(hv < tk, k.toLong)
        }.otherwise(7L)
      val res = base
        .select(col("flag"), col("x"), col("rk"),
          explode(sequence(lit(0L), lit(BOOT_B - 1))).as("b"))
        .withColumn("w", w)
        .groupBy(col("flag"), col("b"))
        .agg(sum(col("w")).as("n_eff"),
          sum((col("x") * col("w")).cast(DecimalType(18, 4)))
            .cast("double").as("sx"))
      val pt = base.groupBy(col("flag"))
        .agg(dsum(col("x")).as("sxf"), count(lit(1)).as("nf"))
      res.join(broadcast(pt), Seq("flag"))
        .select(col("flag").as("l_returnflag"), col("b"), col("n_eff"),
          pround(col("sx") / col("n_eff").cast("double"), 4).as("mean_b"),
          pround(col("sxf") / col("nf").cast("double"), 4).as("mean_full"))
        .orderBy(col("l_returnflag"), col("b"))
    },
    Some {
      val caseW = POIS_T.zipWithIndex
        .map { case (tk, k) => s"WHEN hv < $tk THEN $k" }
        .mkString(" ")
      s"""WITH base AS (
        SELECT l_returnflag AS flag, l_extendedprice AS x,
          l_orderkey * 8 + l_linenumber AS rk
        FROM lineitem),
      ex AS (
        SELECT flag, x, bb.b AS b,
          ${graft.operators.Sampling.slotWideSql(s"rk * $BOOT_B + bb.b")}
            AS hv
        FROM base CROSS JOIN
          (SELECT unnest(generate_series(0, ${BOOT_B - 1})) AS b) bb),
      wts AS (
        SELECT flag, x, b, CASE $caseW ELSE 7 END AS w FROM ex),
      res AS (
        SELECT flag, b, CAST(sum(w) AS BIGINT) AS n_eff,
          CAST(sum(CAST(x * w AS DECIMAL(18,4))) AS DOUBLE) AS sx
        FROM wts GROUP BY 1, 2),
      pt AS (
        SELECT flag, ${dsumSql("x")} AS sxf,
          CAST(count(*) AS BIGINT) AS nf
        FROM base GROUP BY 1)
      SELECT flag AS l_returnflag, b, n_eff,
        ${proundSql("sx / CAST(n_eff AS DOUBLE)", 4)} AS mean_b,
        ${proundSql("sxf / CAST(nf AS DOUBLE)", 4)} AS mean_full
      FROM res JOIN pt USING (flag)
      ORDER BY l_returnflag, b"""
    })

  // -- P17: average precision (PR-AUC) ([[graft.operators.RocAuc
  //    .averagePrecision]]) — q246's imbalance-aware sibling: ROC-AUC
  //    weighs errors by the NEGATIVE class, so on a rare positive
  //    slice it can sit near 1.0 while precision is garbage; AP is
  //    the metric that moves. Same scorers as q246 plus a RARE-class
  //    arm (label = 0, ~10% prevalence) so the two metrics visibly
  //    disagree in one report. Step-wise threshold AP (the sklearn
  //    definition — well-defined under ties), every block term one
  //    double division of BIGINT products, pround8/DECIMAL order-free
  //    accumulation.
  private val q278 = Q(
    "q278_average_precision",
    (s, dir) => {
      val t = Tpch(s, dir)
      val scored = t.embeddings.select(
          col("label"),
          explode(array(
            struct(lit("bal_component_1").as("scorer"),
              element_at(col("embedding"), 1).cast("double").as("score"),
              (col("label") < 5).as("pos")),
            struct(lit("rare_component_1").as("scorer"),
              element_at(col("embedding"), 1).cast("double").as("score"),
              (col("label") === 0).as("pos")))).as("sc"))
        .select(col("sc.scorer").as("scorer"), col("sc.score").as("score"),
          col("sc.pos").as("pos"))
      graft.operators.RocAuc.averagePrecision(scored, "scorer", "score",
          "pos")
        .select(col("scorer"), col("n_pos"), col("n_neg"),
          col("n_thresholds"),
          pround(col("prevalence"), 6).as("prevalence"),
          pround(col("ap"), 6).as("ap"))
        .orderBy(col("scorer"))
    },
    Some(s"""WITH base AS (
        SELECT label, CAST(embedding[1] AS DOUBLE) AS score
        FROM embeddings),
      scored AS (
        SELECT 'bal_component_1' AS scorer, score, label < 5 AS pos
        FROM base
        UNION ALL
        SELECT 'rare_component_1', score, label = 0 FROM base),
      vals AS (
        SELECT scorer, score AS sv, CAST(count(*) AS BIGINT) AS c,
          CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos
        FROM scored GROUP BY 1, 2),
      cum AS (
        SELECT scorer, c, c_pos,
          CAST(sum(c) OVER w AS BIGINT) AS cn,
          CAST(sum(c_pos) OVER w AS BIGINT) AS tp,
          CAST(sum(c_pos) OVER (PARTITION BY scorer) AS BIGINT)
            AS npos_all
        FROM vals
        WINDOW w AS (PARTITION BY scorer ORDER BY sv DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      agg AS (
        SELECT scorer,
          CAST(sum(c_pos) AS BIGINT) AS n_pos,
          CAST(sum(c - c_pos) AS BIGINT) AS n_neg,
          CAST(count(*) AS BIGINT) AS n_thresholds,
          ${dsum8Sql("""CAST(c_pos * tp AS DOUBLE)
               / CAST(npos_all * cn AS DOUBLE)""")} AS ap_raw
        FROM cum GROUP BY scorer)
      SELECT scorer, n_pos, n_neg, n_thresholds,
        ${proundSql(
          "CAST(n_pos AS DOUBLE) / CAST(n_pos + n_neg AS DOUBLE)", 6)}
          AS prevalence,
        CASE WHEN n_pos > 0 THEN ${proundSql("ap_raw", 6)} END AS ap
      FROM agg
      ORDER BY scorer"""))

  // -- P18: Mann-Kendall trend test — the NONPARAMETRIC significance
  //    rung under q253's Theil-Sen slope (Theil-Sen says how steep;
  //    Mann-Kendall says whether a monotone trend exists at all,
  //    robust to outliers and any monotone transform): S = Σ_{i<j}
  //    sign(x_j − x_i) over the daily series, variance with the
  //    standard tie correction Var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
  //    /18, Z = (S ∓ 1)/√Var. Everything is INTEGER until the single
  //    division + IEEE sqrt of the Z statistic; the pair join runs
  //    over the calendar-bounded daily aggregate (q253's shape), so
  //    cost is days², not events².
  private val q280 = Q(
    "q280_mann_kendall",
    (s, dir) => {
      val t = Tpch(s, dir)
      val daily = t.eventsUs
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val sStat = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type")
            && col("a.day") < col("b.day"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(signum(col("b.n") - col("a.n")).cast("long")).as("s"))
      val ties = daily.groupBy(col("event_type"), col("n"))
        .agg(count(lit(1)).as("tcnt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days_distinct"),
          sum(col("tcnt")).as("nd"),
          sum(col("tcnt") * (col("tcnt") - 1)
            * (lit(2L) * col("tcnt") + 5)).as("tie_sum"))
      val z = sStat.join(ties, Seq("event_type"))
        .withColumn("var18",
          col("nd") * (col("nd") - 1) * (lit(2L) * col("nd") + 5)
            - col("tie_sum"))
        .withColumn("z",
          when(col("var18") > 0,
            (col("s") - signum(col("s")).cast("long")).cast("double")
              / sqrt(col("var18").cast("double") / lit(18.0))))
      z.select(col("event_type"), col("nd").as("n_days"), col("s"),
          col("var18"),
          pround(col("z"), 6).as("z"),
          when(abs(col("z")) > 1.959964, 1).otherwise(0)
            .as("has_trend_95"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH daily AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      sstat AS (
        SELECT a.event_type,
          CAST(sum(CASE WHEN b.n > a.n THEN 1
            WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY a.event_type),
      ties AS (
        SELECT event_type,
          CAST(sum(tcnt) AS BIGINT) AS nd,
          CAST(sum(tcnt * (tcnt - 1) * (2 * tcnt + 5)) AS BIGINT)
            AS tie_sum
        FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS tcnt
              FROM daily GROUP BY 1, 2)
        GROUP BY event_type),
      zt AS (
        SELECT s.event_type, ties.nd, s.s,
          ties.nd * (ties.nd - 1) * (2 * ties.nd + 5) - tie_sum AS var18
        FROM sstat s JOIN ties USING (event_type))
      SELECT event_type, nd AS n_days, s, var18,
        CASE WHEN var18 > 0 THEN ${proundSql(
          """CAST(s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1
             ELSE 0 END AS DOUBLE)
             / sqrt(CAST(var18 AS DOUBLE) / 18.0)""", 6)} END AS z,
        CASE WHEN abs(CASE WHEN var18 > 0
            THEN (CAST(s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1
              ELSE 0 END AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0))
            END) > 1.959964 THEN 1 ELSE 0 END AS has_trend_95
      FROM zt
      ORDER BY event_type"""))

  // -- P11: HDR log-bucket quantile sketch — the MERGEABLE,
  //    ONE-PASS quantile path (vs q239's range-fitted bins, which
  //    need a min/max pre-scan and give no relative-error bound on
  //    heavy tails). Token counts per doc are Zipf-shaped — exactly
  //    the distribution where uniform bins waste resolution. The
  //    corpus row-set is computed by MERGING the per-source sketches
  //    (count addition per bucket, never a rescan) — the shard-fold
  //    property a 100 TB quantile needs. Everything is integer
  //    (floorLog2 via unpadded bin(), shifts, integer-rational
  //    ranks), so the oracle replays bit-for-bit; the audit invariant
  //    `exact ∈ [est_low, est_low+width)` is exact by construction
  //    (the selected bucket CONTAINS the rank), reported as a boolean.
  private val HDR_B = 5 // sub-bucket bits → relative error ≤ 2^-5
  private val HDR_PS = Seq((50, 1L, 2L), (90, 9L, 10L), (99, 99L, 100L))
  private val q310 = Q(
    "q310_hdr_quantiles",
    (s, dir) => {
      val t = Tpch(s, dir)
      val H = graft.operators.HdrSketch
      val base = t.documents.select(col("source"),
          size(graft.functions.TextFns.tokens(col("text"))).cast("long")
            .as("v"))
        .localCheckpoint(true) // scanned by the sketch AND the audit
      val perSrc = H.sketch(base, Seq("source"), "v", HDR_B)
      val global = H.merge(
        perSrc.withColumn("source", lit("__all__")), Seq("source"))
      val est = H.quantiles(perSrc.union(global), Seq("source"),
        HDR_PS, HDR_B)
      // exact lower quantile by rank selection — the audit side
      val g = base.select(col("source").as("gsrc"), col("v"))
        .union(base.select(lit("__all__").as("gsrc"), col("v")))
      val ranked = g
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("gsrc")).orderBy(col("v"))))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("gsrc"))))
      val exact = HDR_PS.map { case (pct, num, den) =>
        ranked.filter(col("rn") ===
            call_function("div", lit(num) * (col("n") - 1), lit(den)) + 1)
          .select(col("gsrc").as("source"), lit(pct).as("pct"),
            col("v").as("exact_disc"))
      }.reduce(_ union _)
      est.join(exact, Seq("source", "pct"))
        .select(col("source"), col("pct"), col("n"), col("n_buckets"),
          col("est_low"), col("width"), col("exact_disc"),
          (col("exact_disc") >= col("est_low") &&
            col("exact_disc") < col("est_low") + col("width"))
            .as("in_bucket"))
        .orderBy(col("source"), col("pct"))
    },
    Some(s"""WITH base AS MATERIALIZED (
        SELECT source,
          CAST(len(${graft.functions.TextFns.tokensSql("text")}) AS BIGINT)
            AS v
        FROM documents),
      b2 AS MATERIALIZED (
        SELECT source AS gsrc, v FROM base
        UNION ALL SELECT '__all__', v FROM base),
      bkt AS (
        SELECT gsrc, shift * ${1L << HDR_B} + (v >> shift) AS idx
        FROM (SELECT gsrc, v,
            GREATEST(CAST(0 AS BIGINT),
              CAST(length(bin(v)) - 1 - $HDR_B AS BIGINT)) AS shift
          FROM b2)),
      sk AS MATERIALIZED (
        SELECT gsrc, idx, CAST(count(*) AS BIGINT) AS cnt
        FROM bkt GROUP BY 1, 2),
      cum AS (
        SELECT gsrc, idx,
          CAST(sum(cnt) OVER (PARTITION BY gsrc ORDER BY idx) AS BIGINT)
            AS cum,
          CAST(sum(cnt) OVER (PARTITION BY gsrc) AS BIGINT) AS n,
          CAST(count(*) OVER (PARTITION BY gsrc) AS BIGINT) AS n_buckets
        FROM sk),
      qs AS (SELECT * FROM (VALUES (50, CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
          (90, CAST(9 AS BIGINT), CAST(10 AS BIGINT)),
          (99, CAST(99 AS BIGINT), CAST(100 AS BIGINT)))
        AS t(pct, num, den)),
      sel AS (
        SELECT gsrc AS source, pct, min(idx) AS sel_idx, min(n) AS n,
          min(n_buckets) AS n_buckets
        FROM cum JOIN qs ON cum.cum >= (qs.num * (cum.n - 1)) // qs.den + 1
        GROUP BY 1, 2),
      est AS (
        SELECT source, pct, n, n_buckets,
          (sel_idx - GREATEST(CAST(0 AS BIGINT),
             sel_idx // ${1L << HDR_B} - 1) * ${1L << HDR_B})
            << GREATEST(CAST(0 AS BIGINT), sel_idx // ${1L << HDR_B} - 1)
            AS est_low,
          CAST(1 AS BIGINT) << GREATEST(CAST(0 AS BIGINT),
            sel_idx // ${1L << HDR_B} - 1) AS width
        FROM sel),
      ranked AS (
        SELECT gsrc, v,
          CAST(row_number() OVER (PARTITION BY gsrc ORDER BY v) AS BIGINT)
            AS rn,
          CAST(count(*) OVER (PARTITION BY gsrc) AS BIGINT) AS n
        FROM b2),
      ex AS (
        SELECT gsrc AS source, pct, v AS exact_disc
        FROM ranked JOIN qs ON ranked.rn = (qs.num * (ranked.n - 1)) // qs.den + 1)
      SELECT est.source, est.pct, est.n, est.n_buckets, est.est_low,
        est.width, ex.exact_disc,
        ex.exact_disc >= est.est_low
          AND ex.exact_disc < est.est_low + est.width AS in_bucket
      FROM est JOIN ex ON est.source = ex.source AND est.pct = ex.pct
      ORDER BY est.source, est.pct"""))

  val all: Seq[Q] = Seq(q30, q31, q32, q40, q84, q85, q92, q106, q239,
    q241, q245, q246, q253, q267, q273, q274, q278, q280, q310)
}
