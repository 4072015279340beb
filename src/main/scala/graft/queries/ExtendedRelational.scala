package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables.Tpch
import Portable._

/** Engine-completeness relational surface beyond the reference's own
  * operator set (SURVEY.md notes it uses none of these): multi-level
  * rollup aggregation, intersect/except, semi/anti joins, pivot, and
  * exact percentiles. All standard analytics-engine table stakes, each
  * with a DuckDB oracle.
  */
object ExtendedRelational {

  // -- X1: ROLLUP with grouping id (subtotals + grand total) ----------
  private val q34 = Q(
    "q34_rollup",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_rows"),
          moneySum(col("l_extendedprice")).as("total_price"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      GROUPING(l_returnflag, l_linestatus) AS gid,
      count(*) AS n_rows,
      ${moneySumSql("l_extendedprice")} AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  // -- X2: INTERSECT / EXCEPT ------------------------------------------
  private val q35 = Q(
    "q35_setops",
    (s, dir) => {
      val t = Tpch(s, dir)
      val custNations = t.customer.select(col("c_nationkey").as("nationkey"))
      val suppNations = t.supplier.select(col("s_nationkey").as("nationkey"))
      val both = custNations.intersect(suppNations)
        .withColumn("op", lit("intersect"))
      val custOnly = custNations.except(suppNations)
        .withColumn("op", lit("except"))
      both.unionByName(custOnly).orderBy(col("op"), col("nationkey"))
    },
    Some("""SELECT nationkey, 'intersect' AS op FROM
        (SELECT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT s_nationkey FROM supplier)
      UNION ALL
      SELECT nationkey, 'except' AS op FROM
        (SELECT c_nationkey AS nationkey FROM customer
         EXCEPT
         SELECT s_nationkey FROM supplier)
      ORDER BY op, nationkey"""))

  // -- X3: left semi / left anti joins ---------------------------------
  private val q36 = Q(
    "q36_semi_anti",
    (s, dir) => {
      val t = Tpch(s, dir)
      val bigOrders = t.orders.filter(col("o_totalprice") > 300000)
      val withBig = t.customer
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_big_order").as("status"))
      val withoutAny = t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("status"))
      withBig.unionByName(withoutAny).orderBy(col("status"), col("c_custkey"))
    },
    Some("""SELECT c_custkey, 'has_big_order' AS status FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      UNION ALL
      SELECT c_custkey, 'no_orders' AS status FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY status, c_custkey"""))

  // -- X4: pivot (wide conditional aggregation) ------------------------
  private val q37 = Q(
    "q37_pivot",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.lineitem
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(moneySum(col("l_extendedprice")))
        .orderBy(col("l_linestatus"))
    },
    Some(s"""SELECT l_linestatus,
      ${moneySumSql("CASE WHEN l_returnflag = 'A' THEN l_extendedprice END")} AS A,
      ${moneySumSql("CASE WHEN l_returnflag = 'N' THEN l_extendedprice END")} AS N,
      ${moneySumSql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice END")} AS R
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus"""))

  // -- X4b: unpivot/melt — the inverse of q37's pivot: wide measure
  //    columns stacked into (measure, value) rows (Spark's native
  //    unpivot ≡ DuckDB UNPIVOT). Narrow per-row expansion after a
  //    tiny aggregate; measure names sort deterministically.
  //    NULL caveat when reusing this pattern: Spark's unpivot EMITS a
  //    row for a NULL measure value while DuckDB's UNPIVOT EXCLUDES
  //    it by default — on nullable measures add INCLUDE NULLS to the
  //    DuckDB side (or filter the Spark side). Here every measure is
  //    a decimal sum over non-null money columns, so the domains
  //    cannot produce NULL values.  -----------------------------------
  private val q83 = Q(
    "q83_unpivot",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.lineitem
        .groupBy(col("l_linestatus"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          moneySum(col("l_discount")).as("sum_disc"),
          moneySum(col("l_tax")).as("sum_tax"))
        .unpivot(
          ids = Array(col("l_linestatus")),
          values = Array(col("sum_qty"), col("sum_price"),
            col("sum_disc"), col("sum_tax")),
          variableColumnName = "measure",
          valueColumnName = "value")
        .orderBy(col("l_linestatus"), col("measure"))
    },
    Some(s"""WITH wide AS (
        SELECT l_linestatus,
          ${moneySumSql("l_quantity")} AS sum_qty,
          ${moneySumSql("l_extendedprice")} AS sum_price,
          ${moneySumSql("l_discount")} AS sum_disc,
          ${moneySumSql("l_tax")} AS sum_tax
        FROM lineitem GROUP BY l_linestatus)
      SELECT l_linestatus, measure, value
      FROM wide
      UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc, sum_tax))
      ORDER BY l_linestatus, measure"""))

  // -- X5: exact interpolated percentiles — sort-based operator (one
  //    shuffle, O(1)/group memory; Spark's built-in percentile agg
  //    buffers whole groups — see operators.Percentiles) --------------
  private val q38 = Q(
    "q38_percentiles",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.Percentiles.groupedExactMulti
      // both value columns ride ONE stacked sort/window pass — one
      // shuffle total instead of two passes + a join. NOTE the window
      // sort's parallelism equals the group cardinality (3 here) — the
      // efficient shape at bench scale; q67 runs the SAME query through
      // the rank-selection operator whose parallelism is P-independent,
      // the shape that still works at 100 TB.
      groupedExactMulti(t.lineitem, "l_returnflag", Seq(
          ("l_quantity", Seq(0.5), Seq("mq")),
          ("l_extendedprice", Seq(0.25, 0.75, 0.99), Seq("p25", "p75", "p99"))))
        .select(col("l_returnflag"),
          pround(col("mq"), 4).as("median_qty"),
          pround(col("p25"), 4).as("p25_price"),
          pround(col("p75"), 4).as("p75_price"),
          pround(col("p99"), 4).as("p99_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""SELECT l_returnflag,
      ${proundSql("quantile_cont(l_quantity, 0.5)", 4)} AS median_qty,
      ${proundSql("quantile_cont(l_extendedprice, 0.25)", 4)} AS p25_price,
      ${proundSql("quantile_cont(l_extendedprice, 0.75)", 4)} AS p75_price,
      ${proundSql("quantile_cont(l_extendedprice, 0.99)", 4)} AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""))

  // -- X5b: q38's percentiles computed by DISTRIBUTED RANK SELECTION
  //    (Percentiles.groupedExactRankSelect): range-shuffle sorted by
  //    VALUE, parallelism independent of the 3-value group key that
  //    caps q38's window sort. Shares q38's oracle, so both exact-
  //    percentile formulations are hash-verified against the same
  //    ground truth — the q43/q57 pattern applied to percentiles. ----
  private val q67 = Q(
    "q67_percentiles_rankselect",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.Percentiles.groupedExactRankSelect
      groupedExactRankSelect(t.lineitem, "l_returnflag", Seq(
          ("l_quantity", Seq(0.5), Seq("mq")),
          ("l_extendedprice", Seq(0.25, 0.75, 0.99), Seq("p25", "p75", "p99"))))
        .select(col("l_returnflag"),
          pround(col("mq"), 4).as("median_qty"),
          pround(col("p25"), 4).as("p25_price"),
          pround(col("p75"), 4).as("p75_price"),
          pround(col("p99"), 4).as("p99_price"))
        .orderBy(col("l_returnflag"))
    },
    q38.oracle)

  // -- X6: as-of join — each purchase attributed to the latest
  //    preceding view of the same user (operators.AsOfJoin; oracle is
  //    DuckDB's native ASOF LEFT JOIN) --------------------------------
  private val q41 = Q(
    "q41_asof_join",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.AsOfJoin
      // canonical epoch-µs ts (Tables.microsCol handles either layout)
      val ev = t.eventsUs
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id").as("view_id"))
      AsOfJoin.asofJoin(purchases, views, "user_id", "ts_us",
          Seq("view_id", "ts_us"))
        .select(col("event_id"), col("user_id"),
          col("asof_view_id").as("view_id"),
          (col("ts_us") - col("asof_ts_us")).as("gap_us"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT a.event_id, a.user_id, b.event_id AS view_id,
        epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
      FROM (SELECT * FROM events WHERE event_type = 'purchase') a
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
        ON a.user_id = b.user_id AND a.ts >= b.ts
      ORDER BY a.event_id"""))

  // -- X7: interval self-join — same-user event pairs within one hour
  //    (bucketed equi-join, not nested-loop; operators.RangeJoin) -----
  private val HOUR_US = 3600L * 1000 * 1000
  private val q42 = Q(
    "q42_interval_pairs",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.RangeJoin
      // µs BEFORE the join so the boundary predicate sees the same
      // values as DuckDB (floor-of-difference ≠ difference-of-floors
      // at the boundary); Tables.microsCol handles either ts layout
      val ev = t.eventsUs
      RangeJoin.withinDeltaPairs(ev, "user_id", "event_id", "ts_us", HOUR_US)
        .select(col("user_id"), col("id1"), col("id2"), col("dt").as("dt_us"))
        .orderBy(col("user_id"), col("id1"), col("id2"))
    },
    Some(s"""SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
        epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
      FROM events a JOIN events b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
       AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= $HOUR_US
      ORDER BY a.user_id, id1, id2"""))

  // -- X8: deterministic stratified sampling — membership is a pure
  //    integer hash of the key (graft.operators.Sampling), so the
  //    sample is reproducible across engines/partitionings; rates vary
  //    per stratum (urgent orders over-sampled). Scan-time filter,
  //    zero shuffle before the final small agg.
  private val SAMPLE_RATES = Map("1-URGENT" -> 200, "2-HIGH" -> 150)
  private val SAMPLE_DEFAULT = 100
  private val SAMPLE_DEN = 1000
  private val q55 = Q(
    "q55_stratified_sample",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Sampling.stratifiedHashSample(
          t.orders, "o_orderkey", "o_orderpriority",
          SAMPLE_RATES, SAMPLE_DEFAULT, SAMPLE_DEN)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_sampled"),
          moneySum(col("o_totalprice")).as("sampled_revenue"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n_sampled,
      ${moneySumSql("o_totalprice")} AS sampled_revenue,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders
    WHERE ${graft.operators.Sampling.slotSql("o_orderkey", SAMPLE_DEN)} <
      CASE o_orderpriority
        WHEN '1-URGENT' THEN ${SAMPLE_RATES("1-URGENT")}
        WHEN '2-HIGH' THEN ${SAMPLE_RATES("2-HIGH")}
        ELSE $SAMPLE_DEFAULT END
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""))

  // -- X8b: mixture sampling — resample the document corpus toward
  //    TARGET source proportions (the training-data mixing primitive).
  //    Per-source integer budgets from config weights; membership is
  //    the key hash against the source's own cardinality, so the
  //    sample is reproducible on any engine/partitioning. src0/src1
  //    are over-weighted past their population to exercise the
  //    capped-at-available branch. One tiny count-agg broadcast back,
  //    then a scan-time filter — no data shuffle. ---------------------
  private val MIX_TOTAL = 200
  private val MIX_WEIGHTS = Map("src0" -> 300, "src1" -> 100, "src2" -> 50)
  private val MIX_DEFAULT = 25
  private val q76 = Q(
    "q76_mixture_sample",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Sampling.mixtureSample(
          t.documents, "doc_id", "source",
          MIX_TOTAL, MIX_WEIGHTS, MIX_DEFAULT)
        .groupBy(col("source"))
        .agg(
          any_value(col("stratum_n")).as("n_source"),
          any_value(col("target_n")).as("target_n"),
          count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("kept_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    },
    Some {
      def budget(w: Int): Long = MIX_TOTAL.toLong * w / 1000
      val targetCase = s"""CASE source
        ${MIX_WEIGHTS.map { case (k, w) => s"WHEN '$k' THEN ${budget(w)}" }.mkString("\n        ")}
        ELSE ${budget(MIX_DEFAULT)} END"""
      s"""WITH counts AS (
        SELECT source AS src_key, count(*) AS stratum_n
        FROM documents GROUP BY source),
      kept AS (
        SELECT d.*, c.stratum_n,
          LEAST($targetCase, c.stratum_n) AS target_n
        FROM documents d JOIN counts c ON d.source IS NOT DISTINCT FROM c.src_key
        WHERE ${graft.operators.Sampling.slotBySql("d.doc_id", "c.stratum_n")}
          < LEAST($targetCase, c.stratum_n))
      SELECT source, min(stratum_n) AS n_source, min(target_n) AS target_n,
        count(*) AS n_kept,
        CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM kept
      GROUP BY source
      ORDER BY source"""
    })

  // -- X8d: exact per-stratum sampling — EXACTLY k docs per source,
  //    ranked by a reproducible key-hash order (Sampling.exactPerStratum;
  //    the fixed-count complement of q76's rate budgets). The plan
  //    prunes to k per map partition before the shuffle
  //    (WindowGroupLimit), so the exchange carries O(P·k), not the
  //    corpus. ---------------------------------------------------------
  private val EXACT_K = 3
  private val q80 = Q(
    "q80_exact_stratum_sample",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Sampling.exactPerStratum(
          t.documents, "doc_id", "source", EXACT_K)
        .select(col("source"), col("sample_rank"), col("doc_id"),
          col("n_chars"))
        .orderBy(col("source"), col("sample_rank"))
    },
    Some(s"""SELECT source, sample_rank, doc_id, n_chars FROM (
        SELECT source, doc_id, n_chars,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY ${graft.operators.Sampling.slotWideSql("doc_id")},
              doc_id) AS INT) AS sample_rank
        FROM documents)
      WHERE sample_rank <= $EXACT_K
      ORDER BY source, sample_rank"""))

  // -- X8f: probability-weighted sampling — keep each document with
  //    probability proportional to a quality proxy (length, capped at
  //    1) decided by the key hash (Sampling.weightedHashSample): the
  //    "prefer high-quality docs" subsample, reproducible across
  //    engines/partitionings, scan-time filter. -----------------------
  private val q86 = Q(
    "q86_weighted_sample",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Sampling.weightedHashSample(
          t.documents, "doc_id", col("n_chars").cast("double") / lit(3000.0))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("kept_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    },
    Some(s"""SELECT source, count(*) AS n_kept,
        CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents
      WHERE ${graft.operators.Sampling.weightedHashSampleSql(
        "doc_id", "CAST(n_chars AS DOUBLE) / 3000.0")}
      GROUP BY source
      ORDER BY source"""))

  // -- X8c: winsorized feature stats — per-group clamp into the
  //    [p05, p95] EXACT percentile bounds, computed in the SAME window
  //    pass as the ranking (operators.Percentiles.winsorized: one sort
  //    shuffle, O(1)/group memory, no join-back). The oracle recomputes
  //    the bound with the identical pos/frac arithmetic, so every clip
  //    decision — not just the rounded output — is bit-reproducible. --
  private val q77 = Q(
    "q77_winsorized_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.Percentiles.winsorized
      winsorized(t.lineitem, "l_returnflag", "l_extendedprice",
          0.05, 0.95, "wprice")
        .groupBy(col("l_returnflag"))
        .agg(
          count(col("wprice")).as("n_vals"),
          sum(when(col("wprice") > col("l_extendedprice"), 1L)
            .otherwise(0L)).as("n_clip_lo"),
          sum(when(col("wprice") < col("l_extendedprice"), 1L)
            .otherwise(0L)).as("n_clip_hi"),
          moneySum(pround(col("wprice"), 4)).as("wsum"),
          pround(min(col("wprice")), 4).as("wmin"),
          pround(max(col("wprice")), 4).as("wmax"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""WITH ranked AS (
        SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
          row_number() OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice) AS rn,
          count(l_extendedprice) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL),
      b AS (
        SELECT l_returnflag,
          sum(CASE WHEN rn = CAST(floor(1.0 + 0.05 * (n - 1)) AS BIGINT)
            THEN v ELSE 0.0 END)
          + max(1.0 + 0.05 * (n - 1) - floor(1.0 + 0.05 * (n - 1)))
          * (sum(CASE WHEN rn = CAST(ceil(1.0 + 0.05 * (n - 1)) AS BIGINT)
              THEN v ELSE 0.0 END)
             - sum(CASE WHEN rn = CAST(floor(1.0 + 0.05 * (n - 1)) AS BIGINT)
                THEN v ELSE 0.0 END)) AS blo,
          sum(CASE WHEN rn = CAST(floor(1.0 + 0.95 * (n - 1)) AS BIGINT)
            THEN v ELSE 0.0 END)
          + max(1.0 + 0.95 * (n - 1) - floor(1.0 + 0.95 * (n - 1)))
          * (sum(CASE WHEN rn = CAST(ceil(1.0 + 0.95 * (n - 1)) AS BIGINT)
              THEN v ELSE 0.0 END)
             - sum(CASE WHEN rn = CAST(floor(1.0 + 0.95 * (n - 1)) AS BIGINT)
                THEN v ELSE 0.0 END)) AS bhi
        FROM ranked GROUP BY l_returnflag),
      w AS (
        SELECT l.l_returnflag, CAST(l.l_extendedprice AS DOUBLE) AS v,
          LEAST(GREATEST(CAST(l.l_extendedprice AS DOUBLE), b.blo), b.bhi) AS wv
        FROM lineitem l JOIN b USING (l_returnflag)
        WHERE l.l_extendedprice IS NOT NULL)
      SELECT l_returnflag, count(wv) AS n_vals,
        CAST(sum(CASE WHEN wv > v THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        CAST(sum(CASE WHEN wv < v THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        ${moneySumSql(proundSql("wv", 4))} AS wsum,
        ${proundSql("min(wv)", 4)} AS wmin,
        ${proundSql("max(wv)", 4)} AS wmax
      FROM w
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // -- X8e: q77's winsorization through the RANK-SELECT shape — same
  //    semantics, parallelism independent of the 3-value group key
  //    (the q38/q67 duality applied to clipping; 10× measurements in
  //    SCALE.md show why both shapes ship). Shares q77's oracle, so
  //    both formulations are hash-verified against one ground truth. -
  private val q82 = Q(
    "q82_winsorized_rankselect",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.Percentiles.winsorizedRankSelect
      winsorizedRankSelect(t.lineitem, "l_returnflag", "l_extendedprice",
          0.05, 0.95, "wprice")
        .groupBy(col("l_returnflag"))
        .agg(
          count(col("wprice")).as("n_vals"),
          sum(when(col("wprice") > col("l_extendedprice"), 1L)
            .otherwise(0L)).as("n_clip_lo"),
          sum(when(col("wprice") < col("l_extendedprice"), 1L)
            .otherwise(0L)).as("n_clip_hi"),
          moneySum(pround(col("wprice"), 4)).as("wsum"),
          pround(min(col("wprice")), 4).as("wmin"),
          pround(max(col("wprice")), 4).as("wmax"))
        .orderBy(col("l_returnflag"))
    },
    q77.oracle) // one ground truth for both winsorization shapes

  // -- X8: skew-mitigation operators, oracle-gated — the salted join
  //    and two-phase salted aggregation must be INVISIBLE in results:
  //    the oracle is the plain join+groupBy. A hot l_partkey at 100 TB
  //    rides (key, salt) shuffle buckets; here the equivalence is
  //    hash-proven, not just spec-asserted -------------------------------
  private val q58 = Q(
    "q58_salted_join_agg",
    (s, dir) => {
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.types.DecimalType
      val t = Tpch(s, dir)
      val big = t.lineitem.select(col("l_partkey").as("k"),
        col("l_extendedprice"))
      val small = t.part.select(col("p_partkey").as("k"), col("p_brand"))
      val joined = graft.operators.Skew.saltedJoin(big, small, "k", salts = 8)
      graft.operators.Skew.twoPhaseAgg(joined, "p_brand", salts = 8, Map(
          "n_rows" -> ((count(lit(1)), (c: Column) => sum(c))),
          "total_price" -> ((
            sum(col("l_extendedprice").cast(DecimalType(18, 4))),
            (c: Column) => sum(c)))))
        .select(col("p_brand"), col("n_rows"),
          round(col("total_price"), 2).cast("double").as("total_price"))
        .orderBy(col("p_brand"))
    },
    Some(s"""SELECT p_brand, count(*) AS n_rows,
      ${moneySumSql("l_extendedprice")} AS total_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand"""))

  // -- X9: incremental aggregate maintenance, oracle-gated — a mart
  //    built on pre-1997 orders and refreshed with the 1997+ delta
  //    must hash-match DuckDB's single full aggregate. Value columns
  //    ride DECIMAL(18,4) so the two-batch sum is exact and order-
  //    independent (the reason marts store sums, not averages) --------
  private val q59 = Q(
    "q59_incremental_refresh",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val t = Tpch(s, dir)
      val o = t.orders.select(col("o_orderpriority"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("price"),
        col("o_orderdate"))
      val split = lit("1997-01-01").cast("timestamp")
      val base = o.filter(col("o_orderdate") < split)
      val delta = o.filter(col("o_orderdate").isNull || col("o_orderdate") >= split)
      val mart = graft.operators.IncrementalAgg.aggregate(
        base, Seq("o_orderpriority"), Seq("price"))
      graft.operators.IncrementalAgg.refresh(
          mart, delta, Seq("o_orderpriority"), Seq("price"))
        .select(col("o_orderpriority"), col("n_rows"),
          round(col("sum_price"), 2).cast("double").as("total_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n_rows,
      ${moneySumSql("o_totalprice")} AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""))

  // -- X8e: temperature-tempered source sampling — the multilingual /
  //    multi-source mixing primitive (XLM-R-style p^α re-weighting at
  //    α = 1/2): rare sources are kept at a HIGHER rate ∝ 1/√n_source
  //    so the sample flattens the source distribution toward uniform.
  //    Membership is exact INTEGER arithmetic — keep iff
  //    slot(doc_id)² · n_source < K² ⟺ slot < K/√n_source — so the
  //    irrational √ never touches a row decision (no pow/sqrt libm
  //    parity risk; Math.pow is not correctly rounded, sqrt-free
  //    integer compare is). Overflow-safe: slot < 10³, slot² · n <
  //    10⁶·n — BIGINT holds to n ≈ 9·10¹². Two passes over documents
  //    (count pass + broadcast-join filter pass), both scan-time
  //    narrow; at scale the counts come from table stats anyway. ----
  private val TEMP_DEN = 1000
  private val TEMP_K = 2500L
  private val q113 = Q(
    "q113_tempered_sample",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.Sampling
      val counts = t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val slot = Sampling.slot(col("doc_id"), TEMP_DEN)
      val sampled = t.documents.join(broadcast(counts), "source")
        .filter(slot * slot * col("n_docs") < lit(TEMP_K * TEMP_K))
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
      val per = counts.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      val tot = per.agg(sum(col("n_sampled")).as("total_sampled"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_sampled"),
          pround(col("n_sampled").cast("double") / col("n_docs"), 6)
            .as("achieved_rate"),
          pround(col("n_sampled").cast("double") / col("total_sampled"), 6)
            .as("sample_share"))
        .orderBy(col("source"))
    },
    Some {
      val slotSql = graft.operators.Sampling.slotSql("doc_id", TEMP_DEN)
      s"""WITH counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      sampled AS (
        SELECT d.source, count(*) AS n_sampled
        FROM documents d JOIN counts c ON d.source = c.source
        WHERE ($slotSql) * ($slotSql) * c.n_docs < ${TEMP_K * TEMP_K}
        GROUP BY d.source),
      per AS (
        SELECT c.source, c.n_docs,
          CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
        FROM counts c LEFT JOIN sampled s ON c.source = s.source),
      tot AS (SELECT CAST(sum(n_sampled) AS BIGINT) AS total_sampled FROM per)
      SELECT source, n_docs, n_sampled,
        ${proundSql("CAST(n_sampled AS DOUBLE) / n_docs", 6)} AS achieved_rate,
        ${proundSql("CAST(n_sampled AS DOUBLE) / total_sampled", 6)}
          AS sample_share
      FROM per, tot
      ORDER BY source"""
    })

  // -- The events user–item graph, shared by the graph queries -------
  /** An events row's item id: the first digit run of `props`, as a
    * long. [[itemIdSql]] is the oracle's spelling.
    */
  private def itemId: Column =
    regexp_extract(col("props"), "[0-9]+", 0).cast("long")
  private val itemIdSql = "CAST(regexp_extract(props, '[0-9]+') AS BIGINT)"

  /** The distinct (user_id, item) pairs of events. [[userItemsSql]] is
    * the oracle's `ui` CTE (materialized: every caller joins it more
    * than once).
    */
  private def userItems(t: Tpch): DataFrame =
    t.events.select(col("user_id"), itemId.as("item")).distinct()
  private val userItemsSql =
    s"""ui AS MATERIALIZED (
        SELECT DISTINCT user_id, $itemIdSql AS item FROM events)"""

  /** Item co-occurrence edges (i1, i2), i1 < i2: the item pairs that
    * at least `minCo` users of `ui` share, from one user-keyed self
    * join. [[coEdgesSql]] is the oracle's SELECT over the `ui` CTE.
    */
  private def coEdges(ui: DataFrame, minCo: Int): DataFrame =
    ui.as("a").join(ui.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i1"), col("b.item").as("i2"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCo)
      .select(col("i1"), col("i2"))
  private def coEdgesSql(minCo: Int): String =
    s"""SELECT a.item AS i1, b.item AS i2
        FROM ui a JOIN ui b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2 HAVING count(*) >= $minCo"""

  // -- E15: PageRank (operators.PageRank) — crawl-graph centrality
  //    over the events-derived link graph (user_id → props.k). Scaled-
  //    integer arithmetic (millionths, 85/100 damping, dropped
  //    dangling mass) makes all three unrolled iterations EXACT: the
  //    oracle replays them with BIGINT `//` and matches bit-for-bit.
  private val PR_ITERS = 3
  private val q133 = Q(
    "q133_pagerank",
    (s, dir) => {
      val t = Tpch(s, dir)
      val edges = t.events.select(col("user_id").as("src"),
        itemId.as("dst"))
      graft.operators.PageRank.run(edges, "src", "dst", PR_ITERS)
        .orderBy(col("node"))
    },
    Some {
      def iterSql(prev: String, cur: String) =
        s"""$cur AS (
        SELECT n.node,
          CAST(150000 + (85 * coalesce(s.cs, CAST(0 AS BIGINT))) // 100
            AS BIGINT) AS r
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node,
            CAST(sum(r.r // e.outdeg) AS BIGINT) AS cs
          FROM eo e JOIN $prev r ON r.node = e.src
          GROUP BY e.dst) s ON n.node = s.node)"""
      val iters = (1 to PR_ITERS)
        .map(i => iterSql(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
        .mkString(",\n      ")
      s"""WITH e AS (
        SELECT DISTINCT user_id AS src, $itemIdSql AS dst FROM events),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      eo AS (
        SELECT e.src, e.dst, od.outdeg
        FROM e JOIN (SELECT src, count(*) AS outdeg FROM e GROUP BY src) od
          ON e.src = od.src),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      $iters
      SELECT node, r AS rank_scaled FROM it$PR_ITERS
      ORDER BY node"""
    })

  // -- E16: cohort retention matrix — the product-analytics workload
  //    class (cohort = a user's first active week; retention(k) =
  //    share of the cohort active k weeks later). Weeks are pure
  //    integer epoch-µs division (no calendar functions → no dialect
  //    drift), activity is pre-distincted to (user, week) so the
  //    matrix agg never recounts events, and the rate is one exactly-
  //    rounded division. Two keyed shuffles (user, then cohort) over
  //    user-sized data — events collapse map-side at the distinct.
  private val WEEK_US = 604800000000L
  private val q142 = Q(
    "q142_cohort_retention",
    (s, dir) => {
      val t = Tpch(s, dir)
      val uw = t.eventsUs
        .select(col("user_id"), expr(s"ts_us div $WEEK_US").as("week"))
        .distinct()
      val cohorts = uw.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort"))
      val act = uw.join(cohorts, "user_id")
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("k"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      val sizes = cohorts.groupBy(col("cohort"))
        .agg(count(lit(1)).as("cohort_size"))
      act.join(sizes, "cohort")
        .select(col("cohort"), col("k"), col("n_active"),
          col("cohort_size"),
          pround(col("n_active").cast("double") / col("cohort_size"), 4)
            .as("retention"))
        .orderBy(col("cohort"), col("k"))
    },
    Some(s"""WITH uw AS (
        SELECT DISTINCT user_id, epoch_us(ts) // $WEEK_US AS week
        FROM events),
      c AS (SELECT user_id, min(week) AS cohort FROM uw GROUP BY user_id),
      act AS (
        SELECT c.cohort, uw.week - c.cohort AS k,
          count(DISTINCT uw.user_id) AS n_active
        FROM uw JOIN c ON uw.user_id = c.user_id
        GROUP BY 1, 2),
      cs AS (SELECT cohort, count(*) AS cohort_size FROM c GROUP BY cohort)
      SELECT a.cohort, a.k, a.n_active, cs.cohort_size,
        ${proundSql("CAST(a.n_active AS DOUBLE) / cs.cohort_size", 4)}
          AS retention
      FROM act a JOIN cs ON a.cohort = cs.cohort
      ORDER BY a.cohort, a.k"""))

  // -- E17: ordered conversion funnel — the first-touch funnel
  //    (view → click → purchase, each stage's FIRST event strictly
  //    after the previous stage's): one conditional-min agg per user
  //    (map-side combined, events collapse to 3 timestamps/user) +
  //    one global rollup. The order predicate is exact integer µs
  //    comparison; rates are exactly-rounded divisions. Complements
  //    q46 (session boundaries) and q142 (cohort retention) — this is
  //    the ORDER-sensitive member of the events-analytics family.
  private val q144 = Q(
    "q144_event_funnel",
    (s, dir) => {
      val t = Tpch(s, dir)
      def firstOf(tp: String) =
        min(when(col("event_type") === tp, col("ts_us")))
      val firsts = t.eventsUs.groupBy(col("user_id")).agg(
        firstOf("view").as("t_view"),
        firstOf("click").as("t_click"),
        firstOf("purchase").as("t_purchase"))
      val s1 = col("t_view").isNotNull
      val s2 = s1 && col("t_click") > col("t_view")
      val s3 = s2 && col("t_purchase") > col("t_click")
      firsts.agg(
        count(lit(1)).as("n_users"),
        sum(when(s1, 1L).otherwise(0L)).as("n_view"),
        sum(when(s2, 1L).otherwise(0L)).as("n_view_click"),
        sum(when(s3, 1L).otherwise(0L)).as("n_full_funnel"),
        pround(sum(when(s2, 1L).otherwise(0L)).cast("double") /
          sum(when(s1, 1L).otherwise(0L)), 4).as("click_rate"),
        pround(sum(when(s3, 1L).otherwise(0L)).cast("double") /
          sum(when(s2, 1L).otherwise(0L)), 4).as("purchase_rate"))
    },
    Some(s"""WITH f AS (
        SELECT user_id,
          min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
            AS t_view,
          min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
            AS t_click,
          min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
            AS t_purchase
        FROM events GROUP BY user_id),
      s AS (
        SELECT
          (t_view IS NOT NULL) AS s1,
          (t_view IS NOT NULL AND t_click > t_view) AS s2,
          (t_view IS NOT NULL AND t_click > t_view
            AND t_purchase > t_click) AS s3
        FROM f)
      SELECT count(*) AS n_users,
        CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_view_click,
        CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_full_funnel,
        ${proundSql(
          "CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS DOUBLE) / " +
            "sum(CASE WHEN s1 THEN 1 ELSE 0 END)", 4)} AS click_rate,
        ${proundSql(
          "CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS DOUBLE) / " +
            "sum(CASE WHEN s2 THEN 1 ELSE 0 END)", 4)} AS purchase_rate
      FROM s"""))

  // -- E18: triangle count + global clustering coefficient — the
  //    third graph-analytics member (q43/q57 components, q133
  //    PageRank): the co-visitation item graph (items sharing ≥ TC_T
  //    users) is projected from events via ONE user-keyed join
  //    (per-user work bounded by items-per-user²), and triangles are
  //    counted by two edge self-joins over canonically ordered edges
  //    (i1 < i2, so each triangle a<b<c is found exactly once — no
  //    /6 correction, no double counting). Wedges and triangles are
  //    pure integers; the coefficient is one exactly-rounded
  //    division. At 100 TB the standard refinement is degree-ordered
  //    edge orientation (each edge keyed by its lower-degree end) —
  //    the join SHAPE is identical, only the canonical order changes.
  private val TC_T = 40
  private val q145 = Q(
    "q145_triangle_count",
    (s, dir) => {
      val t = Tpch(s, dir)
      val e = coEdges(userItems(t), TC_T).localCheckpoint(true)
      val deg = e.select(col("i1").as("node"))
        .union(e.select(col("i2").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val wedges = deg.agg(
        sum(expr("d * (d - 1) div 2")).as("n_wedges"),
        count(lit(1)).as("n_nodes"))
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.i2") === col("e2.i1"))
        .join(e.as("e3"),
          col("e3.i1") === col("e1.i1") && col("e3.i2") === col("e2.i2"))
        .agg(count(lit(1)).as("n_triangles"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      wedges.crossJoin(broadcast(edges)).crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          pround(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("clustering_coeff"))
    },
    Some(s"""WITH $userItemsSql,
      e AS (${coEdgesSql(TC_T)}),
      deg AS (
        SELECT node, count(*) AS d FROM (
          SELECT i1 AS node FROM e UNION ALL SELECT i2 FROM e)
        GROUP BY node),
      w AS (
        SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
          count(*) AS n_nodes
        FROM deg),
      tri AS (
        SELECT count(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e1.i2 = e2.i1
        JOIN e e3 ON e3.i1 = e1.i1 AND e3.i2 = e2.i2),
      ne AS (SELECT count(*) AS n_edges FROM e)
      SELECT w.n_nodes, ne.n_edges, w.n_wedges, tri.n_triangles,
        ${proundSql("3.0 * tri.n_triangles / w.n_wedges", 6)}
          AS clustering_coeff
      FROM w, ne, tri"""))

  // -- E19: item-item co-visitation top-k — "people also viewed":
  //    recsys candidate generation without embeddings. Neighbour
  //    quality is LIFT (q143's portable PMI stand-in: co-visits
  //    normalized by both items' popularity, so hub items don't
  //    dominate every list). One user-keyed pair join (per-user cost
  //    items-per-user²) + one item-keyed top-k window
  //    (WindowGroupLimit prunes to k map-side). Symmetric pairs are
  //    materialized in both directions so every item gets a full
  //    list — the output is the candidate table a ranker would read.
  private val CV_K = 3
  private val q146 = Q(
    "q146_item_neighbors",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val ui = userItems(t)
      val pop = ui.groupBy(col("item")).agg(count(lit(1)).as("n_users"))
      val co = ui.as("a").join(ui.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("i1"), col("b.item").as("i2"))
        .agg(count(lit(1)).as("n_co"))
      val sym = co.unionByName(co.select(col("i2").as("i1"),
        col("i1").as("i2"), col("n_co")))
      val nUsers = ui.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_total"))
      val scored = sym
        .join(broadcast(pop.select(col("item").as("i1"),
          col("n_users").as("p1"))), "i1")
        .join(broadcast(pop.select(col("item").as("i2"),
          col("n_users").as("p2"))), "i2")
        .crossJoin(broadcast(nUsers))
        .withColumn("lift",
          col("n_co").cast("double") * col("n_total") /
            (col("p1") * col("p2")))
      val w = Window.partitionBy(col("i1"))
        .orderBy(col("lift").desc, col("i2").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= CV_K)
        .select(col("i1").as("item"), col("rank"),
          col("i2").as("neighbor"), col("n_co"),
          pround(col("lift"), 6).as("lift"))
        .orderBy(col("item"), col("rank"))
    },
    Some(s"""WITH $userItemsSql,
      pop AS (SELECT item, count(*) AS n_users FROM ui GROUP BY item),
      co AS (
        SELECT a.item AS i1, b.item AS i2, count(*) AS n_co
        FROM ui a JOIN ui b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2),
      sym AS (
        SELECT i1, i2, n_co FROM co
        UNION ALL SELECT i2, i1, n_co FROM co),
      n AS (SELECT count(DISTINCT user_id) AS n_total FROM ui),
      scored AS (
        SELECT s.i1, s.i2, s.n_co,
          CAST(s.n_co AS DOUBLE) * n.n_total / (p1.n_users * p2.n_users)
            AS lift
        FROM sym s
        JOIN pop p1 ON p1.item = s.i1
        JOIN pop p2 ON p2.item = s.i2
        CROSS JOIN n)
      SELECT i1 AS item, rank, i2 AS neighbor, n_co,
        ${proundSql("lift", 6)} AS lift
      FROM (SELECT *, row_number() OVER (PARTITION BY i1
              ORDER BY lift DESC, i2 ASC) AS rank FROM scored)
      WHERE rank <= $CV_K
      ORDER BY item, rank"""))

  // -- E20: label-propagation communities — the community-detection
  //    member of the graph family (q43/q57 exact components, q133
  //    centrality, q145 local clustering, q146 neighbour lists): the
  //    coarse cluster structure of the co-visitation graph, the cut a
  //    recsys/topic-balance pipeline groups items by. Determinized
  //    synchronous LPA (operators/PageRank.labelPropagation): 3 fixed
  //    rounds, neighbour-majority label, min-label tie-break — a pure
  //    function of (edges, rounds), so the oracle replays the rounds
  //    as unrolled CTEs bit-exactly. Edge threshold 45 (vs q145's 40)
  //    keeps the graph sparse enough to carry real community
  //    structure (the 40-threshold graph is near-complete at sf0.01
  //    and collapses to one label — measured, not assumed).
  private val LPA_T = 45
  private val LPA_R = 3
  private val q161 = Q(
    "q161_lpa_communities",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val e = coEdges(userItems(t), LPA_T)
      graft.operators.PageRank.labelPropagation(e, "i1", "i2", LPA_R)
        .select(col("node").as("item"), col("label").as("community"),
          count(lit(1)).over(Window.partitionBy(col("label")))
            .as("community_size"))
        .orderBy(col("item"))
    },
    Some {
      def roundSql(prev: String, cur: String, r: Int) =
        s"""m$r AS (
        SELECT eb.d AS node, l.label, count(*) AS c
        FROM eb JOIN $prev l ON eb.s = l.node
        GROUP BY 1, 2),
      $cur AS (
        SELECT node, label FROM (
          SELECT node, label, row_number() OVER (PARTITION BY node
            ORDER BY c DESC, label ASC) AS rn FROM m$r)
        WHERE rn = 1)"""
      val roundsSql = (1 to LPA_R)
        .map(i => roundSql(if (i == 1) "l0" else s"l${i - 1}", s"l$i", i))
        .mkString(",\n      ")
      s"""WITH $userItemsSql,
      e AS (${coEdgesSql(LPA_T)}),
      eb AS (SELECT i1 AS s, i2 AS d FROM e
             UNION ALL SELECT i2, i1 FROM e),
      l0 AS (SELECT DISTINCT s AS node, s AS label FROM eb),
      $roundsSql
      SELECT node AS item, label AS community,
        count(*) OVER (PARTITION BY label) AS community_size
      FROM l$LPA_R
      ORDER BY item"""
    })

  // -- E21: freshness-decayed popularity — the trending/recency
  //    signal (exponential time decay, half-life = 1 week) computed
  //    EXACTLY without libm: integer week age k (epoch-µs div, the
  //    q142 discipline), decay factor looked up from a LITERAL table
  //    of 2⁻ᵏ (powers of two are exact doubles, and literals are
  //    bit-identical across engines — no pow()), value·2⁻ᵏ an exact
  //    mantissa-preserving product, and sums accumulated as exact
  //    DECIMALs (the q148 idiom) so the ranking is order-independent
  //    at any partitioning. One scan + one item-keyed agg; the
  //    corpus-max timestamp is a broadcast 1-row fanout.
  private val DECAY_MAXK = 8
  private val q169 = Q(
    "q169_decayed_popularity",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val t = Tpch(s, dir)
      val decays = (0 to DECAY_MAXK).map(k => lit(math.pow(0.5, k)))
      val ev = t.eventsUs.select(itemId.as("item"), col("value"),
        col("ts_us"))
      val mx = ev.agg(max(col("ts_us")).as("mx_us"))
      val k = least(
        expr(s"(mx_us - ts_us) div $WEEK_US"), lit(DECAY_MAXK.toLong))
        .cast("int")
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(38, 8))).cast("double")
      ev.crossJoin(broadcast(mx))
        .select(col("item"), col("value"),
          (col("value") * element_at(array(decays: _*), k + 1))
            .as("decayed"))
        .groupBy(col("item"))
        .agg(count(lit(1)).as("n_events"),
          pround(dsum(col("value")), 6).as("raw_sum"),
          pround(dsum(col("decayed")), 6).as("decayed_sum"),
          pround(dsum(col("decayed")) / dsum(col("value")), 6)
            .as("freshness"))
        .orderBy(col("item"))
    },
    Some {
      val dList = (0 to DECAY_MAXK)
        .map(k => new java.math.BigDecimal(math.pow(0.5, k)).toPlainString)
        .mkString("[", ", ", "]")
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS mx_us FROM events),
      ev AS (
        SELECT $itemIdSql AS item, value,
          value * ($dList)[CAST(least(
            (mx.mx_us - epoch_us(ts)) // $WEEK_US, $DECAY_MAXK)
            AS INT) + 1] AS decayed
        FROM events, mx)
      SELECT item, count(*) AS n_events,
        ${proundSql(
          "CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE)", 6)}
          AS raw_sum,
        ${proundSql(
          "CAST(sum(CAST(decayed AS DECIMAL(38,8))) AS DOUBLE)", 6)}
          AS decayed_sum,
        ${proundSql(
          "CAST(sum(CAST(decayed AS DECIMAL(38,8))) AS DOUBLE) / " +
            "CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE)", 6)}
          AS freshness
      FROM ev
      GROUP BY item
      ORDER BY item"""
    })

  // -- E23: k-CORE decomposition — the cohesion member of the graph
  //    family (q43/q57 reachability, q133 centrality, q145 local
  //    clustering, q161 communities): peel nodes with surviving
  //    degree < k until the unique maximal min-degree-≥-k subgraph
  //    remains (Seidman 1983) — the "dense engaged core vs
  //    peripheral noise" cut on the q161 co-visitation graph. Fixed
  //    KC_R peel rounds in BOTH engines (rounds past convergence are
  //    no-ops — measured fixpoint at 4 rounds on sf0.01, KC_R = 6
  //    headroom), oracle-unrolled like the LPA rounds. sf0.01: 26 of
  //    the graph's nodes survive at k = 4.
  private val KC_K = 4
  private val KC_R = 6
  private val q186 = Q(
    "q186_kcore",
    (s, dir) => {
      val t = Tpch(s, dir)
      val e = coEdges(userItems(t), LPA_T)
      graft.operators.PageRank.kCore(e, "i1", "i2", KC_K, KC_R)
        .select(col("n").as("item"), col("deg"))
        .orderBy(col("item"))
    },
    Some {
      // MATERIALIZED per round or the triple references to e_{r-1}
      // expand the CTE tree 3^KC_R-fold (the q107 lesson)
      def roundSql(r: Int) = s"""d$r AS MATERIALIZED (
        SELECT n, count(*) AS deg FROM (
          SELECT s AS n FROM e${r - 1} UNION ALL SELECT d FROM e${r - 1})
        GROUP BY n),
      k$r AS MATERIALIZED (SELECT n FROM d$r WHERE deg >= $KC_K),
      e$r AS MATERIALIZED (
        SELECT p.s, p.d FROM e${r - 1} p
        JOIN k$r a ON p.s = a.n
        JOIN k$r b ON p.d = b.n)"""
      val roundsSql = (1 to KC_R).map(roundSql).mkString(",\n      ")
      s"""WITH $userItemsSql,
      e0 AS MATERIALIZED (
        SELECT i1 AS s, i2 AS d FROM (${coEdgesSql(LPA_T)})),
      $roundsSql
      SELECT n AS item, count(*) AS deg FROM (
        SELECT s AS n FROM e$KC_R UNION ALL SELECT d FROM e$KC_R)
      GROUP BY n
      ORDER BY item"""
    })

  // -- E24: CUPED experiment readout — the variance-reduction
  //    technique every experimentation platform runs (Deng et al.
  //    2013): adjust the post-period metric by the pre-period
  //    covariate, ŷᵢ = yᵢ − θ(xᵢ − x̄) with θ = cov(x,y)/var(x), so
  //    the A/B delta keeps its expectation but sheds the variance
  //    pre-existing behaviour explains. Variant = user_id % 2 (the
  //    deterministic hash bucket), x/y = pre/post event COUNTS —
  //    INTEGER sufficient statistics (Σx, Σy, Σxy, Σx², Σy² exact
  //    int64; squared cross-terms on DECIMAL(38,0), the q173
  //    discipline), so θ, the adjusted means, and the variance-
  //    reduction ratio are each ONE fixed-order float expression over
  //    exact integers — bit-stable at any partitioning. Two keyed
  //    aggs (user, then variant) + a broadcast 1-row stats fanout.
  private val q187 = Q(
    "q187_cuped_experiment",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val t = Tpch(s, dir)
      val weeks = t.eventsUs.select(col("user_id"),
        expr(s"ts_us div $WEEK_US").as("week"))
      val bounds = weeks.agg(min(col("week")).as("wmin"),
        max(col("week")).as("wmax"))
      val split = expr("(wmin + wmax + 1) div 2")
      val perUser = weeks.crossJoin(broadcast(bounds))
        .select(col("user_id"),
          when(col("week") < split, 1L).otherwise(0L).as("pre"),
          when(col("week") >= split, 1L).otherwise(0L).as("post"))
        .groupBy(col("user_id"))
        .agg(sum(col("pre")).as("x"), sum(col("post")).as("y"))
        .withColumn("variant", pmod(col("user_id"), lit(2L)))
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      val g = perUser.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .localCheckpoint(true)
      val covN = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val varXN = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val varYN = dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      val theta = covN.cast("double") / varXN.cast("double")
      val vred = (covN * covN).cast("double") /
        (varXN.cast("double") * varYN.cast("double"))
      val stats = g.select(
        col("n"), theta.as("theta"), vred.as("vred"),
        (col("sx").cast("double") / col("n")).as("xbar"))
      val byVariant = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("vx"), sum(col("y")).as("vy"))
      byVariant.crossJoin(broadcast(stats))
        .select(col("variant"), col("n_users"),
          pround(col("vx").cast("double") / col("n_users"), 6).as("mean_x"),
          pround(col("vy").cast("double") / col("n_users"), 6).as("mean_y"),
          pround(col("vy").cast("double") / col("n_users") -
            col("theta") * (col("vx").cast("double") / col("n_users") -
              col("xbar")), 6).as("mean_y_adj"),
          pround(col("theta"), 6).as("theta"),
          pround(col("vred"), 6).as("var_reduction"))
        .orderBy(col("variant"))
    },
    Some(s"""WITH weeks AS (
        SELECT user_id, epoch_us(ts) // $WEEK_US AS week FROM events),
      bounds AS (SELECT min(week) AS wmin, max(week) AS wmax FROM weeks),
      pu AS (
        SELECT user_id,
          CAST(sum(CASE WHEN week < (wmin + wmax + 1) // 2
            THEN 1 ELSE 0 END) AS BIGINT) AS x,
          CAST(sum(CASE WHEN week >= (wmin + wmax + 1) // 2
            THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM weeks CROSS JOIN bounds
        GROUP BY user_id),
      g AS (
        SELECT count(*) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(y * y) AS BIGINT) AS syy
        FROM pu),
      st AS (
        SELECT n,
          CAST(CAST(n AS DECIMAL(38,0)) * sxy
            - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
          / CAST(CAST(n AS DECIMAL(38,0)) * sxx
            - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) AS theta,
          CAST((CAST(n AS DECIMAL(38,0)) * sxy
              - CAST(sx AS DECIMAL(38,0)) * sy)
            * (CAST(n AS DECIMAL(38,0)) * sxy
              - CAST(sx AS DECIMAL(38,0)) * sy) AS DOUBLE)
          / (CAST(CAST(n AS DECIMAL(38,0)) * sxx
              - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
            * CAST(CAST(n AS DECIMAL(38,0)) * syy
              - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)) AS vred,
          CAST(sx AS DOUBLE) / n AS xbar
        FROM g),
      bv AS (
        SELECT user_id % 2 AS variant, count(*) AS n_users,
          CAST(sum(x) AS BIGINT) AS vx, CAST(sum(y) AS BIGINT) AS vy
        FROM pu GROUP BY 1)
      SELECT variant, n_users,
        ${proundSql("CAST(vx AS DOUBLE) / n_users", 6)} AS mean_x,
        ${proundSql("CAST(vy AS DOUBLE) / n_users", 6)} AS mean_y,
        ${proundSql(
          "CAST(vy AS DOUBLE) / n_users - theta * (CAST(vx AS DOUBLE)" +
            " / n_users - xbar)", 6)} AS mean_y_adj,
        ${proundSql("theta", 6)} AS theta,
        ${proundSql("vred", 6)} AS var_reduction
      FROM bv CROSS JOIN st
      ORDER BY variant"""))

  // -- E25: WILSON lower-bound ranking — confidence-adjusted CTR (the
  //    "how not to sort by average rating" correction): rank items by
  //    the Wilson score interval's lower bound at z = 2 instead of
  //    the raw click rate, so a 2/2 item stops outranking a 180/200
  //    one. Exactly replayable with zero libm concessions: counts are
  //    integers, z² = 4 is an integer literal, and sqrt is the ONE
  //    libm function IEEE 754 requires correctly rounded — the whole
  //    formula is a fixed-order float program over exact inputs.
  //    Output carries BOTH ranks; the rows where they differ are the
  //    small-sample items the correction exists for.
  private val q196 = Q(
    "q196_wilson_ranking",
    (s, dir) => {
      val t = Tpch(s, dir)
      val ev = t.events.select(itemId.as("item"), col("event_type"))
        .filter(col("event_type").isin("view", "click"))
      val counts = ev.groupBy(col("item"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("k"))
      val nD = col("n").cast("double")
      val phat = col("k").cast("double") / nD
      val term = (phat * (lit(1.0) - phat) + lit(1.0) / nD) / nD
      val lb = (phat + lit(2.0) / nD - lit(2.0) * sqrt(term)) /
        (lit(1.0) + lit(4.0) / nD)
      val scored = counts.withColumn("wilson_lb", lb)
        .withColumn("phat", phat)
      scored
        .withColumn("rank_wilson", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("wilson_lb").desc, col("item").asc)))
        .withColumn("rank_naive", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("phat").desc, col("item").asc)))
        .select(col("item"), col("n"), col("k"),
          pround(col("phat"), 6).as("phat"),
          pround(col("wilson_lb"), 6).as("wilson_lb"),
          col("rank_wilson"), col("rank_naive"))
        .orderBy(col("rank_wilson"))
    },
    Some(s"""WITH ev AS (
        SELECT $itemIdSql AS item, event_type
        FROM events WHERE event_type IN ('view', 'click')),
      counts AS (
        SELECT item, count(*) AS n,
          CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS k
        FROM ev GROUP BY item),
      scored AS (
        SELECT item, n, k,
          CAST(k AS DOUBLE) / n AS phat,
          (CAST(k AS DOUBLE) / n + 2.0 / n
            - 2.0 * sqrt(((CAST(k AS DOUBLE) / n)
                * (1.0 - CAST(k AS DOUBLE) / n) + 1.0 / n) / n))
          / (1.0 + 4.0 / n) AS wilson_lb
        FROM counts)
      SELECT item, n, k,
        ${proundSql("phat", 6)} AS phat,
        ${proundSql("wilson_lb", 6)} AS wilson_lb,
        row_number() OVER (ORDER BY wilson_lb DESC, item ASC)
          AS rank_wilson,
        row_number() OVER (ORDER BY phat DESC, item ASC) AS rank_naive
      FROM scored
      ORDER BY rank_wilson"""))

  // -- X29: Z-ORDER layout + data-skipping effectiveness (operators
  //    .ZOrder) — the lakehouse clustered-write story, MEASURED: rows
  //    are range-bucketed into 64 "files" two ways (Morton key of
  //    (l_partkey, l_suppkey) vs linear l_partkey slabs — pure
  //    integer-div bucketing, no global sort/window), per-file
  //    min/max stats computed, and a 2-D box predicate's pruning
  //    power evaluated against both layouts: files whose stat box
  //    misses the predicate box are skipped, and the row reports
  //    files pruned + rows actually scanned per layout. Everything is
  //    integer arithmetic except the final scan fraction (one IEEE
  //    division of exact longs). The production write path is
  //    repartitionByRange(64, zvalue) — the bucketing here models its
  //    file assignment without paying a bench-time sort. ----------------
  private val ZO_BITS = 10            // normalized per-dimension bits
  private val ZO_N = 1 << ZO_BITS     // normalized domain [0, N)
  private val ZO_FILES = 64
  private val q223 = Q(
    "q223_zorder_skipping",
    (s, dir) => {
      val t = Tpch(s, dir)
      val zo = graft.operators.ZOrder
      // normalize BOTH dimensions to the same bit width before
      // interleaving (the standard z-order move): raw l_partkey and
      // l_suppkey have very different ranges, and interleaving raw
      // bits would let the wider dimension dominate the key. On the
      // normalized domain, uniform keys ⇒ near-equal z-range files by
      // PURE ARITHMETIC — no global sort, no window; the production
      // write is repartitionByRange(F, z), and this constant-divisor
      // bucketing models its file assignment.
      val li = t.lineitem.select(
        col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
      val bd = li.agg(max(col("x")).as("mx"), max(col("y")).as("my"))
      val fb = li.crossJoin(broadcast(bd))
        .withColumn("xn", expr(s"(x * $ZO_N) div (mx + 1)"))
        .withColumn("yn", expr(s"(y * $ZO_N) div (my + 1)"))
        .withColumn("z", zo.zvalue(col("xn"), col("yn"), ZO_BITS))
      val inBox = expr("x >= mx div 4 AND x <= mx div 2 AND " +
        "y >= my div 4 AND y <= my div 2")
      def layout(name: String, bucket: String) = fb
        .withColumn("b", expr(bucket))
        .groupBy(col("b"))
        .agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
          min(col("y")).as("mny"), max(col("y")).as("mxy"),
          count(lit(1)).as("n"),
          sum(when(inBox, 1L).otherwise(0L)).as("mtch"),
          min(col("mx")).as("mx"), min(col("my")).as("my"))
        .withColumn("prunable", expr("mxx < mx div 4 OR mnx > mx div 2 " +
          "OR mxy < my div 4 OR mny > my div 2"))
        .groupBy()
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("prunable"), 1L).otherwise(0L)).as("n_pruned"),
          sum(col("n")).as("rows_total"),
          sum(col("mtch")).as("rows_match"),
          sum(when(col("prunable"), 0L).otherwise(col("n")))
            .as("rows_scanned"))
        .select(lit(name).as("layout"), col("n_files"), col("n_pruned"),
          col("rows_total"), col("rows_match"), col("rows_scanned"),
          pround(col("rows_scanned").cast("double") /
            col("rows_total").cast("double"), 6).as("scan_frac"))
      layout("linear", s"xn div ${ZO_N / ZO_FILES}")
        .unionByName(layout("zorder", s"z div ${ZO_N * ZO_N / ZO_FILES}"))
        .orderBy(col("layout"))
    },
    Some {
      val zsql = graft.operators.ZOrder.zvalueSql("xn", "yn", ZO_BITS)
      s"""WITH li0 AS MATERIALIZED (
        SELECT CAST(l_partkey AS BIGINT) AS x,
          CAST(l_suppkey AS BIGINT) AS y
        FROM lineitem),
      bd AS MATERIALIZED (
        SELECT max(x) AS mx, max(y) AS my FROM li0),
      li AS MATERIALIZED (
        SELECT x, y, mx, my, $zsql AS z, xn, yn
        FROM (SELECT x, y, mx, my,
                (x * $ZO_N) // (mx + 1) AS xn,
                (y * $ZO_N) // (my + 1) AS yn
              FROM li0 CROSS JOIN bd)),
      f AS MATERIALIZED (
        SELECT layout, b, min(x) AS mnx, max(x) AS mxx, min(y) AS mny,
          max(y) AS mxy, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN x >= mx // 4 AND x <= mx // 2
            AND y >= my // 4 AND y <= my // 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS mtch,
          min(mx) AS mx, min(my) AS my
        FROM (
          SELECT 'linear' AS layout, xn // ${ZO_N / ZO_FILES} AS b,
            x, y, mx, my FROM li
          UNION ALL
          SELECT 'zorder', z // ${ZO_N * ZO_N / ZO_FILES}, x, y, mx, my
          FROM li)
        GROUP BY layout, b)
      SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        CAST(sum(CASE WHEN prunable THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pruned,
        CAST(sum(n) AS BIGINT) AS rows_total,
        CAST(sum(mtch) AS BIGINT) AS rows_match,
        CAST(sum(CASE WHEN prunable THEN 0 ELSE n END) AS BIGINT)
          AS rows_scanned,
        ${proundSql(
          "CAST(sum(CASE WHEN prunable THEN 0 ELSE n END) AS DOUBLE) / " +
            "CAST(sum(n) AS DOUBLE)", 6)} AS scan_frac
      FROM (SELECT f.*, (mxx < mx // 4 OR mnx > mx // 2 OR
              mxy < my // 4 OR mny > my // 2) AS prunable
            FROM f)
      GROUP BY layout
      ORDER BY layout"""
    })

  // -- X30: HILBERT layout vs z-order vs linear — q223's harness
  //    upgraded to EQUAL-ROW files (exact global rank over the layout
  //    key via the q64 two-phase prefix, then ntile arithmetic — the
  //    file assignment repartitionByRange actually produces; q223's
  //    equal-ADDRESS slabs make z-order and Hilbert collapse to the
  //    identical 8×8 quadrant tiling whenever rows/file is a power of
  //    4, hiding the difference) and THREE fixed box predicates. The
  //    third arm keys by the Hilbert address (expressions.HilbertIndex
  //    — a per-bit reflect/swap state machine as a codegen'd loop; the
  //    oracle replays the walk as ZO_BITS chained integer CTE steps).
  //    MEASURED (box 1, sf0.01): Hilbert scans 0.110 of the table
  //    where z-order scans 0.147 and linear 0.210 — unbroken locality
  //    means file boxes without Morton's diagonal jumps, the lakehouse
  //    clustered-write upgrade quantified next to its cheaper rival.
  //    Determinism: ntile ties broken by (key, x, y); rows identical
  //    in all three are interchangeable, and every output number
  //    (per-file min/max/count sums) is invariant under permuting
  //    identical rows.
  private val q233 = Q(
    "q233_hilbert_skipping",
    (s, dir) => {
      val t = Tpch(s, dir)
      val zo = graft.operators.ZOrder
      val li = t.lineitem.select(
        col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
      val bd = li.agg(max(col("x")).as("mx"), max(col("y")).as("my"))
      val fb = li.crossJoin(broadcast(bd))
        .withColumn("xn", expr(s"(x * $ZO_N) div (mx + 1)"))
        .withColumn("yn", expr(s"(y * $ZO_N) div (my + 1)"))
        .withColumn("z", zo.zvalue(col("xn"), col("yn"), ZO_BITS))
        .withColumn("h", call_function("graft_hilbert",
          col("xn"), col("yn"), lit(ZO_BITS)))
        .localCheckpoint(true) // scanned by 3 layouts + the match counts
      val boxes = bd.select(explode(array(
          struct(lit(1).as("box"), expr("mx div 4").as("x0"),
            expr("mx div 2").as("x1"), expr("my div 4").as("y0"),
            expr("my div 2").as("y1")),
          struct(lit(2).as("box"), lit(0L).as("x0"),
            expr("mx div 10").as("x1"), lit(0L).as("y0"),
            col("my").as("y1")),
          struct(lit(3).as("box"), expr("mx div 3").as("x0"),
            expr("(2 * mx) div 3").as("x1"), expr("my div 5").as("y0"),
            expr("(2 * my) div 5").as("y1")))).as("bx"))
        .select(col("bx.*"))
        .localCheckpoint(true)
      val matches = fb.crossJoin(broadcast(boxes))
        .filter(col("x") >= col("x0") && col("x") <= col("x1") &&
          col("y") >= col("y0") && col("y") <= col("y1"))
        .groupBy(col("box")).agg(count(lit(1)).as("rows_match"))
      def layout(name: String, key: org.apache.spark.sql.Column) = {
        // equal-row files via the q64 two-phase global rank (was a
        // single global ntile window — one task sorting the whole
        // table, flagged super-linear at 10× in bench_scaled_r15:
        // 40.2 s, 14.7× the 1× wall). Phase 1: row_number PARTITIONED
        // BY the layout address (parallel; ties among identical rows
        // interchangeable as before). Phase 2: exclusive prefix over
        // the per-address counts — bounded by the ADDRESS DOMAIN
        // (≤ 2^(2·ZO_BITS) = 1M rows structurally, data-independent),
        // broadcast back. The ntile bucket is then arithmetic on the
        // exact global rank: first n mod F buckets take ⌈n/F⌉ rows —
        // bit-identical file assignment, no global sort anywhere.
        val W = org.apache.spark.sql.expressions.Window
        val loc = fb.withColumn("k", key)
          .withColumn("lrn", row_number().over(
            W.partitionBy(col("k")).orderBy(col("x"), col("y"))))
        val bases = loc.groupBy(col("k")).agg(count(lit(1)).as("kc"))
          .withColumn("base", coalesce(
            sum(col("kc")).over(W.orderBy(col("k"))) - col("kc"), lit(0L)))
          .withColumn("nt", sum(col("kc")).over(W.partitionBy(lit(1))))
          .select(col("k"), col("base"), col("nt"))
        val nq = call_function("div", col("nt"), lit(ZO_FILES.toLong))
        val nr = col("nt") % ZO_FILES
        val rn = col("base") + col("lrn")
        val cut = nr * (nq + 1)
        val b = when(rn <= cut, call_function("div", rn - 1, nq + 1))
          .otherwise(nr + call_function("div", rn - cut - 1, nq))
        val stats = loc.join(broadcast(bases), Seq("k"))
          .withColumn("b", b)
          .groupBy(col("b"))
          .agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
            min(col("y")).as("mny"), max(col("y")).as("mxy"),
            count(lit(1)).as("n"))
        stats.crossJoin(broadcast(boxes))
          .withColumn("prunable",
            col("mxx") < col("x0") || col("mnx") > col("x1") ||
            col("mxy") < col("y0") || col("mny") > col("y1"))
          .groupBy(col("box"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("prunable"), 1L).otherwise(0L)).as("n_pruned"),
            sum(col("n")).as("rows_total"),
            sum(when(col("prunable"), 0L).otherwise(col("n")))
              .as("rows_scanned"))
          .join(broadcast(matches), Seq("box"), "left")
          .select(lit(name).as("layout"), col("box"), col("n_files"),
            col("n_pruned"), col("rows_total"),
            coalesce(col("rows_match"), lit(0L)).as("rows_match"),
            col("rows_scanned"),
            pround(col("rows_scanned").cast("double") /
              col("rows_total").cast("double"), 6).as("scan_frac"))
      }
      layout("hilbert", col("h"))
        .unionByName(layout("linear", col("xn")))
        .unionByName(layout("zorder", col("z")))
        .orderBy(col("layout"), col("box"))
    },
    Some {
      val zsql = graft.operators.ZOrder.zvalueSql("xn", "yn", ZO_BITS)
      val hi = graft.expressions.HilbertIndex
      // replay the Hilbert walk: ZO_BITS chained integer steps over
      // (x=xn, y=yn, d=0), originals carried as ox/oy
      val hsteps = (0 until ZO_BITS).map { i =>
        s"""hst${i + 1} AS (
          SELECT ox, oy, mx, my, xn, yn, z,
            ${hi.stepSql(1L << (ZO_BITS - 1 - i))}
          FROM hst$i)"""
      }.mkString(",\n      ")
      s"""WITH li0 AS MATERIALIZED (
        SELECT CAST(l_partkey AS BIGINT) AS x,
          CAST(l_suppkey AS BIGINT) AS y
        FROM lineitem),
      bd AS MATERIALIZED (
        SELECT max(x) AS mx, max(y) AS my FROM li0),
      hst0 AS (
        SELECT x AS ox, y AS oy, mx, my, xn, yn, $zsql AS z,
          CAST(0 AS BIGINT) AS d, xn AS x, yn AS y
        FROM (SELECT x, y, mx, my,
                (x * $ZO_N) // (mx + 1) AS xn,
                (y * $ZO_N) // (my + 1) AS yn
              FROM li0 CROSS JOIN bd)),
      $hsteps,
      li AS MATERIALIZED (
        SELECT ox AS x, oy AS y, mx, my, xn, yn, z, d AS h
        FROM hst$ZO_BITS),
      boxes AS MATERIALIZED (
        SELECT 1 AS box, mx // 4 AS x0, mx // 2 AS x1,
          my // 4 AS y0, my // 2 AS y1 FROM bd
        UNION ALL
        SELECT 2, CAST(0 AS BIGINT), mx // 10, CAST(0 AS BIGINT), my
        FROM bd
        UNION ALL
        SELECT 3, mx // 3, (2 * mx) // 3, my // 5, (2 * my) // 5
        FROM bd),
      mtch AS MATERIALIZED (
        SELECT b.box, CAST(count(*) AS BIGINT) AS rows_match
        FROM li CROSS JOIN boxes b
        WHERE x >= b.x0 AND x <= b.x1 AND y >= b.y0 AND y <= b.y1
        GROUP BY b.box),
      f AS MATERIALIZED (
        SELECT layout, b, min(x) AS mnx, max(x) AS mxx, min(y) AS mny,
          max(y) AS mxy, CAST(count(*) AS BIGINT) AS n
        FROM (
          SELECT 'hilbert' AS layout,
            ntile($ZO_FILES) OVER (ORDER BY h, x, y) AS b, x, y FROM li
          UNION ALL
          SELECT 'linear',
            ntile($ZO_FILES) OVER (ORDER BY xn, x, y), x, y FROM li
          UNION ALL
          SELECT 'zorder',
            ntile($ZO_FILES) OVER (ORDER BY z, x, y), x, y FROM li)
        GROUP BY layout, b)
      SELECT layout, bx.box, CAST(count(*) AS BIGINT) AS n_files,
        CAST(sum(CASE WHEN f.mxx < bx.x0 OR f.mnx > bx.x1 OR
            f.mxy < bx.y0 OR f.mny > bx.y1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pruned,
        CAST(sum(n) AS BIGINT) AS rows_total,
        COALESCE(min(mtch.rows_match), 0) AS rows_match,
        CAST(sum(CASE WHEN f.mxx < bx.x0 OR f.mnx > bx.x1 OR
            f.mxy < bx.y0 OR f.mny > bx.y1 THEN 0 ELSE n END) AS BIGINT)
          AS rows_scanned,
        ${proundSql(
          "CAST(sum(CASE WHEN f.mxx < bx.x0 OR f.mnx > bx.x1 OR " +
            "f.mxy < bx.y0 OR f.mny > bx.y1 THEN 0 ELSE n END) AS DOUBLE)" +
            " / CAST(sum(n) AS DOUBLE)", 6)} AS scan_frac
      FROM f CROSS JOIN boxes bx
      LEFT JOIN mtch ON mtch.box = bx.box
      GROUP BY layout, bx.box
      ORDER BY layout, bx.box"""
    })

  // -- X31: Efraimidis–Spirakis weighted reservoir — EXACTLY k docs
  //    without replacement, inclusion odds ∝ n_chars
  //    (operators.Sampling.weightedReservoir): rank by −ln(u)/w with
  //    hash-derived u and the DETERMINISTIC graft_lndet, so the
  //    selection compares bit-identical doubles in both engines. The
  //    fixed-count complement of q86's Bernoulli rate (≈k, never
  //    exactly) and q80's unweighted exact-k. Plan shape:
  //    TakeOrderedAndProject — per-partition top-k, k-row driver
  //    merge, no corpus sort. The oracle replays the slotWide hash,
  //    the 1/u mapping, the lnDet CTE chain, and the same ORDER BY
  //    LIMIT.
  private val WR_K = 25
  private val q234 = Q(
    "q234_weighted_reservoir",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Sampling.weightedReservoir(
          t.documents.select(col("doc_id"), col("source"), col("n_chars")),
          "doc_id", col("n_chars").cast("double"), WR_K)
        .select(col("doc_id"), col("source"), col("n_chars"),
          pround(col("es_key"), 6).as("es_key"))
        .orderBy(col("doc_id"))
    },
    Some {
      val sampling = graft.operators.Sampling
      s"""WITH base AS (
        SELECT doc_id, source, n_chars,
          ${sampling.esInvSql("doc_id")} AS inv,
          CAST(n_chars AS DOUBLE) AS w
        FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
      ${lnDetSqlCtes("es", "base", "doc_id, source, n_chars, w", "inv")}
      SELECT doc_id, source, n_chars,
        ${proundSql("lnp / w", 6)} AS es_key
      FROM (SELECT * FROM eslnv ORDER BY lnp / w ASC, doc_id ASC
            LIMIT $WR_K)
      ORDER BY doc_id"""
    })

  // -- X31b: per-stratum A-ES — q234's exact-k weighted sample, one
  //    reservoir PER SOURCE (the production form: balanced corpora
  //    need per-source budgets, not one global pool). Window rank
  //    per stratum (WindowGroupLimit-pruned, q80's shape); same
  //    deterministic −ln(u)/w keys, so the oracle re-derives every
  //    selection with the lnDet chain.
  private val WRS_K = 5
  private val q240 = Q(
    "q240_stratified_reservoir",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Sampling.weightedReservoirPerStratum(
          t.documents.select(col("doc_id"), col("source"), col("n_chars")),
          "doc_id", "source", col("n_chars").cast("double"), WRS_K)
        .select(col("source"), col("es_rank"), col("doc_id"),
          col("n_chars"), pround(col("es_key"), 6).as("es_key"))
        .orderBy(col("source"), col("es_rank"))
    },
    Some {
      val sampling = graft.operators.Sampling
      s"""WITH base AS (
        SELECT doc_id, source, n_chars,
          ${sampling.esInvSql("doc_id")} AS inv,
          CAST(n_chars AS DOUBLE) AS w
        FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
      ${lnDetSqlCtes("es", "base", "doc_id, source, n_chars, w", "inv")}
      SELECT source, CAST(es_rank AS INT) AS es_rank, doc_id, n_chars,
        ${proundSql("lnp / w", 6)} AS es_key
      FROM (SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY lnp / w ASC, doc_id ASC) AS es_rank
            FROM eslnv)
      WHERE es_rank <= $WRS_K
      ORDER BY source, es_rank"""
    })

  // -- X31: BLOOM-FILTER file skipping ([[graft.operators.BloomSkip]])
  //    — the point-lookup complement to q223/q233's zone maps: the
  //    layout key is l_orderkey (range slabs), so every file's
  //    [min,max] on l_partkey straddles any probe and min/max prunes
  //    NOTHING; a per-file Bloom over l_partkey prunes by content.
  //    Measured on both probe classes: keys that exist (pass ⊇ their
  //    true files — the no-false-negative contract, visible as
  //    pairs_fp = pass − true ≥ 0) and keys guaranteed absent (every
  //    pass is a false positive — the pure fp-rate measurement).
  //    All hashing is fixed-constant BIGINT arithmetic mod 1e9+7, so
  //    filter contents and every skip decision replay exactly in SQL.
  private val BF_FILES = 64
  private val BF_M = 32768
  private val BF_K = 3
  private val q247 = Q(
    "q247_bloom_skipping",
    (s, dir) => {
      val t = Tpch(s, dir)
      val li = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
      val bd = li.agg(max(col("l_orderkey")).as("mo"),
        max(col("l_partkey")).as("mp"))
      val fileKeys = li.crossJoin(broadcast(bd))
        .withColumn("f", expr(s"(l_orderkey * $BF_FILES) div (mo + 1)"))
        .select(col("f"), col("l_partkey"))
        .distinct()
      val fbits = graft.operators.BloomSkip.fileBits(
        fileKeys, "f", "l_partkey", BF_M, BF_K)
      val present = li.select(col("l_partkey").as("probe")).distinct()
        .filter(col("probe") % 83 === 7)
        .withColumn("cls", lit("present"))
      val absent = bd
        .select(explode(sequence(col("mp") + 1, col("mp") + 24)).as("probe"))
        .withColumn("cls", lit("absent"))
      val probes = present.unionByName(absent)
      val pass = graft.operators.BloomSkip.probePass(
        fbits, probes, BF_M, BF_K)
      val aggP = probes.groupBy(col("cls")).agg(count(lit(1)).as("n_probes"))
      val aggPass = pass.groupBy(col("cls")).agg(count(lit(1)).as("pairs_pass"))
      val aggTrue = probes
        .join(fileKeys, probes("probe") === fileKeys("l_partkey"))
        .groupBy(col("cls")).agg(count(lit(1)).as("pairs_true"))
      val nf = fileKeys.agg(countDistinct(col("f")).as("n_files"))
      aggP.join(aggPass, Seq("cls"), "left").join(aggTrue, Seq("cls"), "left")
        .crossJoin(broadcast(nf))
        .select(col("cls"), col("n_probes"), col("n_files"),
          (col("n_probes") * col("n_files")).as("pairs_total"),
          coalesce(col("pairs_pass"), lit(0L)).as("pairs_pass"),
          coalesce(col("pairs_true"), lit(0L)).as("pairs_true"))
        .withColumn("pairs_fp", col("pairs_pass") - col("pairs_true"))
        .withColumn("skip_frac", pround(lit(1.0)
          - col("pairs_pass").cast("double")
            / col("pairs_total").cast("double"), 6))
        .withColumn("fp_rate", pround(col("pairs_fp").cast("double")
          / (col("pairs_total") - col("pairs_true")).cast("double"), 6))
        .orderBy(col("cls"))
    },
    Some {
      val P = 1000000007L
      def h1(x: String) = s"((($x % $P) * 2654435761) % $P) % $BF_M"
      def h2(x: String) =
        s"((($x % $P) * 40503 + 2147483647) % $P) % ${BF_M - 1} + 1"
      s"""WITH bd AS MATERIALIZED (
        SELECT max(l_orderkey) AS mo, max(l_partkey) AS mp FROM lineitem),
      filekeys AS MATERIALIZED (
        SELECT DISTINCT (l_orderkey * $BF_FILES) // (mo + 1) AS f, l_partkey
        FROM lineitem CROSS JOIN bd),
      fbits AS MATERIALIZED (
        SELECT DISTINCT f, (h1 + i * h2) % $BF_M AS bit
        FROM (SELECT f, ${h1("l_partkey")} AS h1, ${h2("l_partkey")} AS h2
              FROM filekeys)
        CROSS JOIN (SELECT unnest(generate_series(0, ${BF_K - 1})) AS i) t),
      probes AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS probe, 'present' AS cls
        FROM lineitem WHERE l_partkey % 83 = 7
        UNION ALL
        SELECT unnest(generate_series(mp + 1, mp + 24)) AS probe, 'absent'
        FROM bd),
      pbl AS (
        SELECT cls, probe,
          list_distinct(list_transform(generate_series(0, ${BF_K - 1}),
            i -> (${h1("probe")} + i * (${h2("probe")})) % $BF_M)) AS bl
        FROM probes),
      pbits AS (
        SELECT cls, probe, len(bl) AS nb, unnest(bl) AS bit FROM pbl),
      pass AS (
        SELECT cls, probe, f
        FROM pbits pb JOIN fbits fb USING (bit)
        GROUP BY cls, probe, f, nb
        HAVING count(*) = nb),
      aggp AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_probes
        FROM probes GROUP BY cls),
      aggpass AS (SELECT cls, CAST(count(*) AS BIGINT) AS pairs_pass
        FROM pass GROUP BY cls),
      aggtrue AS (SELECT cls, CAST(count(*) AS BIGINT) AS pairs_true
        FROM probes p JOIN filekeys fk ON p.probe = fk.l_partkey
        GROUP BY cls),
      nf AS (SELECT CAST(count(DISTINCT f) AS BIGINT) AS n_files
        FROM filekeys)
      SELECT cls, n_probes, n_files,
        n_probes * n_files AS pairs_total,
        coalesce(pairs_pass, 0) AS pairs_pass,
        coalesce(pairs_true, 0) AS pairs_true,
        coalesce(pairs_pass, 0) - coalesce(pairs_true, 0) AS pairs_fp,
        ${proundSql(
          """1.0 - CAST(coalesce(pairs_pass, 0) AS DOUBLE)
             / CAST(n_probes * n_files AS DOUBLE)""", 6)} AS skip_frac,
        ${proundSql(
          """CAST(coalesce(pairs_pass, 0) - coalesce(pairs_true, 0) AS DOUBLE)
             / CAST(n_probes * n_files - coalesce(pairs_true, 0) AS DOUBLE)""",
          6)} AS fp_rate
      FROM aggp
      LEFT JOIN aggpass USING (cls)
      LEFT JOIN aggtrue USING (cls)
      CROSS JOIN nf
      ORDER BY cls"""
    })

  // -- X32: ADAMIC-ADAR link prediction — q146's co-occurrence ranked
  //    by the INFORMATIVENESS of the shared users instead of raw lift:
  //    AA(i,j) = Σ_{u ∈ U(i)∩U(j)} 1/ln(deg(u)) — a user who touches
  //    everything contributes ~nothing, a 2-item user is maximal
  //    evidence (Adamic & Adar 2003). Every ln is graft_lndet (deg ≥ 2
  //    for any common neighbor, so the argument is ≥ 2 — always in
  //    lnDet's domain), per-user weights pround(8)→DECIMAL-summed so
  //    the pair score is order-free; top-5 per item by the exact
  //    rounded score. Shape: the same user-keyed self-join as q146
  //    (pairs bounded by Σ deg(u)², with the deg≥2 filter pruning the
  //    singleton mass), one hash agg, one windowed top-k.
  private val AA_K = 5
  private val q255 = Q(
    "q255_adamic_adar",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val ui = userItems(t)
      val deg = ui.groupBy(col("user_id")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2)
      val uiw = ui.join(deg, Seq("user_id"))
        .withColumn("w", lit(1.0).cast("double")
          / call_function("graft_lndet", col("d").cast("double")))
      val pairs = uiw.as("a").join(uiw.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("i1"), col("b.item").as("i2"))
        .agg(count(lit(1)).as("n_common"),
          dsum8(col("a.w")).as("aa"))
      val sym = pairs.unionByName(pairs.select(col("i2").as("i1"),
        col("i1").as("i2"), col("n_common"), col("aa")))
      val w = Window.partitionBy(col("i1"))
        .orderBy(col("aa").desc, col("i2").asc)
      sym.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= AA_K)
        .select(col("i1").as("item"), col("rank"),
          col("i2").as("neighbor"), col("n_common"),
          pround(col("aa"), 6).as("aa"))
        .orderBy(col("item"), col("rank"))
    },
    Some(s"""WITH $userItemsSql,
      deg AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS d
        FROM ui GROUP BY 1 HAVING count(*) >= 2),
      ${Portable.lnDetSqlCtes("ad", "deg", "user_id", "CAST(d AS DOUBLE)")},
      uw AS MATERIALIZED (
        SELECT user_id, CAST(1 AS DOUBLE) / lnp AS w FROM adlnv),
      pairs AS MATERIALIZED (
        SELECT a.item AS i1, b.item AS i2,
          CAST(count(*) AS BIGINT) AS n_common,
          ${dsum8Sql("u.w")} AS aa
        FROM ui a
        JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
        JOIN uw u ON u.user_id = a.user_id
        GROUP BY 1, 2),
      sym AS (
        SELECT i1, i2, n_common, aa FROM pairs
        UNION ALL
        SELECT i2, i1, n_common, aa FROM pairs)
      SELECT i1 AS item, rank, i2 AS neighbor, n_common,
        ${proundSql("aa", 6)} AS aa
      FROM (SELECT *, row_number() OVER (PARTITION BY i1
              ORDER BY aa DESC, i2 ASC) AS rank
            FROM sym)
      WHERE rank <= $AA_K
      ORDER BY item, rank"""))

  // -- X33: PERSONALIZED PageRank ([[graft.operators.PageRank
  //    .personalized]]) — topic-sensitive centrality on the bipartite
  //    user↔item random-walk graph (items offset by 1e9 so the two id
  //    spaces can't collide): teleport mass returns to the PURCHASED-
  //    item seed set, so rank = proximity to purchase intent, the
  //    focused-crawl/recsys counterpart of q133's global centrality.
  //    Same integer-exact iteration contract (scaled-millionths `div`
  //    arithmetic — bit-identical at any partitioning); top-50 by
  //    exact integer rank.
  private val q256 = Q(
    "q256_personalized_pagerank",
    (s, dir) => {
      val t = Tpch(s, dir)
      val ui = t.events.select(col("user_id").as("u"),
        (itemId + 1000000000L).as("i"))
      val edges = ui.select(col("u").as("src"), col("i").as("dst"))
        .unionByName(ui.select(col("i").as("src"), col("u").as("dst")))
      val seeds = t.events.filter(col("event_type") === "purchase")
        .select((itemId + 1000000000L).as("seed"))
        .distinct()
      graft.operators.PageRank.personalized(edges, "src", "dst", seeds,
          PR_ITERS)
        .orderBy(col("rank_scaled").desc, col("node").asc)
        .limit(50)
    },
    Some {
      def iterSql(prev: String, cur: String) =
        s"""$cur AS (
        SELECT n.node, n.is_seed,
          CAST(CASE WHEN n.is_seed THEN 150000 ELSE 0 END
            + (85 * coalesce(s.cs, CAST(0 AS BIGINT))) // 100
            AS BIGINT) AS r
        FROM ns n LEFT JOIN (
          SELECT e.dst AS node,
            CAST(sum(r.r // e.outdeg) AS BIGINT) AS cs
          FROM eo e JOIN $prev r ON r.node = e.src
          GROUP BY e.dst) s ON n.node = s.node)"""
      val iters = (1 to PR_ITERS)
        .map(i => iterSql(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
        .mkString(",\n      ")
      s"""WITH ui AS (
        SELECT DISTINCT user_id AS u, $itemIdSql + 1000000000 AS i
        FROM events),
      e AS (SELECT u AS src, i AS dst FROM ui UNION SELECT i, u FROM ui),
      seeds AS (
        SELECT DISTINCT $itemIdSql + 1000000000 AS seed
        FROM events WHERE event_type = 'purchase'),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      ns AS (
        SELECT n.node, s.seed IS NOT NULL AS is_seed
        FROM nodes n LEFT JOIN seeds s ON n.node = s.seed),
      eo AS (
        SELECT e.src, e.dst, od.outdeg
        FROM e JOIN (SELECT src, count(*) AS outdeg FROM e GROUP BY src) od
          ON e.src = od.src),
      r0 AS (
        SELECT node, is_seed,
          CAST(CASE WHEN is_seed THEN 1000000 ELSE 0 END AS BIGINT) AS r
        FROM ns),
      $iters
      SELECT node, is_seed, r AS rank_scaled FROM it$PR_ITERS
      ORDER BY rank_scaled DESC, node ASC
      LIMIT 50"""
    })

  // -- X34: APRIORI frequent-itemset funnel — support-thresholded
  //    itemset mining with the candidate-pruning LADDER measured per
  //    level (the property that makes Apriori viable at scale: level
  //    k+1's candidates come only from level k's survivors, and
  //    triples additionally need ALL THREE member pairs frequent —
  //    the triangle prune). Relative threshold (30% of basket count)
  //    so the itemsets are scale-invariant under replication. On this
  //    dense synthetic corpus the funnel reads 100 items → 167
  //    frequent pairs → 135 triangle-pruned candidates → 0 frequent
  //    triples (random 49%-density baskets: triple probability
  //    0.49³ ≈ 0.12 < 0.30) — the prune narrative in one 3-row table.
  private val AP_PCT = 30L
  private val q259 = Q(
    "q259_apriori_funnel",
    (s, dir) => {
      val t = Tpch(s, dir)
      val ui = userItems(t).localCheckpoint(true)
      val msDf = ui.agg(countDistinct(col("user_id")).as("nu"))
        .select(expr(s"($AP_PCT * nu) div 100").as("ms"))
        .localCheckpoint(true)
      val l1all = ui.groupBy(col("item")).agg(count(lit(1)).as("sup"))
        .localCheckpoint(true)
      val l1 = l1all.crossJoin(broadcast(msDf))
        .filter(col("sup") >= col("ms")).select(col("item"))
        .localCheckpoint(true)
      val l2all = ui.join(l1, Seq("item")).as("a")
        .join(ui.join(l1, Seq("item")).as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("i"), col("b.item").as("j"))
        .agg(count(lit(1)).as("sup"))
        .localCheckpoint(true)
      val l2 = l2all.crossJoin(broadcast(msDf))
        .filter(col("sup") >= col("ms"))
        .select(col("i"), col("j"))
        .localCheckpoint(true)
      val c3 = l2.as("p1").join(l2.as("p2"),
          col("p1.i") === col("p2.i") && col("p1.j") < col("p2.j"))
        .select(col("p1.i").as("i"), col("p1.j").as("j"),
          col("p2.j").as("k"))
        .join(l2.select(col("i").as("j"), col("j").as("k")),
          Seq("j", "k"), "left_semi")
        .localCheckpoint(true)
      val l3all = c3
        .join(ui.select(col("user_id"), col("item").as("i")), Seq("i"))
        .join(ui.select(col("user_id"), col("item").as("j")),
          Seq("user_id", "j"))
        .join(ui.select(col("user_id"), col("item").as("k")),
          Seq("user_id", "k"))
        .groupBy(col("i"), col("j"), col("k"))
        .agg(count(lit(1)).as("sup"))
      def lvlRow(lvl: Int, all: org.apache.spark.sql.DataFrame) = {
        val nc = all.agg(count(lit(1)).as("n_candidates"))
        val fr = all.crossJoin(broadcast(msDf))
          .filter(col("sup") >= col("ms"))
          .agg(count(lit(1)).as("n_frequent"), max(col("sup")).as("max_support"))
        nc.crossJoin(fr).crossJoin(broadcast(msDf))
          .select(lit(lvl).as("lvl"), col("n_candidates"),
            col("n_frequent"), col("max_support"),
            col("ms").as("min_support"))
      }
      lvlRow(1, l1all).unionByName(lvlRow(2, l2all))
        .unionByName(lvlRow(3, l3all))
        .orderBy(col("lvl"))
    },
    Some(s"""WITH $userItemsSql,
      ms AS (SELECT ($AP_PCT * count(DISTINCT user_id)) // 100 AS ms
        FROM ui),
      l1all AS MATERIALIZED (
        SELECT item, CAST(count(*) AS BIGINT) AS sup FROM ui GROUP BY 1),
      l1 AS (SELECT item FROM l1all WHERE sup >= (SELECT ms FROM ms)),
      l2all AS MATERIALIZED (
        SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS sup
        FROM ui a JOIN ui b
          ON a.user_id = b.user_id AND a.item < b.item
        WHERE a.item IN (SELECT item FROM l1)
          AND b.item IN (SELECT item FROM l1)
        GROUP BY 1, 2),
      l2 AS (SELECT i, j FROM l2all WHERE sup >= (SELECT ms FROM ms)),
      c3 AS MATERIALIZED (
        SELECT p1.i, p1.j, p2.j AS k
        FROM l2 p1 JOIN l2 p2 ON p1.i = p2.i AND p1.j < p2.j
        WHERE EXISTS (SELECT 1 FROM l2 px WHERE px.i = p1.j AND px.j = p2.j)),
      l3all AS MATERIALIZED (
        SELECT c.i, c.j, c.k, CAST(count(*) AS BIGINT) AS sup
        FROM c3 c
        JOIN ui u1 ON u1.item = c.i
        JOIN ui u2 ON u2.item = c.j AND u2.user_id = u1.user_id
        JOIN ui u3 ON u3.item = c.k AND u3.user_id = u1.user_id
        GROUP BY 1, 2, 3)
      SELECT 1 AS lvl,
        (SELECT CAST(count(*) AS BIGINT) FROM l1all) AS n_candidates,
        (SELECT CAST(count(*) AS BIGINT) FROM l1all
          WHERE sup >= (SELECT ms FROM ms)) AS n_frequent,
        (SELECT max(sup) FROM l1all
          WHERE sup >= (SELECT ms FROM ms)) AS max_support,
        (SELECT CAST(ms AS BIGINT) FROM ms) AS min_support
      UNION ALL
      SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM l2all),
        (SELECT CAST(count(*) AS BIGINT) FROM l2all
          WHERE sup >= (SELECT ms FROM ms)),
        (SELECT max(sup) FROM l2all WHERE sup >= (SELECT ms FROM ms)),
        (SELECT CAST(ms AS BIGINT) FROM ms)
      UNION ALL
      SELECT 3, (SELECT CAST(count(*) AS BIGINT) FROM l3all),
        (SELECT CAST(count(*) AS BIGINT) FROM l3all
          WHERE sup >= (SELECT ms FROM ms)),
        (SELECT max(sup) FROM l3all WHERE sup >= (SELECT ms FROM ms)),
        (SELECT CAST(ms AS BIGINT) FROM ms)
      ORDER BY lvl"""))

  // -- X35: KAPLAN-MEIER survival — the product-limit churn curve
  //    with RIGHT CENSORING done correctly (q142's retention matrix
  //    treats every user as fully observed; users still active at the
  //    observation edge must not count as churned): duration = active
  //    lifespan in days, churned iff last activity strictly before the final
  //    corpus day (the synthetic stream is dense — 89% of users touch
  //    the last day, so this is the cut where churned and censored
  //    both exist), S(t) = Π_{t'≤t} (1 − d/n) over the ≤31
  //    distinct durations. The duration table is calendar-bounded, so
  //    the sequential product is driver math (q242's discipline) and
  //    the oracle replays it as a lockstep recursive CTE. Engine-side
  //    Spark work is one user-keyed agg + one 31-row collect.
  private val KM_CUT = 1L
  private val q264 = Q(
    "q264_kaplan_meier",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val ud = t.eventsUs
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("fd"), max(col("day")).as("ld"))
      val edge = ud.agg(max(col("ld")).as("dmax"))
      val agg = ud.crossJoin(broadcast(edge))
        .select((col("ld") - col("fd") + 1).as("t"),
          (col("ld") <= col("dmax") - KM_CUT).cast("long").as("churn"))
        .groupBy(col("t"))
        .agg(sum(col("churn")).as("d"),
          sum(lit(1L) - col("churn")).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val total = agg.map(x => x._2 + x._3).sum
      var atRisk = total
      var surv = 1.0
      val rows = agg.map { case (tt, d, c) =>
        surv = surv * (1.0 - d.toDouble / atRisk.toDouble)
        val row = (tt, atRisk, d, c, surv)
        atRisk -= (d + c)
        row
      }
      rows.toSeq.toDF("t", "n_risk", "n_events", "n_censored", "surv_raw")
        .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
          pround(col("surv_raw"), 6).as("surv"))
        .orderBy(col("t"))
    },
    Some(s"""WITH RECURSIVE ud AS (
        SELECT user_id, min(day) AS fd, max(day) AS ld
        FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS day
              FROM events)
        GROUP BY user_id),
      edge AS (SELECT max(ld) AS dmax FROM ud),
      agg AS MATERIALIZED (
        SELECT t, CAST(sum(churn) AS BIGINT) AS d,
          CAST(sum(1 - churn) AS BIGINT) AS c,
          row_number() OVER (ORDER BY t) AS seq
        FROM (SELECT ld - fd + 1 AS t,
                CASE WHEN ld <= dmax - $KM_CUT THEN 1 ELSE 0 END AS churn
              FROM ud CROSS JOIN edge)
        GROUP BY t),
      tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM agg),
      rec(seq, t, n_risk, d, c, surv) AS (
        SELECT a.seq, a.t, tot.n, a.d, a.c,
          1.0 - CAST(a.d AS DOUBLE) / CAST(tot.n AS DOUBLE)
        FROM agg a CROSS JOIN tot WHERE a.seq = 1
        UNION ALL
        SELECT a.seq, a.t, r.n_risk - r.d - r.c, a.d, a.c,
          r.surv * (1.0 - CAST(a.d AS DOUBLE)
            / CAST(r.n_risk - r.d - r.c AS DOUBLE))
        FROM rec r JOIN agg a ON a.seq = r.seq + 1)
      SELECT t, n_risk, d AS n_events, c AS n_censored,
        ${proundSql("surv", 6)} AS surv
      FROM rec
      ORDER BY t"""))

  // -- X38: logistic-regression gate ([[graft.operators.Logistic]]) —
  //    the calibrated linear classifier trained INSIDE the engine by
  //    full-batch gradient descent. The synthetic tables carry no
  //    cross-column structure (measured: all pairwise corr ≈ 0), so
  //    the target is a constructed NONLINEAR boundary — is
  //    l_quantity·l_extendedprice above 1e6 — while the model only
  //    sees the linear pieces (quantity, price, bias): GD must learn
  //    the best linear approximation of a hyperbola, giving a real
  //    monotone learning curve (0.50 → 0.83 by iteration 10 at
  //    sf0.01) rather than a canned threshold. Sigmoids ride
  //    graft_expdet (deterministic exp), gradient sums the
  //    pround8/DECIMAL(28,8) order-free discipline, and the oracle
  //    unrolls all 11 passes as CTE chains replaying the identical
  //    IEEE ops — weights and accuracies match bit-exactly.
  private val LOGIT_LR = 2.0
  private val LOGIT_T = 10
  private val q268 = Q(
    "q268_logit_gate",
    (s, dir) => {
      val t = Tpch(s, dir)
      val feats = graft.core.Scan.fanOut(t.lineitem).select(
          when(col("l_quantity") * col("l_extendedprice") > 1000000.0, 1.0)
            .otherwise(0.0).as("y"),
          lit(1.0).as("x0"),
          (col("l_quantity").cast("double") / lit(50)).as("x1"),
          (col("l_extendedprice").cast("double") / lit(100000)).as("x2"))
      // the (x1, x2, y) grid is DOMAIN-bounded (|quantity domain| ×
      // |price domain|, ≈6M cells at any SF — y is a function of the
      // pair), so the whole 11-pass GD loop folds over ONE
      // map-side-combined cell count instead of 11 aggregate jobs
      // over lineitem (the q282 discipline; fitBatchGrouped replays
      // the float/decimal program bit-exactly, LogisticSpec-pinned)
      val hist = graft.operators.Logistic.fitBatchGrouped(
        feats, Seq("x0", "x1", "x2"), "y", LOGIT_LR, LOGIT_T,
        maxCells = 1 << 23)
      val p6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
      import s.implicits._
      hist.map(it => (it.iter, it.n, it.nCorrect,
          p6(it.nCorrect.toDouble / it.n.toDouble),
          p6(it.w(0)), p6(it.w(1)), p6(it.w(2))))
        .toDF("iter", "n", "n_correct", "acc", "w0", "w1", "w2")
        .orderBy(col("iter"))
    },
    Some {
      val audit = (0 to LOGIT_T).map(i =>
        s"SELECT $i AS iter, n, n_correct, w0, w1, w2 FROM g$i CROSS JOIN w$i")
      s"""WITH feats AS MATERIALIZED (
        SELECT CASE WHEN l_quantity * l_extendedprice > 1000000
            THEN 1.0 ELSE 0.0 END AS y,
          CAST(1 AS DOUBLE) AS x0,
          CAST(l_quantity AS DOUBLE) / 50 AS x1,
          CAST(l_extendedprice AS DOUBLE) / 100000 AS x2
        FROM lineitem),
      ${graft.operators.Logistic.fitBatchSqlCtes("", "feats",
        Seq("x0", "x1", "x2"), "y", LOGIT_LR, LOGIT_T)},
      rows_all AS (${audit.mkString("\n        UNION ALL ")})
      SELECT iter, n, n_correct,
        ${proundSql("CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE)", 6)}
          AS acc,
        ${proundSql("w0", 6)} AS w0,
        ${proundSql("w1", 6)} AS w1,
        ${proundSql("w2", 6)} AS w2
      FROM rows_all
      ORDER BY iter"""
    })

  // -- X39: HITS hubs & authorities ([[graft.operators.PageRank
  //    .hits]]) — the role-splitting link centrality next to q133's
  //    PageRank and q256's personalized variant, on the SAME
  //    events-derived graph so the three read as one ranking family.
  //    L∞ (max) normalization replaces the textbook L2 so every
  //    iteration is scaled-integer exact: sums, one max, one `div` —
  //    the oracle unrolls all three iterations in BIGINT and matches
  //    bit-for-bit; the top hub/authority sits exactly at 1e6 after
  //    each normalization.
  private val HITS_ITERS = 3
  private val q269 = Q(
    "q269_hits",
    (s, dir) => {
      val t = Tpch(s, dir)
      val edges = t.events.select(col("user_id").as("src"),
        itemId.as("dst"))
      graft.operators.PageRank.hits(edges, "src", "dst", HITS_ITERS)
        .orderBy(col("node"))
    },
    Some {
      def halfSql(scores: String, inCol: String, outCol: String,
          pfx: String) =
        s"""${pfx}p AS (
        SELECT n.node, CAST(coalesce(s.v, 0) AS BIGINT) AS v
        FROM nodes n LEFT JOIN (
          SELECT e.$outCol AS tn, CAST(sum(r.r) AS BIGINT) AS v
          FROM e JOIN $scores r ON r.node = e.$inCol
          GROUP BY e.$outCol) s ON n.node = s.tn),
      ${pfx}mx AS (SELECT max(v) AS mx FROM ${pfx}p),
      $pfx AS (
        SELECT node, CAST((v * 1000000) // mx AS BIGINT) AS r
        FROM ${pfx}p CROSS JOIN ${pfx}mx)"""
      val iters = (1 to HITS_ITERS).map { i =>
        halfSql(if (i == 1) "h0" else s"h${i - 1}", "src", "dst", s"a$i") +
          ",\n      " + halfSql(s"a$i", "dst", "src", s"h$i")
      }.mkString(",\n      ")
      s"""WITH e AS (
        SELECT DISTINCT user_id AS src, $itemIdSql AS dst FROM events),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      $iters
      SELECT n.node, h.r AS hub_scaled, a.r AS auth_scaled
      FROM nodes n
      JOIN h$HITS_ITERS h ON n.node = h.node
      JOIN a$HITS_ITERS a ON n.node = a.node
      ORDER BY n.node"""
    })

  // -- X40: QUANTILE regression (pinball-loss subgradient descent) —
  //    the regression family's tail rung (q253 fits the mean and the
  //    median slope; q268 fits a class boundary): τ = 0.75 pinball
  //    loss needs NO exp — the subgradient per row is
  //    (1{pred ≥ y} − τ)·x_j, an exact comparison times a feature —
  //    so the GD loop is pure pinned arithmetic with the
  //    pround8/DECIMAL order-free gradient sums, per RETURNFLAG in
  //    one groupBy pass per iteration (weights fold back as when-
  //    chain literals, the q102/q268 discipline). Self-audit built
  //    into the output: the features are UNCORRELATED with y
  //    (measured corr ≈ 0), so the fitted value at the mean feature
  //    must recover the MARGINAL τ-quantile — reported next to the
  //    exact rank-select percentile (0.789 vs 0.791 at sf0.01).
  private val QR_TAU = 0.75
  private val QR_LR = 1.0
  private val QR_T = 16
  private val q282 = Q(
    "q282_quantile_regression",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val feats = graft.core.Scan.fanOut(t.lineitem).select(
          col("l_returnflag").as("flag"),
          lit(1.0).as("x0"),
          (col("l_quantity").cast("double") / lit(50)).as("x1"),
          (col("l_extendedprice").cast("double") / lit(100000)).as("y"),
          col("l_quantity").cast("long").as("q_int"),
          col("l_extendedprice").as("e_raw"))
      // the per-row gradient (1{pred ≥ y} − τ)·x_j depends on the row
      // only through (flag, x1, ind): x0 is the constant 1 and x1 has
      // |distinct l_quantity| values, so the 8-decimal addend is
      // IDENTICAL for every row of a (flag, x1, ind) group, and pred
      // is CONSTANT within a (flag, x1) cell — ind just splits the
      // cell's y-multiset at the threshold pred. So one aggregation
      // job (the (flag, x1, y) histogram, map-side-combined; its
      // cardinality is capped by |flags|·|quantity domain|·|price
      // domain|, not by the row count) collected once replaces all
      // QR_T iteration jobs: the driver folds count × addend per cell
      // with the exact same IEEE compare, pround-to-8 double rounding,
      // double→DECIMAL(18,8) cast, exact decimal product/sum and
      // decimal→double cast the in-engine loop performed, so every
      // iteration's weights are bit-identical while 16 broadcast+
      // aggregate+collect job rounds collapse into zero.
      // q_int is constant within a (flag, x1, y) cell (x1 determines
      // it), so the cell sums reproduce stats' n/sq exactly (long
      // sums are order-free), and the per-flag cumulative y counts
      // reproduce the rank-select exact quantile (e_raw → y is
      // strictly monotone and injective: consecutive e_raw values
      // differ by ≥ 0.01, far above double ulp at 1e5) — the whole
      // query needs exactly ONE pass over lineitem.
      val hist = feats.groupBy(col("flag"), col("x1"), col("y"))
        .agg(count(lit(1)).as("c"), sum(col("q_int")).as("sq"))
        .select(col("flag"), col("x1"), col("y"), col("c"), col("sq"))
        .as[(String, Double, Double, Long, Long)].collect()
      val flags = hist.iterator.map(_._1).toArray.distinct.sorted
      // per (flag, x1): ascending distinct y values + cumulative counts
      val cells = hist.groupBy(h => (h._1, h._2)).map { case (k, rows) =>
        val srt = rows.sortBy(_._3)
        val ys = srt.map(_._3)
        val cum = new Array[Long](srt.length)
        var acc = 0L
        var i = 0
        while (i < srt.length) { acc += srt(i)._4; cum(i) = acc; i += 1 }
        (k._1, k._2, ys, cum)
      }.toArray
      // pround(c, 8).cast(DecimalType(18, 8)) replayed exactly:
      // floor→long→double / 1e8, then the double→decimal cast is
      // BigDecimal(Double.toString(d)).setScale(8, HALF_UP)
      val p8d = (x: Double) => {
        val r = math.floor(x * 1e8 + 0.5).toLong.toDouble / 1e8
        new java.math.BigDecimal(java.lang.Double.toString(r))
          .setScale(8, java.math.RoundingMode.HALF_UP)
      }
      var w: Map[String, (Double, Double)] =
        flags.map(_ -> (0.0, 0.0)).toMap
      for (_ <- 1 to QR_T) {
        val g0 = collection.mutable.Map[String, java.math.BigDecimal]()
        val g1 = collection.mutable.Map[String, java.math.BigDecimal]()
        val n = collection.mutable.Map[String, Long]()
        val zero = java.math.BigDecimal.ZERO
        for ((f, x1, ys, cum) <- cells) {
          val (w0, w1) = w(f)
          // x0 ≡ 1.0, and 1.0 · w0 == w0 in IEEE doubles, so dropping
          // the x0 term keeps pred bit-identical
          val pred = w0 + x1 * w1
          var lo = 0
          var hi = ys.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (pred >= ys(mid)) lo = mid + 1 else hi = mid
          }
          val nLe = if (lo == 0) 0L else cum(lo - 1)
          val nCell = cum(cum.length - 1)
          val nGt = nCell - nLe
          var a0 = zero
          var a1 = zero
          if (nLe > 0) {
            val c = java.math.BigDecimal.valueOf(nLe)
            a0 = a0.add(c.multiply(p8d((1.0 - QR_TAU) * 1.0)))
            a1 = a1.add(c.multiply(p8d((1.0 - QR_TAU) * x1)))
          }
          if (nGt > 0) {
            val c = java.math.BigDecimal.valueOf(nGt)
            a0 = a0.add(c.multiply(p8d((0.0 - QR_TAU) * 1.0)))
            a1 = a1.add(c.multiply(p8d((0.0 - QR_TAU) * x1)))
          }
          g0(f) = g0.getOrElse(f, zero).add(a0)
          g1(f) = g1.getOrElse(f, zero).add(a1)
          n(f) = n.getOrElse(f, 0L) + nCell
        }
        w = flags.map { f =>
          val nf = n(f).toDouble
          val (w0, w1) = w(f)
          f -> (w0 - QR_LR * (g0(f).doubleValue / nf),
            w1 - QR_LR * (g1(f).doubleValue / nf))
        }.toMap
      }
      // stats and the exact rank-select quantile fold out of the same
      // histogram: n/sq are exact order-free long sums, and the row
      // with row_number == (3n+3) div 4 under ORDER BY e_raw carries
      // the y value found by walking the per-flag cumulative counts
      // in ascending y (ties in y across x1 cells merge; the selected
      // VALUE is tie-order-independent).
      val byFlag = hist.groupBy(_._1)
      val nF = byFlag.map { case (f, rs) =>
        f -> rs.iterator.map(_._4).sum }
      val sqF = byFlag.map { case (f, rs) =>
        f -> rs.iterator.map(_._5).sum }
      val qExactF = byFlag.map { case (f, rs) =>
        val srt = rs.sortBy(_._3)
        val target = (3 * nF(f) + 3) / 4
        var acc = 0L
        var i = 0
        while (acc < target) { acc += srt(i)._4; i += 1 }
        f -> srt(i - 1)._3
      }
      val stats = flags.toSeq.map(f => (f, nF(f), sqF(f)))
        .toDF("flag", "n", "sq")
      val exact = flags.toSeq.map(f => (f, qExactF(f)))
        .toDF("flag", "q_exact")
      val wDf = flags.toSeq
        .map(f => (f, w(f)._1, w(f)._2)).toDF("flag", "w0r", "w1r")
      stats.join(wDf, Seq("flag")).join(exact, Seq("flag"))
        .select(col("flag").as("l_returnflag"), col("n"),
          pround(col("w0r"), 6).as("w0"),
          pround(col("w1r"), 6).as("w1"),
          pround(col("w0r") + col("w1r")
            * (col("sq").cast("double")
              / (lit(50L) * col("n")).cast("double")), 6)
            .as("pred_at_mean"),
          pround(col("q_exact"), 6).as("q_exact"))
        .orderBy(col("l_returnflag"))
    },
    Some {
      val iters = (1 to QR_T).map { i =>
        s"""g$i AS MATERIALIZED (
        SELECT f.flag, CAST(count(*) AS BIGINT) AS n,
          ${dsum8Sql("""(CASE WHEN (x0 * w0 + x1 * w1) >= y
            THEN 1.0 ELSE 0.0 END - 0.75) * x0""")} AS g0,
          ${dsum8Sql("""(CASE WHEN (x0 * w0 + x1 * w1) >= y
            THEN 1.0 ELSE 0.0 END - 0.75) * x1""")} AS g1
        FROM feats f JOIN w${i - 1} USING (flag)
        GROUP BY f.flag),
      w$i AS MATERIALIZED (
        SELECT w.flag, w.w0 - $QR_LR * (g.g0 / g.n) AS w0,
          w.w1 - $QR_LR * (g.g1 / g.n) AS w1
        FROM w${i - 1} w JOIN g$i g USING (flag))"""
      }.mkString(",\n      ")
      s"""WITH feats AS MATERIALIZED (
        SELECT l_returnflag AS flag, CAST(1 AS DOUBLE) AS x0,
          CAST(l_quantity AS DOUBLE) / 50 AS x1,
          CAST(l_extendedprice AS DOUBLE) / 100000 AS y,
          CAST(l_quantity AS BIGINT) AS q_int,
          l_extendedprice AS e_raw
        FROM lineitem),
      w0 AS (SELECT DISTINCT flag, CAST(0 AS DOUBLE) AS w0,
        CAST(0 AS DOUBLE) AS w1 FROM feats),
      $iters,
      stats AS (
        SELECT flag, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(q_int) AS BIGINT) AS sq
        FROM feats GROUP BY flag),
      rk AS (
        SELECT flag, e_raw, row_number() OVER (
            PARTITION BY flag ORDER BY e_raw ASC) AS rk
        FROM feats),
      exact AS (
        SELECT r.flag, CAST(r.e_raw AS DOUBLE) / 100000 AS q_exact
        FROM rk r JOIN stats s USING (flag)
        WHERE r.rk = (3 * s.n + 3) // 4)
      SELECT s.flag AS l_returnflag, s.n,
        ${proundSql("w.w0", 6)} AS w0,
        ${proundSql("w.w1", 6)} AS w1,
        ${proundSql(
          """w.w0 + w.w1 * (CAST(s.sq AS DOUBLE)
             / CAST(50 * s.n AS DOUBLE))""", 6)} AS pred_at_mean,
        ${proundSql("e.q_exact", 6)} AS q_exact
      FROM stats s JOIN w$QR_T w USING (flag) JOIN exact e USING (flag)
      ORDER BY l_returnflag"""
    })

  // -- X41: GROUP-SEQUENTIAL A/B monitoring (O'Brien-Fleming) — the
  //    peeking-correct experimentation rung next to q187's CUPED: an
  //    experimenter who checks a fixed-α z-test weekly inflates false
  //    positives ~4×; the OBF spending boundaries (hard literals for
  //    K = 4 looks — conservative early, ≈ the fixed test at the end)
  //    are what a sequential monitor compares against. Arms come from
  //    the slotWide user-hash split (deterministic, balanced); the
  //    metric is user-level purchase conversion among users SEEN by
  //    each look; every count is integer, the two-proportion z is
  //    pinned divisions + one IEEE sqrt. On a null split (same
  //    population both arms) no look should cross — the emitted
  //    `crossed` column is the sanity audit.
  private val AB_LOOKS = 4
  private val AB_BOUNDS = Seq(4.332634, 2.963131, 2.359044, 2.014090)
  private val q284 = Q(
    "q284_sequential_ab",
    (s, dir) => {
      val t = Tpch(s, dir)
      val ev = t.eventsUs
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"),
          (col("event_type") === "purchase").cast("long").as("purch"))
        .localCheckpoint(true)
      val minDay = ev.agg(min(col("day"))).head.getLong(0)
      val looks = (1 to AB_LOOKS).map(w =>
        (w, minDay + 7L * w, AB_BOUNDS(w - 1)))
      val sp = s
      import sp.implicits._
      val lookDf = looks.toDF("look", "cutoff", "boundary")
      // user-level metric that never saturates: is the user's
      // purchase SHARE above the 1/5 uniform rate so far — an
      // integer comparison (5·purchases > events)
      val perUserLook = ev.crossJoin(broadcast(lookDf))
        .filter(col("day") < col("cutoff"))
        .groupBy(col("user_id"), col("look"), col("boundary"))
        .agg(count(lit(1)).as("tot"), sum(col("purch")).as("pc"))
        .withColumn("arm",
          pmod(graft.operators.Sampling.slotWide(col("user_id")), lit(2L)))
        .withColumn("conv",
          (lit(5L) * col("pc") > col("tot")).cast("long"))
      val counts = perUserLook
        .groupBy(col("look"), col("boundary"))
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c1"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c2"))
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val p2 = col("c2").cast("double") / col("n2").cast("double")
      val pp = (col("c1") + col("c2")).cast("double") /
        (col("n1") + col("n2")).cast("double")
      val z = (p1 - p2) / sqrt(pp * (lit(1.0) - pp)
        * (lit(1.0) / col("n1").cast("double")
          + lit(1.0) / col("n2").cast("double")))
      val zg = when((col("c1") + col("c2")) > 0
        && (col("c1") + col("c2")) < (col("n1") + col("n2")), z)
      counts
        .select(col("look"), col("n1"), col("c1"), col("n2"), col("c2"),
          pround(zg, 6).as("z"),
          pround(col("boundary"), 6).as("boundary"),
          coalesce((abs(zg) > col("boundary")).cast("int"), lit(0))
            .as("crossed"))
        .orderBy(col("look"))
    },
    Some {
      val boundsVals = AB_BOUNDS.zipWithIndex
        .map { case (b, i) => s"(${i + 1}, $b)" }.mkString(", ")
      s"""WITH ev AS MATERIALIZED (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS purch
        FROM events),
      m0 AS (SELECT min(day) AS d0 FROM ev),
      looks(look, boundary) AS (VALUES $boundsVals),
      pul AS MATERIALIZED (
        SELECT e.user_id, l.look, l.boundary,
          CAST(count(*) AS BIGINT) AS tot,
          CAST(sum(purch) AS BIGINT) AS pc,
          (${graft.operators.Sampling.slotWideSql("e.user_id")}) % 2
            AS arm
        FROM ev e CROSS JOIN m0 CROSS JOIN looks l
        WHERE e.day < d0 + 7 * l.look
        GROUP BY e.user_id, l.look, l.boundary),
      counts AS (
        SELECT look, boundary,
          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN arm = 0 AND 5 * pc > tot
            THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(sum(CASE WHEN arm = 1 AND 5 * pc > tot
            THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM pul
        GROUP BY look, boundary),
      zt AS (
        SELECT look, boundary, n1, c1, n2, c2,
          CASE WHEN c1 + c2 > 0 AND c1 + c2 < n1 + n2 THEN
            (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
            / sqrt(CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
              * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
              * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
          END AS z
        FROM counts)
      SELECT look, n1, c1, n2, c2,
        ${proundSql("z", 6)} AS z,
        ${proundSql("boundary", 6)} AS boundary,
        CAST(coalesce(CASE WHEN abs(z) > boundary THEN 1 ELSE 0 END, 0)
          AS INT) AS crossed
      FROM zt
      ORDER BY look"""
    })

  // -- X42: IPW causal effect estimation — the OBSERVATIONAL rung of
  //    the experimentation family (q187 adjusts a randomized test,
  //    q284 monitors one; this one corrects a NON-randomized
  //    comparison): treatment is CONSTRUCTED to depend on quantity
  //    (plus hash noise, propensity ∈ [0.4, 0.9] — common support by
  //    design) and the outcome also depends on quantity plus a true
  //    effect of 0.3, so the naive arm difference is biased
  //    (measured 0.397 at sf0.01); a logistic propensity
  //    (Logistic.fitBatch — graft_expdet sigmoids, unrolled-GD
  //    oracle) feeds the Hajek inverse-propensity estimator, which
  //    pulls the estimate back toward truth (0.32 at 16 GD steps).
  //    The three numbers sit in one row: naive, IPW, truth — the
  //    confounding-correction audit. All sums ride pround8/DECIMAL;
  //    the IPW ratios are pinned divisions.
  private val IPW_LR = 8.0
  private val IPW_T = 16

  /** q285/q299's confounded scenario over lineitem: treatment `t`
    * depends on quantity plus hash noise, outcome `y` on quantity plus
    * the planted 0.3 effect. Returns the checkpointed (t, x0, x1,
    * y_base, y) frame, the fitted propensity e(x) as a column over it,
    * and the fitted weights.
    */
  private def ipwScenario(t: Tpch): (DataFrame, Column, Seq[Double]) = {
    val u = pmod(graft.operators.Sampling.slotWide(
      col("l_orderkey") * lit(8L) + col("l_linenumber")), lit(500L))
    val feats = graft.core.Scan.fanOut(t.lineitem).select(
        when(lit(5.0) * col("l_quantity") + u.cast("double") > 300.0,
          1.0).otherwise(0.0).as("t"),
        lit(1.0).as("x0"),
        (col("l_quantity").cast("double") / lit(50)).as("x1"),
        ((col("l_extendedprice").cast("double") / lit(100000))
          + lit(0.01) * col("l_quantity").cast("double")).as("y_base"))
      .withColumn("y", col("y_base") + lit(0.3) * col("t"))
      .localCheckpoint(true)
    // (x0, x1, t) lives on a 100-cell grid: the grouped fitter
    // folds the 16 GD passes into ONE cell job (bit-identical —
    // LogisticSpec pins fitBatchGrouped ≡ fitBatch)
    val w = graft.operators.Logistic.fitBatchGrouped(
      feats, Seq("x0", "x1"), "t", IPW_LR, IPW_T).last.w
    (feats, sigmoid(col("x0") * lit(w(0)) + col("x1") * lit(w(1))), w)
  }

  /** Oracle twin of [[ipwScenario]]: the `feats` CTE (t, x0, x1, y),
    * the GD CTEs `iw0`..`iw$IPW_T`, and `esig` carrying (t, y) plus
    * `s` = the fitted propensity.
    */
  private val ipwSql = s"""feats AS MATERIALIZED (
        SELECT t, x0, x1, y_base + 0.3 * t AS y FROM (
          SELECT CASE WHEN 5.0 * l_quantity
              + CAST((${graft.operators.Sampling.slotWideSql(
                "l_orderkey * 8 + l_linenumber")}) % 500 AS DOUBLE) > 300.0
              THEN 1.0 ELSE 0.0 END AS t,
            CAST(1 AS DOUBLE) AS x0,
            CAST(l_quantity AS DOUBLE) / 50 AS x1,
            (CAST(l_extendedprice AS DOUBLE) / 100000
              + 0.01 * CAST(l_quantity AS DOUBLE)) AS y_base
          FROM lineitem)),
      ${graft.operators.Logistic.fitBatchSqlCtes("i", "feats",
        Seq("x0", "x1"), "t", IPW_LR, IPW_T)},
      ${sigmoidSqlCtes("e", s"feats CROSS JOIN iw$IPW_T", "t, y",
        "x0 * w0 + x1 * w1")}"""
  private val q285 = Q(
    "q285_ipw_ate",
    (s, dir) => {
      val (feats, e, Seq(w0, w1)) = ipwScenario(Tpch(s, dir))
      feats
        .agg(count(lit(1)).as("n"),
          sum(col("t").cast("long")).as("n_treated"),
          dsum8(col("t") * col("y")).as("sy1"),
          dsum8((lit(1.0) - col("t")) * col("y")).as("sy0"),
          dsum8(col("t") * col("y") / e).as("s1n"),
          dsum8(col("t") / e).as("s1d"),
          dsum8((lit(1.0) - col("t")) * col("y") / (lit(1.0) - e))
            .as("s0n"),
          dsum8((lit(1.0) - col("t")) / (lit(1.0) - e)).as("s0d"))
        .select(col("n"), col("n_treated"),
          pround(lit(w0), 6).as("w0"), pround(lit(w1), 6).as("w1"),
          pround(col("sy1") / col("n_treated").cast("double")
            - col("sy0") / (col("n") - col("n_treated")).cast("double"),
            6).as("naive_diff"),
          pround(col("s1n") / col("s1d") - col("s0n") / col("s0d"), 6)
            .as("ipw_ate"),
          lit(0.3).as("true_effect"))
    },
    Some(s"""WITH $ipwSql,
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(t AS BIGINT)) AS BIGINT) AS n_treated,
          ${dsum8Sql("t * y")} AS sy1,
          ${dsum8Sql("(1.0 - t) * y")} AS sy0,
          ${dsum8Sql("t * y / s")} AS s1n,
          ${dsum8Sql("t / s")} AS s1d,
          ${dsum8Sql("(1.0 - t) * y / (1.0 - s)")} AS s0n,
          ${dsum8Sql("(1.0 - t) / (1.0 - s)")} AS s0d
        FROM esig)
      SELECT n, n_treated,
        (SELECT ${proundSql("w0", 6)} FROM iw$IPW_T) AS w0,
        (SELECT ${proundSql("w1", 6)} FROM iw$IPW_T) AS w1,
        ${proundSql(
          """sy1 / CAST(n_treated AS DOUBLE)
             - sy0 / CAST(n - n_treated AS DOUBLE)""", 6)} AS naive_diff,
        ${proundSql("s1n / s1d - s0n / s0d", 6)} AS ipw_ate,
        0.3 AS true_effect
      FROM agg"""))

  // -- X43: regression discontinuity (sharp RD) — the cutoff-rule
  //    rung of the causal family: treatment switches deterministically
  //    at quantity ≥ 25 (a sharp eligibility rule), the outcome also
  //    TRENDS in quantity (slope 0.01), so the naive above/below
  //    difference is wildly biased (≈ 0.55 for a true effect of 0.3);
  //    local-linear fits on [CUT−H, CUT) and [CUT, CUT+H] predict the
  //    outcome AT the cutoff from each side, and their gap recovers
  //    the effect exactly in expectation. OLS is the exact
  //    integer-sum closed form (q276's algebra) on centered running
  //    variable q − 25 — no GD, no libm; naive/RD/truth in one row.
  private val RD_CUT = 25.0
  private val RD_H = 10.0
  private val q286 = Q(
    "q286_regression_discontinuity",
    (s, dir) => {
      val t = Tpch(s, dir)
      val feats = t.lineitem.select(
          col("l_quantity").cast("double").as("q"),
          col("l_quantity").cast("long").as("qi"),
          ((col("l_quantity").cast("double") - lit(RD_CUT)))
            .as("qc"),
          ((col("l_extendedprice").cast("double") / lit(100000))
            + lit(0.01) * col("l_quantity").cast("double")
            + lit(0.3) * when(col("l_quantity") >= RD_CUT, 1.0)
              .otherwise(0.0)).as("y"))
        .localCheckpoint(true)
      def sideFit(df: org.apache.spark.sql.DataFrame, name: String) =
        df.agg(count(lit(1)).as("n"), sum(col("qi")).as("sqi"),
            dsum8(col("y")).as("sy"), dsum8(col("qc") * col("y")).as("sxy"),
            sum(col("qi") * col("qi")).as("sqq"))
          .select(lit(name).as("side"), col("n"),
            // centered integer sums: Σqc = Σqi − 25n (exact), and
            // Σqc² = Σqi² − 50Σqi + 625n (exact BIGINT)
            (col("sqi") - lit(25L) * col("n")).as("sx"),
            (col("sqq") - lit(50L) * col("sqi")
              + lit(625L) * col("n")).as("sxx"),
            col("sy"), col("sxy"))
          .select(col("side"), col("n"),
            // slope b = (nΣxy − ΣxΣy)/(nΣxx − Σx²); intercept at the
            // cutoff a = (Σy − bΣx)/n (x already centered at CUT)
            ((col("n").cast("double") * col("sxy")
              - col("sx").cast("double") * col("sy"))
              / (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")).as("b"),
            col("sy"), col("sx"))
          .select(col("side"), col("n"), col("b"),
            ((col("sy") - col("b") * col("sx").cast("double"))
              / col("n").cast("double")).as("a"))
      val lo = sideFit(feats.filter(col("q") >= RD_CUT - RD_H
        && col("q") < RD_CUT), "lo")
      val hi = sideFit(feats.filter(col("q") >= RD_CUT
        && col("q") < RD_CUT + RD_H), "hi")
      val naive = feats.agg(
        (dsum8(when(col("q") >= RD_CUT, col("y")))
          / sum(when(col("q") >= RD_CUT, 1L).otherwise(0L))
            .cast("double")
          - dsum8(when(col("q") < RD_CUT, col("y")))
          / sum(when(col("q") < RD_CUT, 1L).otherwise(0L))
            .cast("double")).as("naive_diff"))
      lo.select(col("n").as("n_lo"), col("a").as("a_lo"),
          col("b").as("b_lo"))
        .crossJoin(hi.select(col("n").as("n_hi"), col("a").as("a_hi"),
          col("b").as("b_hi")))
        .crossJoin(naive)
        .select(col("n_lo"), col("n_hi"),
          pround(col("b_lo"), 6).as("slope_lo"),
          pround(col("b_hi"), 6).as("slope_hi"),
          pround(col("naive_diff"), 6).as("naive_diff"),
          pround(col("a_hi") - col("a_lo"), 6).as("rd_effect"),
          lit(0.3).as("true_effect"))
    },
    Some {
      def sideSql(name: String, cond: String) =
        s"""$name AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(qi) - 25 * count(*) AS BIGINT) AS sx,
          CAST(sum(qi * qi) - 50 * sum(qi) + 625 * count(*) AS BIGINT)
            AS sxx,
          ${dsum8Sql("y")} AS sy,
          ${dsum8Sql("qc * y")} AS sxy
        FROM feats WHERE $cond),
      ${name}f AS (
        SELECT n, b, (sy - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
          AS a
        FROM (
          SELECT n, sx, sy,
            (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              / CAST(n * sxx - sx * sx AS DOUBLE) AS b
          FROM $name))"""
      s"""WITH feats AS MATERIALIZED (
        SELECT CAST(l_quantity AS DOUBLE) AS q,
          CAST(l_quantity AS BIGINT) AS qi,
          CAST(l_quantity AS DOUBLE) - $RD_CUT AS qc,
          (CAST(l_extendedprice AS DOUBLE) / 100000
            + 0.01 * CAST(l_quantity AS DOUBLE)
            + 0.3 * CASE WHEN l_quantity >= $RD_CUT THEN 1.0
              ELSE 0.0 END) AS y
        FROM lineitem),
      ${sideSql("lo", s"q >= ${RD_CUT - RD_H} AND q < $RD_CUT")},
      ${sideSql("hi", s"q >= $RD_CUT AND q < ${RD_CUT + RD_H}")},
      naive AS (
        SELECT ${dsum8Sql(s"CASE WHEN q >= $RD_CUT THEN y END")}
            / CAST(sum(CASE WHEN q >= $RD_CUT THEN 1 ELSE 0 END)
              AS DOUBLE)
          - ${dsum8Sql(s"CASE WHEN q < $RD_CUT THEN y END")}
            / CAST(sum(CASE WHEN q < $RD_CUT THEN 1 ELSE 0 END)
              AS DOUBLE) AS naive_diff
        FROM feats)
      SELECT lof.n AS n_lo, hif.n AS n_hi,
        ${proundSql("lof.b", 6)} AS slope_lo,
        ${proundSql("hif.b", 6)} AS slope_hi,
        ${proundSql("naive_diff", 6)} AS naive_diff,
        ${proundSql("hif.a - lof.a", 6)} AS rd_effect,
        0.3 AS true_effect
      FROM lof CROSS JOIN hif CROSS JOIN naive"""
    })

  // -- X44: difference-in-differences — the panel rung completing the
  //    causal quartet (q187 CUPED, q284 sequential, q285 IPW, q286
  //    RD): two periods × two hash groups over per-user purchase
  //    shares, with a group gap (0.1), a common time trend (0.05),
  //    and a treatment effect (0.2) planted on (treated, post). The
  //    post-only comparison measures gap+effect (0.3-ish), the
  //    treated pre/post measures trend+effect (0.25-ish); DiD cancels
  //    both nuisances and recovers ≈ 0.2. Four cell means via the
  //    pround8/DECIMAL order-free sums; one subtraction chain in
  //    pinned order.
  private val q287 = Q(
    "q287_diff_in_diff",
    (s, dir) => {
      val t = Tpch(s, dir)
      val ev = t.eventsUs
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"),
          (col("event_type") === "purchase").cast("long").as("purch"))
      val minDay = ev.agg(min(col("day"))).head.getLong(0)
      val cells = ev
        .withColumn("p", (col("day") >= minDay + 15L).cast("long"))
        .groupBy(col("user_id"), col("p"))
        .agg(count(lit(1)).as("tot"), sum(col("purch")).as("pc"))
        .select(col("p"),
          pmod(graft.operators.Sampling.slotWide(col("user_id")), lit(2L))
            .as("g"),
          (col("pc").cast("double") / col("tot").cast("double")).as("share"))
        .withColumn("y", col("share")
          + lit(0.1) * col("g").cast("double")
          + lit(0.05) * col("p").cast("double")
          + lit(0.2) * (col("g") * col("p")).cast("double"))
      val m = cells.groupBy(col("g"), col("p"))
        .agg((dsum8(col("y"))
          / count(lit(1)).cast("double")).as("m"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getDouble(2), r.getLong(3))).toMap
      val sp = s
      import sp.implicits._
      val p6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
      val (m00, m01, m10, m11) =
        (m((0L, 0L))._1, m((0L, 1L))._1, m((1L, 0L))._1, m((1L, 1L))._1)
      Seq((m.values.map(_._2).sum,
        p6(m00), p6(m01), p6(m10), p6(m11),
        p6(m11 - m01), p6(m11 - m10),
        p6((m11 - m10) - (m01 - m00)), 0.2))
        .toDF("n_cells_total", "m_ctrl_pre", "m_ctrl_post",
          "m_treat_pre", "m_treat_post", "naive_post", "naive_prepost",
          "did", "true_effect")
    },
    Some {
      s"""WITH ev AS MATERIALIZED (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS purch
        FROM events),
      m0 AS (SELECT min(day) AS d0 FROM ev),
      up AS MATERIALIZED (
        SELECT user_id,
          CASE WHEN day >= d0 + 15 THEN 1 ELSE 0 END AS p,
          CAST(count(*) AS BIGINT) AS tot,
          CAST(sum(purch) AS BIGINT) AS pc
        FROM ev CROSS JOIN m0
        GROUP BY user_id, CASE WHEN day >= d0 + 15 THEN 1 ELSE 0 END),
      cells AS (
        SELECT p,
          (${graft.operators.Sampling.slotWideSql("user_id")}) % 2 AS g,
          CAST(pc AS DOUBLE) / CAST(tot AS DOUBLE)
            + 0.1 * CAST((${graft.operators.Sampling.slotWideSql(
              "user_id")}) % 2 AS DOUBLE)
            + 0.05 * CAST(p AS DOUBLE)
            + 0.2 * CAST(((${graft.operators.Sampling.slotWideSql(
              "user_id")}) % 2) * p AS DOUBLE) AS y
        FROM up),
      cm AS (
        SELECT g, p, ${dsum8Sql("y")} / CAST(count(*) AS DOUBLE) AS m,
          CAST(count(*) AS BIGINT) AS n
        FROM cells GROUP BY g, p),
      wide AS (
        SELECT
          CAST(sum(n) AS BIGINT) AS n_cells_total,
          max(CASE WHEN g = 0 AND p = 0 THEN m END) AS m00,
          max(CASE WHEN g = 0 AND p = 1 THEN m END) AS m01,
          max(CASE WHEN g = 1 AND p = 0 THEN m END) AS m10,
          max(CASE WHEN g = 1 AND p = 1 THEN m END) AS m11
        FROM cm)
      SELECT n_cells_total,
        ${proundSql("m00", 6)} AS m_ctrl_pre,
        ${proundSql("m01", 6)} AS m_ctrl_post,
        ${proundSql("m10", 6)} AS m_treat_pre,
        ${proundSql("m11", 6)} AS m_treat_post,
        ${proundSql("m11 - m01", 6)} AS naive_post,
        ${proundSql("m11 - m10", 6)} AS naive_prepost,
        ${proundSql("(m11 - m10) - (m01 - m00)", 6)} AS did,
        0.2 AS true_effect
      FROM wide"""
    })

  // -- X45: LOG-RANK test — the hypothesis-test companion to q264's
  //    Kaplan-Meier curve (KM describes one arm's survival; log-rank
  //    asks whether two arms' survival DIFFERS, censoring-aware): at
  //    each event time, observed group-1 events vs the hypergeometric
  //    expectation d·n1/n and variance; χ² = (O1−E1)²/V. Arms come
  //    from the null hash split, so the audit is that the test
  //    correctly does NOT reject (χ² < 3.84) — the q284 null-split
  //    discipline. At-risk counts ride a dense (time × group) grid
  //    (≤ 31 distinct durations — calendar-bounded) with per-group
  //    suffix-sum windows; E/V terms are pinned per-time doubles
  //    accumulated with the pround8/DECIMAL order-free sum; O1 is
  //    pure integer.
  private val q288 = Q(
    "q288_logrank",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val ud = t.eventsUs
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("fd"), max(col("day")).as("ld"))
      val edge = ud.agg(max(col("ld")).as("dmax"))
      val durs = ud.crossJoin(broadcast(edge))
        .select((col("ld") - col("fd") + 1).as("t"),
          (col("ld") <= col("dmax") - KM_CUT).cast("long").as("ev"),
          pmod(graft.operators.Sampling.slotWide(col("user_id")), lit(2L))
            .as("g"))
        .localCheckpoint(true)
      val gt = durs.groupBy(col("g"), col("t"))
        .agg(sum(col("ev")).as("d"), count(lit(1)).as("m"))
      val grid = durs.select(col("t")).distinct()
        .crossJoin(durs.select(col("g")).distinct())
      val dense = grid.join(gt, Seq("g", "t"), "left")
        .select(col("g"), col("t"),
          coalesce(col("d"), lit(0L)).as("d"),
          coalesce(col("m"), lit(0L)).as("m"))
      val wRisk = Window.partitionBy(col("g")).orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val atRisk = dense.withColumn("nr", sum(col("m")).over(wRisk))
      val byTime = atRisk.groupBy(col("t"))
        .agg(sum(col("d")).as("dt"),
          sum(when(col("g") === 1, col("d")).otherwise(0L)).as("d1"),
          sum(col("nr")).as("nt"),
          sum(when(col("g") === 1, col("nr")).otherwise(0L)).as("n1"))
        .filter(col("dt") >= 1)
      val frac = col("n1").cast("double") / col("nt").cast("double")
      val eterm = col("dt").cast("double") * frac
      val vterm = when(col("nt") > 1,
        col("dt").cast("double") * frac * (lit(1.0) - frac)
          * (col("nt") - col("dt")).cast("double")
          / (col("nt") - 1).cast("double")).otherwise(0.0)
      byTime.agg(
          sum(col("d1")).as("o1"),
          dsum8(eterm).as("e1"),
          dsum8(vterm).as("v"))
        .crossJoin(broadcast(durs.groupBy(col("g"))
          .agg(count(lit(1)).as("cnt"))
          .agg(sum(when(col("g") === 0, col("cnt"))).as("n_ctrl"),
            sum(when(col("g") === 1, col("cnt"))).as("n_treat"))))
        .select(col("n_ctrl"), col("n_treat"), col("o1"),
          pround(col("e1"), 6).as("e1"),
          pround(col("v"), 6).as("v"),
          pround((col("o1").cast("double") - col("e1"))
            * (col("o1").cast("double") - col("e1")) / col("v"), 6)
            .as("chi2"),
          ((col("o1").cast("double") - col("e1"))
            * (col("o1").cast("double") - col("e1")) / col("v")
            > 3.841459).cast("int").as("reject_95"))
    },
    Some {
      s"""WITH ud AS (
        SELECT user_id, min(day) AS fd, max(day) AS ld
        FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS day
              FROM events)
        GROUP BY user_id),
      edge AS (SELECT max(ld) AS dmax FROM ud),
      durs AS MATERIALIZED (
        SELECT ld - fd + 1 AS t,
          CASE WHEN ld <= dmax - $KM_CUT THEN 1 ELSE 0 END AS ev,
          (${graft.operators.Sampling.slotWideSql("user_id")}) % 2 AS g
        FROM ud CROSS JOIN edge),
      gt AS (
        SELECT g, t, CAST(sum(ev) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS m
        FROM durs GROUP BY g, t),
      dense AS (
        SELECT gr.g, gr.t, coalesce(gt.d, 0) AS d, coalesce(gt.m, 0) AS m
        FROM (SELECT DISTINCT d1.t, d2.g
              FROM durs d1 CROSS JOIN durs d2) gr
        LEFT JOIN gt ON gt.g = gr.g AND gt.t = gr.t),
      atrisk AS (
        SELECT g, t, d, CAST(sum(m) OVER (PARTITION BY g ORDER BY t DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS nr
        FROM dense),
      bytime AS (
        SELECT t, CAST(sum(d) AS BIGINT) AS dt,
          CAST(sum(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
          CAST(sum(nr) AS BIGINT) AS nt,
          CAST(sum(CASE WHEN g = 1 THEN nr ELSE 0 END) AS BIGINT) AS n1
        FROM atrisk GROUP BY t),
      terms AS (
        SELECT d1,
          CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
            AS eterm,
          CASE WHEN nt > 1 THEN
            CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
              * (1.0 - CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
              * CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE)
            ELSE 0.0 END AS vterm
        FROM bytime WHERE dt >= 1),
      agg AS (
        SELECT CAST(sum(d1) AS BIGINT) AS o1,
          ${dsum8Sql("eterm")} AS e1, ${dsum8Sql("vterm")} AS v
        FROM terms),
      sizes AS (
        SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_ctrl,
          CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_treat
        FROM durs)
      SELECT n_ctrl, n_treat, o1,
        ${proundSql("e1", 6)} AS e1,
        ${proundSql("v", 6)} AS v,
        ${proundSql(
          "(CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v",
          6)} AS chi2,
        CAST(CASE WHEN (CAST(o1 AS DOUBLE) - e1)
            * (CAST(o1 AS DOUBLE) - e1) / v > 3.841459
          THEN 1 ELSE 0 END AS INT) AS reject_95
      FROM agg CROSS JOIN sizes"""
    })

  // -- X46: BRADLEY-TERRY arena ranking — the pairwise-preference fit
  //    behind LLM-eval leaderboards (chatbot-arena style): 8 "models"
  //    with planted strengths θ_i = 0.4·i, battles generated per
  //    lineitem row from slotWide hashes (pair pick + outcome drawn
  //    against precomputed integer win thresholds
  //    floor(σ(θ_a−θ_b)·slotRange) — the q274 inverse-CDF trick, zero
  //    runtime randomness), then the BTL strengths recovered by
  //    full-batch GD on the pairwise logistic likelihood (graft_expdet
  //    sigmoids, strengths folded as when-chain literals, gradients
  //    the pround8/DECIMAL order-free sums; pairwise gradients are
  //    antisymmetric so Σs stays 0 — identified without pinning).
  //    Output carries fitted vs true-centered strengths side by side:
  //    the full planted ORDERING must be recovered (it is, fitted
  //    [−1.31 … 1.31] vs true [−1.4 … 1.4] at sf0.01).
  //
  //    Scale shape: the battle space has only K·(K−1)·2 = 112 distinct
  //    (a, b, win) cells, so ONE map-side-combined groupBy pass
  //    collapses the corpus to 112 counted cells and every GD
  //    iteration then folds driver-side with the SAME math the
  //    distributed aggregate would run: per-cell gradient contribution
  //    = round8((p−win)·sign) as DECIMAL(28,8) × cell count — exactly
  //    the decimal sum of identical per-row terms (decimal arithmetic
  //    is associative), with graft_expdet replayed by its bit-twin
  //    ExpDet.compute. 16 iterations × 8 sums over 112 cells is
  //    driver-trivial; the cluster does exactly one pass at any SF.
  private val BTL_K = 8
  private val BTL_LR = 4.0
  private val BTL_T = 16
  private val BTL_THETA = (0 until BTL_K).map(i => 0.4 * i)
  private val BTL_THR: IndexedSeq[IndexedSeq[Long]] =
    (0 until BTL_K).map(a => (0 until BTL_K).map { b =>
      if (a == b) 0L
      else math.floor(graft.expressions.ExpDet.sigmoid(
        BTL_THETA(a) - BTL_THETA(b)) * 999985999949.0).toLong
    })
  private val q289 = Q(
    "q289_btl_arena",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val sw = (c: org.apache.spark.sql.Column) =>
        graft.operators.Sampling.slotWide(c)
      val thrLit = array(BTL_THR.map(row =>
        array(row.map(lit(_)): _*)): _*)
      val rk = col("l_orderkey") * lit(8L) + col("l_linenumber")
      val battles = graft.core.Scan.fanOut(t.lineitem)
        .select(
          pmod(sw(rk * lit(3L) + lit(1L)), lit(BTL_K.toLong)).as("a"),
          pmod(sw(rk * lit(3L) + lit(2L)), lit((BTL_K - 1).toLong))
            .as("b7"),
          sw(rk * lit(3L) + lit(3L)).as("u"))
        .withColumn("b",
          col("b7") + (col("b7") >= col("a")).cast("long"))
        .withColumn("win",
          (col("u") < element_at(element_at(thrLit,
            col("a").cast("int") + 1), col("b").cast("int") + 1))
            .cast("double"))
        .select(col("a"), col("b"), col("win"))
      // ONE distributed pass: collapse to the 112 distinct battle
      // cells (map-side combine does nearly all the work)
      val cells = battles.groupBy(col("a"), col("b"), col("win"))
        .agg(count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
          r.getDouble(2), r.getLong(3)))
      val n = cells.map(_._4).sum
      // Driver-side GD — bit-identical to the distributed decimal
      // aggregate: per-cell term round8((p−win)·sign) enters as
      // java BigDecimal at scale 8 HALF_UP (Spark's double→decimal
      // cast), × count (exact), summed (exact), then one toDouble
      // (Spark's decimal→double cast).
      def round8(x: Double): Double = math.floor(x * 1e8 + 0.5) / 1e8
      def dec8(x: Double): java.math.BigDecimal =
        java.math.BigDecimal.valueOf(x)
          .setScale(8, java.math.RoundingMode.HALF_UP)
      var st = Array.fill(BTL_K)(0.0)
      for (_ <- 1 to BTL_T) {
        val gs = Array.fill(BTL_K)(java.math.BigDecimal.ZERO)
        cells.foreach { case (a, b, win, cnt) =>
          val p = graft.expressions.ExpDet.sigmoid(st(a) - st(b))
          val cntD = java.math.BigDecimal.valueOf(cnt)
          gs(a) = gs(a).add(
            dec8(round8((p - win) * 1.0)).multiply(cntD))
          gs(b) = gs(b).add(
            dec8(round8((p - win) * -1.0)).multiply(cntD))
        }
        st = Array.tabulate(BTL_K)(i =>
          st(i) - BTL_LR * (gs(i).doubleValue / n.toDouble))
      }
      // win stats from the same 112 cells — no second corpus pass
      val nb = Array.fill(BTL_K)(0L)
      val nw = Array.fill(BTL_K)(0L)
      cells.foreach { case (a, b, win, cnt) =>
        nb(a) += cnt; nb(b) += cnt
        nw(a) += win.toLong * cnt; nw(b) += (1L - win.toLong) * cnt
      }
      val p6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
      (0 until BTL_K)
        .map(i => (i.toLong, nb(i), nw(i), p6(st(i)),
          p6(BTL_THETA(i) - 1.4)))
        .toDF("item", "n_battles", "n_wins", "strength", "true_centered")
        .orderBy(col("item"))
    },
    Some {
      val thrSql = "[" + BTL_THR.map(row =>
        "[" + row.mkString(", ") + "]").mkString(", ") + "]"
      def sOfSql(c: String) = "CASE " + (0 until BTL_K)
        .map(i => s"WHEN $c = $i THEN s$i").mkString(" ") + " ELSE 0.0 END"
      val iters = (1 to BTL_T).map { t0 =>
        val gcols = (0 until BTL_K).map { i =>
          dsum8Sql(s"""(s - win) * (CASE WHEN a = $i THEN 1.0
            WHEN b = $i THEN -1.0 ELSE 0.0 END)""") + s" AS g$i"
        }.mkString(",\n          ")
        val supd = (0 until BTL_K).map(i =>
          s"s$i - $BTL_LR * (g$i / n) AS s$i").mkString(", ")
        s"""${sigmoidSqlCtes(s"bp$t0", s"battles CROSS JOIN bs${t0 - 1}",
          "a, b, win", s"(${sOfSql("a")}) - (${sOfSql("b")})")},
      bg$t0 AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n,
          $gcols
        FROM bp${t0}sig),
      bs$t0 AS MATERIALIZED (
        SELECT $supd FROM bs${t0 - 1} CROSS JOIN bg$t0)"""
      }.mkString(",\n      ")
      val s0cols = (0 until BTL_K).map(i =>
        s"CAST(0 AS DOUBLE) AS s$i").mkString(", ")
      val outRows = (0 until BTL_K).map { i =>
        s"""SELECT $i AS item, ${proundSql(s"s$i", 6)} AS strength,
          ${proundSql(s"CAST(${(BTL_THETA(i) - 1.4).toString} AS DOUBLE)", 6)} AS true_centered
        FROM bs$BTL_T"""
      }.mkString("\n        UNION ALL ")
      s"""WITH battles AS MATERIALIZED (
        SELECT a, b7 + CASE WHEN b7 >= a THEN 1 ELSE 0 END AS b,
          CASE WHEN u < ($thrSql)[CAST(a AS INT) + 1]
              [CAST(b7 + CASE WHEN b7 >= a THEN 1 ELSE 0 END AS INT) + 1]
            THEN 1.0 ELSE 0.0 END AS win
        FROM (
          SELECT
            (${graft.operators.Sampling.slotWideSql(
              "(l_orderkey * 8 + l_linenumber) * 3 + 1")}) % $BTL_K AS a,
            (${graft.operators.Sampling.slotWideSql(
              "(l_orderkey * 8 + l_linenumber) * 3 + 2")})
              % ${BTL_K - 1} AS b7,
            (${graft.operators.Sampling.slotWideSql(
              "(l_orderkey * 8 + l_linenumber) * 3 + 3")}) AS u
          FROM lineitem)),
      bs0 AS (SELECT $s0cols),
      $iters,
      ws AS (
        SELECT item, CAST(count(*) AS BIGINT) AS n_battles,
          CAST(sum(CAST(w AS BIGINT)) AS BIGINT) AS n_wins
        FROM (
          SELECT a AS item, win AS w FROM battles
          UNION ALL
          SELECT b, 1.0 - win FROM battles)
        GROUP BY item),
      fitted AS ($outRows)
      SELECT w.item, w.n_battles, w.n_wins, f.strength, f.true_centered
      FROM ws w JOIN fitted f USING (item)
      ORDER BY w.item"""
    })

  // -- X51: DEGREE ASSORTATIVITY — the graph-family rung after
  //    PageRank/HITS/triangles/Adamic-Adar: do high-degree users
  //    attach to high-degree items, or is the bipartite interaction
  //    graph disassortative (the hub-vs-niche shape that decides
  //    whether degree-based sampling skews a training corpus)?
  //    Pearson r of (user degree, item degree) across the distinct
  //    user-item edges: the five moment sums are exact BIGINTs from
  //    one degree-join pass; r is one pinned float program over them.
  private val q305 = Q(
    "q305_degree_assortativity",
    (s, dir) => {
      val t = Tpch(s, dir)
      val ui = userItems(t).localCheckpoint(true)
      val du = ui.groupBy(col("user_id")).agg(count(lit(1)).as("du"))
      val di = ui.groupBy(col("item")).agg(count(lit(1)).as("di"))
      val edges = ui.join(du, Seq("user_id")).join(di, Seq("item"))
      val agg = edges.agg(
        count(lit(1)).as("m"),
        sum(col("du")).as("sx"), sum(col("di")).as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("di") * col("di")).as("syy"),
        sum(col("du") * col("di")).as("sxy"))
      val nu = ui.select(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("item")).as("n_items"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val num = d(col("m")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val denx = d(col("m")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      val deny = d(col("m")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
      agg.crossJoin(broadcast(nu))
        .select(col("m").as("m_edges"), col("n_users"), col("n_items"),
          col("sx"), col("sy"), col("sxy"),
          pround(num / (sqrt(denx) * sqrt(deny)), 6).as("assortativity"))
    },
    Some {
      val num = """(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"""
      val denx = """(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""
      val deny = """(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"""
      s"""WITH $userItemsSql,
      du AS (SELECT user_id, CAST(count(*) AS BIGINT) AS du FROM ui
        GROUP BY user_id),
      di AS (SELECT item, CAST(count(*) AS BIGINT) AS di FROM ui
        GROUP BY item),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
          CAST(sum(du.du) AS BIGINT) AS sx,
          CAST(sum(di.di) AS BIGINT) AS sy,
          CAST(sum(du.du * du.du) AS BIGINT) AS sxx,
          CAST(sum(di.di * di.di) AS BIGINT) AS syy,
          CAST(sum(du.du * di.di) AS BIGINT) AS sxy
        FROM ui JOIN du ON du.user_id = ui.user_id
        JOIN di ON di.item = ui.item),
      nu AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          CAST(count(DISTINCT item) AS BIGINT) AS n_items
        FROM ui)
      SELECT m AS m_edges, n_users, n_items, sx, sy, sxy,
        ${proundSql(s"$num / (sqrt($denx) * sqrt($deny))", 6)}
          AS assortativity
      FROM agg CROSS JOIN nu"""
    })

  // -- X50: PROPENSITY SUBCLASSIFICATION (blocking, Cochran 1968) —
  //    the third way to spend a propensity score, next to q285's IPW
  //    (same confounded scenario, same logistic fit, same planted
  //    0.3 effect): stratify e(x) into 5 fixed bins, take the
  //    treated-minus-control mean INSIDE each bin (confounding is
  //    ~constant within a thin propensity slice), and weight the
  //    per-bin contrasts by bin mass over the bins where BOTH arms
  //    appear. Where IPW reweights rows (variance blows up as
  //    e → 0/1), blocking trims to the overlap region by
  //    construction — the estimator a reviewer asks for when
  //    weights are extreme. Per-bin y-sums are pround8→DECIMAL
  //    (order-free); the bin grid is fixed [0,1)/5, not quantiles,
  //    so bin membership is a pure function of the fitted e.
  private val q299 = Q(
    "q299_propensity_blocks",
    (s, dir) => {
      val (feats, e, _) = ipwScenario(Tpch(s, dir))
      val cells = feats
        .withColumn("ebin", least(floor(e * lit(5.0)), lit(4.0))
          .cast("long"))
        .groupBy(col("ebin"))
        .agg(count(lit(1)).as("n"),
          sum(col("t").cast("long")).as("nt"),
          dsum8(col("t") * col("y")).as("sy1"),
          dsum8((lit(1.0) - col("t")) * col("y")).as("sy0"))
        .localCheckpoint(true)
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val ybar1 = col("sy1") / d(col("nt"))
      val ybar0 = col("sy0") / d(col("n") - col("nt"))
      val bate = ybar1 - ybar0
      val per = cells.select(col("ebin").cast("int").as("ebin"),
        col("n"), col("nt").as("n_treated"),
        when(col("nt") > 0, pround(ybar1, 6)).as("ybar_t"),
        when(col("n") > col("nt"), pround(ybar0, 6)).as("ybar_c"),
        when(col("nt") > 0 && col("nt") < col("n"), pround(bate, 6))
          .as("block_ate"))
      val used = cells.filter(col("nt") > 0 && col("nt") < col("n"))
      val summary = used
        .select(col("n"), col("nt"), (d(col("n")) * bate).as("term"))
        .agg(sum(col("n")).as("nu"), sum(col("nt")).as("ntu"),
          dsum8(col("term")).as("sterm"))
        .select(lit(-1).as("ebin"), col("nu").as("n"),
          col("ntu").as("n_treated"),
          lit(null).cast("double").as("ybar_t"),
          lit(null).cast("double").as("ybar_c"),
          pround(col("sterm") / d(col("nu")), 6).as("block_ate"))
      per.unionByName(summary).orderBy(col("ebin"))
    },
    Some(s"""WITH $ipwSql,
      cells AS MATERIALIZED (
        SELECT CAST(least(floor(s * 5.0), 4.0) AS BIGINT) AS ebin,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(t AS BIGINT)) AS BIGINT) AS nt,
          ${dsum8Sql("t * y")} AS sy1,
          ${dsum8Sql("(1.0 - t) * y")} AS sy0
        FROM esig GROUP BY 1),
      per AS (
        SELECT CAST(ebin AS INT) AS ebin, n, nt AS n_treated,
          CASE WHEN nt > 0 THEN ${proundSql(
            "sy1 / CAST(nt AS DOUBLE)", 6)} END AS ybar_t,
          CASE WHEN n > nt THEN ${proundSql(
            "sy0 / CAST(n - nt AS DOUBLE)", 6)} END AS ybar_c,
          CASE WHEN nt > 0 AND nt < n THEN ${proundSql(
            """sy1 / CAST(nt AS DOUBLE)
               - sy0 / CAST(n - nt AS DOUBLE)""", 6)} END AS block_ate
        FROM cells),
      summ AS (
        SELECT -1 AS ebin, CAST(sum(n) AS BIGINT) AS n,
          CAST(sum(nt) AS BIGINT) AS n_treated,
          CAST(NULL AS DOUBLE) AS ybar_t,
          CAST(NULL AS DOUBLE) AS ybar_c,
          ${proundSql(
            dsum8Sql("""CAST(n AS DOUBLE) * (sy1 / CAST(nt AS DOUBLE)
              - sy0 / CAST(n - nt AS DOUBLE))""") +
              " / CAST(sum(n) AS DOUBLE)", 6)} AS block_ate
        FROM cells WHERE nt > 0 AND nt < n)
      SELECT * FROM per
      UNION ALL SELECT * FROM summ
      ORDER BY ebin"""))

  // -- X47: GINI DECISION STUMP — the simplest trainable split rule,
  //    fitted exactly: four bounded-grid features of lineitem
  //    (quantity, discount¢, tax¢, linenumber) against the
  //    returnflag='R' label; for every (feature, threshold) the
  //    left/right class masses come from ONE pass of per-value counts
  //    + a per-feature cumulative window (≤ grid-size rows), and the
  //    weighted Gini impurity (n² − pos² − neg²)/n per side is
  //    computed from exact integers with one pinned float program.
  //    Argmin ties break (threshold asc); the global winner is the
  //    orderBy-limit-1 row, not a float reduce. Train accuracy of the
  //    majority-vote stump is EXACT integer arithmetic.
  //    Shape at scale: the corpus pass is a map-side-combined count
  //    per (feature, value) — ≤ Σ grid sizes (~120) rows leave the
  //    scan no matter the row count; everything after is driver-tiny.
  private val q294 = Q(
    "q294_gini_stump",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val feats = t.lineitem.select(
        explode(array(
          struct(lit(1).as("feature"),
            col("l_quantity").cast("double").cast("long").as("v")),
          struct(lit(2).as("feature"),
            floor(col("l_discount").cast("double") * 100.0)
              .cast("long").as("v")),
          struct(lit(3).as("feature"),
            floor(col("l_tax").cast("double") * 100.0)
              .cast("long").as("v")),
          struct(lit(4).as("feature"),
            col("l_linenumber").cast("long").as("v")))).as("fv"),
        (col("l_returnflag") === "R").cast("long").as("pos"))
        .select(col("fv.feature").as("feature"), col("fv.v").as("v"),
          col("pos"))
      val cells = feats.groupBy(col("feature"), col("v"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
        .localCheckpoint(true)
      val wc = Window.partitionBy(col("feature")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tots = cells.groupBy(col("feature"))
        .agg(sum(col("n")).as("nt"), sum(col("np")).as("pt"))
      val cum = cells
        .withColumn("nl", sum(col("n")).over(wc))
        .withColumn("pl", sum(col("np")).over(wc))
        .join(tots, "feature")
        .filter(col("nl") < col("nt")) // right side must be nonempty
        .withColumn("gl_", col("nl") - col("pl"))
        .withColumn("nr", col("nt") - col("nl"))
        .withColumn("pr_", col("pt") - col("pl"))
        .withColumn("gr_", col("nr") - col("pr_"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val gini =
        (d(col("nl")) * d(col("nl")) - d(col("pl")) * d(col("pl"))
          - d(col("gl_")) * d(col("gl_"))) / d(col("nl")) +
        (d(col("nr")) * d(col("nr")) - d(col("pr_")) * d(col("pr_"))
          - d(col("gr_")) * d(col("gr_"))) / d(col("nr"))
      val scoredSt = cum.withColumn("g8", pround(gini, 8))
      val wf = Window.partitionBy(col("feature"))
        .orderBy(col("g8").asc, col("v").asc)
      val winners = scoredSt.withColumn("rn", row_number().over(wf))
        .filter(col("rn") === 1)
        .localCheckpoint(true)
      val best = winners
        .orderBy(col("g8").asc, col("feature").asc).limit(1)
        .select(col("feature").as("bf"))
      winners.crossJoin(broadcast(best))
        .select(col("feature"), col("v").as("threshold"),
          col("nl").as("n_left"), col("pl").as("pos_left"),
          col("nr").as("n_right"), col("pr_").as("pos_right"),
          pround(gini / d(col("nt")), 6).as("gini"),
          pround((greatest(col("pl"), col("gl_"))
            + greatest(col("pr_"), col("gr_"))).cast("double")
            / d(col("nt")), 6).as("train_acc"),
          (col("feature") === col("bf")).cast("int").as("is_best"))
        .orderBy(col("feature"))
    },
    Some(s"""WITH src AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
          CAST(floor(CAST(l_discount AS DOUBLE) * 100.0) AS BIGINT)
            AS disc,
          CAST(floor(CAST(l_tax AS DOUBLE) * 100.0) AS BIGINT) AS tax,
          CAST(l_linenumber AS BIGINT) AS ln_,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem),
      feats AS (
        SELECT 1 AS feature, q AS v, pos FROM src
        UNION ALL SELECT 2, disc, pos FROM src
        UNION ALL SELECT 3, tax, pos FROM src
        UNION ALL SELECT 4, ln_, pos FROM src),
      cells AS MATERIALIZED (
        SELECT feature, v, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS np
        FROM feats GROUP BY feature, v),
      tots AS (SELECT feature, CAST(sum(n) AS BIGINT) AS nt,
        CAST(sum(np) AS BIGINT) AS pt FROM cells GROUP BY feature),
      cum AS (
        SELECT c.feature, c.v,
          CAST(sum(c.n) OVER (PARTITION BY c.feature ORDER BY c.v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS nl,
          CAST(sum(c.np) OVER (PARTITION BY c.feature ORDER BY c.v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS pl,
          t.nt, t.pt
        FROM cells c JOIN tots t ON t.feature = c.feature),
      sides AS (
        SELECT feature, v, nl, pl, nl - pl AS gl_, nt - nl AS nr,
          pt - pl AS pr_, (nt - nl) - (pt - pl) AS gr_, nt, pt
        FROM cum WHERE nl < nt),
      scored AS (
        SELECT *,
          (CAST(nl AS DOUBLE) * CAST(nl AS DOUBLE)
            - CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
            - CAST(gl_ AS DOUBLE) * CAST(gl_ AS DOUBLE))
            / CAST(nl AS DOUBLE)
          + (CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE)
            - CAST(pr_ AS DOUBLE) * CAST(pr_ AS DOUBLE)
            - CAST(gr_ AS DOUBLE) * CAST(gr_ AS DOUBLE))
            / CAST(nr AS DOUBLE) AS g
        FROM sides),
      winners AS MATERIALIZED (
        SELECT * FROM (
          SELECT *, ${proundSql("g", 8)} AS g8,
            row_number() OVER (PARTITION BY feature
              ORDER BY ${proundSql("g", 8)} ASC, v ASC) AS rn
          FROM scored) WHERE rn = 1),
      best AS (SELECT feature AS bf FROM winners
        ORDER BY g8 ASC, feature ASC LIMIT 1)
      SELECT w.feature, w.v AS threshold, w.nl AS n_left,
        w.pl AS pos_left, w.nr AS n_right, w.pr_ AS pos_right,
        ${proundSql("w.g / CAST(w.nt AS DOUBLE)", 6)} AS gini,
        ${proundSql(
          """CAST(GREATEST(w.pl, w.gl_) + GREATEST(w.pr_, w.gr_)
             AS DOUBLE) / CAST(w.nt AS DOUBLE)""", 6)} AS train_acc,
        CAST(CASE WHEN w.feature = b.bf THEN 1 ELSE 0 END AS INT)
          AS is_best
      FROM winners w CROSS JOIN best b
      ORDER BY w.feature"""))

  // -- X48: COCHRAN-ARMITAGE TREND TEST — the dose-response rung of
  //    the test battery: χ² (q85) asks "associated at all", CA asks
  //    "does the positive rate move MONOTONICALLY with an ordered
  //    exposure" — one df spent on the trend, so it sees what the
  //    omnibus test dilutes. Doses are quantity decades (0..4),
  //    outcome returnflag='R'. The statistic is computed from five
  //    exact integer sums (N, X, Σw·n, Σw²·n, Σw·x) with one pinned
  //    float program: T = Sx − X·S1/N, Var = X(N−X)/N² ·
  //    (S2 − S1²/N), Z = T/√Var. Gate at χ²₁(0.95).
  private val q295 = Q(
    "q295_cochran_armitage",
    (s, dir) => {
      val t = Tpch(s, dir)
      val g = t.lineitem.select(
        least(floor(col("l_quantity").cast("double") / 10.0)
          .cast("long"), lit(4L)).as("dose"),
        (col("l_returnflag") === "R").cast("long").as("x"))
      val cells = g.groupBy(col("dose"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("xs"))
        .localCheckpoint(true)
      val agg2 = cells.agg(
        sum(col("n")).as("nn"), sum(col("xs")).as("xx"),
        sum(col("dose") * col("n")).as("s1"),
        sum(col("dose") * col("dose") * col("n")).as("s2"),
        sum(col("dose") * col("xs")).as("sx"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val tStat = d(col("sx")) - d(col("xx")) * d(col("s1")) / d(col("nn"))
      val varr = (d(col("xx")) * d(col("nn") - col("xx")) /
        (d(col("nn")) * d(col("nn")))) *
        (d(col("s2")) - d(col("s1")) * d(col("s1")) / d(col("nn")))
      val stat = agg2.select(col("nn"), col("xx"),
        col("s1"), col("s2"), col("sx"),
        pround(tStat / sqrt(varr), 6).as("z"),
        pround(tStat * tStat / varr, 6).as("z2"),
        (tStat * tStat / varr > lit(3.841459)).cast("int").as("reject_95"))
      cells.crossJoin(broadcast(stat))
        .select(col("dose"), col("n"), col("xs").as("x"),
          pround(col("xs").cast("double") / col("n").cast("double"), 6)
            .as("rate"),
          col("nn").as("n_total"), col("xx").as("x_total"),
          col("z"), col("z2"), col("reject_95"))
        .orderBy(col("dose"))
    },
    Some {
      val tS = "CAST(sx AS DOUBLE) - CAST(xx AS DOUBLE) " +
        "* CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE)"
      val vS = "CAST(xx AS DOUBLE) * CAST(nn - xx AS DOUBLE) " +
        "/ (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) " +
        "* (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) " +
        "* CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE))"
      s"""WITH g AS (
        SELECT least(CAST(floor(CAST(l_quantity AS DOUBLE) / 10.0)
            AS BIGINT), 4) AS dose,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS x
        FROM lineitem),
      cells AS MATERIALIZED (
        SELECT dose, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS xs
        FROM g GROUP BY dose),
      agg2 AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
          CAST(sum(xs) AS BIGINT) AS xx,
          CAST(sum(dose * n) AS BIGINT) AS s1,
          CAST(sum(dose * dose * n) AS BIGINT) AS s2,
          CAST(sum(dose * xs) AS BIGINT) AS sx
        FROM cells),
      stat AS (
        SELECT nn, xx, s1, s2, sx,
          ${proundSql(s"($tS) / sqrt($vS)", 6)} AS z,
          ${proundSql(s"($tS) * ($tS) / ($vS)", 6)} AS z2,
          CAST(CASE WHEN ($tS) * ($tS) / ($vS) > 3.841459
            THEN 1 ELSE 0 END AS INT) AS reject_95
        FROM agg2)
      SELECT c.dose, c.n, c.xs AS x,
        ${proundSql("CAST(c.xs AS DOUBLE) / CAST(c.n AS DOUBLE)", 6)}
          AS rate,
        s.nn AS n_total, s.xx AS x_total, s.z, s.z2, s.reject_95
      FROM cells c CROSS JOIN stat s
      ORDER BY c.dose"""
    })

  // -- X49: BENJAMINI-HOCHBERG FDR over a metric battery — what an
  //    experimentation platform actually does after q284's single
  //    test: 25 simultaneous A/B hypotheses (per-metric two-proportion
  //    z), five with PLANTED lift (the q289 inverse-CDF construction —
  //    outcomes drawn against precomputed integer thresholds, zero
  //    runtime randomness), the rest true nulls; BH step-up at
  //    q = 0.05 orders the p-values and rejects the largest prefix
  //    with p_(i) ≤ q·i/K — FDR control where Bonferroni would burn
  //    power. p-values come from Portable.pTwoSided, the deterministic
  //    normal tail (|err| < 1.5e-7 — far below any BH decision margin
  //    here).
  private val BH_K = 25
  private val BH_RATE: IndexedSeq[IndexedSeq[Long]] =
    (0 until BH_K).map { m =>
      IndexedSeq(0, 1).map { arm =>
        val r = 0.30 + (if (arm == 1 && m < 5) 0.05 else 0.0)
        math.floor(r * 999985999949.0).toLong
      }
    }
  private val q296 = Q(
    "q296_bh_fdr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val sw = (c: org.apache.spark.sql.Column) =>
        graft.operators.Sampling.slotWide(c)
      val thrLit = array(BH_RATE.map(row =>
        array(row.map(lit(_)): _*)): _*)
      val rk = col("l_orderkey") * lit(8L) + col("l_linenumber")
      val rows = graft.core.Scan.fanOut(t.lineitem)
        .select(pmod(col("l_partkey"), lit(BH_K.toLong)).as("metric"),
          pmod(sw(rk * lit(2L) + lit(1L)), lit(2L)).as("arm"),
          sw(rk * lit(2L) + lit(2L)).as("u"))
        .withColumn("conv",
          (col("u") < element_at(element_at(thrLit,
            col("metric").cast("int") + 1), col("arm").cast("int") + 1))
            .cast("long"))
      val counts = rows.groupBy(col("metric"))
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("x0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("x1"))
        .localCheckpoint(true)
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val p0 = d(col("x0")) / d(col("n0"))
      val p1 = d(col("x1")) / d(col("n1"))
      val pp = d(col("x0") + col("x1")) / d(col("n0") + col("n1"))
      val z = (p1 - p0) / sqrt(pp * (lit(1.0) - pp)
        * (lit(1.0) / d(col("n0")) + lit(1.0) / d(col("n1"))))
      val scoredM = counts.select(col("metric"), col("n0"), col("x0"),
        col("n1"), col("x1"),
        pround(z, 6).as("z"), pround(pTwoSided(z), 8).as("pval"))
      // 25 bounded rows: BH rank + step-up cutoff
      val wr = Window.orderBy(col("pval").asc, col("metric").asc)
      val ranked = scoredM.withColumn("rk", row_number().over(wr))
        .withColumn("ind",
          when(col("pval") <= lit(0.05) * col("rk").cast("double")
            / lit(BH_K.toDouble), col("rk")).otherwise(lit(0)))
        .localCheckpoint(true)
      val kmax = ranked.agg(max(col("ind")).as("kmax"))
      ranked.crossJoin(broadcast(kmax))
        .select(col("metric"), col("n0"), col("x0"), col("n1"),
          col("x1"), col("z"), col("pval"), col("rk"),
          (col("rk") <= col("kmax")).cast("int").as("rejected"),
          (col("metric") < 5).cast("int").as("planted"))
        .orderBy(col("metric"))
    },
    Some {
      val thrSql = "[" + BH_RATE.map(row =>
        "[" + row.mkString(", ") + "]").mkString(", ") + "]"
      val zS = """(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        / sqrt(CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
          * (1.0 - CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
          * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))"""
      s"""WITH rows_ AS (
        SELECT l_partkey % $BH_K AS metric,
          (${graft.operators.Sampling.slotWideSql(
            "(l_orderkey * 8 + l_linenumber) * 2 + 1")}) % 2 AS arm,
          (${graft.operators.Sampling.slotWideSql(
            "(l_orderkey * 8 + l_linenumber) * 2 + 2")}) AS u
        FROM lineitem),
      conv AS (
        SELECT metric, arm,
          CASE WHEN u < ($thrSql)[CAST(metric AS INT) + 1]
            [CAST(arm AS INT) + 1] THEN 1 ELSE 0 END AS conv
        FROM rows_),
      counts AS MATERIALIZED (
        SELECT metric,
          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
            AS x0,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
            AS x1
        FROM conv GROUP BY metric),
      zc AS (SELECT metric, n0, x0, n1, x1, $zS AS z FROM counts),
      ${pTwoSidedSqlCtes("b", "zc", "metric, n0, x0, n1, x1, z", "z")},
      pv AS MATERIALIZED (
        SELECT metric, n0, x0, n1, x1, ${proundSql("z", 6)} AS z,
          ${proundSql("bp", 8)} AS pval
        FROM bpv),
      ranked AS MATERIALIZED (
        SELECT *, row_number() OVER (ORDER BY pval ASC, metric ASC)
          AS rk
        FROM pv),
      km AS (
        SELECT max(CASE WHEN pval <= 0.05 * CAST(rk AS DOUBLE) / $BH_K.0
          THEN rk ELSE 0 END) AS kmax
        FROM ranked)
      SELECT r.metric, r.n0, r.x0, r.n1, r.x1, r.z, r.pval, r.rk,
        CAST(CASE WHEN r.rk <= k.kmax THEN 1 ELSE 0 END AS INT)
          AS rejected,
        CAST(CASE WHEN r.metric < 5 THEN 1 ELSE 0 END AS INT)
          AS planted
      FROM ranked r CROSS JOIN km k
      ORDER BY r.metric"""
    })

  val all: Seq[Q] =
    Seq(q34, q35, q36, q37, q38, q41, q42, q55, q58, q59, q67, q76, q77,
      q80, q82, q83, q86, q113, q133, q142, q144, q145, q146, q161, q169,
      q186, q187, q196, q223, q233, q234, q240, q247, q255, q256, q259,
      q264, q268, q269, q282, q284, q285, q286, q287, q288, q289,
      q294, q295, q296, q299, q305)
}
