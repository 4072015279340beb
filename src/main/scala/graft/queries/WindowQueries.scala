package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables.Tpch
import Portable._

/** Window-function surface (SURVEY.md §2.5 notes the reference answers
  * ranking questions with global sorts; a real engine needs the full
  * window algebra): lag/lead, running and sliding frames, rank/ntile,
  * and gap-based sessionization (the batch twin of streaming/Sessionize).
  *
  * Scale notes: every window here partitions by a high-cardinality key
  * (customer / user), so the single shuffle distributes evenly and no
  * group outgrows one task. Running sums accumulate DECIMAL(18,4) —
  * order-exact, so results are reproducible under any partitioning.
  */
object WindowQueries {

  // -- W1: lag/lead/rank/ntile + running & sliding frames ---------------
  private val q44 = Q(
    "q44_window_suite",
    (s, dir) => {
      val t = Tpch(s, dir)
      val sub = t.orders.filter(col("o_custkey") % 100 === 0)
      val byCust = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val running = byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last3 = byCust.rowsBetween(-2, 0)
      val prioRank = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val decPrice = col("o_totalprice").cast(DecimalType(18, 4))
      sub.select(
          col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          row_number().over(byCust).as("rn"),
          lag(col("o_totalprice"), 1).over(byCust).as("prev_price"),
          lead(col("o_totalprice"), 1).over(byCust).as("next_price"),
          round(sum(decPrice).over(running), 2).cast("double").as("running_total"),
          pround(sum(decPrice).over(last3).cast("double")
            / count(lit(1)).over(last3), 4).as("mov_avg3"),
          rank().over(prioRank).as("prio_rank"),
          ntile(4).over(byCust).as("quartile"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some(s"""SELECT o_custkey, o_orderkey, o_orderdate,
      row_number() OVER w AS rn,
      lag(o_totalprice, 1) OVER w AS prev_price,
      lead(o_totalprice, 1) OVER w AS next_price,
      CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
        AS running_total,
      ${proundSql(
        """CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""", 4)} AS mov_avg3,
      rank() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS prio_rank,
      ntile(4) OVER w AS quartile
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey"""))

  // -- W2: CUBE with grouping id (all 2^k grouping sets; q34 covers
  //    ROLLUP — CUBE adds the (status-only) set) -----------------------
  private val q45 = Q(
    "q45_cube",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
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
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  // -- W3: gap-based sessionization in batch (30-min inactivity closes
  //    a session) — lag → new-session flag → running count → agg. The
  //    streaming twin with open-ended state is streaming/Sessionize. --
  private val GAP_US = 30L * 60 * 1000 * 1000
  private val q46 = Q(
    "q46_sessions",
    (s, dir) => {
      val t = Tpch(s, dir)
      // canonical epoch-µs ts (Tables.microsCol handles either layout)
      val ev = t.eventsUs.select(col("user_id"), col("event_id"),
        col("ts_us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val flagged = ev
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            col("ts_us") - col("prev_ts") > GAP_US, 1L).otherwise(0L))
      flagged
        .withColumn("session_idx", sum(col("is_new"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts_us")).as("session_start_us"),
          (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
        .orderBy(col("user_id"), col("session_idx"))
    },
    Some(s"""SELECT user_id, session_idx, count(*) AS n_events,
      min(ts_us) AS session_start_us,
      max(ts_us) - min(ts_us) AS duration_us
    FROM (
      SELECT user_id, ts_us,
        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_idx
      FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          CASE WHEN lag(epoch_us(ts), 1) OVER
                 (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER
                 (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > $GAP_US
               THEN 1 ELSE 0 END AS is_new
        FROM events))
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx"""))

  // -- W4: date-spine gap fill with last-observation-carried-forward —
  //    the time-series resample primitive (downstream of G1's spine
  //    generator): daily order totals per priority, missing days
  //    filled by LOCF over an IGNORE-NULLS last() window. Leading gaps
  //    (before a group's first observation) stay NULL in both engines.
  //    Scale: the spine×priority grid is generated (no scan), the join
  //    is grid ⋈ aggregated-days on (priority, day), and the LOCF
  //    window partitions by priority — same low-cardinality caveat as
  //    q38 vs q67; the fill itself is one running window pass. -------
  private val q70 = Q(
    "q70_gap_fill_locf",
    (s, dir) => {
      val t = Tpch(s, dir)
      val daily = t.orders.groupBy(
          col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("day_total"))
      val spine = t.orders
        .agg(to_date(min(col("o_orderdate"))).as("d0"),
          to_date(max(col("o_orderdate"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val prios = t.orders
        .select(col("o_orderpriority").as("priority")).distinct()
      val w = Window.partitionBy(col("priority")).orderBy(col("day"))
      spine.crossJoin(broadcast(prios))
        .join(daily, Seq("priority", "day"), "left")
        .select(col("priority"), col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          last(col("day_total"), ignoreNulls = true).over(w)
            .as("filled_total"),
          col("day_total").isNull.as("is_gap"))
        .orderBy(col("priority"), col("day"))
    },
    Some(s"""WITH daily AS (
        SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
          count(*) AS n_orders,
          ${moneySumSql("o_totalprice")} AS day_total
        FROM orders GROUP BY 1, 2),
      bounds AS (
        SELECT CAST(min(o_orderdate) AS DATE) AS d0,
          CAST(max(o_orderdate) AS DATE) AS d1
        FROM orders),
      spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
          AS day
        FROM bounds),
      grid AS (
        SELECT p.priority, s.day
        FROM spine s CROSS JOIN
          (SELECT DISTINCT o_orderpriority AS priority FROM orders) p)
      SELECT g.priority, g.day,
        CAST(coalesce(d.n_orders, 0) AS BIGINT) AS n_orders,
        last_value(d.day_total IGNORE NULLS)
          OVER (PARTITION BY g.priority ORDER BY g.day) AS filled_total,
        d.day_total IS NULL AS is_gap
      FROM grid g
      LEFT JOIN daily d ON g.priority = d.priority AND g.day = d.day
      ORDER BY g.priority, g.day"""))

  // -- W5: SCD2 history compression (gaps-and-islands) — each user's
  //    daily last-observed event_type snapshot stream compressed into
  //    effective [from, to] day ranges (operators.Scd2.compressHistory;
  //    the write-side CDC fold is Scd2.applyBatch, spec-verified with
  //    VersionedTable). Day index and ordering are pure integer µs
  //    arithmetic for engine parity (DuckDB truncates the ns parquet
  //    timestamps). One window shuffle on user_id. --------------------
  private val US_PER_DAY = 86400000000L
  private val q78 = Q(
    "q78_scd2_history",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.Scd2
      val ev = t.eventsUs.select(col("user_id"), col("event_id"),
        col("event_type"), col("ts_us"),
        expr(s"ts_us div $US_PER_DAY").as("day_idx"))
      val lastOfDay = Window.partitionBy(col("user_id"), col("day_idx"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val snap = ev.withColumn("rn", row_number().over(lastOfDay))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("day_idx"), col("event_type"))
      Scd2.compressHistory(snap, "user_id", "day_idx", Seq("event_type"))
        .orderBy(col("user_id"), col("effective_from"))
    },
    Some(s"""WITH ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
          epoch_us(ts) // $US_PER_DAY AS day_idx
        FROM events),
      snap AS (
        SELECT user_id, day_idx, event_type FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, day_idx
            ORDER BY ts_us DESC, event_id DESC) AS rn
          FROM ev) WHERE rn = 1),
      flagged AS (
        SELECT user_id, day_idx, event_type,
          CASE WHEN lag(day_idx) OVER w IS NULL
                 OR event_type IS DISTINCT FROM lag(event_type) OVER w
               THEN 1 ELSE 0 END AS is_new
        FROM snap
        WINDOW w AS (PARTITION BY user_id ORDER BY day_idx)),
      runs AS (
        SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
          ORDER BY day_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS run_id
        FROM flagged)
      SELECT user_id, run_id,
        min(day_idx) AS effective_from, max(day_idx) AS effective_to,
        min(event_type) AS event_type, count(*) AS n_snapshots
      FROM runs
      GROUP BY user_id, run_id
      ORDER BY user_id, effective_from"""))

  // -- W6: explicit GROUPING SETS — arbitrary grouping combinations
  //    beyond q34's ROLLUP / q45's CUBE lattice: here (flag, status),
  //    (flag), (status) but NOT the grand total (the set CUBE would
  //    add). SQL-expressed on both engines; Expand feeds one hash agg.
  private val q87 = Q(
    "q87_grouping_sets",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.lineitem.createOrReplaceTempView("lineitem_gs")
      s.sql(s"""SELECT l_returnflag, l_linestatus,
          GROUPING_ID(l_returnflag, l_linestatus) AS gid,
          count(*) AS n_rows,
          CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS total_price
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          (l_returnflag), (l_linestatus))
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
        GROUPING(l_returnflag, l_linestatus) AS gid,
        count(*) AS n_rows,
        ${moneySumSql("l_extendedprice")} AS total_price
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        (l_returnflag), (l_linestatus))
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  // -- W7: percent_rank / cume_dist — the remaining relative-rank
  //    window functions (q44 covers rank/ntile/lag/lead/frames). Both
  //    are rational arithmetic over ranks — (rank−1)/(n−1), rank'/n —
  //    identical doubles in either engine.
  private val q88 = Q(
    "q88_relative_rank",
    (s, dir) => {
      val t = Tpch(s, dir)
      val sub = t.orders.filter(col("o_custkey") % 200 === 0)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      sub.select(
          col("o_orderpriority"), col("o_orderkey"),
          pround(percent_rank().over(w), 6).as("pct_rank"),
          pround(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
    Some(s"""SELECT o_orderpriority, o_orderkey,
        ${proundSql("percent_rank() OVER w", 6)} AS pct_rank,
        ${proundSql("cume_dist() OVER w", 6)} AS cume
      FROM orders
      WHERE o_custkey % 200 = 0
      WINDOW w AS (PARTITION BY o_orderpriority
        ORDER BY o_totalprice ASC, o_orderkey ASC)
      ORDER BY o_orderpriority, o_orderkey"""))

  // -- W8: event-type transition matrix — the Markov-chain view of
  //    user behaviour (what follows what): per user, events in strict
  //    (ts, event_id) order; one lag window + one keyed count, then
  //    row-normalized transition probabilities (exactly-rounded
  //    division over integer counts). The behavioural-modeling member
  //    of the events family (q46 finds session BOUNDARIES, q144
  //    first-touch ORDER, q142 cohort TIME — this is the sequence
  //    STRUCTURE).
  private val q147 = Q(
    "q147_event_transitions",
    (s, dir) => {
      val t = Tpch(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val trans = t.eventsUs
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("prev_type"))
        .agg(sum(col("n")).as("row_total"))
      trans.join(totals, "prev_type")
        .select(col("prev_type"), col("next_type"), col("n"),
          pround(col("n").cast("double") / col("row_total"), 4).as("p"))
        .orderBy(col("prev_type"), col("next_type"))
    },
    Some(s"""WITH tr AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM (
          SELECT event_type,
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC) AS prev_type
          FROM events)
        WHERE prev_type IS NOT NULL
        GROUP BY 1, 2),
      tot AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total
        FROM tr GROUP BY prev_type)
      SELECT tr.prev_type, tr.next_type, tr.n,
        ${proundSql("CAST(tr.n AS DOUBLE) / tot.row_total", 4)} AS p
      FROM tr JOIN tot ON tr.prev_type = tot.prev_type
      ORDER BY tr.prev_type, tr.next_type"""))

  // -- W9: rolling z-score ANOMALY detection — the time-series QA
  //    monitor (traffic spikes/drops per event type): daily counts,
  //    trailing-7-observed-day mean/σ, and the textbook |x−μ| > 2σ
  //    flag decided in PURE INTEGER arithmetic — |x−μ| > λσ ⟺
  //    (W·x − S)² > λ²·(W·Q − S²) with S=Σx, Q=Σx² over the window —
  //    so the verdict is bit-stable with no sqrt/float in the
  //    decision path (z itself is emitted for humans: IEEE sqrt is
  //    correctly rounded, so even it matches cross-engine). Warmup
  //    rows (< W prior observed days) emit no verdict and are
  //    filtered (a nullable BOOLEAN can't ride the driver's
  //    stringified hash compare: None vs NaN). One keyed shuffle
  //    (event_type, day) + one type-partitioned window; at scale the
  //    daily table is |types|·|days| rows — tiny. Gaps: the window is
  //    over OBSERVED days (join the q15 date spine first if a dense
  //    calendar is required).
  private val AD_W = 7
  private val AD_L2 = 4 // λ² for λ = 2σ
  private val q178 = Q(
    "q178_rolling_anomaly",
    (s, dir) => {
      val t = Tpch(s, dir)
      val daily = t.eventsUs
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-AD_W, -1)
      val stats = daily.select(col("event_type"), col("day"), col("n"),
        count(col("n")).over(w).as("w_days"),
        sum(col("n")).over(w).as("s"),
        sum(col("n") * col("n")).over(w).as("q"))
      val meanRaw = col("s").cast("double") / lit(AD_W)
      val varNum = lit(AD_W) * col("q") - col("s") * col("s")
      val varRaw = varNum.cast("double") / lit(AD_W * AD_W)
      val dev = lit(AD_W) * col("n") - col("s")
      stats.filter(col("w_days") === AD_W)
        .select(col("event_type"), col("day"), col("n"),
          pround(meanRaw, 6).as("mean"),
          when(varNum > 0,
            pround((col("n").cast("double") - meanRaw) / sqrt(varRaw), 6))
            .as("z"),
          (dev * dev > lit(AD_L2) * varNum).as("is_anomaly"))
        .orderBy(col("event_type"), col("day"))
    },
    Some(s"""WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          count(*) AS n
        FROM events GROUP BY 1, 2),
      win AS (
        SELECT event_type, day, n,
          count(n) OVER w AS w_days,
          CAST(sum(n) OVER w AS BIGINT) AS s,
          CAST(sum(n * n) OVER w AS BIGINT) AS q
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN $AD_W PRECEDING AND 1 PRECEDING))
      SELECT event_type, day, n,
        ${proundSql(s"CAST(s AS DOUBLE) / $AD_W", 6)} AS mean,
        CASE WHEN $AD_W * q - s * s > 0
          THEN ${proundSql(
            s"(CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / $AD_W)" +
            s" / sqrt(CAST($AD_W * q - s * s AS DOUBLE) / ${AD_W * AD_W})",
            6)} END AS z,
        ($AD_W * n - s) * ($AD_W * n - s) > $AD_L2 * ($AD_W * q - s * s)
          AS is_anomaly
      FROM win
      WHERE w_days = $AD_W
      ORDER BY event_type, day"""))

  // -- W10: EWMA anomaly — the O(1)-state exponential-decay twin of
  //    q178's rolling window (infinite memory, no 7-day buffer — the
  //    form a streaming monitor actually keeps): per event type,
  //    ewma_t = α·x_t + (1−α)·ewma_{t−1} and the exponentially
  //    weighted variance v_t = (1−α)(v_{t−1} + α·dev²), α = 0.25
  //    (exact in binary — every step is pinned two-operand IEEE).
  //    The flag dev² > λ²·v_{t−1} (λ = 2) compares bit-identical
  //    doubles, with a 3-observation warmup. The DAILY table is
  //    |types|·|days| — bounded by the calendar, so the sequential
  //    fold is driver math over a grid-bounded collect (the
  //    Isotonic.calibrate discipline), replayed by the oracle as a
  //    recursive CTE stepping all types in lockstep (q225's shape).
  private val EW_A = 0.25
  private val EW_L2 = 4.0
  private val EW_WARM = 3
  private val q242 = Q(
    "q242_ewma_anomaly",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val daily = t.eventsUs
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      val rows = daily.toSeq.flatMap { case (tp, rs) =>
        val series = rs.sortBy(_._2)
        var ewma = 0.0
        var v = 0.0
        series.zipWithIndex.map { case ((_, day, n), i) =>
          val x = n.toDouble
          val (dev, flag) =
            if (i == 0) (0.0, 0)
            else {
              val d = x - ewma
              (d, if (i >= EW_WARM && d * d > EW_L2 * v) 1 else 0)
            }
          if (i == 0) { ewma = x; v = 0.0 }
          else {
            val d = x - ewma
            val e2 = EW_A * x + (1.0 - EW_A) * ewma
            v = (1.0 - EW_A) * (v + EW_A * (d * d))
            ewma = e2
          }
          (tp, day, n, ewma, dev, flag)
        }
      }
      rows.toDF("event_type", "day", "n", "ewma_raw", "dev_raw", "is_anomaly")
        .select(col("event_type"), col("day"), col("n"),
          pround(col("ewma_raw"), 6).as("ewma"),
          pround(col("dev_raw"), 6).as("dev"),
          col("is_anomaly").cast("int").as("is_anomaly"))
        .orderBy(col("event_type"), col("day"))
    },
    Some(s"""WITH RECURSIVE daily AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS n,
          row_number() OVER (PARTITION BY event_type ORDER BY
            epoch_us(ts) // 86400000000) AS seq
        FROM events GROUP BY 1, 2),
      rec(event_type, seq, day, n, ewma, v, dev, flag) AS (
        SELECT event_type, seq, day, n, CAST(n AS DOUBLE),
          CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), 0
        FROM daily WHERE seq = 1
        UNION ALL
        SELECT d.event_type, d.seq, d.day, d.n,
          $EW_A * CAST(d.n AS DOUBLE) + ${1.0 - EW_A} * r.ewma,
          ${1.0 - EW_A} * (r.v + $EW_A
            * ((CAST(d.n AS DOUBLE) - r.ewma)
               * (CAST(d.n AS DOUBLE) - r.ewma))),
          CAST(d.n AS DOUBLE) - r.ewma,
          CASE WHEN d.seq - 1 >= $EW_WARM
            AND (CAST(d.n AS DOUBLE) - r.ewma)
              * (CAST(d.n AS DOUBLE) - r.ewma) > $EW_L2 * r.v
            THEN 1 ELSE 0 END
        FROM rec r JOIN daily d
          ON d.event_type = r.event_type AND d.seq = r.seq + 1
      )
      SELECT event_type, day, n,
        ${proundSql("ewma", 6)} AS ewma,
        ${proundSql("dev", 6)} AS dev,
        CAST(flag AS INT) AS is_anomaly
      FROM rec
      ORDER BY event_type, day"""))

  // -- W11: CUSUM change-point detection — the sequential test that
  //    catches small SUSTAINED shifts q178/q242's per-point outlier
  //    flags miss: S⁺ accumulates every excess over μ+k and resets at
  //    0, so a drift of k/day alarms after ~h/k days while i.i.d.
  //    noise keeps S⁺ pinned near 0 (Page 1954). μ = first-7-day
  //    reference mean; k = μ/8 (an exact binary halving chain — no
  //    rounding divergence); h = μ. Two-sided: S⁻ tracks sustained
  //    DROPS. Same exactness discipline as q242: the daily table is
  //    calendar-bounded, the fold is driver math over a grid-bounded
  //    collect, the oracle replays it as a lockstep recursive CTE.
  private val CU_REF = 7
  private val q254 = Q(
    "q254_cusum_changepoint",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val daily = t.eventsUs
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      val rows = daily.toSeq.flatMap { case (tp, rs) =>
        val series = rs.sortBy(_._2)
        val refN = math.min(CU_REF, series.length)
        val mu = series.take(refN).map(_._3).sum.toDouble / refN
        val k = mu / 8.0
        val h = mu
        var sUp = 0.0
        var sDn = 0.0
        series.map { case (_, day, n) =>
          val x = n.toDouble
          sUp = math.max(0.0, sUp + (x - mu - k))
          sDn = math.max(0.0, sDn + (mu - x - k))
          (tp, day, n, sUp, sDn,
            if (sUp > h) 1 else 0, if (sDn > h) 1 else 0)
        }
      }
      rows.toDF("event_type", "day", "n", "s_up_raw", "s_dn_raw",
          "alarm_up", "alarm_dn")
        .select(col("event_type"), col("day"), col("n"),
          pround(col("s_up_raw"), 6).as("s_up"),
          pround(col("s_dn_raw"), 6).as("s_dn"),
          col("alarm_up").cast("int").as("alarm_up"),
          col("alarm_dn").cast("int").as("alarm_dn"))
        .orderBy(col("event_type"), col("day"))
    },
    Some(s"""WITH RECURSIVE daily AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS n,
          row_number() OVER (PARTITION BY event_type ORDER BY
            epoch_us(ts) // 86400000000) AS seq
        FROM events GROUP BY 1, 2),
      mu AS (
        SELECT event_type, CAST(sum(n) AS DOUBLE) / count(*) AS mu
        FROM daily WHERE seq <= $CU_REF GROUP BY 1),
      d2 AS MATERIALIZED (
        SELECT d.event_type, d.seq, d.day, d.n, m.mu, m.mu / 8.0 AS k
        FROM daily d JOIN mu m USING (event_type)),
      rec(event_type, seq, day, n, mu, k, s_up, s_dn) AS (
        SELECT event_type, seq, day, n, mu, k,
          greatest(CAST(0 AS DOUBLE), CAST(n AS DOUBLE) - mu - k),
          greatest(CAST(0 AS DOUBLE), mu - CAST(n AS DOUBLE) - k)
        FROM d2 WHERE seq = 1
        UNION ALL
        SELECT d.event_type, d.seq, d.day, d.n, d.mu, d.k,
          greatest(CAST(0 AS DOUBLE),
            r.s_up + (CAST(d.n AS DOUBLE) - d.mu - d.k)),
          greatest(CAST(0 AS DOUBLE),
            r.s_dn + (d.mu - CAST(d.n AS DOUBLE) - d.k))
        FROM rec r JOIN d2 d
          ON d.event_type = r.event_type AND d.seq = r.seq + 1)
      SELECT event_type, day, n,
        ${proundSql("s_up", 6)} AS s_up,
        ${proundSql("s_dn", 6)} AS s_dn,
        CAST(CASE WHEN s_up > mu THEN 1 ELSE 0 END AS INT) AS alarm_up,
        CAST(CASE WHEN s_dn > mu THEN 1 ELSE 0 END AS INT) AS alarm_dn
      FROM rec
      ORDER BY event_type, day"""))

  // -- W12: Holt-Winters additive forecast — the SEASONAL member of
  //    the monitor family (q178 rolling window, q242 EWMA, q254
  //    CUSUM): daily event counts carry weekly structure that a
  //    single-level smoother reads as noise; triple exponential
  //    smoothing tracks level + trend + a 7-slot seasonal vector, so
  //    the one-step-ahead forecast l+b+s_{t−7} is what an on-call
  //    monitor should alarm against. α=0.25, β=0.125, γ=0.25 — all
  //    exact binary, every step pinned two-operand IEEE. Init: level
  //    = first-week mean, trend = 0, season_i = x_i − level. The
  //    recursive state CARRIES the seasonal vector (c1..c7, rotated
  //    one slot per step) — the lockstep recursive-CTE oracle
  //    (q242's discipline) replays the identical fold; the Spark
  //    side is driver math over the calendar-bounded daily grid.
  private val HW_A = 0.25
  private val HW_B = 0.125
  private val HW_G = 0.25
  private val HW_M = 7
  private val q270 = Q(
    "q270_holt_winters",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val daily = t.eventsUs
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      val rows = daily.toSeq.flatMap { case (tp, rs) =>
        val series = rs.sortBy(_._2)
        if (series.length <= HW_M) Seq.empty
        else {
          val l0 = series.take(HW_M).map(_._3).sum.toDouble / HW_M
          var l = l0
          var b = 0.0
          var seas = series.take(HW_M)
            .map { case (_, _, n) => n.toDouble - l0 }.toVector
          series.drop(HW_M).map { case (_, day, n) =>
            val x = n.toDouble
            val c1 = seas.head
            val f = (l + b) + c1
            val lnew = HW_A * (x - c1) + (1.0 - HW_A) * (l + b)
            val bnew = HW_B * (lnew - l) + (1.0 - HW_B) * b
            val snew = HW_G * (x - lnew) + (1.0 - HW_G) * c1
            seas = seas.tail :+ snew
            l = lnew
            b = bnew
            (tp, day, n, f, x - f, lnew, bnew)
          }
        }
      }
      rows.toDF("event_type", "day", "n", "f_raw", "r_raw", "l_raw", "b_raw")
        .select(col("event_type"), col("day"), col("n"),
          pround(col("f_raw"), 6).as("forecast"),
          pround(col("r_raw"), 6).as("resid"),
          pround(col("l_raw"), 6).as("level"),
          pround(col("b_raw"), 6).as("trend"))
        .orderBy(col("event_type"), col("day"))
    },
    Some {
      val cs = (1 to HW_M).map(i => s"c$i").mkString(", ")
      val initCs = (1 to HW_M).map(i =>
        s"max(CASE WHEN seq = $i THEN CAST(n AS DOUBLE) END) - l0 AS c$i")
        .mkString(",\n          ")
      val rot = (2 to HW_M).map(i => s"r.c$i").mkString(", ")
      s"""WITH RECURSIVE daily AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS n,
          row_number() OVER (PARTITION BY event_type ORDER BY
            epoch_us(ts) // 86400000000) AS seq
        FROM events GROUP BY 1, 2),
      lvl0 AS (
        SELECT event_type,
          CAST(sum(CASE WHEN seq <= $HW_M THEN n END) AS DOUBLE) / $HW_M
            AS l0
        FROM daily GROUP BY event_type),
      init AS (
        SELECT d.event_type, l0,
          $initCs
        FROM daily d JOIN lvl0 USING (event_type)
        GROUP BY d.event_type, l0),
      rec(event_type, seq, day, n, l, b, $cs, f, resid) AS (
        SELECT i.event_type, CAST($HW_M AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT), l0, CAST(0 AS DOUBLE), $cs,
          CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
        FROM init i
        UNION ALL
        SELECT d.event_type, d.seq, d.day, d.n,
          $HW_A * (CAST(d.n AS DOUBLE) - r.c1)
            + ${1.0 - HW_A} * (r.l + r.b),
          $HW_B * (($HW_A * (CAST(d.n AS DOUBLE) - r.c1)
            + ${1.0 - HW_A} * (r.l + r.b)) - r.l) + ${1.0 - HW_B} * r.b,
          $rot,
          $HW_G * (CAST(d.n AS DOUBLE)
            - ($HW_A * (CAST(d.n AS DOUBLE) - r.c1)
               + ${1.0 - HW_A} * (r.l + r.b)))
            + ${1.0 - HW_G} * r.c1,
          (r.l + r.b) + r.c1,
          CAST(d.n AS DOUBLE) - ((r.l + r.b) + r.c1)
        FROM rec r JOIN daily d
          ON d.event_type = r.event_type AND d.seq = r.seq + 1
      )
      SELECT event_type, day, n,
        ${proundSql("f", 6)} AS forecast,
        ${proundSql("resid", 6)} AS resid,
        ${proundSql("l", 6)} AS level,
        ${proundSql("b", 6)} AS trend
      FROM rec
      WHERE seq > $HW_M
      ORDER BY event_type, day"""
    })

  // -- W13: decomposition STRENGTH metrics — the one-number summary
  //    over q270's decomposition and q273's ACF: split each daily
  //    series into trend (centered 7-day moving average, integer sum
  //    / 7), seasonal (per-weekday mean of the detrended values), and
  //    remainder, then report Hyndman's
  //      F_trend    = max(0, 1 − Var(R)/Var(T+R))
  //      F_seasonal = max(0, 1 − Var(R)/Var(S+R))
  //    — the feature-ization of "does this series have structure
  //    worth a seasonal monitor". Edge days without a full 7-day
  //    window drop (the standard centered-MA contract). Every mean /
  //    variance accumulates with the pround8/DECIMAL order-free sums;
  //    each variance is (Σx² − (Σx)²/n)/n in pinned double order.
  private val q281 = Q(
    "q281_stl_strength",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val daily = t.eventsUs
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-3, 3)
      val det = daily
        .withColumn("cnt7", count(lit(1)).over(w7))
        .withColumn("tsum", sum(col("n")).over(w7))
        .filter(col("cnt7") === 7)
        .select(col("event_type"), col("day"),
          col("n").cast("double").as("x"),
          (col("n").cast("double")
            - col("tsum").cast("double") / lit(7.0)).as("d"),
          pmod(col("day"), lit(7L)).as("wd"))
        .localCheckpoint(true)
      val sw = det.groupBy(col("event_type"), col("wd"))
        .agg((dsum8(col("d"))
          / count(lit(1)).cast("double")).as("s_w"))
      val full = det.join(sw, Seq("event_type", "wd"))
        .select(col("event_type"),
          (col("d") - col("s_w")).as("r"),
          col("d"), (col("x") - col("s_w")).as("q"))
      def varOf(c: String) =
        ((dsum8(col(c) * col(c))
          - dsum8(col(c))
            * dsum8(col(c))
            / count(lit(1)).cast("double"))
          / count(lit(1)).cast("double"))
      full.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_used"),
          varOf("r").as("var_r"), varOf("d").as("var_d"),
          varOf("q").as("var_q"))
        .select(col("event_type"), col("n_used"),
          pround(greatest(lit(0.0),
            lit(1.0) - col("var_r") / col("var_q")), 6).as("f_trend"),
          pround(greatest(lit(0.0),
            lit(1.0) - col("var_r") / col("var_d")), 6).as("f_seasonal"))
        .orderBy(col("event_type"))
    },
    Some {
      def varSql(c: String) =
        s"""((${dsum8Sql(s"$c * $c")} - ${dsum8Sql(c)} * ${dsum8Sql(c)}
           / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE))"""
      s"""WITH daily AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      det AS MATERIALIZED (
        SELECT event_type, day, CAST(n AS DOUBLE) AS x,
          CAST(n AS DOUBLE) - CAST(tsum AS DOUBLE) / 7.0 AS d,
          day % 7 AS wd
        FROM (
          SELECT event_type, day, n,
            count(*) OVER w7 AS cnt7,
            CAST(sum(n) OVER w7 AS BIGINT) AS tsum
          FROM daily
          WINDOW w7 AS (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        WHERE cnt7 = 7),
      sw AS MATERIALIZED (
        SELECT event_type, wd,
          ${dsum8Sql("d")} / CAST(count(*) AS DOUBLE) AS s_w
        FROM det GROUP BY 1, 2),
      full0 AS (
        SELECT d.event_type, d.d - s.s_w AS r, d.d AS d,
          d.x - s.s_w AS q
        FROM det d JOIN sw s USING (event_type, wd))
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_used,
        ${proundSql(s"greatest(0.0, 1.0 - ${varSql("r")} / ${varSql("q")})",
          6)} AS f_trend,
        ${proundSql(s"greatest(0.0, 1.0 - ${varSql("r")} / ${varSql("d")})",
          6)} AS f_seasonal
      FROM full0
      GROUP BY event_type
      ORDER BY event_type"""
    })

  val all: Seq[Q] = Seq(q44, q45, q46, q70, q78, q87, q88, q147, q178,
    q242, q254, q270, q281)
}
