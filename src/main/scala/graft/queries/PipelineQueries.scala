package graft.queries

import org.apache.spark.sql.functions._
import graft.pipeline.{Bronze, Marts, Silver, Warehouse}
import Portable._

/** End-to-end flight-pipeline oracle: runs the REAL production lineage
  * (bronze CSV ingest + lookup enrichment → silver cleaning →
  * star-schema dims → fact build → daily_airline_performance mart)
  * over the fixture CSVs, and hash-verifies the mart against a DuckDB
  * recomputation of the same semantics from the same CSVs.
  *
  * This closes the gap the per-stage ScalaTest specs leave open: one
  * green row here exercises S1-S3, J1-J8, P1-P8, F1-F13, A3/A4 in one
  * lineage, matching the reference's
  * aggregates/daily_airline_performance.py:20-72.
  *
  * Cleaning quirks the oracle reproduces deliberately:
  *  - cancelled flights null out delays BEFORE the delayed/ontime
  *    flags, so they count in TOTAL but in neither DELAYED nor ONTIME;
  *  - KPI ratios divide by (TOTAL − CANCELLED); an all-cancelled group
  *    is ÷0 → NULL in Spark non-ANSI, which DuckDB must emulate with
  *    nullif (its double ÷0 is NaN, not NULL);
  *  - an unknown carrier (padded " zz ") upper-trims to code ZZ with a
  *    NULL airline name from the left lookup join — a real NULL group
  *    key in both engines.
  *
  * The fixture directory is fixed, not an argument (the driver's
  * (spark, sfDir) contract points at the TPC-H testdata, not the
  * flight fixtures): the checkout's test fixtures, resolved to an
  * absolute path from the working directory (the checkout root), so
  * the oracle SQL names the same directory the engine reads. This
  * query is the one place the q-corpus touches the pipeline's own
  * input format.
  */
object PipelineQueries {

  private val FIX =
    new java.io.File("src/test/resources/fixtures").getAbsolutePath

  /** The real production lineage over the fixture CSVs, shared by the
    * mart oracles below.
    */
  private def buildWarehouse(s: org.apache.spark.sql.SparkSession) = {
    val bronze = Bronze.ingest(s,
      s"$FIX/flights.csv", s"$FIX/L_AIRPORT_ID.csv",
      s"$FIX/L_UNIQUE_CARRIERS.csv", inferSchema = false)
    val silver = Silver.transform(bronze)
    val dims = Warehouse.dims(s, silver)
    (dims.fact(silver), dims)
  }

  private val q66 = Q(
    "q66_pipeline_mart",
    (s, dir) => {
      val (fact, d) = buildWarehouse(s)
      Marts.dailyAirlinePerformance(fact, d.date, d.airline)
        .select(
          col("FLIGHT_DATE"), col("YEAR"), col("MONTH"),
          col("DAY_OF_WEEK_NAME"), col("IS_WEEKEND"),
          col("AIRLINE_CODE"), col("AIRLINE_NAME"),
          col("TOTAL_FLIGHTS"), col("CANCELLED_FLIGHTS"),
          col("DIVERTED_FLIGHTS"), col("DELAYED_FLIGHTS"),
          col("ONTIME_FLIGHTS"),
          pround(col("AVG_DEPARTURE_DELAY"), 6).as("AVG_DEPARTURE_DELAY"),
          pround(col("AVG_ARRIVAL_DELAY"), 6).as("AVG_ARRIVAL_DELAY"),
          col("MAX_DEPARTURE_DELAY"), col("MAX_ARRIVAL_DELAY"),
          pround(col("AVG_AIR_TIME"), 6).as("AVG_AIR_TIME"),
          pround(col("AVG_DISTANCE"), 6).as("AVG_DISTANCE"),
          pround(col("AVG_SPEED"), 6).as("AVG_SPEED"),
          pround(col("AVG_DATA_QUALITY_SCORE"), 6).as("AVG_DATA_QUALITY_SCORE"),
          col("COMPLETION_RATE"), col("CANCELLATION_RATE"),
          col("ON_TIME_PERFORMANCE"), col("DELAY_RATE"))
        .orderBy(col("FLIGHT_DATE"), col("AIRLINE_CODE"))
    },
    Some(s"""WITH raw AS (
        SELECT * FROM read_csv('$FIX/flights.csv', header=true,
          columns={'FL_DATE':'VARCHAR','OP_UNIQUE_CARRIER':'VARCHAR',
            'OP_CARRIER_FL_NUM':'INTEGER','ORIGIN_AIRPORT_ID':'INTEGER',
            'ORIGIN':'VARCHAR','DEST_AIRPORT_ID':'INTEGER','DEST':'VARCHAR',
            'CRS_DEP_TIME':'VARCHAR','DEP_TIME':'VARCHAR','DEP_DELAY':'DOUBLE',
            'DEP_DELAY_NEW':'DOUBLE','CRS_ARR_TIME':'VARCHAR','ARR_TIME':'VARCHAR',
            'ARR_DELAY':'DOUBLE','ARR_DELAY_NEW':'DOUBLE','CANCELLED':'DOUBLE',
            'DIVERTED':'DOUBLE','AIR_TIME':'DOUBLE','DISTANCE':'DOUBLE'})),
      carriers AS (
        SELECT trim(Code) AS Code, trim(Description) AS Description
        FROM read_csv('$FIX/L_UNIQUE_CARRIERS.csv', header=true,
          columns={'Code':'VARCHAR','Description':'VARCHAR'})),
      enriched AS (
        SELECT r.*, c.Description AS CARRIER_NAME
        FROM raw r LEFT JOIN carriers c ON trim(r.OP_UNIQUE_CARRIER) = c.Code),
      silver AS (
        SELECT
          CAST(strptime(FL_DATE, '%m/%d/%Y %I:%M:%S %p') AS DATE) AS FLIGHT_DATE,
          upper(trim(OP_UNIQUE_CARRIER)) AS AIRLINE_CODE,
          trim(CARRIER_NAME) AS AIRLINE_NAME,
          CANCELLED = 1.0 AS IS_CANCELLED,
          DIVERTED = 1.0 AS IS_DIVERTED,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE DEP_TIME END AS DEP_TIME_C,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE ARR_TIME END AS ARR_TIME_C,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE DEP_DELAY END AS DEPARTURE_DELAY,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE ARR_DELAY END AS ARRIVAL_DELAY,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE AIR_TIME END AS AIR_TIME_MINUTES,
          DISTANCE, DISTANCE * 1.60934 AS DISTANCE_KM
        FROM enriched),
      silver2 AS (
        SELECT *,
          (DEP_TIME_C IS NULL OR ARR_TIME_C IS NULL) AS has_missing_times,
          (DEPARTURE_DELAY IS NULL OR ARRIVAL_DELAY IS NULL) AS has_missing_delays,
          CASE WHEN AIR_TIME_MINUTES IS NOT NULL
            THEN AIR_TIME_MINUTES > 0 AND AIR_TIME_MINUTES < 1440
            ELSE false END AS AIR_TIME_VALID,
          CASE WHEN DISTANCE IS NOT NULL
            THEN DISTANCE > 0 AND DISTANCE_KM < 20000
            ELSE false END AS DISTANCE_VALID,
          CASE WHEN DEPARTURE_DELAY IS NOT NULL AND ARRIVAL_DELAY IS NOT NULL
            THEN DEPARTURE_DELAY > -60 AND DEPARTURE_DELAY < 300
             AND ARRIVAL_DELAY > -60 AND ARRIVAL_DELAY < 300
            ELSE false END AS REASONABLE_DELAYS,
          CASE WHEN DEPARTURE_DELAY IS NULL OR ARRIVAL_DELAY IS NULL THEN NULL
            WHEN DEPARTURE_DELAY > 0 OR ARRIVAL_DELAY > 0 THEN true
            ELSE false END AS IS_DELAYED,
          CASE WHEN DEPARTURE_DELAY IS NULL OR ARRIVAL_DELAY IS NULL THEN NULL
            WHEN DEPARTURE_DELAY <= 0 AND ARRIVAL_DELAY <= 0 THEN true
            ELSE false END AS IS_ONTIME,
          CASE WHEN DISTANCE_KM IS NOT NULL AND AIR_TIME_MINUTES IS NOT NULL
            THEN DISTANCE_KM / nullif(AIR_TIME_MINUTES, 0) * 60
            ELSE NULL END AS SPEED_KM_H
        FROM silver),
      silver3 AS (
        SELECT *,
          (CASE WHEN has_missing_times THEN 0 ELSE 1 END +
           CASE WHEN has_missing_delays THEN 0 ELSE 1 END +
           CASE WHEN AIR_TIME_VALID THEN 1 ELSE 0 END +
           CASE WHEN DISTANCE_VALID THEN 1 ELSE 0 END +
           CASE WHEN REASONABLE_DELAYS THEN 1 ELSE 0 END) / 5.0
            AS DATA_QUALITY_SCORE
        FROM silver2),
      mart AS (
        SELECT FLIGHT_DATE, year(FLIGHT_DATE) AS YEAR, month(FLIGHT_DATE) AS MONTH,
          dayname(FLIGHT_DATE) AS DAY_OF_WEEK_NAME,
          dayofweek(FLIGHT_DATE) IN (0, 6) AS IS_WEEKEND,
          AIRLINE_CODE, AIRLINE_NAME,
          count(*) AS TOTAL_FLIGHTS,
          CAST(sum(CASE WHEN IS_CANCELLED THEN 1 ELSE 0 END) AS BIGINT) AS CANCELLED_FLIGHTS,
          CAST(sum(CASE WHEN IS_DIVERTED THEN 1 ELSE 0 END) AS BIGINT) AS DIVERTED_FLIGHTS,
          CAST(sum(CASE WHEN IS_DELAYED THEN 1 ELSE 0 END) AS BIGINT) AS DELAYED_FLIGHTS,
          CAST(sum(CASE WHEN IS_ONTIME THEN 1 ELSE 0 END) AS BIGINT) AS ONTIME_FLIGHTS,
          ${proundSql("avg(CASE WHEN NOT IS_CANCELLED THEN DEPARTURE_DELAY END)", 6)}
            AS AVG_DEPARTURE_DELAY,
          ${proundSql("avg(CASE WHEN NOT IS_CANCELLED THEN ARRIVAL_DELAY END)", 6)}
            AS AVG_ARRIVAL_DELAY,
          max(DEPARTURE_DELAY) AS MAX_DEPARTURE_DELAY,
          max(ARRIVAL_DELAY) AS MAX_ARRIVAL_DELAY,
          ${proundSql("avg(AIR_TIME_MINUTES)", 6)} AS AVG_AIR_TIME,
          ${proundSql("avg(DISTANCE_KM)", 6)} AS AVG_DISTANCE,
          ${proundSql("avg(SPEED_KM_H)", 6)} AS AVG_SPEED,
          ${proundSql("avg(DATA_QUALITY_SCORE)", 6)} AS AVG_DATA_QUALITY_SCORE
        FROM silver3
        GROUP BY 1, 2, 3, 4, 5, 6, 7)
      SELECT *,
        round(CAST(TOTAL_FLIGHTS - CANCELLED_FLIGHTS AS DOUBLE)
          / TOTAL_FLIGHTS * 100, 2) AS COMPLETION_RATE,
        round(CAST(CANCELLED_FLIGHTS AS DOUBLE) / TOTAL_FLIGHTS * 100, 2)
          AS CANCELLATION_RATE,
        round(CAST(ONTIME_FLIGHTS AS DOUBLE)
          / nullif(TOTAL_FLIGHTS - CANCELLED_FLIGHTS, 0) * 100, 2)
          AS ON_TIME_PERFORMANCE,
        round(CAST(DELAYED_FLIGHTS AS DOUBLE)
          / nullif(TOTAL_FLIGHTS - CANCELLED_FLIGHTS, 0) * 100, 2)
          AS DELAY_RATE
      FROM mart
      ORDER BY FLIGHT_DATE, AIRLINE_CODE"""))

  // -- q73: the airport mart end-to-end — the FULL OUTER dep ⟗ arr
  //    join with when/otherwise key coalescing (J12), the trickiest
  //    mart shape. The fixture's XXX airport departs once but never
  //    receives, so the outer join's one-sided branch (null arrival
  //    columns, name resolved from the dep side) is exercised and
  //    hash-compared. ------------------------------------------------
  private val q73 = Q(
    "q73_pipeline_airport_mart",
    (s, dir) => {
      val (fact, d) = buildWarehouse(s)
      Marts.dailyAirportPerformance(fact, d.date, d.airport)
        .select(col("FLIGHT_DATE"), col("AIRPORT_CODE"), col("AIRPORT_NAME"),
          col("TOTAL_DEPARTURES"), col("CANCELLED_DEPARTURES"),
          pround(col("AVG_DEPARTURE_DELAY"), 6).as("AVG_DEPARTURE_DELAY"),
          col("DELAYED_DEPARTURES"),
          col("TOTAL_ARRIVALS"), col("DIVERTED_ARRIVALS"),
          pround(col("AVG_ARRIVAL_DELAY"), 6).as("AVG_ARRIVAL_DELAY"),
          col("DELAYED_ARRIVALS"))
        .orderBy(col("FLIGHT_DATE"), col("AIRPORT_CODE"))
    },
    Some(s"""WITH raw AS (
        SELECT * FROM read_csv('$FIX/flights.csv', header=true,
          columns={'FL_DATE':'VARCHAR','OP_UNIQUE_CARRIER':'VARCHAR',
            'OP_CARRIER_FL_NUM':'INTEGER','ORIGIN_AIRPORT_ID':'INTEGER',
            'ORIGIN':'VARCHAR','DEST_AIRPORT_ID':'INTEGER','DEST':'VARCHAR',
            'CRS_DEP_TIME':'VARCHAR','DEP_TIME':'VARCHAR','DEP_DELAY':'DOUBLE',
            'DEP_DELAY_NEW':'DOUBLE','CRS_ARR_TIME':'VARCHAR','ARR_TIME':'VARCHAR',
            'ARR_DELAY':'DOUBLE','ARR_DELAY_NEW':'DOUBLE','CANCELLED':'DOUBLE',
            'DIVERTED':'DOUBLE','AIR_TIME':'DOUBLE','DISTANCE':'DOUBLE'})),
      airports AS (
        SELECT trim(Code) AS Code, trim(Description) AS Description
        FROM read_csv('$FIX/L_AIRPORT_ID.csv', header=true,
          columns={'Code':'VARCHAR','Description':'VARCHAR'})),
      silver AS (
        SELECT
          CAST(strptime(FL_DATE, '%m/%d/%Y %I:%M:%S %p') AS DATE) AS FLIGHT_DATE,
          upper(trim(ORIGIN)) AS O_CODE, upper(trim(DEST)) AS D_CODE,
          trim(oa.Description) AS O_NAME, trim(da.Description) AS D_NAME,
          CANCELLED = 1.0 AS IS_CANCELLED,
          DIVERTED = 1.0 AS IS_DIVERTED,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE DEP_DELAY END AS DEPARTURE_DELAY,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE ARR_DELAY END AS ARRIVAL_DELAY
        FROM raw r
        LEFT JOIN airports oa ON CAST(r.ORIGIN_AIRPORT_ID AS VARCHAR) = oa.Code
        LEFT JOIN airports da ON CAST(r.DEST_AIRPORT_ID AS VARCHAR) = da.Code),
      dep AS (
        SELECT FLIGHT_DATE, O_CODE AS code, O_NAME AS name,
          count(*) AS TOTAL_DEPARTURES,
          CAST(sum(CASE WHEN IS_CANCELLED THEN 1 ELSE 0 END) AS BIGINT)
            AS CANCELLED_DEPARTURES,
          ${proundSql("avg(CASE WHEN NOT IS_CANCELLED THEN DEPARTURE_DELAY END)", 6)}
            AS AVG_DEPARTURE_DELAY,
          CAST(sum(CASE WHEN DEPARTURE_DELAY > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS DELAYED_DEPARTURES
        FROM silver GROUP BY 1, 2, 3),
      arr AS (
        SELECT FLIGHT_DATE, D_CODE AS code, D_NAME AS name,
          count(*) AS TOTAL_ARRIVALS,
          CAST(sum(CASE WHEN IS_DIVERTED THEN 1 ELSE 0 END) AS BIGINT)
            AS DIVERTED_ARRIVALS,
          ${proundSql("avg(CASE WHEN NOT IS_CANCELLED THEN ARRIVAL_DELAY END)", 6)}
            AS AVG_ARRIVAL_DELAY,
          CAST(sum(CASE WHEN ARRIVAL_DELAY > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS DELAYED_ARRIVALS
        FROM silver GROUP BY 1, 2, 3)
      SELECT
        CASE WHEN d.FLIGHT_DATE IS NOT NULL THEN d.FLIGHT_DATE
          ELSE a.FLIGHT_DATE END AS FLIGHT_DATE,
        CASE WHEN d.code IS NOT NULL THEN d.code ELSE a.code END AS AIRPORT_CODE,
        CASE WHEN d.name IS NOT NULL THEN d.name ELSE a.name END AS AIRPORT_NAME,
        d.TOTAL_DEPARTURES, d.CANCELLED_DEPARTURES,
        d.AVG_DEPARTURE_DELAY, d.DELAYED_DEPARTURES,
        a.TOTAL_ARRIVALS, a.DIVERTED_ARRIVALS,
        a.AVG_ARRIVAL_DELAY, a.DELAYED_ARRIVALS
      FROM dep d
      FULL OUTER JOIN arr a
        ON d.FLIGHT_DATE = a.FLIGHT_DATE AND d.code = a.code
      ORDER BY FLIGHT_DATE, AIRPORT_CODE"""))

  // -- q74: the route mart end-to-end — monthly (route × airline)
  //    rollup through the dim_route chain (A7 + J13). Covers the
  //    null-propagating ROUTE_NAME ("from <null> to ..." for the
  //    unnamed XXX airport stays NULL — DuckDB's || operator, not its
  //    null-skipping concat()), and the ÷0→NULL on-time ratio for the
  //    all-cancelled route. -------------------------------------------
  private val q74 = Q(
    "q74_pipeline_route_mart",
    (s, dir) => {
      val (fact, d) = buildWarehouse(s)
      Marts.routePerformance(fact, d.date, d.route, d.airline)
        .select(col("YEAR"), col("MONTH"), col("ROUTE_CODE"), col("ROUTE_NAME"),
          col("ORIGIN_AIRPORT_CODE"), col("DEST_AIRPORT_CODE"),
          col("AIRLINE_CODE"), col("AIRLINE_NAME"),
          col("FLIGHT_FREQUENCY"),
          pround(col("AVG_DEPARTURE_DELAY"), 6).as("AVG_DEPARTURE_DELAY"),
          pround(col("AVG_ARRIVAL_DELAY"), 6).as("AVG_ARRIVAL_DELAY"),
          pround(col("AVG_AIR_TIME"), 6).as("AVG_AIR_TIME"),
          col("CANCELLATIONS"), col("ONTIME_FLIGHTS"),
          col("ONTIME_PERFORMANCE_PCT"))
        .orderBy(col("ROUTE_CODE"), col("AIRLINE_CODE"), col("YEAR"), col("MONTH"))
    },
    Some(s"""WITH raw AS (
        SELECT * FROM read_csv('$FIX/flights.csv', header=true,
          columns={'FL_DATE':'VARCHAR','OP_UNIQUE_CARRIER':'VARCHAR',
            'OP_CARRIER_FL_NUM':'INTEGER','ORIGIN_AIRPORT_ID':'INTEGER',
            'ORIGIN':'VARCHAR','DEST_AIRPORT_ID':'INTEGER','DEST':'VARCHAR',
            'CRS_DEP_TIME':'VARCHAR','DEP_TIME':'VARCHAR','DEP_DELAY':'DOUBLE',
            'DEP_DELAY_NEW':'DOUBLE','CRS_ARR_TIME':'VARCHAR','ARR_TIME':'VARCHAR',
            'ARR_DELAY':'DOUBLE','ARR_DELAY_NEW':'DOUBLE','CANCELLED':'DOUBLE',
            'DIVERTED':'DOUBLE','AIR_TIME':'DOUBLE','DISTANCE':'DOUBLE'})),
      airports AS (
        SELECT trim(Code) AS Code, trim(Description) AS Description
        FROM read_csv('$FIX/L_AIRPORT_ID.csv', header=true,
          columns={'Code':'VARCHAR','Description':'VARCHAR'})),
      carriers AS (
        SELECT trim(Code) AS Code, trim(Description) AS Description
        FROM read_csv('$FIX/L_UNIQUE_CARRIERS.csv', header=true,
          columns={'Code':'VARCHAR','Description':'VARCHAR'})),
      silver AS (
        SELECT
          CAST(strptime(FL_DATE, '%m/%d/%Y %I:%M:%S %p') AS DATE) AS FLIGHT_DATE,
          upper(trim(OP_UNIQUE_CARRIER)) AS AIRLINE_CODE,
          trim(c.Description) AS AIRLINE_NAME,
          upper(trim(ORIGIN)) AS O_CODE, upper(trim(DEST)) AS D_CODE,
          upper(trim(ORIGIN)) || '-' || upper(trim(DEST)) AS ROUTE_CODE,
          'from ' || trim(oa.Description) || ' to ' || trim(da.Description)
            AS ROUTE_NAME,
          CANCELLED = 1.0 AS IS_CANCELLED,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE DEP_DELAY END AS DEPARTURE_DELAY,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE ARR_DELAY END AS ARRIVAL_DELAY,
          CASE WHEN CANCELLED = 1.0 THEN NULL ELSE AIR_TIME END AS AIR_TIME_MINUTES,
          CASE WHEN CANCELLED = 1.0 THEN NULL
            WHEN DEP_DELAY IS NULL OR ARR_DELAY IS NULL THEN NULL
            WHEN DEP_DELAY <= 0 AND ARR_DELAY <= 0 THEN true
            ELSE false END AS IS_ONTIME
        FROM raw r
        LEFT JOIN airports oa ON CAST(r.ORIGIN_AIRPORT_ID AS VARCHAR) = oa.Code
        LEFT JOIN airports da ON CAST(r.DEST_AIRPORT_ID AS VARCHAR) = da.Code
        LEFT JOIN carriers c ON trim(r.OP_UNIQUE_CARRIER) = c.Code),
      mart AS (
        SELECT year(FLIGHT_DATE) AS YEAR, month(FLIGHT_DATE) AS MONTH,
          ROUTE_CODE, ROUTE_NAME, O_CODE AS ORIGIN_AIRPORT_CODE,
          D_CODE AS DEST_AIRPORT_CODE, AIRLINE_CODE, AIRLINE_NAME,
          count(*) AS FLIGHT_FREQUENCY,
          ${proundSql("avg(DEPARTURE_DELAY)", 6)} AS AVG_DEPARTURE_DELAY,
          ${proundSql("avg(ARRIVAL_DELAY)", 6)} AS AVG_ARRIVAL_DELAY,
          ${proundSql("avg(AIR_TIME_MINUTES)", 6)} AS AVG_AIR_TIME,
          CAST(sum(CASE WHEN IS_CANCELLED THEN 1 ELSE 0 END) AS BIGINT)
            AS CANCELLATIONS,
          CAST(sum(CASE WHEN IS_ONTIME THEN 1 ELSE 0 END) AS BIGINT)
            AS ONTIME_FLIGHTS
        FROM silver
        GROUP BY 1, 2, 3, 4, 5, 6, 7, 8)
      SELECT *,
        round(CAST(ONTIME_FLIGHTS AS DOUBLE)
          / nullif(FLIGHT_FREQUENCY - CANCELLATIONS, 0) * 100, 2)
          AS ONTIME_PERFORMANCE_PCT
      FROM mart
      ORDER BY ROUTE_CODE, AIRLINE_CODE, YEAR, MONTH"""))

  val all: Seq[Q] = Seq(q66, q73, q74)
}
