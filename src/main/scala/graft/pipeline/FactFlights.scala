package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gold fact build: precomputed int time keys (hand join-elimination —
  * J14) + five broadcast left joins (J4-J8) + the 22-column fact
  * projection (star_schema/facts/fact_flights.py:10-92).
  *
  * Scale notes: every dim side is `broadcast()` — dims are ≤ thousands
  * of rows, so the fact build is a map-only stage over silver (no
  * shuffle at all until the partitioned write). The DATE_KEY join is a
  * computed-key join (date_format yyyyMMdd → int), matching the
  * reference exactly. The string-keyed dim broadcasts (AIRLINE_CODE,
  * AIRPORT_CODE, ROUTE_CODE) are `UnsafeHashedRelation`s, each holding
  * one memory page however few rows it has; `core.GraftSession` sizes
  * that page to the heap (1 MB below an 8 GB heap), not Spark's 16–64
  * MB default.
  */
object FactFlights {

  /** Strip the colon back out of "HH:MM" silver times → int HHMM keys.
    * 3-digit times that skipped the silver colon insertion (the
    * regexp quirk) cast straight to int — round-trip preserved.
    */
  def withTimeKeys(silver: DataFrame): DataFrame = {
    def key(src: String, dst: String)(df: DataFrame) =
      df.withColumn(dst,
        when(col(src).isNotNull,
          regexp_replace(col(src), ":", "").cast("int")).otherwise(lit(null)))
    Seq(
      key("ACTUAL_DEPARTURE_TIME", "ACTUAL_DEPARTURE_TIME_KEY") _,
      key("ACTUAL_ARRIVAL_TIME", "ACTUAL_ARRIVAL_TIME_KEY") _,
      key("PLANNED_DEPARTURE_TIME", "PLANNED_DEPARTURE_TIME_KEY") _,
      key("PLANNED_ARRIVAL_TIME", "PLANNED_ARRIVAL_TIME_KEY") _
    ).reduce(_ andThen _)(silver)
  }

  def build(silver: DataFrame, dimDate: DataFrame, dimAirport: DataFrame,
      dimAirline: DataFrame, dimRoute: DataFrame): DataFrame = {
    val f = withTimeKeys(silver).as("f")
    f.join(broadcast(dimDate.as("dd")),
        date_format(col("f.FLIGHT_DATE"), "yyyyMMdd").cast("int") === col("dd.DATE_KEY"),
        "left")
      .join(broadcast(dimAirline.as("da")),
        col("f.AIRLINE_CODE") === col("da.AIRLINE_CODE"), "left")
      .join(broadcast(dimAirport.as("doa")),
        col("f.ORIGIN_AIRPORT_CODE") === col("doa.AIRPORT_CODE"), "left")
      .join(broadcast(dimAirport.as("dda")),
        col("f.DEST_AIRPORT_CODE") === col("dda.AIRPORT_CODE"), "left")
      .join(broadcast(dimRoute.as("dr")),
        col("f.ROUTE_CODE") === col("dr.ROUTE_CODE"), "left")
      .select(
        col("f.FLIGHT_NUMBER").as("FLIGHT_NUMBER"),
        col("dd.DATE_KEY"),
        col("f.ACTUAL_DEPARTURE_TIME_KEY"),
        col("f.ACTUAL_ARRIVAL_TIME_KEY"),
        col("f.PLANNED_DEPARTURE_TIME_KEY"),
        col("f.PLANNED_ARRIVAL_TIME_KEY"),
        col("da.AIRLINE_CODE").as("AIRLINE_CODE"),
        col("doa.AIRPORT_CODE").as("ORIGIN_AIRPORT_CODE"),
        col("dda.AIRPORT_CODE").as("DEST_AIRPORT_CODE"),
        col("dr.ROUTE_CODE").as("ROUTE_CODE"),
        col("f.IS_WEEKEND"), col("f.IS_DIVERTED"), col("f.IS_CANCELLED"),
        col("f.IS_DELAYED"), col("f.IS_ONTIME"),
        col("f.DEPARTURE_DELAY"), col("f.ARRIVAL_DELAY"),
        col("f.DEPARTURE_DELAY_CATEGORY"), col("f.ARRIVAL_DELAY_CATEGORY"),
        col("f.AIR_TIME_MINUTES"), col("f.DISTANCE_KM"), col("f.SPEED_KM_H"),
        col("f.DATA_QUALITY_SCORE"))
  }

  /** Null-FK audit (build_fact_flights.py:45-54): rows per FK that
    * failed to resolve, as a single aggregation pass (the reference
    * runs one filter+count job per FK).
    */
  def fkAudit(fact: DataFrame): DataFrame =
    fact.agg(
      count(lit(1)).as("total_rows"),
      sum(when(col("DATE_KEY").isNull, 1).otherwise(0)).as("null_date_key"),
      sum(when(col("AIRLINE_CODE").isNull, 1).otherwise(0)).as("null_airline"),
      sum(when(col("ORIGIN_AIRPORT_CODE").isNull, 1).otherwise(0)).as("null_origin"),
      sum(when(col("DEST_AIRPORT_CODE").isNull, 1).otherwise(0)).as("null_dest"),
      sum(when(col("ROUTE_CODE").isNull, 1).otherwise(0)).as("null_route"))
}
