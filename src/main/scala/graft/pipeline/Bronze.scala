package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze ingest: CSV scan with schema-drift tolerance, lookup
  * enrichment (airport ×2, carrier), and ingest metadata columns.
  *
  * Semantics from the reference bronze loader
  * (spark_jobs/bronze_ingest/download_and_ingest.py:54-212):
  *  - inferred schema with timestampFormat M/d/yyyy hh:mm:ss a (S1);
  *  - OP_CARRIER_AIRLINE_ID → OP_UNIQUE_CARRIER rename when present;
  *  - FL_DATE string → timestamp conditional cast;
  *  - lookup CSVs trimmed to (Code, Description) and reused via two
  *    aliases for origin/dest (S3, J1-J3) — broadcast: lookups are a
  *    few thousand rows, never worth a shuffle;
  *  - metadata: ingestion_timestamp, source_file, partition_date (S9).
  *
  * The audit clock is injectable so tests and hash-based verification
  * stay deterministic (current_timestamp in the reference).
  *
  * The lookups are read under the declared `FlightSchema.lookup` with
  * the header checked against it (`enforceSchema=false`): no inference
  * job, and a lookup whose header is not `Code,Description` fails
  * loudly (FIXTURES.md §1.2). The flights CSV keeps inference by
  * default, because it is not the same read: inference types a
  * zero-padded HHMM `"0930"` as int 930, while `FlightSchema.flightData`
  * keeps the string `"0930"`, and Silver's HH:MM rewrite then yields
  * `"09:30"` instead of the reference's `"930"`. Reading the declared
  * schema would change silver times, so the extra inference pass stays.
  */
object Bronze {

  def readFlightsCsv(spark: SparkSession, path: String,
      inferSchema: Boolean = true): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("timestampFormat", "M/d/yyyy hh:mm:ss a")
    val df =
      if (inferSchema) base.option("inferSchema", "true").csv(path)
      else base.schema(FlightSchema.flightData).csv(path)
    standardizeColumns(df)
  }

  /** Column-drift handling: rename the alternate carrier header, cast
    * string FL_DATE (download_and_ingest.py:61-78).
    */
  def standardizeColumns(df: DataFrame): DataFrame = {
    val renamed =
      if (df.columns.contains("OP_CARRIER_AIRLINE_ID") &&
          !df.columns.contains("OP_UNIQUE_CARRIER"))
        df.withColumnRenamed("OP_CARRIER_AIRLINE_ID", "OP_UNIQUE_CARRIER")
      else df
    if (renamed.schema("FL_DATE").dataType.typeName == "string")
      renamed.withColumn("FL_DATE",
        to_timestamp(col("FL_DATE"), "M/d/yyyy hh:mm:ss a"))
    else renamed
  }

  def readLookupCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("enforceSchema", "false")
      .schema(FlightSchema.lookup).csv(path)
      .select(
        trim(col("Code")).as("Code"),
        trim(col("Description")).as("Description"))

  /** J1-J3: left-join lookups; int→string cast lives IN the join
    * condition like the reference (download_and_ingest.py:134-155).
    */
  def enrichWithLookups(flights: DataFrame, airportLookup: DataFrame,
      carrierLookup: DataFrame): DataFrame =
    flights
      .join(broadcast(airportLookup.as("origin_lookup")),
        flights("ORIGIN_AIRPORT_ID").cast("string") === col("origin_lookup.Code"),
        "left")
      .withColumnRenamed("Description", "ORIGIN_AIRPORT_NAME")
      .drop("Code")
      .join(broadcast(airportLookup.as("dest_lookup")),
        flights("DEST_AIRPORT_ID").cast("string") === col("dest_lookup.Code"),
        "left")
      .withColumnRenamed("Description", "DEST_AIRPORT_NAME")
      .drop("Code")
      .join(broadcast(carrierLookup.as("carrier_lookup")),
        trim(flights("OP_UNIQUE_CARRIER")).cast("string") === col("carrier_lookup.Code"),
        "left")
      .withColumnRenamed("Description", "CARRIER_NAME")
      .drop("Code")

  /** S9 metadata columns; `clock` defaults to current_timestamp but is
    * injectable for deterministic tests. `source_file` must be stamped
    * at SCAN time: Spark 4 rejects input_file_name() above a
    * multi-source join (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION) —
    * the reference computes it post-join, legal only on Spark 3.
    */
  def withIngestMetadata(df: DataFrame,
      clock: Column = current_timestamp()): DataFrame =
    df.withColumn("ingestion_timestamp", clock)
      .withColumn("partition_date", col("FL_DATE").cast("date"))

  /** Full bronze stage: scan (+source_file) → drift fix → enrich →
    * metadata.
    */
  def ingest(spark: SparkSession, flightsPath: String, airportsPath: String,
      carriersPath: String, clock: Column = current_timestamp(),
      inferSchema: Boolean = true): DataFrame = {
    val flights = readFlightsCsv(spark, flightsPath, inferSchema)
      .withColumn("source_file", input_file_name())
    val airports = readLookupCsv(spark, airportsPath)
    val carriers = readLookupCsv(spark, carriersPath)
    withIngestMetadata(
      enrichWithLookups(flights, airports, carriers), clock)
  }
}
