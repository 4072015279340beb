package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.core.{MarkerLog, ParquetTable}
import graft.quality.{CorpusSuites, FlightSuites}
import graft.quality.Expectations.Expectation

/** The flight warehouse's storage layout, declared once: every table's
  * path under the warehouse root, its partition columns, how a writer
  * shapes it, and the quality suite that checks it.
  *
  * {{{
  *   bronze/flights            partition_date
  *   bronze/stream_flights     raw rows of the streaming ingest
  *   bronze/_folded_files/     MarkerLog of watched CSVs folded in
  *   silver/flights            AIRLINE_CODE, sorted by FLIGHT_DATE
  *   gold/dim_{date,time,airline,airport,route}
  *   gold/fact_flights         DATE_KEY
  *   gold/daily_airline_performance   YEAR, MONTH
  *   gold/daily_airport_performance   FLIGHT_DATE
  *   gold/route_performance           YEAR, MONTH
  *   export/<mart>/            single-file CSV of each mart
  *   corpus/{documents,embeddings}    validated when present
  *   _checkpoints/stream_flights      streaming-ingest checkpoint
  * }}}
  *
  * Silver is partitioned by AIRLINE_CODE only (FLIGHT_DATE would
  * explode file counts at daily grain × airline, the reference's
  * choice) and sorted by date within partitions, so date filters prune
  * at row-group grain. The marts are partitioned by month or day so
  * `Incremental` can swap touched months in place.
  *
  * The batch stages (`cli.RunPipeline`), the incremental fold
  * (`Incremental`), the validation sweep (`cli.RunValidations`) and
  * the q66/q73/q74 oracles all iterate these entries rather than
  * naming paths themselves.
  *
  * Whole-table writes go through [[Table.publish]], the writer half of
  * Delta Lake's protocol (VLDB 2020, §3) on plain parquet: the data is
  * written to `<table>._staged` first, the gate reads what was written,
  * and only a pass swaps it in (`core.ParquetTable.swap`). Failing data
  * never becomes the table, and each layer is computed once: the gate
  * and every later build read the written files, not the lazy plan.
  * Each table is swapped on its own; a multi-table commit (a gold build
  * whose dim_route fails after dim_date was swapped in) waits for a
  * commit log.
  */
object Warehouse {

  /** The per-stage quality hook: (rows, suite, table name). A gate
    * that throws stops the build with the table as it was.
    */
  type Gate = (DataFrame, Seq[Expectation], String) => Unit
  val noGate: Gate = (_, _, _) => ()

  /** One warehouse table. `shape` is applied to every write (the
    * repartition/sort that keeps each task writing few files);
    * `gatedAtBuild` says whether the build stage runs `suite` as a
    * gate before publishing, not only the validation sweep.
    */
  final case class Table(path: String, partitionBy: Seq[String] = Nil,
      shape: DataFrame => DataFrame = identity,
      suite: Seq[Expectation] = Nil, gatedAtBuild: Boolean = true) {
    /** `dim_date`, `fact_flights`, …; a layer's own flights table is
      * named after its layer (`bronze`, `silver`).
      */
    def name: String = path.stripSuffix("/flights").split('/').last
    def at(wh: String): String = s"$wh/$path"
    def exists(spark: SparkSession, wh: String): Boolean =
      ParquetTable.exists(spark, at(wh))
    def read(spark: SparkSession, wh: String): DataFrame =
      ParquetTable.read(spark, at(wh))
    /** Publish `df` as this table: write it to `<table>._staged`, read
      * that back under its known schema (partition columns last, all
      * nullable, as a parquet read gives them), gate the read-back,
      * swap it in, and return the published table. A gate that throws
      * drops the staged files and leaves the previous table in place.
      */
    def publish(df: DataFrame, wh: String, g: Gate = noGate): DataFrame = {
      val spark = df.sparkSession
      val shaped = shape(df)
      val staged = s"${at(wh)}._staged"
      ParquetTable.write(shaped, staged, partitionBy)
      val cols = shaped.schema
      val schema = StructType((cols.filterNot(f => partitionBy.contains(f.name)) ++
        partitionBy.map(cols(_))).map(_.copy(nullable = true)))
      try gate(g, ParquetTable.read(spark, staged, schema))
      catch { case e: Throwable => ParquetTable.drop(spark, staged); throw e }
      ParquetTable.swap(spark, staged, at(wh))
      ParquetTable.read(spark, at(wh), schema)
    }
    def append(df: DataFrame, wh: String): Unit =
      ParquetTable.append(shape(df), at(wh), partitionBy)
    /** Replace only the partitions `df` holds (see ParquetTable). */
    def overwritePartitions(df: DataFrame, wh: String): Unit =
      ParquetTable.overwritePartitions(shape(df), at(wh), partitionBy)
    def gate(g: Gate, df: DataFrame): Unit =
      if (gatedAtBuild && suite.nonEmpty) g(df, suite, name)
  }

  val bronze = Table("bronze/flights", Seq("partition_date"),
    suite = FlightSuites.bronze)
  val silver = Table("silver/flights", Seq("AIRLINE_CODE"),
    df => df.repartition(df("AIRLINE_CODE"))
      .sortWithinPartitions("FLIGHT_DATE"),
    FlightSuites.silver)
  val dimDate = Table("gold/dim_date", suite = FlightSuites.dimDate)
  val dimTime = Table("gold/dim_time", suite = FlightSuites.dimTime)
  // checked by the validation sweep; the build has never gated it
  val dimAirline = Table("gold/dim_airline", suite = FlightSuites.dimAirline,
    gatedAtBuild = false)
  val dimAirport = Table("gold/dim_airport", suite = FlightSuites.dimAirport)
  val dimRoute = Table("gold/dim_route", suite = FlightSuites.dimRoute)
  val fact = Table("gold/fact_flights", Seq("DATE_KEY"),
    df => df.repartition(df("DATE_KEY")), FlightSuites.factFlights)

  /** A mart: its table and how it derives from the fact and dims. */
  final case class Mart(table: Table, build: (DataFrame, Dims) => DataFrame) {
    def exportAt(wh: String): String = s"$wh/export/${table.name}"
  }

  val marts: Seq[Mart] = Seq(
    Mart(Table("gold/daily_airline_performance", Seq("YEAR", "MONTH")),
      (f, d) => Marts.dailyAirlinePerformance(f, d.date, d.airline)),
    Mart(Table("gold/daily_airport_performance", Seq("FLIGHT_DATE")),
      (f, d) => Marts.dailyAirportPerformance(f, d.date, d.airport)),
    Mart(Table("gold/route_performance", Seq("YEAR", "MONTH")),
      (f, d) => Marts.routePerformance(f, d.date, d.route, d.airline)))

  /** Raw rows landed by the streaming ingest, and its checkpoint. */
  val streamBronze = Table("bronze/stream_flights")
  val streamCheckpoint = Table("_checkpoints/stream_flights")

  /** Watched CSVs already folded in by `Incremental.foldNewFiles`. */
  def foldLog(spark: SparkSession, wh: String): MarkerLog =
    MarkerLog(spark, s"$wh/bronze/_folded_files")

  /** Corpus-side layers: optional, validated only when present. */
  val corpus: Seq[Table] = Seq(
    Table("corpus/documents", suite = CorpusSuites.documents),
    Table("corpus/embeddings", suite = CorpusSuites.embeddings()))

  /** The five gold dimensions built from one silver snapshot. */
  final case class Dims(date: DataFrame, time: DataFrame,
      airline: DataFrame, airport: DataFrame, route: DataFrame) {
    /** Each dim beside its table, in write order. */
    def tables: Seq[(Table, DataFrame)] = Seq(dimDate -> date,
      dimTime -> time, dimAirline -> airline, dimAirport -> airport,
      dimRoute -> route)
    /** Publish each dim in write order; the published dims, so the
      * fact and marts join the written tables, not five lazy
      * aggregates over silver.
      */
    def publish(wh: String, g: Gate = noGate): Dims = {
      val Seq(d, t, al, ap, r) = tables.map { case (tbl, df) => tbl.publish(df, wh, g) }
      Dims(d, t, al, ap, r)
    }
    def fact(silver: DataFrame): DataFrame =
      FactFlights.build(silver, date, airport, airline, route)
  }

  def dims(spark: SparkSession, silver: DataFrame): Dims =
    Dims(GoldDims.dimDate(spark), GoldDims.dimTime(spark),
      GoldDims.dimAirline(silver), GoldDims.dimAirport(silver),
      GoldDims.dimRoute(silver))

  /** Every flights table with a quality suite, in validation order. */
  val validated: Seq[Table] =
    Seq(bronze, silver, dimDate, dimTime, dimAirline, dimAirport, dimRoute,
      fact)
}
