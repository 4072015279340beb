package graft.pipeline

import java.util.concurrent.CancellationException
import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.core.{MarkerLog, Overlap, ParquetTable}
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
  * Whole-table writes go through [[commit]], the writer half of Delta
  * Lake's protocol (VLDB 2020, §3) on plain parquet: every table of the
  * unit is written to `<table>._staged` first, the gates read what was
  * written, and only when every gate has passed are the tables swapped
  * in (`core.ParquetTable.swap`). Failing data never becomes a table,
  * and each layer is computed once: the gates and every later build
  * read the written files, not the lazy plan. Gold is one unit: a build
  * whose dim_route or fact fails its gate leaves every gold table as it
  * was. Bronze and silver are units of one table ([[Table.publish]]).
  * The swaps themselves are renames, one table after another; a crash
  * between two of them, and the fold's partition overwrites, wait for
  * a commit log.
  */
object Warehouse {

  /** The per-stage quality hook: (rows, suite, table name). A gate
    * that throws stops the build with the table as it was.
    *
    * A gate runs on the thread that called the stage, once per gated
    * table, in `Warehouse` order (bronze, silver, dim_date, dim_time,
    * dim_airport, dim_route, fact_flights), and never at the same time
    * as another gate, even while the stage's writes overlap. So a gate
    * need not be thread-safe, and two are not: lakebench's, which adds
    * to unsynchronized counters and spans, and `cli.RunPipeline`'s
    * `--validate` gate, which prints each report.
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
    def stagedAt(wh: String): String = s"${at(wh)}._staged"
    /** Write `df` to `<table>._staged` and read that back under its
      * known schema (partition columns last, all nullable, as a parquet
      * read gives them).
      */
    def stage(df: DataFrame, wh: String): DataFrame = {
      val shaped = shape(df)
      ParquetTable.write(shaped, stagedAt(wh), partitionBy)
      val cols = shaped.schema
      ParquetTable.read(df.sparkSession, stagedAt(wh),
        StructType((cols.filterNot(f => partitionBy.contains(f.name)) ++
          partitionBy.map(cols(_))).map(_.copy(nullable = true))))
    }
    /** Publish `df` as this table alone, a [[commit]] of one table;
      * the published table.
      */
    def publish(df: DataFrame, wh: String, g: Gate = noGate): DataFrame =
      commit(df.sparkSession, wh, g)(c => Seq(c.stage(this)(df))).head
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
    // the writer sorts each task's rows by the partition column; a sort
    // that does not lead with it is replaced, not refined
    df => df.repartition(df("AIRLINE_CODE"))
      .sortWithinPartitions("AIRLINE_CODE", "FLIGHT_DATE"),
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
    /** One arm of `c` per dim, in write order. */
    def stage(c: Commit): Seq[() => Unit] =
      tables.map { case (t, df) => c.stage(t)(df) }
    /** Publish the five dims as one unit; the published dims, so the
      * fact and marts join the written tables, not five lazy
      * aggregates over silver.
      */
    def publish(wh: String): Dims = {
      val Seq(d, t, al, ap, r) = commit(date.sparkSession, wh, noGate)(stage)
      Dims(d, t, al, ap, r)
    }
    def fact(silver: DataFrame): DataFrame =
      FactFlights.build(silver, date, airport, airline, route)
  }

  object Dims {
    /** The dims as staged on `c`, each once its arm has written it. */
    def staged(c: Commit): Dims = Dims(c(dimDate), c(dimTime),
      c(dimAirline), c(dimAirport), c(dimRoute))
  }

  def dims(spark: SparkSession, silver: DataFrame): Dims =
    Dims(GoldDims.dimDate(spark), GoldDims.dimTime(spark),
      GoldDims.dimAirline(silver), GoldDims.dimAirport(silver),
      GoldDims.dimRoute(silver))

  /** The tables of one [[commit]], each staged on its own arm. */
  final class Commit private[Warehouse] (wh: String) {
    private[Warehouse] val landed = mutable.LinkedHashMap.empty[Table, Promise[DataFrame]]
    @volatile private[Warehouse] var failed = false

    /** The arm that stages `df` as `t`. `df` is built on the arm, so it
      * may wait there for tables staged on other arms ([[apply]]). Once
      * the commit has failed, an arm builds its frame but writes nothing.
      */
    def stage(t: Table)(df: => DataFrame): () => Unit = {
      val p = Promise[DataFrame]()
      landed(t) = p
      () => p.complete(
        try {
          val frame = df
          if (failed) Failure(new CancellationException(s"${t.name}: commit failed"))
          else Success(t.stage(frame, wh))
        } catch { case e: Throwable => Failure(e) })
    }

    /** `t` as staged, once its arm has written it; a failed arm's own
      * exception.
      */
    def apply(t: Table): DataFrame = Await.result(landed(t).future, Duration.Inf)
  }

  /** Publish the tables that `arms` stage, as one unit; the published
    * tables, in staging order. The arms run beside the calling thread
    * (`core.Overlap.beside`), so independent writes overlap. The caller
    * gates each table with `g` as soon as it lands, in staging order.
    * When every table has landed and passed, all are swapped in, in
    * that order. A failed write or gate waits for the running writes,
    * drops every staged directory and rethrows its own exception; no
    * table has changed.
    */
  def commit(spark: SparkSession, wh: String, g: Gate)(
      arms: Commit => Seq[() => Unit]): Seq[DataFrame] = {
    val c = new Commit(wh)
    val run = arms(c)
    val tables = c.landed.keys.toSeq
    val staged =
      try Overlap.beside(run) {
        try tables.map { t => val df = c(t); t.gate(g, df); df }
        catch { case e: Throwable => c.failed = true; throw e }
      } catch { case e: Throwable =>
        tables.foreach(t => ParquetTable.drop(spark, t.stagedAt(wh)))
        throw e
      }
    tables.zip(staged).map { case (t, df) =>
      ParquetTable.swap(spark, t.stagedAt(wh), t.at(wh))
      ParquetTable.read(spark, t.at(wh), df.schema)
    }
  }

  /** Every flights table with a quality suite, in validation order. */
  val validated: Seq[Table] =
    Seq(bronze, silver, dimDate, dimTime, dimAirline, dimAirport, dimRoute,
      fact)
}
