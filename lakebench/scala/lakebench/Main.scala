package lakebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.cli.RunPipeline
import graft.core.{GraftSession, ParquetTable}
import graft.pipeline.Incremental
import graft.quality.Expectations
import graft.queries.Portable.pround

/** The benchmark's JVM side: runs one workload against the program's
  * public API and writes what it measured as JSON for `run.py`.
  *
  *   lakebench.Main --workload month_cycle|query_mix
  *     --data DIR --work DIR --seconds N --trace 0|1 --out FILE
  *     [--queries FILE --warmup FILE] [--inject-fail]
  *
  * One client thread calls the program in a closed loop. Iterations
  * repeat until `--seconds` have passed, at least once; each starts
  * from the same state, prepared outside the timed section. With
  * `--trace 1` a listener records jobs, SQL executions and task
  * counters, and the spans around the calls split them by layer.
  */
object Main {

  final case class Op(name: String, layer: String, wallS: Double, ok: Boolean,
      error: String)
  final case class Iter(prepS: Double, ops: Seq[Op], writeBytes: Long)
  final case class Check(name: String, ok: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val inject = args.contains("--inject-fail")
    val work = new File(opt("work")).getAbsolutePath
    val data = new File(opt("data")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spans = new Spans
    val spark = spans("session") {
      GraftSession.local(appName = s"lakebench-${opt("workload")}")
    }
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl: Workload = opt("workload") match {
      case "month_cycle" => new MonthCycle(spark, data, work, spans)
      case "query_mix" =>
        def lines(f: String) =
          Files.readAllLines(Paths.get(opt(f))).asScala.toSeq.filter(_.nonEmpty)
        new QueryMix(spark, data, work, spans, lines("queries"), lines("warmup"), inject)
      case other => sys.error(s"unknown workload $other")
    }
    val setupT0 = System.nanoTime()
    wl.setup()
    val setupS = (System.nanoTime() - setupT0) / 1e9

    val recorder = new Recorder
    if (traced) spark.sparkContext.addSparkListener(recorder)
    val iters = mutable.ArrayBuffer.empty[Iter]
    val layers = mutable.HashMap.empty[String, LayerStats]
    val timed0 = System.nanoTime()
    do {
      val p0 = System.nanoTime()
      wl.prepare()
      val prepS = (System.nanoTime() - p0) / 1e9
      heap.active = true
      val from = System.currentTimeMillis()
      val ops = wl.run()
      val to = System.currentTimeMillis()
      heap.active = false
      if (traced) {
        org.apache.spark.LakeBenchBus.drain(spark.sparkContext)
        recorder.attribute(spans.all, from, to + 1,
          Recorder.warehouseLayer(wl.warehouse)).foreach { case (l, s) =>
          layers.getOrElseUpdate(l, new LayerStats).add(s)
        }
      }
      iters += Iter(prepS, ops, wl.writtenBytes())
    } while (System.nanoTime() - timed0 < seconds * 1e9)
    val checks = try wl.check() catch {
      case NonFatal(e) => Seq(Check("checks", ok = false, e.toString))
    }
    val layerMetrics = layers.toSeq.sortBy(_._1)
      .flatMap { case (l, s) => s.toMetrics(l, iters.size) } ++ wl.ratios()

    val json = Json.obj(
      "workload" -> Json.str(opt("workload")),
      "session_s" -> Json.num(sessionS),
      "setup_s" -> Json.num(setupS),
      "input_bytes" -> Json.num(wl.inputBytes.toDouble),
      "heap_peak_mb" -> Json.num(heap.peakBytes / 1048576.0),
      "iterations" -> Json.arr(iters.toSeq.map { it =>
        Json.obj(
          "prep_s" -> Json.num(it.prepS),
          "write_bytes" -> Json.num(it.writeBytes.toDouble),
          "ops" -> Json.arr(it.ops.map { o =>
            Json.obj("name" -> Json.str(o.name), "layer" -> Json.str(o.layer),
              "wall_s" -> Json.num(o.wallS), "ok" -> Json.bool(o.ok),
              "error" -> Json.str(o.error))
          }))
      }),
      "layers" -> Json.obj(layerMetrics.map { case (k, v) => k -> Json.num(v) }: _*),
      "checks" -> Json.arr(checks.map { c =>
        Json.obj("name" -> Json.str(c.name), "ok" -> Json.bool(c.ok),
          "detail" -> Json.str(c.detail))
      }),
      "oracles" -> Json.obj(wl.oracles().map { case (k, v) => k -> Json.str(v) }: _*))
    Files.write(Paths.get(opt("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Times one public call; a throwing call is recorded as failed with
    * the wall it used, never dropped.
    */
  def op(spans: Spans, name: String, layer: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try {
      spans(layer)(body)
      Op(name, layer, (System.nanoTime() - t0) / 1e9, ok = true, "")
    } catch {
      case NonFatal(e) =>
        Op(name, layer, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  val heap = new HeapWatch

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** One workload: state set up once, reset before each iteration, the
  * timed calls, and the correctness checks run after the last one.
  */
trait Workload {
  def warehouse: String
  def inputBytes: Long
  def setup(): Unit
  def prepare(): Unit
  def run(): Seq[Main.Op]
  def writtenBytes(): Long
  def check(): Seq[Main.Check]
  def ratios(): Seq[(String, Double)] = Nil
  /** q-name -> DuckDB oracle SQL for the result written to
    * `<work>/check/<q-name>`.
    */
  def oracles(): Seq[(String, String)] = Nil
}

/** month_cycle: the reference's monthly job followed by the next
  * month's refresh, on one warehouse. The build phase takes a fresh
  * warehouse through bronze, silver, gold and export with the quality
  * gates on; the refresh phase folds the next month in with
  * `Incremental.run`.
  */
final class MonthCycle(spark: SparkSession, data: String, work: String, spans: Spans)
    extends Workload {
  import Main._
  val warehouse = s"$work/wh"
  val airports = s"$data/L_AIRPORT_ID.csv"
  val carriers = s"$data/L_UNIQUE_CARRIERS.csv"
  private def csvRows(path: String): Long =
    Files.lines(Paths.get(path)).count() - 1

  private var checksPassed, checksAttempted = 0L
  private val gateFailures = mutable.ArrayBuffer.empty[String]

  /** The quality gate handed to the pipeline through its public `Gate`
    * parameter: one span per suite; a failed suite is recorded, and
    * the pipeline goes on.
    */
  private val gate: RunPipeline.Gate = (df, suite, name) => spans("quality") {
    val report = Expectations.validate(df, suite)
    checksPassed += report.passed
    checksAttempted += report.total
    if (!report.success) gateFailures += s"$name: ${report.summary}"
  }

  /** Rows of a warehouse table, summed from its parquet footers: no
    * Spark job, so the counts between the timed calls stay cheap.
    */
  private def count(rel: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Files.walk(Paths.get(s"$warehouse/$rel")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount finally reader.close()
      }.sum
  }

  /** Writes the three marts in the q66/q73/q74 projections next to
    * their oracle SQL, retargeted from the 12-row fixture to the
    * generated CSVs under `data/flights/`.
    */
  override def oracles(): Seq[(String, String)] = {
    val gold = s"$warehouse/gold"
    val airline = ParquetTable.read(spark, s"$gold/daily_airline_performance")
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
    val airport = ParquetTable.read(spark, s"$gold/daily_airport_performance")
      .select(col("FLIGHT_DATE"), col("AIRPORT_CODE"), col("AIRPORT_NAME"),
        col("TOTAL_DEPARTURES"), col("CANCELLED_DEPARTURES"),
        pround(col("AVG_DEPARTURE_DELAY"), 6).as("AVG_DEPARTURE_DELAY"),
        col("DELAYED_DEPARTURES"),
        col("TOTAL_ARRIVALS"), col("DIVERTED_ARRIVALS"),
        pround(col("AVG_ARRIVAL_DELAY"), 6).as("AVG_ARRIVAL_DELAY"),
        col("DELAYED_ARRIVALS"))
    val route = ParquetTable.read(spark, s"$gold/route_performance")
      .select(col("YEAR"), col("MONTH"), col("ROUTE_CODE"), col("ROUTE_NAME"),
        col("ORIGIN_AIRPORT_CODE"), col("DEST_AIRPORT_CODE"),
        col("AIRLINE_CODE"), col("AIRLINE_NAME"),
        col("FLIGHT_FREQUENCY"),
        pround(col("AVG_DEPARTURE_DELAY"), 6).as("AVG_DEPARTURE_DELAY"),
        pround(col("AVG_ARRIVAL_DELAY"), 6).as("AVG_ARRIVAL_DELAY"),
        pround(col("AVG_AIR_TIME"), 6).as("AVG_AIR_TIME"),
        col("CANCELLATIONS"), col("ONTIME_FLIGHTS"),
        col("ONTIME_PERFORMANCE_PCT"))
    val sql = SparkEntry.oracleSql
    val marts = Seq("q66_pipeline_mart" -> airline,
      "q73_pipeline_airport_mart" -> airport, "q74_pipeline_route_mart" -> route)
    marts.map { case (q, df) =>
      df.write.mode("overwrite").parquet(s"$work/check/$q")
      val fixture = """read_csv\('([^']*)/flights\.csv'""".r
        .findFirstMatchIn(sql(q)).map(_.group(1))
        .getOrElse(sys.error(s"$q oracle reads no flights.csv"))
      q -> sql(q).replace(s"$fixture/flights.csv", s"$data/flights/*.csv")
        .replace(s"$fixture/", s"$data/")
    }
  }

  private def rowCheck(name: String, counts: Seq[(String, Long)]): Check = {
    val ok = counts.map(_._2).distinct.size == 1
    Check(name, ok, counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
  }

  private def gateCheck(): Seq[Check] =
    Seq(Check("quality_gates", gateFailures.isEmpty,
      if (gateFailures.isEmpty) s"$checksPassed/$checksAttempted checks passed"
      else gateFailures.mkString("; ")))

  val Array(month, next) = new File(s"$data/flights").listFiles().map(_.getPath).sorted
  val inputBytes: Long = Seq(month, next).map(new File(_).length()).sum
  private val counts = mutable.ArrayBuffer.empty[Check]
  private var appended = 0L
  private var built = Map.empty[String, (Long, Long)]

  private def listing(): Map[String, (Long, Long)] = {
    val base = new File(warehouse).toPath
    Files.walk(base).iterator().asScala.map(_.toFile).filter(_.isFile)
      .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
  }

  /** Bytes the timed calls wrote: the warehouse as the build left it,
    * plus every file the refresh added or replaced.
    */
  def writtenBytes(): Long =
    built.values.map(_._1).sum + listing().collect {
      case (p, (len, mtime)) if !built.get(p).contains((len, mtime)) => len
    }.sum

  /** Nothing to warm: the monthly job runs in a fresh JVM. */
  def setup(): Unit = ()

  def prepare(): Unit = {
    deleteTree(new File(warehouse))
    counts.clear()
  }

  private def silverRows(): Long = count("silver/flights")
  private def martRows(): Long =
    ParquetTable.read(spark, s"$warehouse/gold/daily_airline_performance")
      .agg(sum("TOTAL_FLIGHTS")).head().getLong(0)

  /** Row counts between the timed calls are taken outside them. */
  def run(): Seq[Op] = {
    val build = Seq(
      op(spans, "runBronze", "bronze") {
        RunPipeline.runBronze(spark, month, airports, carriers, warehouse, gate) },
      op(spans, "runSilver", "silver") { RunPipeline.runSilver(spark, warehouse, gate) },
      op(spans, "runGold", "gold") { RunPipeline.runGold(spark, warehouse, gate) },
      op(spans, "runExport", "export") { RunPipeline.runExport(spark, warehouse) })
    heap.sample()
    built = listing()
    val n1 = csvRows(month)
    counts += rowCheck("build_rows_conserved", Seq("csv" -> n1,
      "bronze" -> count("bronze/flights"), "silver" -> silverRows(),
      "fact" -> count("gold/fact_flights"), "mart_total_flights" -> martRows()))
    val fold = op(spans, "fold", "incremental.fold") {
      Incremental.run(spark, warehouse, next, airports, carriers) }
    heap.sample()
    val s1 = silverRows()
    appended = s1 - n1
    counts += rowCheck("refresh_rows_conserved", Seq("csv" -> (n1 + csvRows(next)),
      "silver" -> s1, "fact" -> count("gold/fact_flights"),
      "mart_total_flights" -> martRows()))
    build :+ fold
  }

  def check(): Seq[Check] = gateCheck() ++ counts

  override def ratios(): Seq[(String, Double)] = Seq(
    "quality.pass_ratio" -> checksPassed.toDouble / checksAttempted.max(1),
    "incremental.append_ratio" -> appended.toDouble / csvRows(next))
}

/** query_mix: a fixed subset of the query registry over generated
  * tables, in seed order. Each query is built (the call that returns
  * the DataFrame, with any eager driver jobs) and then executed by
  * writing its result to `<work>/check/<name>`, which the oracle check
  * reads afterwards.
  */
final class QueryMix(spark: SparkSession, data: String, work: String, spans: Spans,
    names: Seq[String], warmup: Seq[String], inject: Boolean) extends Workload {
  import Main._
  val warehouse = s"$work/check"
  val inputBytes: Long = dirBytes(new File(data))
  private val registry = SparkEntry.queries
  private val failing = "inject_throw"
  private val order = if (inject) names :+ failing else names

  private def build(name: String): DataFrame =
    if (name == failing) {
      spark.range(0, 100000).selectExpr("sum(id)").collect()
      throw new IllegalStateException("injected failure")
    } else registry(name)(spark, data)

  private val warmupFailures = mutable.ArrayBuffer.empty[Check]

  /** Warms the session with registry queries outside the mix, one per
    * module, so the shared planner, code generation and scan and write
    * paths of each module are compiled before the first timed query,
    * whichever query the seed puts first.
    */
  def setup(): Unit = warmup.foreach { q =>
    try registry(q)(spark, data).write.mode("overwrite").parquet(s"$work/warmup/$q")
    catch {
      case NonFatal(e) => warmupFailures += Check(s"warmup:$q", ok = false, e.toString)
    }
  }
  def prepare(): Unit = deleteTree(new File(warehouse))

  def run(): Seq[Op] = order.map { q =>
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val b = op(spans, q, "query.build") { df = build(q) }
    val e = if (!b.ok) b else op(spans, q, "query.exec") {
      df.write.mode("overwrite").parquet(s"$warehouse/$q")
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    heap.sample()   // outside the query's time: the collection is the probe's
    Op(q, QueryMix.module(q), wallS, e.ok, e.error)
  }

  def writtenBytes(): Long = dirBytes(new File(warehouse))
  def check(): Seq[Check] = warmupFailures.toSeq

  override def oracles(): Seq[(String, String)] =
    order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
}

object QueryMix {
  import graft.queries._
  /** Registry module of each query, named after its source file. */
  lazy val modules: Map[String, String] = Seq(
    "Relational" -> Relational.all, "ExtendedRelational" -> ExtendedRelational.all,
    "TextAnalysis" -> TextAnalysis.all, "DedupQueries" -> DedupQueries.all,
    "SimilarityQueries" -> SimilarityQueries.all,
    "MultimodalQueries" -> MultimodalQueries.all,
    "ProfilingQueries" -> ProfilingQueries.all, "WindowQueries" -> WindowQueries.all,
    "CorpusQueries" -> CorpusQueries.all,
    "TrainingPrepQueries" -> TrainingPrepQueries.all,
    "PipelineQueries" -> PipelineQueries.all)
    .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  def module(q: String): String = modules.getOrElse(q, "Injected")
}

/** Peak heap in use right after a collection during the timed calls:
  * the heap left by full collections forced between phases (after
  * month_cycle's build and refresh, after each query_mix query), and
  * by any full collection the JVM ran inside a call.
  */
final class HeapWatch {
  @volatile var active = false
  @volatile var peakBytes = 0L
  private def record(used: Long): Unit = if (used > peakBytes) peakBytes = used

  /** Forces a full collection and records the heap it leaves. */
  def sample(): Unit = {
    System.gc()
    record(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (active && n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            if (info.getGcAction.contains("major"))
              record(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                case (pool, u) if !pool.contains("Metaspace") &&
                  !pool.contains("Code") && !pool.contains("Class") => u.getUsed
              }.sum)
          }
      }, null, null)
    case _ =>
  }
}

/** Minimal JSON writer (the benchmark's output is flat and small). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def bool(v: Boolean): String = v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
