package graft.cli

import org.apache.spark.sql.SparkSession
import graft.core.{GraftSession, Overlap, ParquetTable}
import graft.pipeline._
import graft.pipeline.Warehouse.noGate
import graft.quality.Expectations

/** Pipeline runner — replaces the reference's Airflow DAG
  * (airflow/dags/lakehouse_etl_pipeline.py) with one main per stage
  * plus run-all, spark-submit friendly:
  *
  *   spark-submit --class graft.cli.RunPipeline <jar> \
  *     <stage: bronze|silver|gold|export|all|incremental> <flightsCsv>
  *     <airportsCsv> <carriersCsv> <warehouseDir> [--validate]
  *
  * Every table goes where `pipeline.Warehouse` declares it, with that
  * entry's partitioning and write shaping, and is published through
  * `Warehouse.commit`: written to `<table>._staged`, gated on what was
  * written, then swapped in; gold's nine tables are one commit. Each
  * layer is computed once: the gate reads the staged files, the fact
  * joins the staged dims, and the marts read the staged fact and dims.
  *
  * `gate` is the per-stage quality hook (FlightSuites under
  * --validate, where a failing suite throws and the table keeps its
  * previous version); stages are public so specs and schedulers can
  * drive them against their own session.
  */
object RunPipeline {

  type Gate = Warehouse.Gate

  def runBronze(spark: SparkSession, flightsCsv: String, airportsCsv: String,
      carriersCsv: String, wh: String, gate: Gate = noGate): Unit =
    Warehouse.bronze.publish(
      Bronze.ingest(spark, flightsCsv, airportsCsv, carriersCsv), wh, gate)

  def runSilver(spark: SparkSession, wh: String, gate: Gate = noGate): Unit =
    Warehouse.silver.publish(
      Silver.transform(Warehouse.bronze.read(spark, wh)), wh, gate)

  /** Gold as one [[Warehouse.commit]]: the five dims are staged at once,
    * the fact from the staged dims, then the three marts at once from
    * the staged fact and dims, while the caller gates each table as it
    * lands. Nothing is swapped in unless every gate passes.
    */
  def runGold(spark: SparkSession, wh: String, gate: Gate = noGate): Unit = {
    val silver = Warehouse.silver.read(spark, wh)
    Warehouse.commit(spark, wh, gate) { c =>
      def dims = Warehouse.Dims.staged(c)
      Warehouse.dims(spark, silver).stage(c) ++
        Seq(c.stage(Warehouse.fact)(dims.fact(silver))) ++
        Warehouse.marts.map(m => c.stage(m.table)(m.build(c(Warehouse.fact), dims)))
    }
  }

  def runExport(spark: SparkSession, wh: String): Unit =
    Overlap.together(Warehouse.marts.map { m => () =>
      ParquetTable.exportCsv(m.table.read(spark, wh), m.exportAt(wh))
    })

  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println(
        "usage: RunPipeline <bronze|silver|gold|export|all|incremental> " +
          "<flightsCsv> <airportsCsv> <carriersCsv> <warehouseDir> " +
          "[--validate]   (incremental: flightsCsv = the delta batch)")
      sys.exit(2)
    }
    val Array(stage, flightsCsv, airportsCsv, carriersCsv, wh) = args.take(5)
    val validate = args.contains("--validate")
    val spark = GraftSession.local(appName = s"graft-pipeline-$stage")

    val gate: Gate =
      if (!validate) noGate
      else (df, suite, name) => {
        val report = Expectations.validate(df, suite)
        println(s"[quality] $name: ${report.summary}")
        if (!report.success) sys.error(s"quality gate failed: $name")
      }

    try stage match {
      case "bronze" => runBronze(spark, flightsCsv, airportsCsv, carriersCsv, wh, gate)
      case "silver" => runSilver(spark, wh, gate)
      case "gold"   => runGold(spark, wh, gate)
      case "export" => runExport(spark, wh)
      case "all" =>
        runBronze(spark, flightsCsv, airportsCsv, carriersCsv, wh, gate)
        runSilver(spark, wh, gate)
        runGold(spark, wh, gate)
        runExport(spark, wh)
      // fold a delta CSV (e.g. one new month) into an existing
      // warehouse: affected mart partitions recomputed, history
      // untouched — see pipeline.Incremental
      case "incremental" =>
        val months =
          Incremental.run(spark, wh, flightsCsv, airportsCsv, carriersCsv, gate)
        println(s"[incremental] refreshed months: ${months.mkString(", ")}")
      case other =>
        System.err.println(s"unknown stage: $other"); spark.stop(); sys.exit(2)
    } finally spark.stop()
  }
}
