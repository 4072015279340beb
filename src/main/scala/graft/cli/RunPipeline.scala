package graft.cli

import org.apache.spark.sql.SparkSession
import graft.core.{GraftSession, ParquetTable}
import graft.pipeline._
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
  * entry's partitioning and write shaping.
  *
  * `gate` is the per-stage quality hook (FlightSuites under
  * --validate); stages are public so specs and schedulers can drive
  * them against their own session.
  */
object RunPipeline {

  type Gate = Warehouse.Gate
  val noGate: Gate = (_, _, _) => ()

  def runBronze(spark: SparkSession, flightsCsv: String, airportsCsv: String,
      carriersCsv: String, wh: String, gate: Gate = noGate): Unit = {
    val bronze = Bronze.ingest(spark, flightsCsv, airportsCsv, carriersCsv)
    Warehouse.bronze.gate(gate, bronze)
    Warehouse.bronze.write(bronze, wh)
  }

  def runSilver(spark: SparkSession, wh: String, gate: Gate = noGate): Unit = {
    val silver = Silver.transform(Warehouse.bronze.read(spark, wh))
    Warehouse.silver.gate(gate, silver)
    Warehouse.silver.write(silver, wh)
  }

  def runGold(spark: SparkSession, wh: String, gate: Gate = noGate): Unit = {
    val silver = Warehouse.silver.read(spark, wh)
    val dims = Warehouse.dims(spark, silver)
    dims.tables.foreach { case (t, d) => t.write(d, wh) }
    dims.tables.foreach { case (t, d) => t.gate(gate, d) }

    val fact = dims.fact(silver)
    Warehouse.fact.gate(gate, fact)
    Warehouse.fact.write(fact, wh)

    val factR = Warehouse.fact.read(spark, wh)
    Warehouse.marts.foreach(m => m.table.write(m.build(factR, dims), wh))
  }

  def runExport(spark: SparkSession, wh: String): Unit =
    Warehouse.marts.foreach { m =>
      ParquetTable.exportCsv(m.table.read(spark, wh), m.exportAt(wh))
    }

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
        if (!report.success) { spark.stop(); sys.exit(1) }
      }

    stage match {
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
        val months = Incremental.run(spark, wh, flightsCsv, airportsCsv, carriersCsv)
        println(s"[incremental] refreshed months: ${months.mkString(", ")}")
      case other =>
        System.err.println(s"unknown stage: $other"); spark.stop(); sys.exit(2)
    }
    spark.stop()
  }
}
