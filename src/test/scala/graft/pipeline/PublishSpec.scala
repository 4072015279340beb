package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.cli.RunPipeline
import graft.core.ParquetTable

/** The publish protocol (`Warehouse.Table.publish`): a table is written
  * to `<table>._staged`, gated on what was written, and swapped in only
  * on a pass. A gate that throws must leave the previous version
  * readable with its old rows, keep the new rows invisible, and leave
  * no staged or swap-aside directory behind; the incremental fold's
  * delta gate must stop the fold before anything is written.
  */
class PublishSpec extends SparkSpec {

  private lazy val tmp: Path = Files.createTempDirectory("graft-publish")
  private lazy val jan = fixture("flights.csv")
  private lazy val airports = fixture("L_AIRPORT_ID.csv")
  private lazy val carriers = fixture("L_UNIQUE_CARRIERS.csv")

  /** The January fixture shifted to February, as a delta month. */
  private lazy val feb: String = {
    val lines = Files.readAllLines(Paths.get(jan)).asScala.toSeq
    val p = tmp.resolve("feb.csv")
    Files.write(p, (lines.head +: lines.tail.map(_.replaceFirst("^1/", "2/"))).asJava)
    p.toString
  }

  /** Both months in one directory: a rebuild twice the size. */
  private lazy val both: String = {
    val d = tmp.resolve("both")
    Files.createDirectories(d)
    Files.copy(Paths.get(jan), d.resolve("jan.csv"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(feb), d.resolve("feb.csv"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  private final class Refused(name: String) extends RuntimeException(s"refused $name")

  /** Throws for table `target`, after recording the rows it was shown. */
  private class Refuse(target: String) extends RunPipeline.Gate {
    var seen = -1L
    def apply(df: org.apache.spark.sql.DataFrame,
        suite: Seq[graft.quality.Expectations.Expectation], name: String): Unit =
      if (name == target) { seen = df.count(); throw new Refused(name) }
  }

  private def januaryWarehouse(name: String): String = {
    val wh = tmp.resolve(name).toString
    RunPipeline.runBronze(spark, jan, airports, carriers, wh)
    RunPipeline.runSilver(spark, wh)
    RunPipeline.runGold(spark, wh)
    wh
  }

  private def rows(wh: String, t: Warehouse.Table): Long = t.read(spark, wh).count()

  /** Directories left by the protocol anywhere under the warehouse. */
  private def leftovers(wh: String): Seq[String] =
    Files.walk(Paths.get(wh)).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith("._staged") || n.endsWith("._swap_old")).toSeq

  /** Part-file names of every gold table: the dims, the fact, the marts. */
  private def goldFiles(wh: String): Map[String, Set[String]] =
    (Seq(Warehouse.dimDate, Warehouse.dimTime, Warehouse.dimAirline,
      Warehouse.dimAirport, Warehouse.dimRoute, Warehouse.fact) ++
      Warehouse.marts.map(_.table)).map { t =>
      t.name -> Files.walk(Paths.get(t.at(wh))).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("part-")).toSet
    }.toMap

  private def fails(wh: String)(build: => Unit): Unit = {
    intercept[Refused](build)
    assert(leftovers(wh).isEmpty, "a refused build left staged files")
  }

  test("a refused bronze or silver keeps the previous version and hides the new rows") {
    val wh = januaryWarehouse("wh_layers")
    val refuseBronze = new Refuse("bronze")
    fails(wh)(RunPipeline.runBronze(spark, both, airports, carriers, wh, refuseBronze))
    assert(refuseBronze.seen === 24, "the gate reads the written rebuild")
    assert(rows(wh, Warehouse.bronze) === 12)
    assert(Warehouse.bronze.read(spark, wh)
      .filter(month(col("partition_date")) === 2).isEmpty)

    RunPipeline.runBronze(spark, both, airports, carriers, wh)
    assert(rows(wh, Warehouse.bronze) === 24)
    val refuseSilver = new Refuse("silver")
    fails(wh)(RunPipeline.runSilver(spark, wh, refuseSilver))
    assert(refuseSilver.seen === 24)
    assert(rows(wh, Warehouse.silver) === 12)
    assert(Warehouse.silver.read(spark, wh)
      .filter(month(col("FLIGHT_DATE")) === 2).isEmpty)
  }

  test("a refused dim_route or fact keeps the previous gold tables") {
    val wh = januaryWarehouse("wh_gold")
    RunPipeline.runBronze(spark, both, airports, carriers, wh)
    RunPipeline.runSilver(spark, wh)
    def routeFlights(): Long = Warehouse.dimRoute.read(spark, wh)
      .agg(sum("TOTAL_FLIGHTS")).head().getLong(0)
    def febFacts(): Long = Warehouse.fact.read(spark, wh)
      .filter(col("DATE_KEY") >= 20250201).count()

    val january = goldFiles(wh)
    assert(january.values.forall(_.nonEmpty))

    fails(wh)(RunPipeline.runGold(spark, wh, new Refuse("dim_route")))
    assert(goldFiles(wh) === january, "a gold table changed under a refused dim_route")
    assert(routeFlights() === 12)
    assert(rows(wh, Warehouse.fact) === 12)

    val refuseFact = new Refuse("fact_flights")
    fails(wh)(RunPipeline.runGold(spark, wh, refuseFact))
    assert(refuseFact.seen === 24)
    assert(goldFiles(wh) === january, "a gold table changed under a refused fact")
    assert(routeFlights() === 12, "the dims passed their gates but the unit failed")
    assert(rows(wh, Warehouse.fact) === 12)
    assert(febFacts() === 0)

    RunPipeline.runGold(spark, wh)
    assert(rows(wh, Warehouse.fact) === 24)
    assert(febFacts() === 12)
    assert(leftovers(wh).isEmpty, "a passing build left staged or swap-aside files")
  }

  test("a refused incremental delta leaves silver, fact and marts as they were") {
    val wh = januaryWarehouse("wh_incr")
    def martFlights(): Long = Warehouse.marts.head.table.read(spark, wh)
      .agg(sum("TOTAL_FLIGHTS")).head().getLong(0)
    val before = (rows(wh, Warehouse.silver), rows(wh, Warehouse.fact), martFlights())
    assert(before._1 === 12 && before._2 === 12)

    val refuse = new Refuse("silver")
    intercept[Refused](Incremental.run(spark, wh, feb, airports, carriers, refuse))
    assert(refuse.seen === 12, "the gate sees the rows about to be appended")
    assert(spark.sharedState.cacheManager.isEmpty,
      "a refused fold left its silver delta cached")
    assert((rows(wh, Warehouse.silver), rows(wh, Warehouse.fact), martFlights())
      === before)

    assert(Incremental.run(spark, wh, feb, airports, carriers) === Seq(202502))
    assert(rows(wh, Warehouse.silver) === 24 && rows(wh, Warehouse.fact) === 24)
    assert(martFlights() === 2 * before._3)
    assert(leftovers(wh).isEmpty)
  }

  test("a staged write that throws surfaces its own exception and leaves no staged directory") {
    val wh = tmp.resolve("wh_write").toString
    val (kept, other) = (Warehouse.Table("t/kept"), Warehouse.Table("t/other"))
    kept.publish(spark.range(3).toDF("id"), wh)
    val before = kept.read(spark, wh).inputFiles.toSet
    val boom = udf((i: Long) => if (i >= 0) throw new IllegalStateException("boom") else i)

    val e = intercept[Exception] {
      Warehouse.commit(spark, wh, Warehouse.noGate) { c => Seq(
        c.stage(kept)(spark.range(5).toDF("id")),
        c.stage(other)(spark.range(5).select(boom(col("id")).as("id"))))
      }
    }
    assert(e.isInstanceOf[org.apache.spark.SparkException], e)
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(kept.read(spark, wh).inputFiles.toSet === before, "kept was swapped in")
    assert(!other.exists(spark, wh))
    assert(leftovers(wh).isEmpty, "a failed write left staged files")

    val thrown = new IllegalStateException("no frame")
    assert(intercept[IllegalStateException] {
      Warehouse.commit(spark, wh, Warehouse.noGate)(c => Seq(
        c.stage(kept)(spark.range(5).toDF("id")), c.stage(other)(throw thrown)))
    } eq thrown)
    assert(kept.read(spark, wh).count() === 3)
    assert(leftovers(wh).isEmpty)
  }

  test("compact and publish share one swap: no aside directory survives") {
    val path = tmp.resolve("compact/t").toString
    spark.range(0, 100).repartition(8).write.parquet(path)
    ParquetTable.compact(spark, path)
    assert(spark.read.parquet(path).count() === 100)
    assert(leftovers(tmp.resolve("compact").toString).isEmpty)
  }
}
