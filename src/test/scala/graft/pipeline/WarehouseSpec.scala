package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.cli.RunPipeline

/** The layout's contracts with its callers: how the build stages call a
  * quality gate, and the row order `Warehouse.silver` promises inside
  * each of its files.
  */
class WarehouseSpec extends SparkSpec {

  private lazy val tmp: Path = Files.createTempDirectory("graft-warehouse")
  private lazy val airports = fixture("L_AIRPORT_ID.csv")
  private lazy val carriers = fixture("L_UNIQUE_CARRIERS.csv")

  /** The January fixture with its rows reversed, and shifted to month
    * `m`: no date order left for a writer to keep by accident.
    */
  private def month(m: Int): String = {
    val lines = Files.readAllLines(Paths.get(fixture("flights.csv"))).asScala.toSeq
    val p = tmp.resolve(s"m$m.csv")
    Files.write(p, (lines.head +: lines.tail.reverse
      .map(_.replaceFirst("^1/", s"$m/"))).asJava)
    p.toString
  }

  test("gates run on the caller's thread, once per gated table, in Warehouse order") {
    val wh = tmp.resolve("wh_gates").toString
    val seen = new ConcurrentLinkedQueue[(String, Thread)]
    val record: Warehouse.Gate = (_, _, name) => seen.add(name -> Thread.currentThread)
    RunPipeline.runBronze(spark, month(1), airports, carriers, wh, record)
    RunPipeline.runSilver(spark, wh, record)
    RunPipeline.runGold(spark, wh, record)
    val calls = seen.asScala.toSeq
    assert(calls.map(_._1) === Seq("bronze", "silver", "dim_date", "dim_time",
      "dim_airport", "dim_route", "fact_flights"))
    assert(calls.forall(_._2 eq Thread.currentThread), "a gate ran off the caller's thread")
  }

  test("every silver file is sorted by FLIGHT_DATE, after the build and after a fold") {
    val wh = tmp.resolve("wh_sorted").toString
    val silver = Paths.get(Warehouse.silver.at(wh))
    /** FLIGHT_DATE of each part file, in file order (one small file is
      * one split, read in order).
      */
    def fileDates(): Seq[(String, Seq[Option[Long]])] =
      Files.walk(silver).iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet")).toSeq.sorted.map { f =>
          f -> spark.read.parquet(f).select("FLIGHT_DATE").collect().toSeq
            .map(r => Option(r.getDate(0)).map(_.toLocalDate.toEpochDay))
        }
    def assertSorted(when: String): Int = {
      val files = fileDates()
      for ((f, dates) <- files)
        assert(dates === dates.sorted, s"$when: $f is not sorted by FLIGHT_DATE")
      assert(files.exists(_._2.distinct.size > 1), s"$when: no file holds two dates")
      files.size
    }

    RunPipeline.runBronze(spark, month(1), airports, carriers, wh)
    RunPipeline.runSilver(spark, wh)
    val built = assertSorted("build")
    Incremental.run(spark, wh, month(2), airports, carriers)
    assert(assertSorted("fold") > built, "the fold appended no silver file")
  }
}
