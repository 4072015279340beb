package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, TimestampType}
import graft.SparkSpec
import graft.cli.{RunPipeline, RunValidations}
import graft.core.ParquetTable

/** The reference claims incremental processing but full-overwrites
  * every run; this spec pins the engine's actual incremental contract:
  * folding a new month in with `Incremental.run` must produce the same
  * warehouse as rebuilding from all the data at once.
  */
class IncrementalPipelineSpec extends SparkSpec {

  private lazy val tmp: Path = Files.createTempDirectory("graft-incr")
  private lazy val jan = fixture("flights.csv")
  private lazy val airports = fixture("L_AIRPORT_ID.csv")
  private lazy val carriers = fixture("L_UNIQUE_CARRIERS.csv")

  /** Synthesize a February batch: the January fixture with the month
    * digit shifted (dates 15-18 exist in both months).
    */
  private lazy val feb: String = {
    val lines = Files.readAllLines(Paths.get(jan)).asScala.toSeq
    val shifted = lines.head +: lines.tail.map(_.replaceFirst("^1/", "2/"))
    val p = tmp.resolve("feb.csv")
    Files.write(p, shifted.asJava)
    p.toString
  }

  /** Directory holding both months, for the one-shot rebuild. */
  private lazy val bothMonths: String = {
    val d = tmp.resolve("all")
    Files.createDirectories(d)
    Files.copy(Paths.get(jan), d.resolve("jan.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(feb), d.resolve("feb.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  /** Sorted canonical rows; doubles rounded to 6 decimals (the full
    * and incremental paths sum float aggregates in different orders —
    * exactly the last-ulp difference the equivalence claim should
    * tolerate) and load-time metadata timestamps dropped (ingested_at
    * NECESSARILY differs between a rebuild and an incremental fold).
    */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
      .filter(c => df.schema(c).dataType != TimestampType)
      .map { c =>
        if (df.schema(c).dataType == DoubleType) round(col(c), 6).as(c)
        else col(c)
      }
    df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  test("incremental month fold equals the full two-month rebuild") {
    val whFull = tmp.resolve("wh_full").toString
    val whIncr = tmp.resolve("wh_incr").toString

    // one-shot rebuild over both months
    RunPipeline.runBronze(spark, bothMonths, airports, carriers, whFull)
    RunPipeline.runSilver(spark, whFull)
    RunPipeline.runGold(spark, whFull)

    // January alone, then February folded in incrementally
    RunPipeline.runBronze(spark, jan, airports, carriers, whIncr)
    RunPipeline.runSilver(spark, whIncr)
    RunPipeline.runGold(spark, whIncr)
    val months = Incremental.run(spark, whIncr, feb, airports, carriers)
    assert(months === Seq(202502), "exactly the delta's month is refreshed")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the fold left its silver delta cached")

    for (t <- Seq("gold/dim_airline", "gold/dim_airport", "gold/dim_route",
        "gold/fact_flights", "gold/daily_airline_performance",
        "gold/daily_airport_performance", "gold/route_performance")) {
      val full = ParquetTable.read(spark, s"$whFull/$t")
      val incr = ParquetTable.read(spark, s"$whIncr/$t")
      assert(incr.columns.sorted.toSeq === full.columns.sorted.toSeq, t)
      assert(canon(incr) === canon(full), s"$t diverged from full rebuild")
    }
  }

  test("re-delivering the same delta twice equals delivering it once") {
    val whTwice = tmp.resolve("wh_twice").toString
    RunPipeline.runBronze(spark, jan, airports, carriers, whTwice)
    RunPipeline.runSilver(spark, whTwice)
    RunPipeline.runGold(spark, whTwice)
    assert(Incremental.run(spark, whTwice, feb, airports, carriers)
      === Seq(202502))
    val silverOnce = canon(ParquetTable.read(spark, s"$whTwice/silver/flights"))

    // second delivery of the SAME batch: the natural-key anti-join
    // must make the silver append a no-op, and every downstream table
    // must come out identical to the warehouse that saw the batch once
    assert(Incremental.run(spark, whTwice, feb, airports, carriers)
      === Seq(202502))
    assert(canon(ParquetTable.read(spark, s"$whTwice/silver/flights"))
      === silverOnce, "silver grew on re-delivery")
    for (t <- Seq("silver/flights", "gold/dim_airline", "gold/dim_airport",
        "gold/dim_route", "gold/fact_flights", "gold/daily_airline_performance",
        "gold/daily_airport_performance", "gold/route_performance")) {
      val once = ParquetTable.read(spark, s"${tmp.resolve("wh_incr")}/$t")
      val twice = ParquetTable.read(spark, s"$whTwice/$t")
      assert(canon(twice) === canon(once), s"$t diverged after re-delivery")
    }
  }

  test("re-delivery stays idempotent when natural-key columns are NULL") {
    // an empty CRS_DEP_TIME yields a NULL PLANNED_DEPARTURE_TIME key
    // column; a plain equi anti-join would re-append such rows forever
    // (NULL != NULL) — the merge must use null-safe key equality
    val whN = tmp.resolve("wh_nullkey").toString
    RunPipeline.runBronze(spark, jan, airports, carriers, whN)
    RunPipeline.runSilver(spark, whN)
    RunPipeline.runGold(spark, whN)
    val lines = Files.readAllLines(Paths.get(jan)).asScala.toSeq
    val row = lines(1).split(",", -1)
    row(0) = "3/15/2025 12:00:00 AM" // new month
    row(7) = ""                      // CRS_DEP_TIME -> NULL key column
    val nullKey = tmp.resolve("nullkey.csv")
    Files.write(nullKey, Seq(lines.head, row.mkString(",")).asJava)

    assert(Incremental.run(spark, whN, nullKey.toString, airports, carriers)
      === Seq(202503))
    val once = ParquetTable.read(spark, s"$whN/silver/flights").count()
    Incremental.run(spark, whN, nullKey.toString, airports, carriers)
    assert(ParquetTable.read(spark, s"$whN/silver/flights").count() === once,
      "NULL-key row duplicated on re-delivery")
  }

  test("a day arriving across two deltas converges fact to silver's union") {
    // same February dates, disjoint flight numbers: the second delta
    // must not wipe the first delta's rows from the shared day
    // partitions (fact is rebuilt from MERGED silver, not delta-only)
    val whSplit = tmp.resolve("wh_split").toString
    RunPipeline.runBronze(spark, jan, airports, carriers, whSplit)
    RunPipeline.runSilver(spark, whSplit)
    RunPipeline.runGold(spark, whSplit)
    val febAlt: String = {
      val lines = Files.readAllLines(Paths.get(feb)).asScala.toSeq
      val shifted = lines.head +: lines.tail.map { l =>
        val parts = l.split(",", -1)
        parts(2) = (parts(2).toInt + 1000).toString // OP_CARRIER_FL_NUM
        parts.mkString(",")
      }
      val p = tmp.resolve("feb_alt.csv")
      Files.write(p, shifted.asJava)
      p.toString
    }
    Incremental.run(spark, whSplit, feb, airports, carriers)
    Incremental.run(spark, whSplit, febAlt, airports, carriers)
    val febSilver = ParquetTable.read(spark, s"$whSplit/silver/flights")
      .filter(col("FLIGHT_DATE") >= "2025-02-01")
    val febFact = ParquetTable.read(spark, s"$whSplit/gold/fact_flights")
      .filter(col("DATE_KEY").between(20250201, 20250231))
    assert(febSilver.count() === 24, "both deltas' rows merged into silver")
    assert(febFact.count() === febSilver.count(),
      "fact day partitions must hold the union of both deltas")
  }

  test("run-all-layers validation sweep: per-suite reports + overall gate") {
    val wh = tmp.resolve("wh_full").toString // built by the test above
    val results = RunValidations.validateAll(spark, wh)
    assert(results.size === 8)
    assert(results.forall(_._2.nonEmpty), "every layer readable")
    // the 13-row fixture intentionally trips two of the silver suite's
    // `mostly` thresholds (a cancelled flight with no air time and an
    // implausible speed) — the sweep must localize the failure to that
    // suite and those checks, and pass everything else
    val failing = results.collect {
      case (t, Some(r)) if !r.success =>
        t -> r.results.filterNot(_.success).map(_.name)
    }.toMap
    assert(failing.keySet === Set("silver/flights"), s"unexpected: $failing")
    assert(failing("silver/flights").forall(n =>
      n.contains("AIR_TIME_MINUTES") || n.contains("SPEED_KM_H")))
    assert(!RunValidations.allPassed(results))
    // a half-built warehouse (no tables at all) fails every suite
    val empty = RunValidations.validateAll(spark, tmp.resolve("nope").toString)
    assert(empty.forall(_._2.isEmpty))
    assert(!RunValidations.allPassed(empty))
    // data-docs artifact: per-suite tables with the failing checks named
    val report = RunValidations.renderReport(results, wh)
    assert(report.contains("7/8 suites passed"))
    assert(report.contains("## gold/fact_flights"))
    assert(report.contains("**FAIL** | between(SPEED_KM_H"))
    val written = RunValidations.writeReport(spark, results, wh)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(written.toUri)) === report)
  }
}
