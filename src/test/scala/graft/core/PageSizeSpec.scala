package graft.core

import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.util.SizeEstimator
import graft.SparkSpec
import graft.pipeline.{Bronze, FactFlights, GoldDims, Silver}

/** GraftSession sizes Spark's memory pages to the heap, so a broadcast
  * hash relation of a few dozen string-keyed dim rows costs one small
  * page, not Spark's default 16–64 MB one.
  */
class PageSizeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val MB = 1L << 20

  test("the session's page size is a power of two, ≥ 1 MB, and 8192 pages cover the heap") {
    spark.sparkContext // the session (and its SparkEnv) is built lazily
    val page = SparkEnv.get.memoryManager.pageSizeBytes
    assert(java.lang.Long.bitCount(page) === 1, s"$page is not a power of two")
    assert(page >= MB)
    assert(page >= Runtime.getRuntime.maxMemory / 8192)
    assert(page === GraftSession.pageSizeBytes())
  }

  test("pageSizeBytes: 1 MB up to an 8 GB heap, then the next power of two") {
    assert(GraftSession.pageSizeBytes(0L) === MB)
    assert(GraftSession.pageSizeBytes(3L << 30) === MB)
    assert(GraftSession.pageSizeBytes(8L << 30) === MB)
    assert(GraftSession.pageSizeBytes((8L << 30) + 1) === 2 * MB)
    assert(GraftSession.pageSizeBytes(128L << 30) === 16 * MB)
  }

  test("each string-keyed dim broadcast of the fact build holds ≤ 2 MB") {
    val clock = lit("2025-02-01 00:00:00").cast("timestamp")
    val silver = Silver.transform(
      Bronze.ingest(spark, fixture("flights.csv"), fixture("L_AIRPORT_ID.csv"),
        fixture("L_UNIQUE_CARRIERS.csv"), clock, inferSchema = false))
    val fact = FactFlights.build(silver, GoldDims.dimDate(spark),
      GoldDims.dimAirport(silver, clock), GoldDims.dimAirline(silver, clock),
      GoldDims.dimRoute(silver, clock))
    assert(fact.collect().length === 12)

    val stringKeyed = collect(fact.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec if (b.mode match {
          case HashedRelationBroadcastMode(keys, _) =>
            keys.exists(_.dataType == StringType)
          case _ => false
        }) => b
    }
    // the airline, airport and route dims, and bronze's lookup joins
    // under them
    assert(stringKeyed.nonEmpty, fact.queryExecution.executedPlan.toString)
    for (b <- stringKeyed) {
      val bytes = SizeEstimator.estimate(
        b.executeBroadcast[Any]().value.asInstanceOf[AnyRef])
      assert(bytes <= 2 * MB, s"${b.mode} holds $bytes bytes")
    }
  }
}
