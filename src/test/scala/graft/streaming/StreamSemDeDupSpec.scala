package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.{Dedup, KMeans}

object StreamSemDeDupSpec {
  case class Vec(vec_id: Long, ts: Timestamp, embedding: Seq[Float])
}

class StreamSemDeDupSpec extends SparkSpec {
  import StreamSemDeDupSpec.Vec

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // three well-separated directions in 4-dim; near-dups are small
  // perturbations within a direction
  private def v(base: Int, eps: Float): Seq[Float] = base match {
    case 0 => Seq(1.0f, eps, 0.0f, 0.0f)
    case 1 => Seq(0.0f, 1.0f, eps, 0.0f)
    case _ => Seq(eps, 0.0f, 0.0f, 1.0f)
  }

  private def trainCents(rows: Seq[Vec]) = {
    import spark.implicits._
    KMeans.fitCentroidArrays(
      rows.map(r => (r.vec_id, r.embedding)).toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      "vec_id", "embedding", k = 3, iters = 2)
  }

  test("in-horizon semantic dups surface per frozen cell; late arrivals don't") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val warm = (0 until 9).map(i =>
      Vec(100L + i, ts("2025-01-01 09:00:00"), v(i % 3, 0.02f * (i / 3))))
    val cents = trainCents(warm)
    val input = MemoryStream[Vec]
    val q = StreamSemDeDup.matches(input.toDF(), "vec_id", "ts",
        "embedding", cents, tau = 0.99, delaySeconds = 60)
      .writeStream.format("memory").queryName("ssd_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Vec(1L, ts("2025-01-01 10:00:00"), v(0, 0.00f)),
        Vec(2L, ts("2025-01-01 10:00:05"), v(0, 0.01f)), // ~dup of 1
        Vec(3L, ts("2025-01-01 10:00:10"), v(1, 0.00f)), // other cell
        Vec(4L, ts("2025-01-01 10:00:15"), v(2, 0.00f))) // third cell
      input.addData(Vec(5L, ts("2025-01-01 10:00:20"), v(0, 0.02f)))
      q.processAllAvailable()
      val pairs = spark.table("ssd_out")
        .select("vec_id", "dup_of").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((2L, 1L), (5L, 1L), (5L, 2L)),
        s"unexpected pair set: $pairs")
      // same-cell verdicts carry the cell id
      val cells = spark.table("ssd_out").select("cluster").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(cells.size === 1)

      // advance the watermark past the horizon, then send a twin of
      // vec 1: its cell state evicted — cross-horizon is batch's job
      input.addData(Vec(90L, ts("2025-01-01 11:00:00"), v(1, 0.3f)))
      q.processAllAvailable()
      input.addData(Vec(91L, ts("2025-01-01 10:59:30"), v(0, 0.0f)))
      q.processAllAvailable()
      assert(spark.table("ssd_out").filter($"vec_id" === 91L).count() === 0L,
        "cross-horizon semantic dup must NOT fire")
    } finally q.stop()
  }

  test("bounded in-horizon replay agrees with the batch cluster-confined pairs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = (0 until 18).map { i =>
      Vec(i.toLong, ts(f"2025-01-01 10:00:${i * 2}%02d"),
        v(i % 3, 0.005f * (i / 3)))
    }
    // frozen model trained on the same corpus with the same params the
    // batch path trains internally — so cells agree by determinism
    val cents = trainCents(rows)
    val input = MemoryStream[Vec]
    val q = StreamSemDeDup.matches(input.toDF(), "vec_id", "ts",
        "embedding", cents, tau = 0.999, delaySeconds = 3600)
      .writeStream.format("memory").queryName("ssd_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      // stream emits (later, earlier); ids arrive in id order, so
      // (dup_of, vec_id) ≡ batch's (d1, d2)
      val streamed = spark.table("ssd_eq")
        .select("dup_of", "vec_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = Dedup.semDeDupPairs(
        rows.map(r => (r.vec_id, r.embedding)).toDF("vec_id", "embedding")
          .withColumn("embedding", col("embedding").cast("array<float>")),
        "vec_id", "embedding", k = 3, iters = 2, tau = 0.999)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("a full cell verifies arrivals without storing them and counts each drop") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // one frozen cell; vecs 2 and 3 each sit ~0.995 from vec 1 and
    // ~0.980 from each other, so with tau 0.99 only (2,1) and (3,1)
    // match, whichever of 2 and 3 the cell stores
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0))
    val dropped = spark.sparkContext.longAccumulator("ssd_dropped")
    val input = MemoryStream[Vec]
    val q = StreamSemDeDup.matches(input.toDF(), "vec_id", "ts",
        "embedding", cents, tau = 0.99, delaySeconds = 3600, maxCell = 1,
        droppedAcc = Some(dropped))
      .writeStream.format("memory").queryName("ssd_cap")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Vec(1L, ts("2025-01-01 10:00:00"), Seq(1.0f, 0.0f, 0.0f, 0.0f)),
        Vec(2L, ts("2025-01-01 10:00:01"), Seq(1.0f, 0.1f, 0.0f, 0.0f)),
        Vec(3L, ts("2025-01-01 10:00:02"), Seq(1.0f, -0.1f, 0.0f, 0.0f)))
      q.processAllAvailable()
      val pairs = spark.table("ssd_cap")
        .select("vec_id", "dup_of").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((2L, 1L), (3L, 1L)), s"unexpected pair set: $pairs")
      assert(dropped.value === 2L, "vecs 2 and 3 are verified but not stored")
    } finally q.stop()
  }
}
