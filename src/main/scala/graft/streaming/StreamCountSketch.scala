package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.operators.CountSketch

/** Streaming Count-Sketch per tumbling window — the signed member of
  * the bit-identical streaming-sketch family ([[StreamCountMin]],
  * [[StreamKmv]]): signed counters are pure order-free integer sums
  * (each item's bucket AND sign are fixed functions of its hash), so
  * the emitted per-window counter table is bit-identical to
  * `CountSketch.counters` over the same rows regardless of trigger
  * interleaving — StreamCountSketchSpec pins it, and
  * `CountSketch.estimate` consumes batch and streamed counters
  * interchangeably.
  *
  * State per (window, row) is one w-bounded bucket→sum map; items fan
  * out to their d (row, bucket, sign) updates BEFORE the shuffle, the
  * [[StreamCountMin]] shape exactly.
  */
object StreamCountSketch {

  final case class Hashed(ts: Timestamp, h: Long)
  final case class Routed(ts: Timestamp, row: Int, bucket: Long, sgn: Long)
  final case class CsState(counts: Map[Long, Long])
  final case class CounterRow(window_start: Timestamp,
      window_end: Timestamp, row: Int, bucket: Long, cnt: Long)

  /** Emits the (row, bucket, cnt = Σ sign) counter table of each
    * tumbling window once the watermark passes its end.
    */
  def counters(items: Dataset[Hashed], windowSeconds: Long,
      watermarkDelay: String, d: Int, w: Int)(
      implicit spark: SparkSession): Dataset[CounterRow] = {
    import spark.implicits._
    require(d >= 1 && d <= CountSketch.maxDepth && d % 2 == 1 && w >= 2 &&
      windowSeconds > 0)
    val routed = items.flatMap(it => (0 until d).map(i =>
      Routed(it.ts, i, CountSketch.bucketOf(it.h, i, w),
        CountSketch.signOf(it.h, i))))
    EventTimeState.tumbling(routed)(_.ts, _.row, windowSeconds,
        watermarkDelay) { (prev: Option[CsState], batch) =>
      val counts = scala.collection.mutable.Map.empty[Long, Long]
      prev.foreach(s => counts ++= s.counts)
      batch.foreach { r =>
        counts(r.bucket) = counts.getOrElse(r.bucket, 0L) + r.sgn
      }
      CsState(counts.toMap)
    } { (start, end, row, s) =>
      s.counts.iterator.map { case (bucket, cnt) =>
        CounterRow(start, end, row, bucket, cnt)
      }
    }
  }
}
