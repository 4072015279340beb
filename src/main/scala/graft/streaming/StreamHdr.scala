package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming HDR quantile-sketch buckets per tumbling window — the
  * quantile member of the bit-identical sketch-twin family
  * ([[StreamKmv]] order statistics, [[StreamHll]] registers): a
  * bucket-count map is a pure order-free fold (counts add), so the
  * emitted bucket rows are bit-identical to batch
  * [[graft.operators.HdrSketch.sketch]] over the same window's rows
  * under any interleaving, and [[graft.operators.HdrSketch.quantiles]]
  * consumes emitted rows interchangeably with batch sketch rows —
  * the live latency-percentile / doc-length-percentile monitor.
  *
  * State per (window, key) is the bucket-count map, bounded by the
  * sketch's STRUCTURAL cap ((64−b)·2^b + 2^(b+1) entries, ~2k at
  * b=5) regardless of row volume — never the value multiset
  * ([[EventTimeState.tumbling]]).
  *
  * The JVM bucket twin is exact: floorLog2 via
  * 63 − numberOfLeadingZeros (0 for v = 0) equals the Column path's
  * `length(bin(v)) − 1` for every non-negative long.
  */
object StreamHdr {

  final case class Keyed(ts: Timestamp, key: String, v: Long)
  final case class HdrState(counts: Map[Long, Long])
  final case class BucketRow(window_start: Timestamp, window_end: Timestamp,
      key: String, idx: Long, cnt: Long)

  /** The exact bucket walk of [[graft.operators.HdrSketch.bucketIdx]]. */
  def bucketOf(v: Long, bits: Int): Long = {
    require(v >= 0, s"negative value $v")
    val flog = if (v == 0) 0 else 63 - java.lang.Long.numberOfLeadingZeros(v)
    val shift = math.max(0, flog - bits)
    shift.toLong * (1L << bits) + (v >> shift)
  }

  /** Emits each closed tumbling window's per-key bucket counts once
    * the watermark passes the window end.
    */
  def buckets(items: Dataset[Keyed], bits: Int, windowSeconds: Long,
      watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[BucketRow] = {
    import spark.implicits._
    require(windowSeconds > 0)
    EventTimeState.tumbling(items)(_.ts, _.key, windowSeconds,
        watermarkDelay) { (prev: Option[HdrState], batch) =>
      // count addition: associative and commutative, so replays
      // and reorderings cannot change the closed-window sketch
      var counts = prev.map(_.counts).getOrElse(Map.empty[Long, Long])
      batch.foreach { r =>
        val b = bucketOf(r.v, bits)
        counts = counts.updated(b, counts.getOrElse(b, 0L) + 1L)
      }
      HdrState(counts)
    } { (start, end, key, s) =>
      s.counts.toSeq.sortBy(_._1).iterator.map { case (i, c) =>
        BucketRow(start, end, key, i, c)
      }
    }
  }
}
