package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.operators.CountMin

/** Streaming Count-Min sketch per tumbling window — the streaming
  * twin of `operators.CountMin`, and unlike [[StreamFrequentItems]]'
  * Misra-Gries bounds this twin is EXACT about its own artifact: CMS
  * counters are pure order-free integer sums, so the emitted sketch
  * is bit-identical to `CountMin.counters` over the same window's
  * rows no matter how the stream interleaves, retries, or batches —
  * StreamCountMinSpec pins stream ≡ batch equality.
  *
  * State per (window, row) is one w-bounded bucket map (never the key
  * universe, never buffered events), kept by
  * [[EventTimeState.tumbling]]; each item fans out to its d row keys
  * BEFORE the shuffle, so update work spreads across executors
  * exactly like the batch hash-agg. Downstream estimates run
  * `CountMin.estimate` over the emitted rows, batch and stream
  * interchangeably (counters from adjacent windows merge by
  * addition, the CMS fold contract).
  */
object StreamCountMin {

  final case class Hashed(ts: Timestamp, h: Long)
  final case class Routed(ts: Timestamp, row: Int, bucket: Long)
  final case class CmsState(counts: Map[Long, Long])
  final case class CounterRow(window_start: Timestamp,
      window_end: Timestamp, row: Int, bucket: Long, cnt: Long)

  /** Emits the (row, bucket, cnt) counter table of each tumbling
    * window once the watermark passes its end.
    */
  def counters(items: Dataset[Hashed], windowSeconds: Long,
      watermarkDelay: String, d: Int, w: Int)(
      implicit spark: SparkSession): Dataset[CounterRow] = {
    import spark.implicits._
    require(d >= 1 && d <= CountMin.maxDepth && w >= 2 &&
      windowSeconds > 0)
    val routed = items.flatMap(it => (0 until d).map(i =>
      Routed(it.ts, i, CountMin.bucketOf(it.h, i, w))))
    EventTimeState.tumbling(routed)(_.ts, _.row, windowSeconds,
        watermarkDelay) { (prev: Option[CmsState], batch) =>
      val counts = scala.collection.mutable.Map.empty[Long, Long]
      prev.foreach(s => counts ++= s.counts)
      batch.foreach { r =>
        counts(r.bucket) = counts.getOrElse(r.bucket, 0L) + 1L
      }
      CmsState(counts.toMap)
    } { (start, end, row, s) =>
      s.counts.iterator.map { case (bucket, cnt) =>
        CounterRow(start, end, row, bucket, cnt)
      }
    }
  }
}
