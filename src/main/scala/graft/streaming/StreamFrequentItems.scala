package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming approximate frequent items (heavy hitters) per tumbling
  * window with BOUNDED state — the streaming twin of
  * `operators.HeavyHitters`. Per (window, shard) Misra-Gries
  * summaries of capacity k are kept by [[EventTimeState.tumbling]]
  * and emitted when the event-time watermark closes the window.
  *
  * The batch operator recounts its candidates exactly in a second
  * pass; a stream cannot replay its input, so this one is honestly
  * APPROXIMATE with the MG error contract carried per row: the true
  * in-window count f(x) satisfies
  *   count_min ≤ f(x) ≤ count_min + floor(shard_total / (k+1))
  * and every item with f(x) > shard_total/(k+1) is guaranteed to be
  * emitted (the MG survival bound). Size k for the target support
  * exactly like the batch operator: k ≥ margin/minFreq.
  *
  * Scale notes: state per (window, shard) is O(k) counters + one
  * total — never the vocabulary, never buffered events; sharding by
  * item hash spreads one window's state and update work across
  * executors (a single window key would funnel the whole stream
  * through one task).
  */
object StreamFrequentItems {

  final case class Item(ts: Timestamp, item: String)
  final case class MGState(counts: Map[String, Long], total: Long)
  final case class FrequentItem(window_start: Timestamp,
      window_end: Timestamp, shard: Int, item: String,
      count_min: Long, count_max: Long, shard_total: Long)

  /** Emits one row per surviving (window, shard, item) once the
    * watermark passes the window end. `shards` spreads state; items
    * are routed by a stable hash so an item's counts never split
    * across shards.
    */
  def frequentItems(items: Dataset[Item], windowSeconds: Long,
      watermarkDelay: String, k: Int, shards: Int)(
      implicit spark: SparkSession): Dataset[FrequentItem] = {
    import spark.implicits._
    require(k > 0 && shards > 0 && windowSeconds > 0)
    EventTimeState.tumbling(items)(_.ts,
        it => (it.item.hashCode % shards + shards) % shards,
        windowSeconds, watermarkDelay) { (prev: Option[MGState], batch) =>
      val counters = scala.collection.mutable.Map.empty[String, Long]
      var total = 0L
      prev.foreach { s => counters ++= s.counts; total = s.total }
      batch.foreach { e =>
        total += 1L
        if (counters.contains(e.item)) counters(e.item) += 1L
        else if (counters.size < k) counters(e.item) = 1L
        else counters.keys.toArray.foreach { key =>
          if (counters(key) == 1L) counters.remove(key)
          else counters(key) -= 1L
        }
      }
      MGState(counters.toMap, total)
    } { (start, end, shard, s) =>
      val slack = s.total / (k + 1)
      s.counts.iterator.map { case (item, c) =>
        FrequentItem(start, end, shard, item, c, c + slack, s.total)
      }
    }
  }
}
