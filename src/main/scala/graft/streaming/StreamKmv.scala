package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming KMV (bottom-k) sketches per tumbling window — the
  * streaming twin of `operators.Kmv.sketches`, in the
  * [[StreamCountMin]] bit-identical family: a bottom-k of DISTINCT
  * hashes is a pure order-free set fold (min-k of a union is the
  * min-k of min-ks), so the emitted sketch rows are bit-identical to
  * the batch windowed group-limit over the same window's rows, no
  * matter how the stream interleaves, retries, or batches —
  * StreamKmvSpec pins stream ≡ batch equality, and downstream
  * `Kmv.pairJaccard` / the (k−1)·P/kth cardinality estimator consume
  * emitted rows interchangeably with batch sketch rows.
  *
  * State per (window, key) is AT MOST k sorted longs — never the
  * distinct set, never buffered events: each micro-batch merges its
  * hashes into the running bottom-k and re-truncates, so a key with a
  * billion distinct hashes still carries k longs of state
  * ([[EventTimeState.tumbling]]).
  */
object StreamKmv {

  final case class Keyed(ts: Timestamp, key: String, h: Long)
  final case class KmvState(hashes: Seq[Long])
  final case class SketchRow(window_start: Timestamp,
      window_end: Timestamp, key: String, h: Long)

  /** Emits each tumbling window's per-key bottom-k sketch (one row
    * per retained hash) once the watermark passes the window end.
    */
  def sketches(items: Dataset[Keyed], windowSeconds: Long,
      watermarkDelay: String, k: Int)(
      implicit spark: SparkSession): Dataset[SketchRow] = {
    import spark.implicits._
    require(k >= 1 && windowSeconds > 0)
    EventTimeState.tumbling(items)(_.ts, _.key, windowSeconds,
        watermarkDelay) { (prev: Option[KmvState], batch) =>
      // min-k of (running min-k ∪ batch hashes): distinct, sort,
      // truncate — associative and commutative, so replays and
      // reorderings cannot change the closed-window contents
      KmvState((prev.map(_.hashes).getOrElse(Nil) ++ batch.map(_.h))
        .distinct.sorted.take(k))
    } { (start, end, key, s) =>
      s.hashes.iterator.map(h => SketchRow(start, end, key, h))
    }
  }
}
