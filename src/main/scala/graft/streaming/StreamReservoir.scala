package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming Efraimidis–Spirakis weighted reservoir per tumbling
  * window — the streaming twin of
  * `operators.Sampling.weightedReservoirPerStratum`, in the
  * [[StreamKmv]]/[[StreamCountMin]] bit-identical family: A-ES keeps
  * the k rows with the SMALLEST es_key = lnDet(1/u)/w, and a bottom-k
  * under a total order is a pure order-free set fold (bottom-k of a
  * union is the bottom-k of bottom-ks) — so the closed-window sample
  * is bit-identical to the batch operator over the same rows, no
  * matter how the stream interleaves, retries, or batches
  * (StreamReservoirSpec pins stream ≡ batch).
  *
  * The es_key arrives ON the row, computed upstream by the same
  * `Sampling.esKey` column expression the batch path uses (slotWide
  * hash → deterministic lnDet → /w): one definition, two runners.
  * Rows with non-positive weight must be filtered upstream, exactly
  * as the batch operator does.
  *
  * State per (window, stratum) is AT MOST k (double, long) pairs —
  * never the window's rows: each micro-batch merges into the running
  * bottom-k and re-truncates ([[EventTimeState.tumbling]]). Ties on
  * es_key break by key ascending, the batch operator's orderBy.
  * Contract: keys are unique per (window, stratum) — the sample frame
  * is a keyed entity table, and the distinct-merge that makes replays
  * idempotent would collapse genuine duplicate keys.
  */
object StreamReservoir {

  final case class Pick(ts: Timestamp, stratum: String, key: Long,
      esKey: Double)
  final case class ResState(picks: Seq[(Double, Long)])
  final case class PickRow(window_start: Timestamp, window_end: Timestamp,
      stratum: String, key: Long, es_key: Double)

  /** Emits each tumbling window's exact-k per-stratum weighted sample
    * once the watermark passes the window end.
    */
  def sample(items: Dataset[Pick], windowSeconds: Long,
      watermarkDelay: String, k: Int)(
      implicit spark: SparkSession): Dataset[PickRow] = {
    import spark.implicits._
    require(k >= 1 && windowSeconds > 0)
    EventTimeState.tumbling(items)(_.ts, _.stratum, windowSeconds,
        watermarkDelay) { (prev: Option[ResState], batch) =>
      // bottom-k of (running bottom-k ∪ batch rows): distinct,
      // sort by (es_key, key), truncate — associative and
      // commutative, so replays and reorderings cannot change
      // the closed-window sample
      ResState((prev.map(_.picks).getOrElse(Nil) ++
        batch.map(r => (r.esKey, r.key))).distinct.sorted.take(k))
    } { (start, end, stratum, s) =>
      s.picks.iterator.map { case (ek, key) =>
        PickRow(start, end, stratum, key, ek)
      }
    }
  }
}
