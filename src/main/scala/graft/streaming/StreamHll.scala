package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming HyperLogLog registers per tumbling window — the register
  * twin of [[StreamKmv]] (order statistics) in the bit-identical
  * family: a max-rho register set is a pure order-free fold (max of a
  * union is the max of maxes), so the emitted register rows are
  * bit-identical to batch [[graft.operators.Hll.registers]] over the
  * same window's rows regardless of interleaving, retries, or
  * batching — StreamHllSpec pins stream ≡ batch, and
  * [[graft.operators.Hll.estimate]] consumes emitted rows
  * interchangeably with batch register rows.
  *
  * State per (window, key) is AT MOST 256 bytes-worth of (bucket,
  * rho) pairs — never the distinct set: each micro-batch folds its
  * hashes into the running register maxima
  * ([[EventTimeState.tumbling]]).
  *
  * The JVM rho twin is exact: java.lang.Long.numberOfTrailingZeros
  * (64 on zero) + 1, capped at 31 — the same value as the SQL/Column
  * `bit_count((w & −w) − 1) + 1` walk (two's-complement bit_count of
  * −1 is 64).
  */
object StreamHll {

  final case class Keyed(ts: Timestamp, key: String, h: Long)
  final case class HllState(regs: Map[Int, Int])
  final case class RegRow(window_start: Timestamp, window_end: Timestamp,
      key: String, bucket: Long, r: Int)

  private val M = graft.operators.Hll.M
  private val CAP = graft.operators.Hll.RHO_CAP

  /** The exact rho/bucket walk of [[graft.operators.Hll.registers]]. */
  def bucketOf(h: Long): Int = (h % M).toInt
  def rhoOf(h: Long): Int =
    math.min(java.lang.Long.numberOfTrailingZeros(h / M) + 1, CAP)

  /** Emits each closed tumbling window's per-key registers (one row
    * per non-zero register) once the watermark passes the window end.
    */
  def registers(items: Dataset[Keyed], windowSeconds: Long,
      watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[RegRow] = {
    import spark.implicits._
    require(windowSeconds > 0)
    EventTimeState.tumbling(items)(_.ts, _.key, windowSeconds,
        watermarkDelay) { (prev: Option[HllState], batch) =>
      // max-merge: associative and commutative, so replays and
      // reorderings cannot change the closed-window registers
      var regs = prev.map(_.regs).getOrElse(Map.empty)
      batch.foreach { r =>
        val b = bucketOf(r.h); val rho = rhoOf(r.h)
        if (rho > regs.getOrElse(b, 0)) regs = regs.updated(b, rho)
      }
      HllState(regs)
    } { (start, end, key, s) =>
      s.regs.toSeq.sortBy(_._1).iterator.map { case (b, r) =>
        RegRow(start, end, key, b.toLong, r)
      }
    }
  }
}
