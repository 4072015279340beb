package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.functions.TextFns.P
import graft.operators.Dedup
import graft.operators.Dedup.MinHashParams

/** Streaming NEAR-duplicate detection — the within-watermark sibling
  * of [[graft.operators.Dedup.crossNearDups]], completing the dedup
  * matrix (exact/near × batch/stream): [[StreamDedup]] suppresses
  * exact-key redeliveries; this operator surfaces docs that are
  * near-dups (MinHash-LSH candidate + exact-Jaccard verify) of an
  * EARLIER doc that arrived within the watermark horizon.
  *
  * Dataflow (one stateful operator, Spark's chaining rule for
  * arbitrary stateful ops):
  *
  *  1. per-row signature: the minhash values are computed ROW-LOCALLY
  *     with higher-order functions (array_min ∘ transform over the
  *     shingle hashes) instead of the batch path's exploded
  *     aggregation — identical arithmetic (same (a_j, b_j) family,
  *     same [[Dedup.sigFold]] band hash), but a pure narrow map, so
  *     the only stateful operator in the query is the bucket stage.
  *     (The batch path aggregates because at corpus scale the HOF
  *     chain is interpreted per element; at stream rates the per-row
  *     cost is irrelevant and narrowness is what matters.)
  *  2. explode to (band_idx, band_hash) rows — same bucket keys as
  *     the batch index, so a stored q112 index and this stream agree
  *     on candidates.
  *  3. [[EventTimeState.horizon]] keyed on the BUCKET: state is the
  *     bucket's docs within the horizon (id, event time, shingle
  *     set). Each arriving doc exact-Jaccard-verifies against the
  *     bucket's state and emits a [[StreamNearDup.Match]] per
  *     above-threshold earlier doc.
  *
  * A pair sharing several bands emits one Match PER shared band
  * (buckets are independent keys and share no state); consumers take
  * the distinct (doc_id, dup_of) — the foreachBatch suppression
  * pattern in StreamNearDupSpec collapses them for free. `maxBucket`
  * is [[Dedup.capBuckets]]'s hot-bucket guard carried over as the
  * horizon cap, so one boilerplate bucket can never make a task
  * quadratic.
  *
  * Duplicates farther apart than the horizon are batch dedup's job
  * (the stored-index [[Dedup.crossNearDupsFromIndex]] path) — same
  * contract split as [[StreamDedup]].
  */
object StreamNearDup {

  final case class Match(doc_id: Long, ts: Timestamp, dup_of: Long,
      jaccard: Double, band_idx: Int)

  final case class BandRow(band_idx: Int, band_hash: Long,
      doc_id: Long, ts: Timestamp, shingles: Array[Long])

  /** |a ∩ b| / |a ∪ b| over distinct-hash arrays — the same value as
    * the batch verify's size(array_intersect)/(n1+n2-common).
    */
  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val sa = new java.util.HashSet[Long](a.length * 2)
    a.foreach(sa.add)
    var common = 0
    b.foreach(x => if (sa.contains(x)) common += 1)
    common.toDouble / (a.length + b.length - common)
  }

  /** Match events for every (arriving doc, earlier in-horizon doc)
    * near-dup pair. Append-mode output; event time rides through on
    * `ts`.
    */
  def matches(docs: DataFrame, idCol: String, tsCol: String,
      textCol: String, n: Int, tau: Double, p: MinHashParams,
      delaySeconds: Long, maxBucket: Int = 10000): Dataset[Match] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // row-local minhash: m_j = min over shingles of (a_j·s + b_j) % P
    val sigCols = (0 until p.k).map { j =>
      val a = (j + 1) * p.aGen % P
      val b = (j + 1) * p.bGen % P
      array_min(transform(col("__sh"),
        s => (lit(a) * s + lit(b)) % lit(P))).as(s"m$j")
    }
    val bandCols = (0 until p.bands).map(i =>
      struct(lit(i).as("band_idx"),
        Dedup.sigFold(i * p.rows, p.rows).as("band_hash")))
    val bandRows = docs
      .withColumn("__sh",
        array_distinct(TextFns.shingleHashes(col(textCol), n)))
      .filter(size(col("__sh")) > 0) // < n tokens → no signature (batch rule)
      .select(Seq(col(idCol), col(tsCol), col("__sh")) ++ sigCols: _*)
      .select(col(idCol), col(tsCol), col("__sh"),
        explode(array(bandCols: _*)).as("band"))
      .select(col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"),
        col(idCol).as("doc_id"), col(tsCol).as("ts"),
        col("__sh").as("shingles"))
      .as[BandRow]

    EventTimeState.horizon(bandRows)(r => (r.band_idx, r.band_hash),
        _.doc_id, _.ts, _.shingles, delaySeconds, maxBucket) { (r, id, sh) =>
      val j = jaccard(sh, r.shingles)
      if (j >= tau) Some(Match(r.doc_id, r.ts, id, j, r.band_idx)) else None
    }
  }
}
