package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.KMeans

/** Streaming SemDeDup — the SEMANTIC member of the streaming dedup
  * family next to [[StreamNearDup]] (text MinHash) and
  * [[StreamImageNearDup]] (pHash): surfaces vectors whose cosine to
  * an EARLIER in-horizon vector in the SAME k-means cell is ≥ tau.
  * The centroids are a FROZEN model (trained offline by
  * [[graft.operators.KMeans.fitCentroidArrays]] — the
  * AnnIndexPipeline frozen-model discipline), so stream and batch
  * ([[graft.operators.Dedup.semDeDup]]) agree on cell membership and
  * on the cosine verdicts.
  *
  * Dataflow (one stateful operator):
  *
  *  1. per-row assignment: exact-decimal argmin against the k·d
  *     broadcast centroid literal — the SAME rule as batch training,
  *     a pure narrow map (no fanOut here: streaming sources set their
  *     own parallelism).
  *  2. [[EventTimeState.horizon]] keyed on the CELL id: state holds
  *     the cell's in-horizon (id, event time, vector) entries — each
  *     arrival verifies cosine against them, then joins the state.
  *     `maxCell` is the horizon cap on adversarial cells; a pair
  *     lost to it (recall, not correctness) waits for the batch path
  *     to sweep the horizon. The dropped mass is surfaced through the
  *     `droppedAcc` accumulator (one count per arrival
  *     verified-but-not-stored), the hotBuckets-style visibility
  *     knob: a nonzero count tells the operator to raise `maxCell` or
  *     retrain with larger k.
  *
  * State size: d floats per entry (the raw vector — cosine
  * verification needs it). At 100 TB horizons, swap the stored vector
  * for its PQ code + ADC verify (the q117 machinery) at the same
  * state shape; the horizon bound, not the corpus, sizes the state
  * either way. Cross-horizon semantic dups are the batch path's job
  * (the StreamNearDup contract).
  */
object StreamSemDeDup {

  final case class Match(vec_id: Long, ts: Timestamp, dup_of: Long,
      cosine: Double, cluster: Int)

  final case class AssignedRow(cluster: Int, vec_id: Long, ts: Timestamp,
      vec: Seq[Double])

  def matches(vecs: DataFrame, idCol: String, tsCol: String,
      vecCol: String, cents: Array[Array[Double]], tau: Double,
      delaySeconds: Long, maxCell: Int = 10000,
      droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[Match] = {
    val spark = vecs.sparkSession
    import spark.implicits._

    val assigned = vecs
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        col(tsCol).as("ts"),
        col(vecCol).cast("array<double>").as("vec"),
        KMeans.distArray(col(vecCol), cents).as("__d"))
      .select(
        (array_position(col("__d"), array_min(col("__d"))) - lit(1L))
          .cast("int").as("cluster"),
        col("vec_id"), col("ts"), col("vec"))
      .as[AssignedRow]

    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    EventTimeState.horizon(assigned)(_.cluster, _.vec_id, _.ts, _.vec,
        delaySeconds, maxCell, droppedAcc) { (r, id, v) =>
      val c = cosine(v, r.vec)
      if (c >= tau) Some(Match(r.vec_id, r.ts, id, c, r.cluster)) else None
    }
  }
}
