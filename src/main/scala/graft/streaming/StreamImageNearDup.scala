package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Multimodal}

/** Streaming IMAGE near-duplicate detection — the final member of the
  * dedup matrix (exact/near × batch/stream × text/IMAGE): surfaces
  * media payloads whose perceptual hash is within `maxHamming` bits
  * of an EARLIER in-horizon image, using the batch path's band keys
  * ([[graft.operators.Dedup.fpBandKeys]], as
  * [[graft.operators.Dedup.imageNearDupPairs]]), so a stored batch
  * index and this stream agree on candidates.
  *
  * Dataflow mirrors [[StreamNearDup]] (one stateful operator):
  *
  *  1. per-row fingerprint: decode → luma → DCT pHash inside a
  *     mapPartitions (one Inflater + one StrictMath basis per
  *     partition — the batch codec discipline), a pure narrow map.
  *     Undecodable payloads drop here.
  *  2. explode to (band_idx, band_val) rows — `64/bandBits` bands of
  *     the fingerprint.
  *  3. [[EventTimeState.horizon]] keyed on the bucket: state holds
  *     the bucket's (id, event time, phash) triples within the
  *     horizon — 24 bytes per image, no pixels — and each arrival
  *     verifies hamming against them. `maxBucket` is the horizon cap
  *     on adversarial buckets.
  *
  * A pair sharing several bands emits one Match per shared band
  * (distinct-consumer contract, as StreamNearDup). Cross-horizon
  * image dups are the batch path's job.
  */
object StreamImageNearDup {

  final case class Match(media_id: Long, ts: Timestamp, dup_of: Long,
      hamming: Int, band_idx: Int)

  final case class BandRow(band_idx: Int, band_val: Long,
      media_id: Long, ts: Timestamp, phash: Long)

  private val hashedSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("ts", TimestampType),
    StructField("phash", LongType)))

  def matches(media: DataFrame, idCol: String, tsCol: String,
      contentCol: String, maxHamming: Int, delaySeconds: Long,
      maxBucket: Int = 10000, bandBits: Int = 16): Dataset[Match] = {
    val bandKeys = Dedup.fpBandKeys(col("phash"), bandBits, maxHamming)
    val spark = media.sparkSession
    import spark.implicits._

    val hashed = media.select(col(idCol), col(tsCol), col(contentCol))
      .mapPartitions { rows =>
        val inflater = new java.util.zip.Inflater()
        val basis = Multimodal.phashBasis()
        rows.flatMap { r =>
          val dec = Multimodal.grayDecode(r.getAs[Array[Byte]](2), inflater)
          if (dec == null) Iterator.empty
          else Iterator(Row(r.getLong(0), r.getTimestamp(1),
            Multimodal.phash64(dec._1, dec._2, dec._3, basis)))
        }
      }(Encoders.row(hashedSchema))

    val bandRows = hashed
      .select(col("media_id"), col("ts"), col("phash"),
        explode(bandKeys).as("band"))
      .select(col("band.band_idx").as("band_idx"),
        col("band.band_val").as("band_val"),
        col("media_id"), col("ts"), col("phash"))
      .as[BandRow]

    EventTimeState.horizon(bandRows)(r => (r.band_idx, r.band_val),
        _.media_id, _.ts, _.phash, delaySeconds, maxBucket) { (r, id, h) =>
      val d = java.lang.Long.bitCount(h ^ r.phash)
      if (d <= maxHamming) Some(Match(r.media_id, r.ts, id, d, r.band_idx))
      else None
    }
  }
}
