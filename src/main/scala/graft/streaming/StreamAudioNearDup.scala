package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Multimodal}

/** Streaming AUDIO near-duplicate detection — the audio member of the
  * dedup matrix (exact/near × batch/stream × text/image/AUDIO):
  * surfaces WAV payloads whose Haitsma–Kalker fingerprint
  * ([[Multimodal.audioFingerprints]]: framed Goertzel bank →
  * sign-of-energy-delta bits) is within `maxHamming` bits of an
  * EARLIER in-horizon clip, using the batch path's band keys
  * ([[graft.operators.Dedup.fpBandKeys]], as
  * [[graft.operators.Dedup.audioNearDupPairs]]), so a stored batch
  * index and this stream agree on candidates.
  *
  * Dataflow mirrors [[StreamImageNearDup]] exactly (one stateful
  * operator): per-row fingerprint in a mapPartitions (narrow map,
  * undecodable/too-short payloads drop), explode to (band_idx,
  * band_val), [[EventTimeState.horizon]] keyed on the bucket with
  * 24-byte entries (id, event time, afp) — never audio bytes — and
  * `maxBucket` as the horizon cap (the stream analogue of the batch
  * whole-bucket drop). A pair sharing several bands emits one Match
  * per shared band (distinct-consumer contract, as StreamNearDup).
  */
object StreamAudioNearDup {

  final case class Match(media_id: Long, ts: Timestamp, dup_of: Long,
      hamming: Int, band_idx: Int)

  final case class BandRow(band_idx: Int, band_val: Long,
      media_id: Long, ts: Timestamp, afp: Long)

  private val hashedSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("ts", TimestampType),
    StructField("afp", LongType)))

  def matches(media: DataFrame, idCol: String, tsCol: String,
      contentCol: String, coeffs: Seq[Double], frameLen: Int, hop: Int,
      maxHamming: Int, delaySeconds: Long,
      maxBucket: Int = 10000, bandBits: Int = 16): Dataset[Match] = {
    val bandKeys = Dedup.fpBandKeys(col("afp"), bandBits, maxHamming)
    val spark = media.sparkSession
    import spark.implicits._
    val cArr = coeffs.toArray

    val hashed = media.select(col(idCol), col(tsCol), col(contentCol))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val s = Multimodal.anyWavSamples(r.getAs[Array[Byte]](2))
          // the SAME bit walk as the batch lane — shared kernel, so
          // stream ≡ batch is structural; the spec pins it anyway
          Multimodal.hkFingerprint(s, cArr, frameLen, hop) match {
            case None           => Iterator.empty
            case Some((_, fpv)) =>
              Iterator(Row(r.getLong(0), r.getTimestamp(1), fpv))
          }
        }
      }(Encoders.row(hashedSchema))

    val bandRows = hashed
      .select(col("media_id"), col("ts"), col("afp"),
        explode(bandKeys).as("band"))
      .select(col("band.band_idx").as("band_idx"),
        col("band.band_val").as("band_val"),
        col("media_id"), col("ts"), col("afp"))
      .as[BandRow]

    EventTimeState.horizon(bandRows)(r => (r.band_idx, r.band_val),
        _.media_id, _.ts, _.afp, delaySeconds, maxBucket) { (r, id, h) =>
      val d = java.lang.Long.bitCount(h ^ r.afp)
      if (d <= maxHamming) Some(Match(r.media_id, r.ts, id, d, r.band_idx))
      else None
    }
  }
}
