package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata structs; decode /
  * feature-extraction runs per-partition so a heavyweight decoder can
  * amortize per-batch initialization (model load, JNI handles) the way
  * a Pandas-UDF batch would.
  *
  * [[decodeFeatures]] is a pure-JVM container-header parser for the
  * public PNG / BMP / WAV formats (published specs: PNG RFC 2083 §3.1
  * IHDR; BITMAPINFOHEADER; RIFF/WAVE fmt chunk): it recovers
  * width/height/channels (sample-rate/bit-depth/channels for audio)
  * from the leading bytes. Full pixel and sample decode is pure JVM
  * code too, with no codec library: PNG through java.util.zip's
  * Inflater, BMP, and PCM / IMA-ADPCM / G.711 WAV here; baseline and
  * progressive JPEG in [[Jpeg]], GIF/LZW in [[Gif]], TIFF/PackBits in
  * [[Tiff]], AVI (raw and MJPEG) in [[VideoAvi]] and MP4 in
  * [[VideoMp4]]. Each codec has its encoder next to its decoder, so
  * queries synthesize media and specs round-trip it.
  *
  * Scale notes: payload bytes stay columnar parquet binary; frame
  * sampling is a narrow per-row expression; the mapPartitions decode
  * pipelines inside the scan stage. Nothing here shuffles.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("mime", StringType)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("mime", StringType),
    StructField("byte_len", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType)))

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  private def le32(b: Array[Byte], o: Int): Int =
    ((b(o + 3) & 0xff) << 24) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)
  private def le16(b: Array[Byte], o: Int): Int =
    ((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)

  private val pngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Header decoder for public container formats, pure JVM byte reads:
    *  - PNG  → (width, height, channels-from-color-type) via the IHDR
    *    chunk (always first, fixed offsets 16/20/25);
    *  - BMP  → (width, |height|, bit-count/8) from BITMAPINFOHEADER
    *    (height may be negative = top-down rows);
    *  - WAV  → (sample_rate, bits_per_sample, num_channels) from the
    *    canonical RIFF/WAVE fmt chunk;
    *  - anything else / truncated → (0, 0, 0).
    */
  def decodeHeader(bytes: Array[Byte]): (Int, Int, Int) = {
    if (bytes == null) (0, 0, 0)
    else if (bytes.length >= 26 && bytes.take(8).sameElements(pngSig)) {
      val channels = bytes(25) match {
        case 0 => 1 // greyscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette index
        case 4 => 2 // grey + alpha
        case 6 => 4 // truecolor + alpha
        case _ => 0
      }
      (be32(bytes, 16), be32(bytes, 20), channels)
    } else if (bytes.length >= 30 && bytes(0) == 'B' && bytes(1) == 'M')
      (le32(bytes, 18), math.abs(le32(bytes, 22)), le16(bytes, 28) / 8)
    else if (bytes.length >= 36 &&
        new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
        new String(bytes, 8, 4, "US-ASCII") == "WAVE" &&
        new String(bytes, 12, 4, "US-ASCII") == "fmt ")
      (le32(bytes, 24), le16(bytes, 34), le16(bytes, 22))
    else (0, 0, 0)
  }

  /** (r, g, b) of pixel (x, y) — top-left origin — in an uncompressed
    * 24bpp BMP. Handles bottom-up row order (positive height) and the
    * 4-byte row padding.
    */
  def bmpPixel(bytes: Array[Byte], x: Int, y: Int): (Int, Int, Int) = {
    val w = le32(bytes, 18)
    val h = le32(bytes, 22) // positive = bottom-up
    val off = le32(bytes, 10)
    val rowSize = ((3 * w + 3) / 4) * 4
    val row = if (h > 0) h - 1 - y else y
    val p = off + row * rowSize + x * 3
    ((bytes(p + 2) & 0xff, bytes(p + 1) & 0xff, bytes(p) & 0xff))
  }

  /** Nearest-neighbor resize of an uncompressed 24bpp BMP — REAL pixel
    * manipulation, pure JVM: output pixel (x, y) copies input pixel
    * (⌊x·w/outW⌋, ⌊y·h/outH⌋). Emits a well-formed bottom-up 24bpp BMP
    * ([[bmp24]]: fresh 54-byte header, rows re-padded). Only BMP is
    * accepted here; decoded PNG pixels resize with [[resizePixels]].
    */
  def resizeBmp24(bytes: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M' &&
      le16(bytes, 28) == 24, "uncompressed 24bpp BMP required")
    val w = le32(bytes, 18)
    val h = math.abs(le32(bytes, 22))
    bmp24(outW, outH, (x, y) => bmpPixel(bytes, x * w / outW, y * h / outH))
  }

  /** An uncompressed bottom-up 24bpp BMP of `w` x `h` pixels, (r, g, b)
    * = `pixel(x, y)` with a top-left origin: BITMAPFILEHEADER (pixel
    * offset 54), BITMAPINFOHEADER (size 40, 1 plane, 24 bpp), then BGR
    * rows padded to 4 bytes, last image row first.
    */
  def bmp24(w: Int, h: Int, pixel: (Int, Int) => (Int, Int, Int))
      : Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val out = new Array[Byte](54 + rowSize * h)
    def putLe32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe32(2, out.length); putLe32(10, 54); putLe32(14, 40)
    putLe32(18, w); putLe32(22, h)
    out(26) = 1; out(28) = 24
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = pixel(x, y)
        val p = 54 + (h - 1 - y) * rowSize + x * 3
        out(p) = b.toByte; out(p + 1) = g.toByte; out(p + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Per-partition decode: DataFrame(media_id, content, mime) →
    * decodedSchema rows. A real decoder initializes once per
    * partition, before the row loop.
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val enc = Encoders.row(decodedSchema)
    media.select(col("media_id"), col("content"), col("mime"))
      .mapPartitions { rows =>
        // per-partition init point: a compressed-payload codec (libpng
        // / ffmpeg JNI handle) would be constructed ONCE here, before
        // the row loop — the header parser needs no state
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val mime = r.getString(2)
          val (w, h, c) = decodeHeader(bytes)
          Row(id, mime, if (bytes == null) 0 else bytes.length, w, h, c)
        }
      }(enc)
  }

  /** 16-bit PCM samples of a canonical-layout mono WAV (fmt chunk at
    * 12, data chunk at 36, samples from 44) — little-endian signed
    * shorts. Returns empty for anything else.
    */
  def wavSamples(bytes: Array[Byte]): Array[Int] = {
    if (bytes == null || bytes.length < 44 ||
        new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
        new String(bytes, 8, 4, "US-ASCII") != "WAVE" ||
        new String(bytes, 36, 4, "US-ASCII") != "data" ||
        le16(bytes, 34) != 16) return Array.empty
    val n = math.min(le32(bytes, 40), bytes.length - 44) / 2
    Array.tabulate(n)(i => le16(bytes, 44 + 2 * i).toShort.toInt)
  }

  // -- IMA-ADPCM (format tag 0x0011) — the standard compressed-WAV
  //    codec (IMA "DVI4" spec; 4 bits/sample, step-size table adaptive
  //    quantizer). Pure JVM like the JPEG/GIF/AVI codecs: per block, a
  //    4-byte header seeds (predictor int16, step index uint8), then
  //    each 4-bit nibble (low nibble of each byte first) advances the
  //    predictor by a step-table delta and the index by indexTable.

  /** IMA step-size table, 89 entries (the published spec constants). */
  private[graft] val AdpcmSteps: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Index advance per nibble value (sign bit mirrors the low 3). */
  private[graft] val AdpcmIndexAdv: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  private def clampSample(v: Int): Int =
    if (v > 32767) 32767 else if (v < -32768) -32768 else v
  private def clampIndex(v: Int): Int =
    if (v > 88) 88 else if (v < 0) 0 else v

  /** Decode one IMA nibble against (predictor, index) state; returns
    * the new (predictor, index). diff = step·(n₂ n₁ n₀)/8 + step/8
    * computed in the spec's shift cascade (NOT a float multiply — the
    * truncation points are normative), sign bit n₃ subtracts.
    */
  private[operators] def adpcmStep(pred: Int, index: Int, nib: Int)
      : (Int, Int) = {
    val step = AdpcmSteps(index)
    var diff = step >> 3
    if ((nib & 1) != 0) diff += step >> 2
    if ((nib & 2) != 0) diff += step >> 1
    if ((nib & 4) != 0) diff += step
    val p = clampSample(if ((nib & 8) != 0) pred - diff else pred + diff)
    (p, clampIndex(index + AdpcmIndexAdv(nib)))
  }

  /** Walk RIFF chunks from offset 12; first chunk named `id` →
    * (payload offset, CLIPPED payload size). None on any structural
    * violation — the clean-stop corruption contract.
    */
  private def riffChunk(bytes: Array[Byte], id: String): Option[(Int, Int)] = {
    // Long cursor + unsigned size read: a near-MAXINT declared chunk
    // size must step PAST the end and stop, never wrap negative (the
    // size-field-bomb fuzz contract)
    var off = 12L
    while (off + 8 <= bytes.length) {
      val name = new String(bytes, off.toInt, 4, "US-ASCII")
      val size = le32(bytes, off.toInt + 4).toLong & 0xFFFFFFFFL
      if (name == id)
        return Some((off.toInt + 8,
          math.min(size, bytes.length - off - 8).toInt))
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    None
  }

  /** The `fmt ` and `data` chunks, (offset, size) each, of a RIFF/WAVE
    * file; None when the bytes are not RIFF/WAVE or lack either chunk.
    */
  private def wavChunks(bytes: Array[Byte])
      : Option[((Int, Int), (Int, Int))] =
    if (bytes == null || bytes.length < 12 ||
        new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
        new String(bytes, 8, 4, "US-ASCII") != "WAVE") None
    else riffChunk(bytes, "fmt ").zip(riffChunk(bytes, "data"))

  /** 16-bit samples of a mono IMA-ADPCM (format 0x0011) RIFF/WAVE:
    * chunk-walked fmt + data, block-by-block nibble decode. Returns
    * empty on anything malformed (wrong tag, stereo, bad block align,
    * truncated chunks) — never throws. Allocation is bounded by the
    * ACTUAL data bytes present (≤ 2 samples/byte), never by declared
    * header sizes — the allocation-bomb guard the TAR/WARC readers
    * use.
    */
  def adpcmWavSamples(bytes: Array[Byte]): Array[Int] = {
    val ((fo, fs), (do_, ds)) = wavChunks(bytes).getOrElse(return Array.empty)
    if (fs < 16 || le16(bytes, fo) != 0x11 || le16(bytes, fo + 2) != 1)
      return Array.empty
    val blockAlign = le16(bytes, fo + 12)
    if (blockAlign < 5 || blockAlign > 65535) return Array.empty
    // output is ≤ 2 samples per DATA byte PRESENT (header fields can
    // never inflate it) — the allocation-bomb bound
    val out = new scala.collection.mutable.ArrayBuffer[Int](
      math.max(16, math.min(2 * ds + 8, Int.MaxValue / 8)))
    var b = do_
    while (b + blockAlign <= do_ + ds) {
      // block header: predictor int16 LE (= first output sample),
      // step index uint8, reserved byte
      var pred = le16(bytes, b).toShort.toInt
      var index = clampIndex(bytes(b + 2) & 0xff)
      out += pred
      var i = b + 4
      while (i < b + blockAlign) {
        val lo = bytes(i) & 0x0f
        val hi = (bytes(i) >> 4) & 0x0f
        val s1 = adpcmStep(pred, index, lo); pred = s1._1; index = s1._2
        out += pred
        val s2 = adpcmStep(pred, index, hi); pred = s2._1; index = s2._2
        out += pred
        i += 1
      }
      b += blockAlign
    }
    out.toArray
  }

  /** Encode 16-bit mono samples as an IMA-ADPCM RIFF/WAVE (format
    * 0x0011, `blockAlign`-byte blocks) — the writer side of
    * [[adpcmWavSamples]], used by the round-trip spec and for
    * publishing compressed audio shards. Each block stores its first
    * sample verbatim in the header and quantizes the rest with the
    * spec's shift-cascade encoder; the trailing partial block pads
    * with repeats of the last sample's nibble 0 (decoders emit the
    * declared sample count per block — ours clips to data present).
    */
  def adpcmEncodeWav(samples: Array[Int], sampleRate: Int,
      blockAlign: Int): Array[Byte] = {
    require(blockAlign >= 5, s"blockAlign $blockAlign too small")
    val spb = (blockAlign - 4) * 2 + 1
    val nBlocks = if (samples.isEmpty) 0 else (samples.length + spb - 1) / spb
    val bos = java.nio.ByteBuffer.allocate(nBlocks * blockAlign)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var s = 0
    while (s < samples.length) {
      var pred = clampSample(samples(s))
      var index = 0
      // seed the block's step index with the best match for the first
      // real delta (the reference encoders' convention)
      if (s + 1 < samples.length) {
        val d0 = math.abs(clampSample(samples(s + 1)) - pred)
        while (index < 88 && AdpcmSteps(index) < d0) index += 1
      }
      bos.putShort(pred.toShort).put(index.toByte).put(0.toByte)
      var i = 0
      val nNibs = (blockAlign - 4) * 2
      var k = 0
      var byteAcc = 0
      while (i < nNibs) {
        val target =
          if (s + 1 + i < samples.length) clampSample(samples(s + 1 + i))
          else pred
        val step = AdpcmSteps(index)
        var diff = target - pred
        var nib = 0
        if (diff < 0) { nib = 8; diff = -diff }
        var st = step
        var vpdiff = step >> 3
        if (diff >= st) { nib |= 4; diff -= st; vpdiff += st }
        st >>= 1
        if (diff >= st) { nib |= 2; diff -= st; vpdiff += st }
        st >>= 1
        if (diff >= st) { nib |= 1; vpdiff += st }
        pred = clampSample(if ((nib & 8) != 0) pred - vpdiff
          else pred + vpdiff)
        index = clampIndex(index + AdpcmIndexAdv(nib))
        if ((i & 1) == 0) byteAcc = nib & 0x0f
        else { bos.put(((byteAcc | (nib << 4)) & 0xff).toByte); k += 1 }
        i += 1
      }
      s += spb
    }
    monoWav(0x11, sampleRate, sampleRate * blockAlign / spb, blockAlign, 4,
      Seq(2, spb), bos.array())
  }

  /** A mono RIFF/WAVE file: the RIFF header, a `fmt ` chunk (format
    * `tag`, 1 channel, `rate`, `byteRate`, `blockAlign`, `bits`, then
    * the 16-bit `ext` words a non-PCM format appends, cbSize first) and
    * one `data` chunk holding `data`, which starts at byte
    * 44 + 2·|ext|.
    */
  def monoWav(tag: Int, rate: Int, byteRate: Int, blockAlign: Int,
      bits: Int, ext: Seq[Int], data: Array[Byte]): Array[Byte] = {
    val fmtLen = 16 + 2 * ext.size
    val bb = java.nio.ByteBuffer.allocate(28 + fmtLen + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(20 + fmtLen + data.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen)
      .putShort(tag.toShort).putShort(1).putInt(rate).putInt(byteRate)
      .putShort(blockAlign.toShort).putShort(bits.toShort)
    ext.foreach(w => bb.putShort(w.toShort))
    bb.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    bb.array()
  }

  // -- G.711 µ-law (format tag 0x0007) and A-law (0x0006) — the
  //    telephony log-companded codecs: 8 bits/sample, STATELESS per
  //    byte (unlike ADPCM's running predictor), expanded by the
  //    published segment/mantissa formulas to 16-bit linear.

  /** Expand one µ-law byte to its 16-bit linear sample (G.711 µ-law,
    * the bias-132 segment expansion; two zero codes 0x7F/0xFF by
    * construction, range ±32124).
    */
  private[graft] def mulawToLinear(byteVal: Int): Int = {
    val u = ~byteVal & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** Expand one A-law byte to its 16-bit linear sample (G.711 A-law,
    * the 0x55 toggle + segment expansion, range ±32256; note A-law's
    * sign convention is inverted relative to µ-law's).
    */
  private[graft] def alawToLinear(byteVal: Int): Int = {
    val a = byteVal ^ 0x55
    val seg = (a & 0x70) >> 4
    val base = (a & 0x0f) << 4
    val t =
      if (seg == 0) base + 8
      else if (seg == 1) base + 0x108
      else (base + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** 16-bit samples of a mono G.711 RIFF/WAVE (format tag 0x0006
    * A-law or 0x0007 µ-law, 8 bits/sample): chunk-walked fmt + data,
    * one stateless table expansion per data byte. Returns empty on
    * anything malformed — never throws. Output allocation is exactly
    * the data bytes present (1 sample/byte), so declared header sizes
    * can never inflate it.
    */
  def g711WavSamples(bytes: Array[Byte]): Array[Int] = {
    val ((fo, fs), (do_, ds)) = wavChunks(bytes).getOrElse(return Array.empty)
    if (fs < 16 || fo + 16 > bytes.length) return Array.empty
    val tag = le16(bytes, fo)
    if ((tag != 0x0006 && tag != 0x0007) || le16(bytes, fo + 2) != 1 ||
        le16(bytes, fo + 14) != 8) return Array.empty
    val expand: Int => Int =
      if (tag == 0x0007) mulawToLinear else alawToLinear
    Array.tabulate(ds)(i => expand(bytes(do_ + i) & 0xff))
  }

  val audioSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_samples", IntegerType),
    StructField("peak", IntegerType),
    StructField("sum_abs", LongType),
    StructField("energy", LongType)))

  /** Codec dispatch on the fmt tag: PCM (tag 1, canonical layout) via
    * [[wavSamples]], IMA-ADPCM (tag 0x0011) via [[adpcmWavSamples]],
    * G.711 A-law/µ-law (tags 0x0006/0x0007) via [[g711WavSamples]] —
    * the audio analogue of [[VideoAvi]]'s per-stream MJPEG dispatch.
    * Empty for anything else.
    */
  def anyWavSamples(bytes: Array[Byte]): Array[Int] = {
    val tag: Int =
      if (bytes != null && bytes.length >= 12 &&
          new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
          new String(bytes, 8, 4, "US-ASCII") == "WAVE")
        riffChunk(bytes, "fmt ").collect {
          case (o, s) if s >= 2 && o + 2 <= bytes.length => le16(bytes, o)
        }.getOrElse(-1)
      else -1
    tag match {
      case 0x0011 => adpcmWavSamples(bytes)
      case 0x0006 | 0x0007 => g711WavSamples(bytes)
      case _ => wavSamples(bytes)
    }
  }

  val resonatorSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("bin_idx", IntegerType),
    StructField("coeff", DoubleType),
    StructField("energy", DoubleType)))

  /** Two-pole resonator bank over each WAV payload — Goertzel's
    * recurrence s_n = x_n + c·s_{n−1} − s_{n−2} with RATIONAL
    * coefficients c = 2·cos(ω) (c exact in a double ⇒ no libm, every
    * step is the same three IEEE ops in both engines, so an oracle
    * can replay the filter state as a recursive CTE bit-exactly).
    * Energy per bin is Goertzel's final-state magnitude
    * s₁² + s₂² − c·s₁·s₂ — band energy near ω, the spectral feature
    * the amplitude stats (audioFeatures) can't see. Narrow per-row
    * work, O(len·|coeffs|), decode dispatch shared with
    * [[audioFeatures]].
    */
  def resonatorFeatures(media: DataFrame, coeffs: Seq[Double]): DataFrame = {
    val enc = Encoders.row(resonatorSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val s = anyWavSamples(r.getAs[Array[Byte]](1))
          coeffs.zipWithIndex.map { case (c, bi) =>
            var s1 = 0.0
            var s2 = 0.0
            var i = 0
            while (i < s.length) {
              val v = s(i) + c * s1 - s2
              s2 = s1
              s1 = v
              i += 1
            }
            Row(id, bi, c, s1 * s1 + s2 * s2 - c * s1 * s2)
          }
        }
      }(enc)
  }

  val audioFpSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("afp", LongType)))

  /** Haitsma–Kalker audio fingerprint (ISMIR 2002 "A Highly Robust
    * Audio Fingerprinting System" shape) over each WAV payload: frame
    * the samples (`frameLen` window, `hop` stride), run the
    * [[resonatorFeatures]] Goertzel bank per frame (same RATIONAL-c
    * three-IEEE-op recurrence, so an oracle replays every state), and
    * emit the classic sign-of-energy-delta bit per (frame, band)
    * pair: bit(f,b) = 1 iff (E(f,b) − E(f,b+1)) − (E(f−1,b) −
    * E(f−1,b+1)) > 0 — a band-edge derivative in frequency AND time,
    * which is what makes HK fingerprints robust to gain/DC shifts
    * (both cancel in the double difference). Bits pack frame-major
    * into ONE 64-bit word (bit (f−1)·(B−1)+b), the unit the banded
    * hamming join ([[Dedup.fingerprintPairs]]) dedups on — pick
    * coeffs/frameLen/hop so (nFrames−1)·(B−1) = 64 and every band of
    * the join carries real bits. Per-row narrow work,
    * O(len·|coeffs|); undecodable or too-short payloads yield a null
    * afp (dropped by the dedup lane like null phash).
    */
  /** The HK bit walk itself — the ONE implementation both the batch
    * lane above and [[graft.streaming.StreamAudioNearDup]] run, so
    * stream ≡ batch is structural, not just spec-pinned. None when
    * the clip is too short to frame.
    */
  private[graft] def hkFingerprint(s: Array[Int], cArr: Array[Double],
      frameLen: Int, hop: Int): Option[(Int, Long)] = {
    if (s.length < frameLen + hop) None
    else {
      val nb = cArr.length
      val nF = (s.length - frameLen) / hop + 1
      val e = Array.ofDim[Double](nF, nb)
      var f = 0
      while (f < nF) {
        var b = 0
        while (b < nb) {
          val c = cArr(b)
          var s1 = 0.0
          var s2 = 0.0
          var j = 0
          while (j < frameLen) {
            val v = s(f * hop + j) + c * s1 - s2
            s2 = s1
            s1 = v
            j += 1
          }
          e(f)(b) = s1 * s1 + s2 * s2 - c * s1 * s2
          b += 1
        }
        f += 1
      }
      var fpv = 0L
      var bit = 0
      f = 1
      while (f < nF && bit < 64) {
        var b = 0
        while (b < nb - 1 && bit < 64) {
          val d = (e(f)(b) - e(f)(b + 1)) -
            (e(f - 1)(b) - e(f - 1)(b + 1))
          if (d > 0) fpv |= 1L << bit
          bit += 1
          b += 1
        }
        f += 1
      }
      Some((nF, fpv))
    }
  }

  def audioFingerprints(media: DataFrame, coeffs: Seq[Double],
      frameLen: Int, hop: Int): DataFrame = {
    require(coeffs.length >= 2, "need >= 2 bands for energy deltas")
    require(frameLen >= 2 && hop >= 1)
    val cArr = coeffs.toArray
    val enc = Encoders.row(audioFpSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val s = anyWavSamples(r.getAs[Array[Byte]](1))
          hkFingerprint(s, cArr, frameLen, hop) match {
            case None            => Row(id, 0, null)
            case Some((nF, fpv)) => Row(id, nF, fpv)
          }
        }
      }(enc)
  }

  val mfccSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("k", IntegerType),
    StructField("mfcc", DoubleType)))

  /** DETERMINISTIC natural log for x ≥ 1: 6-step binary range
    * reduction on exact power-of-two thresholds (every division is by
    * 2^k — exact in IEEE — and every comparison is exact), then the
    * fixed-order Horner atanh series ln(m) = 2·t·(1 + t²(1/3 + t²(1/5
    * + …1/15))) with t = (m−1)/(m+1), m ∈ [1,2). Every operation is a
    * single two-operand IEEE op in a pinned order, so any engine that
    * replays the same expression tree (the oracle does, as chained
    * CTE columns) produces the SAME double — unlike libm ln(), which
    * is only faithfully rounded and may differ in the last ulp across
    * implementations (the q48 rationale). |t| ≤ 1/3 makes the
    * truncation error ≤ t¹⁷/17 ≈ 8e-10 — spectral-feature accuracy,
    * cross-engine determinism. Domain: [1, 2^64).
    */
  private[graft] def lnDet(x: Double): Double =
    graft.expressions.LnDet.compute(x)

  /** The DCT-II basis for [[mfccFeatures]]: cos(π·(2f+1)·k / (2·nf)).
    * Computed ONCE per plan and interpolated as the same decimal
    * literals into both the engine columns and the oracle SQL — both
    * sides parse the identical shortest-roundtrip strings back to the
    * identical doubles, so the table is a shared constant, not a
    * cross-libm risk.
    */
  private[graft] def dctTable(nCoeffs: Int, nf: Int): Array[Array[Double]] =
    // StrictMath: fully specified (fdlibm) — the same table on every
    // JVM, so an oracle JSON dumped by one JVM always matches an
    // engine run on another
    Array.tabulate(nCoeffs, nf)((k, f) =>
      StrictMath.cos(math.Pi * (2 * f + 1) * k / (2.0 * nf)))

  /** MFCC-style cepstral features over each WAV payload — the full
    * classic chain on the resonator lane: (1) Goertzel band energies
    * at the given RATIONAL coefficients (ordered by descending c =
    * ascending ω; pick a low-ω-dense bank for mel-like spacing),
    * (2) triangular "mel" pooling — filter f pools bands 2f..2f+2
    * with weights (0.5, 1, 0.5), so |coeffs| must be odd and yields
    * nf = (|coeffs|−1)/2 filters, (3) log compression via [[lnDet]]
    * (pooled energy + 1, so the domain is [1, ∞) and silence maps to
    * 0), (4) DCT-II over the nf log-energies, keeping coefficients
    * k = 0..nCoeffs−1. One narrow per-row pass, O(len·|coeffs|) like
    * [[resonatorFeatures]]; every float op is order-pinned so the
    * whole chain replays bit-exactly in SQL (q232's oracle).
    */
  def mfccFeatures(media: DataFrame, coeffs: Seq[Double],
      nCoeffs: Int): DataFrame = {
    require(coeffs.length >= 3 && coeffs.length % 2 == 1,
      s"need an odd number of bands >= 3, got ${coeffs.length}")
    val nf = (coeffs.length - 1) / 2
    require(nCoeffs >= 1 && nCoeffs <= nf,
      s"nCoeffs must be in [1, $nf], got $nCoeffs")
    val dct = dctTable(nCoeffs, nf)
    val cArr = coeffs.toArray
    val enc = Encoders.row(mfccSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val s = anyWavSamples(r.getAs[Array[Byte]](1))
          val en = new Array[Double](cArr.length)
          var b = 0
          while (b < cArr.length) {
            val c = cArr(b)
            var s1 = 0.0
            var s2 = 0.0
            var i = 0
            while (i < s.length) {
              val v = s(i) + c * s1 - s2
              s2 = s1
              s1 = v
              i += 1
            }
            en(b) = s1 * s1 + s2 * s2 - c * s1 * s2
            b += 1
          }
          val lnp = Array.tabulate(nf) { f =>
            lnDet((0.5 * en(2 * f) + en(2 * f + 1)) + 0.5 * en(2 * f + 2)
              + 1.0)
          }
          (0 until nCoeffs).map { k =>
            var acc = 0.0
            var f = 0
            while (f < nf) { acc = acc + lnp(f) * dct(k)(f); f += 1 }
            Row(id, k, acc)
          }
        }
      }(enc)
  }

  /** Distributed audio feature extraction: per-partition decode of
    * each WAV payload (PCM or IMA-ADPCM — [[anyWavSamples]]) into
    * amplitude statistics — sample count, peak |amplitude|, Σ|s| and
    * the energy Σs² (all integer-exact, so an oracle can recompute
    * them bit-for-bit from synthesized samples).
    */
  def audioFeatures(media: DataFrame): DataFrame = {
    val enc = Encoders.row(audioSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val s = anyWavSamples(r.getAs[Array[Byte]](1))
          var peak = 0
          var sumAbs = 0L
          var energy = 0L
          var i = 0
          while (i < s.length) {
            val a = math.abs(s(i))
            if (a > peak) peak = a
            sumAbs += a
            energy += s(i).toLong * s(i)
            i += 1
          }
          Row(r.getLong(0), s.length, peak, sumAbs, energy)
        }
      }(enc)
  }

  /** The pixel fingerprint an image decoder reports after its own
    * columns: first and last pixel (r, g, b) and the sum of every
    * channel sample.
    */
  private[operators] val cornerFields: Seq[StructField] =
    Seq("p_first_r", "p_first_g", "p_first_b", "p_last_r", "p_last_g",
      "p_last_b").map(StructField(_, IntegerType)) :+
      StructField("pix_sum", LongType)

  val resizedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("out_w", IntegerType),
    StructField("out_h", IntegerType)) ++ cornerFields)

  /** Distributed resize: every BMP payload is resized to outW×outH
    * (nearest neighbor) per partition, then summarized as the corner
    * pixels plus the checksum Σ(r+g+b) over all output pixels — a
    * deterministic fingerprint an oracle can recompute. Same
    * mapPartitions shape as [[decodeFeatures]]; the resized bytes are
    * re-DECODED through [[bmpPixel]], so the summary proves the
    * emitted BMP is well-formed, not just that the arithmetic ran.
    */
  def resizeFeatures(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    val enc = Encoders.row(resizedSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val resized = resizeBmp24(r.getAs[Array[Byte]](1), outW, outH)
          val (fr, fg, fb) = bmpPixel(resized, 0, 0)
          val (lr, lg, lb) = bmpPixel(resized, outW - 1, outH - 1)
          var sum = 0L
          var y = 0
          while (y < outH) {
            var x = 0
            while (x < outW) {
              val (pr, pg, pb) = bmpPixel(resized, x, y)
              sum += pr + pg + pb
              x += 1
            }
            y += 1
          }
          Row(id, outW, outH, fr, fg, fb, lr, lg, lb, sum)
        }
      }(enc)
  }

  /** Fixed-stride frame sampling over a binary payload: n slices of
    * `frameSize` bytes starting every `stride` bytes (video
    * frame-extraction shape; slices past the end come back empty).
    */
  def frameSample(content: Column, frameSize: Int, stride: Int,
      n: Int): Column =
    transform(sequence(lit(0), lit(n - 1)),
      i => content.substr(i * lit(stride) + lit(1), lit(frameSize)))

  // ------------------------------------------------------------------
  // Perceptual hash (pHash): the image member of the dedup matrix.
  // decode → integer luma → 32×32 nearest-neighbor resize → 8×8
  // low-band of the 32×32 DCT-II → median-sign 64-bit fingerprint.
  // Pair generation reuses Dedup's banded hamming join unchanged
  // (Dedup.imageNearDupPairs) — the fingerprint is the only new part.
  // ------------------------------------------------------------------

  /** pHash working size: images are luma-resized to PHASH_N×PHASH_N
    * before the DCT; the fingerprint keeps the PHASH_LOW×PHASH_LOW
    * lowest-frequency coefficients (64 bits).
    */
  val PHASH_N = 32
  val PHASH_LOW = 8

  /** Integer ITU-R BT.601 luma (the JPEG/MPEG weights scaled to /256,
    * half-up): (77·r + 150·g + 29·b + 128) >> 8. Integer-exact — for
    * r=g=b it returns exactly that value (77+150+29 = 256), which is
    * what makes crafted grayscale oracles closed-form.
    */
  def luma601(r: Int, g: Int, b: Int): Int = (77 * r + 150 * g + 29 * b + 128) >> 8

  /** Decode a PNG (RGB/RGBA, via [[pngDecode]]) or uncompressed 24bpp
    * BMP payload to a top-down row-major luma grid. Returns null for
    * undecodable payloads (same contract as the other codecs).
    */
  def grayDecode(bytes: Array[Byte],
      inflater: java.util.zip.Inflater): (Int, Int, Array[Int]) = {
    if (bytes == null) return null
    if (bytes.length >= 8 && bytes.take(8).sameElements(pngSig)) {
      val img = pngDecode(bytes, inflater)
      if (img == null) return null
      val g = new Array[Int](img.width * img.height)
      var i = 0
      while (i < g.length) {
        val p = i * img.channels
        g(i) = luma601(img.pixels(p) & 0xff, img.pixels(p + 1) & 0xff,
          img.pixels(p + 2) & 0xff)
        i += 1
      }
      (img.width, img.height, g)
    } else if (bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M' &&
        le16(bytes, 28) == 24) {
      val w = le32(bytes, 18)
      val h = math.abs(le32(bytes, 22))
      val off = le32(bytes, 10)
      val rowSize = ((3 * w + 3) / 4) * 4
      if (w <= 0 || h <= 0 || w > (1 << 15) || h > (1 << 15) ||
        off.toLong + rowSize.toLong * h > bytes.length) return null
      val g = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val (r, gg, b) = bmpPixel(bytes, x, y)
          g(y * w + x) = luma601(r, gg, b)
          x += 1
        }
        y += 1
      }
      (w, h, g)
    } else null
  }

  /** pHash DCT basis: cos(π(2x+1)u/(2N)) for u < PHASH_LOW, x < N,
    * via StrictMath (bit-identical on every JVM — Math.cos is allowed
    * platform variance, which would make the fingerprint
    * cluster-dependent). Built once per partition.
    */
  def phashBasis(): Array[Array[Double]] =
    Array.tabulate(PHASH_LOW, PHASH_N)((u, x) =>
      StrictMath.cos(StrictMath.PI * (2 * x + 1) * u / (2.0 * PHASH_N)))

  /** 64-bit perceptual hash of a luma grid. Bit v·8+u is set iff the
    * orthonormal-DCT coefficient C(u,v) of the 32×32 nearest-neighbor
    * resize, ROUNDED to the nearest integer, exceeds the median of the
    * 63 rounded AC coefficients in the 8×8 low band (u = x-frequency).
    *
    * Rounding before the median/sign threshold is load-bearing twice:
    * it kills the ±1e-13 float residue that mathematically-zero
    * coefficients (e.g. of separable images) carry — without it those
    * bits would be noise — and it makes crafted-image signs closed-form
    * for the oracle (q152: step images whose low-band signs are pure
    * integer arithmetic in doc_id). Pixel-scale inputs put real
    * coefficients at |C| ≫ 1, so the quantization discards nothing a
    * 1-bit sign could have kept.
    */
  def phash64(w: Int, h: Int, gray: Array[Int],
      basis: Array[Array[Double]]): Long = {
    val n = PHASH_N
    // nearest-neighbor luma resize (⌊x·w/N⌋ — resizeBmp24's kernel)
    val g = new Array[Double](n * n)
    var y = 0
    while (y < n) {
      val sy = y * h / n
      var x = 0
      while (x < n) {
        g(y * n + x) = gray(sy * w + x * w / n).toDouble
        x += 1
      }
      y += 1
    }
    // separable low-band DCT: T(u,y) = Σ_x g(x,y)·cos_u(x), then
    // C(u,v) = α(u)α(v)·Σ_y T(u,y)·cos_v(y) — 8·N·N + 64·N mults
    val t = new Array[Double](PHASH_LOW * n)
    var u = 0
    while (u < PHASH_LOW) {
      y = 0
      while (y < n) {
        var s = 0.0
        var x = 0
        while (x < n) { s += g(y * n + x) * basis(u)(x); x += 1 }
        t(u * n + y) = s
        y += 1
      }
      u += 1
    }
    val a0 = StrictMath.sqrt(1.0 / n)
    val a1 = StrictMath.sqrt(2.0 / n)
    val c = new Array[Long](64)
    var v = 0
    while (v < PHASH_LOW) {
      u = 0
      while (u < PHASH_LOW) {
        var s = 0.0
        y = 0
        while (y < n) { s += t(u * n + y) * basis(v)(y); y += 1 }
        val au = if (u == 0) a0 else a1
        val av = if (v == 0) a0 else a1
        c(v * PHASH_LOW + u) = Math.round(au * av * s)
        u += 1
      }
      v += 1
    }
    val ac = java.util.Arrays.copyOfRange(c, 1, 64)
    java.util.Arrays.sort(ac)
    val median = ac(31)
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (c(i) > median) bits |= 1L << i
      i += 1
    }
    bits
  }

  val phashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("phash", LongType)))

  /** Distributed perceptual hashing: DataFrame(media_id, content) →
    * (media_id, width, height, phash). Row-parallel, one Inflater +
    * one DCT basis per partition, null phash for undecodable payloads
    * — the per-partition-init discipline of the other codecs. The
    * fingerprint is a pure function of the bytes, so the column is
    * bit-stable under any partitioning (the property every downstream
    * banded join and stored index relies on).
    */
  def phashFeatures(media: DataFrame): DataFrame = {
    val enc = Encoders.row(phashSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        val inflater = new java.util.zip.Inflater()
        val basis = phashBasis()
        rows.map { r =>
          val dec = grayDecode(r.getAs[Array[Byte]](1), inflater)
          if (dec == null) Row(r.getLong(0), null, null, null)
          else Row(r.getLong(0), dec._1, dec._2,
            phash64(dec._1, dec._2, dec._3, basis))
        }
      }(enc)
  }

  // ------------------------------------------------------------------
  // Full PNG pixel codec (RFC 2083): zlib IDAT inflate + scanline
  // unfilter — pure JVM (java.util.zip), no codec library. Supported
  // subset: 8-bit depth, color types 2 (RGB) and 6 (RGBA),
  // non-interlaced — the shapes a training pipeline's image columns
  // actually carry. Everything else returns null (caller treats as
  // undecodable, same contract as decodeHeader's (0,0,0)).
  // ------------------------------------------------------------------

  /** Paeth predictor (RFC 2083 §6.6): nearest of left/above/upper-left
    * to the linear estimate a + b − c, ties preferring a, then b.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32()
    parts.foreach(c.update(_))
    c.getValue.toInt
  }

  /** Decoded PNG: dimensions + the raw top-down row-major interleaved
    * samples (w·h·channels bytes, filters undone).
    */
  final case class PngImage(width: Int, height: Int, channels: Int,
      pixels: Array[Byte])

  /** Full PNG decode. `inflater` is caller-provided so a partition
    * loop can construct ONE and `reset()` it per image (the
    * per-partition codec-init discipline decodeFeatures documents).
    * Chunk CRCs are verified — a corrupted payload yields null rather
    * than garbage pixels. Returns null for: bad signature, unsupported
    * subset (interlace, palette, 16-bit), truncated stream, CRC or
    * zlib error, or inflated size mismatch.
    */
  def pngDecode(bytes: Array[Byte],
      inflater: java.util.zip.Inflater): PngImage = {
    if (bytes == null || bytes.length < 8 ||
      !bytes.take(8).sameElements(pngSig)) return null
    var w = 0; var h = 0; var channels = 0
    val idat = new java.io.ByteArrayOutputStream()
    var off = 8
    var sawEnd = false
    try {
      while (!sawEnd && off + 8 <= bytes.length) {
        val len = be32(bytes, off)
        val ctype = new String(bytes, off + 4, 4, "US-ASCII")
        // Long arithmetic: a corrupt length near 2^31 would wrap the
        // Int sum positive-to-negative and sneak past this bound
        if (len < 0 || off.toLong + 12L + len > bytes.length) return null
        // CRC covers type + data (RFC 2083 §3.4)
        if (crc32(java.util.Arrays.copyOfRange(bytes, off + 4, off + 8 + len))
            != be32(bytes, off + 8 + len)) return null
        ctype match {
          case "IHDR" =>
            if (len != 13) return null
            w = be32(bytes, off + 8); h = be32(bytes, off + 12)
            val depth = bytes(off + 16); val color = bytes(off + 17)
            val compression = bytes(off + 18); val filterMethod = bytes(off + 19)
            val interlace = bytes(off + 20)
            // PNG defines exactly one compression method (0 = deflate)
            // and one filter method (0 = adaptive 5-type); any other
            // value means the stream below would be misinterpreted
            if (depth != 8 || compression != 0 || filterMethod != 0 ||
              interlace != 0) return null
            channels = color match {
              case 2 => 3
              case 6 => 4
              case _ => return null
            }
          case "IDAT" => idat.write(bytes, off + 8, len)
          case "IEND" => sawEnd = true
          case _ => () // ancillary chunks skipped
        }
        off += 12 + len
      }
      if (!sawEnd || w <= 0 || h <= 0 || channels == 0) return null
      // allocation sanity: a CRC-valid header can still declare
      // dimensions whose byte counts overflow — cap each dimension
      // BEFORE multiplying (w=h=2^31−1 would overflow even the Long
      // product), then bound the exact Long byte count
      if (w > (1 << 24) || h > (1 << 24)) return null
      val rawLen = h.toLong * (1L + w.toLong * channels)
      if (rawLen > 512L * 1024 * 1024) return null
      // filtered stream: each row = 1 filter-type byte + w·channels
      val rowBytes = w * channels
      val raw = new Array[Byte](rawLen.toInt)
      inflater.reset()
      inflater.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, got, raw.length - got)
        // truncated stream or preset-dictionary request (never valid in
        // PNG): bail rather than spin
        if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
          return null
        got += n
      }
      if (got != raw.length) return null
      // the stream must END here too. Two failure modes the fill loop
      // can't see: an IDAT inflating to MORE than h·(1+rowBytes)
      // (IHDR and pixel data disagree — the probe yields a byte), and
      // a trailer cut off before the adler32 (the probe consumes a
      // present trailer, setting finished; a missing or wrong one
      // leaves it unset / throws "incorrect data check")
      if (!inflater.finished()) {
        if (inflater.inflate(new Array[Byte](1), 0, 1) > 0) return null
        if (!inflater.finished()) return null
      }
      // unfilter in place into the output array (RFC 2083 §6)
      val out = new Array[Byte](h * rowBytes)
      val bpp = channels
      var y = 0
      while (y < h) {
        val ft = raw(y * (1 + rowBytes)) & 0xff
        val src = y * (1 + rowBytes) + 1
        val dst = y * rowBytes
        var x = 0
        while (x < rowBytes) {
          val fx = raw(src + x) & 0xff
          val left = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
          val up = if (y > 0) out(dst - rowBytes + x) & 0xff else 0
          val ul = if (y > 0 && x >= bpp) out(dst - rowBytes + x - bpp) & 0xff else 0
          val v = ft match {
            case 0 => fx
            case 1 => fx + left
            case 2 => fx + up
            case 3 => fx + ((left + up) >> 1)
            case 4 => fx + paeth(left, up, ul)
            case _ => return null
          }
          out(dst + x) = v.toByte
          x += 1
        }
        y += 1
      }
      PngImage(w, h, channels, out)
    } catch { case _: java.util.zip.DataFormatException => null }
  }

  /** Full PNG encode of 8-bit RGB/RGBA samples (top-down row-major,
    * w·h·channels bytes): real per-row filters (`filterFor(y)` ∈ 0-4,
    * applied per RFC 2083 §6), one zlib Deflater stream, real chunk
    * CRCs. `deflater` is caller-provided for the same per-partition
    * reuse as [[pngDecode]]'s inflater. The encode side exists so
    * specs and oracle queries can synthesize byte-exact filtered
    * payloads that the decode side must invert.
    */
  def pngEncode(img: PngImage, filterFor: Int => Int,
      deflater: java.util.zip.Deflater): Array[Byte] = {
    require(img.channels == 3 || img.channels == 4, "RGB or RGBA only")
    require(img.pixels.length == img.width * img.height * img.channels)
    val rowBytes = img.width * img.channels
    val bpp = img.channels
    val raw = new Array[Byte](img.height * (1 + rowBytes))
    var y = 0
    while (y < img.height) {
      val ft = filterFor(y)
      require(ft >= 0 && ft <= 4, s"filter $ft")
      raw(y * (1 + rowBytes)) = ft.toByte
      val src = y * rowBytes
      val dst = y * (1 + rowBytes) + 1
      var x = 0
      while (x < rowBytes) {
        val v = img.pixels(src + x) & 0xff
        val left = if (x >= bpp) img.pixels(src + x - bpp) & 0xff else 0
        val up = if (y > 0) img.pixels(src - rowBytes + x) & 0xff else 0
        val ul = if (y > 0 && x >= bpp) img.pixels(src - rowBytes + x - bpp) & 0xff else 0
        val f = ft match {
          case 0 => v
          case 1 => v - left
          case 2 => v - up
          case 3 => v - ((left + up) >> 1)
          case 4 => v - paeth(left, up, ul)
        }
        raw(dst + x) = f.toByte
        x += 1
      }
      y += 1
    }
    deflater.reset()
    deflater.setInput(raw)
    deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    val out = new java.io.ByteArrayOutputStream()
    def be(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      val t = ctype.getBytes("US-ASCII")
      out.write(be(data.length)); out.write(t); out.write(data)
      out.write(be(crc32(t, data)))
    }
    out.write(pngSig)
    chunk("IHDR", be(img.width) ++ be(img.height) ++
      Array[Byte](8, if (img.channels == 3) 2 else 6, 0, 0, 0))
    chunk("IDAT", zbuf.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Nearest-neighbor resize on decoded samples — the pure-array core
    * both the BMP path and a PNG re-encode pipeline share; output
    * pixel (x, y) copies input (⌊x·w/outW⌋, ⌊y·h/outH⌋), all channels.
    */
  def resizePixels(img: PngImage, outW: Int, outH: Int): PngImage = {
    val c = img.channels
    val out = new Array[Byte](outW * outH * c)
    var y = 0
    while (y < outH) {
      val sy = y * img.height / outH
      var x = 0
      while (x < outW) {
        val sx = x * img.width / outW
        var k = 0
        while (k < c) {
          out((y * outW + x) * c + k) = img.pixels((sy * img.width + sx) * c + k)
          k += 1
        }
        x += 1
      }
      y += 1
    }
    PngImage(outW, outH, c, out)
  }

  val pngSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType)) ++ cornerFields)

  /** Distributed full-pixel PNG decode: DataFrame(media_id, content) →
    * dimensions, first/last pixel RGB, and the checksum Σ over EVERY
    * channel sample (alpha included) — a deterministic fingerprint an
    * oracle recomputes closed-form. ONE Inflater per partition,
    * reset per image (the codec-init point, now actually exercised by
    * a stateful codec). Undecodable payloads yield a null-stats row
    * rather than failing the task.
    */
  def pngFeatures(media: DataFrame): DataFrame = {
    val enc = Encoders.row(pngSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        val inflater = new java.util.zip.Inflater()
        rows.map { r =>
          val img = pngDecode(r.getAs[Array[Byte]](1), inflater)
          if (img == null)
            Row(r.getLong(0), null, null, null, null, null, null,
              null, null, null, null)
          else {
            val c = img.channels
            var sum = 0L
            var i = 0
            while (i < img.pixels.length) { sum += img.pixels(i) & 0xff; i += 1 }
            val last = (img.height * img.width - 1) * c
            Row(r.getLong(0), img.width, img.height, c,
              img.pixels(0) & 0xff, img.pixels(1) & 0xff, img.pixels(2) & 0xff,
              img.pixels(last) & 0xff, img.pixels(last + 1) & 0xff,
              img.pixels(last + 2) & 0xff, sum)
          }
        }
      }(enc)
  }
}
