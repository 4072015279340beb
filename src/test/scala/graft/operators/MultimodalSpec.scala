package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  lazy val media = Seq(
    (1L, "hello world, this is a binary payload", "image/png"),
    (2L, "x", "audio/wav"),
    (3L, null.asInstanceOf[String], "video/mp4")
  ).toDF("media_id", "text", "mime")
    .select(col("media_id"), encode(col("text"), "UTF-8").as("content"), col("mime"))

  test("decodeFeatures: unknown payloads zero out, schema stable") {
    val out = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    assert(out.length === 3)
    assert(out(0).getInt(out(0).fieldIndex("byte_len")) === 37)
    // text bytes are no known container — all dims zero
    assert((3 to 5).forall(i => out(0).getInt(i) === 0))
    // null payload → zeroed features
    assert(out(2).getInt(out(2).fieldIndex("byte_len")) === 0)
  }

  private def hexBytes(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("decodeHeader parses PNG / BMP / WAV headers from real bytes") {
    // PNG 640x480 RGBA (color type 6 -> 4 channels), big-endian dims
    val png = hexBytes("89504E470D0A1A0A" + "0000000D" + "49484452" +
      "00000280" + "000001E0" + "0806000000" + "00000000")
    assert(Multimodal.decodeHeader(png) === ((640, 480, 4)))
    // BMP 800x600 24bpp, little-endian dims; negative height = top-down
    val bmp = hexBytes("424D" + "36000000" + "00000000" + "36000000" +
      "28000000" + "20030000" + "58020000" + "0100" + "1800" + "00" * 24)
    assert(Multimodal.decodeHeader(bmp) === ((800, 600, 3)))
    val bmpTopDown = bmp.clone()
    // height -600 LE at offset 22
    val neg = Array(0xA8, 0xFD, 0xFF, 0xFF).map(_.toByte)
    System.arraycopy(neg, 0, bmpTopDown, 22, 4)
    assert(Multimodal.decodeHeader(bmpTopDown) === ((800, 600, 3)))
    // WAV stereo 44100 Hz 16-bit: (rate, bits, channels)
    val wav = hexBytes("52494646" + "24000000" + "57415645" + "666D7420" +
      "10000000" + "0100" + "0200" + "44AC0000" + "10B10200" + "0400" +
      "1000" + "64617461" + "00000000")
    assert(Multimodal.decodeHeader(wav) === ((44100, 16, 2)))
    // truncated / garbage / null
    assert(Multimodal.decodeHeader(png.take(10)) === ((0, 0, 0)))
    assert(Multimodal.decodeHeader("not media".getBytes) === ((0, 0, 0)))
    assert(Multimodal.decodeHeader(null) === ((0, 0, 0)))
  }

  test("resizeBmp24: nearest-neighbor with odd-width row padding") {
    // 4x2 gradient BMP, rows padded 12 -> 12 (no pad); pixel r = 10x+y
    def px(x: Int, y: Int) = (10 * x + y, 100 + x, 200 + y)
    val w = 4; val h = 2
    val rowSize = ((3 * w + 3) / 4) * 4
    val src = new Array[Byte](54 + rowSize * h)
    src(0) = 'B'; src(1) = 'M'
    def putLe32(o: Int, v: Int): Unit = (0 until 4).foreach(i =>
      src(o + i) = (v >> (8 * i)).toByte)
    putLe32(2, src.length); putLe32(10, 54); putLe32(14, 40)
    putLe32(18, w); putLe32(22, h); src(26) = 1; src(28) = 24
    for (y <- 0 until h; x <- 0 until w) {
      val p = 54 + (h - 1 - y) * rowSize + x * 3
      val (r, g, b) = px(x, y)
      src(p) = b.toByte; src(p + 1) = g.toByte; src(p + 2) = r.toByte
    }
    // identity resize round-trips every pixel
    val same = Multimodal.resizeBmp24(src, w, h)
    for (y <- 0 until h; x <- 0 until w)
      assert(Multimodal.bmpPixel(same, x, y) === px(x, y))
    // odd output width (3): rows pad 9 -> 12; src x = x*4/3 = 0,1,2
    val odd = Multimodal.resizeBmp24(src, 3, 1)
    assert(Multimodal.decodeHeader(odd) === ((3, 1, 3)))
    for (x <- 0 until 3)
      assert(Multimodal.bmpPixel(odd, x, 0) === px(x * 4 / 3, 0))
    // upscale 8x4 repeats source pixels
    val up = Multimodal.resizeBmp24(src, 8, 4)
    assert(Multimodal.bmpPixel(up, 7, 3) === px(3, 1))
    assert(Multimodal.bmpPixel(up, 1, 1) === px(0, 0))
  }

  test("wavSamples decodes signed 16-bit PCM; rejects non-canonical input") {
    // mono 16-bit wav with samples [1, -1, 300, -32768]
    val wav = hexBytes("52494646" + "2C000000" + "57415645" + "666D7420" +
      "10000000" + "0100" + "0100" + "401F0000" + "803E0000" + "0200" +
      "1000" + "64617461" + "08000000" +
      "0100" + "FFFF" + "2C01" + "0080")
    assert(Multimodal.wavSamples(wav).toSeq === Seq(1, -1, 300, -32768))
    assert(Multimodal.wavSamples(null).isEmpty)
    assert(Multimodal.wavSamples("RIFFjunk".getBytes).isEmpty)
    // PCM payloads route through the dispatcher unchanged
    assert(Multimodal.anyWavSamples(wav).toSeq === Seq(1, -1, 300, -32768))
  }

  test("G.711 expansion matches the published tables on hand vectors") {
    // µ-law: both zero codes; the two rail extremes ±32124
    assert(Multimodal.mulawToLinear(0xFF) === 0)
    assert(Multimodal.mulawToLinear(0x7F) === 0)
    assert(Multimodal.mulawToLinear(0x00) === -32124)
    assert(Multimodal.mulawToLinear(0x80) === 32124)
    // µ-law segment interior: byte 0xE7 → u=0x18: mant 8, exp 1,
    // t = (64+132)<<1 = 392 → 392-132 = 260
    assert(Multimodal.mulawToLinear(0xE7) === 260)
    // A-law: smallest magnitudes are ±8 (no zero code); rails ±32256;
    // sign convention INVERTED vs µ-law (MSB set = positive)
    assert(Multimodal.alawToLinear(0x55) === -8)
    assert(Multimodal.alawToLinear(0xD5) === 8)
    assert(Multimodal.alawToLinear(0x2A) === -32256)
    assert(Multimodal.alawToLinear(0xAA) === 32256)
    // A-law seg-1 interior: byte 0x5F → a=0x0A: seg 0, base 160 → -168
    assert(Multimodal.alawToLinear(0x5F) === -168)
    // sign symmetry holds across the whole byte range for both laws
    for (v <- 0 until 128) {
      assert(Multimodal.mulawToLinear(v) === -Multimodal.mulawToLinear(v | 0x80))
      assert(Multimodal.alawToLinear(v) === -Multimodal.alawToLinear(v | 0x80))
    }
  }

  test("g711WavSamples chunk-walks and dispatches; PCM/ADPCM paths reject it") {
    def wav(tag: Int, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + 8 + 16 + 8 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 24 + 8 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(tag.toShort).putShort(1).putInt(8000)
        .putInt(8000).putShort(1).putShort(8)
      bb.put("data".getBytes("US-ASCII")).putInt(data.length)
      bb.put(data)
      bb.array()
    }
    val mu = wav(0x0007, Array(0xFF, 0x00, 0x80, 0xE7).map(_.toByte))
    assert(Multimodal.anyWavSamples(mu).toSeq === Seq(0, -32124, 32124, 260))
    val a = wav(0x0006, Array(0x55, 0xD5, 0x2A, 0xAA).map(_.toByte))
    assert(Multimodal.anyWavSamples(a).toSeq === Seq(-8, 8, -32256, 32256))
    // wrong-lane rejections: the PCM and ADPCM decoders both bail
    assert(Multimodal.wavSamples(mu).isEmpty)
    assert(Multimodal.adpcmWavSamples(mu).isEmpty)
    // malformed G.711: stereo, 16-bit, truncation — clean empties
    val stereo = wav(0x0007, Array[Byte](1, 2)); stereo(22) = 2
    assert(Multimodal.g711WavSamples(stereo).isEmpty)
    val wide = wav(0x0006, Array[Byte](1, 2)); wide(34) = 16
    assert(Multimodal.g711WavSamples(wide).isEmpty)
    assert(Multimodal.g711WavSamples(mu.take(30)).isEmpty)
  }

  test("resonator bank concentrates energy at the matched band") {
    // x_n = 1000·cos(πn/2): exact integers, pure tone at ω = π/2,
    // whose matched coefficient is c = 2cos(π/2) = 0
    val samples = Array.tabulate(64)(n => Seq(1000, 0, -1000, 0)(n % 4))
    val bb = java.nio.ByteBuffer.allocate(44 + 2 * samples.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * samples.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(2 * samples.length)
    samples.foreach(s => bb.putShort(s.toShort))
    val df = Seq((1L, bb.array())).toDF("media_id", "content")
    val e = Multimodal.resonatorFeatures(df, Seq(0.0, 1.0, -1.0))
      .collect().map(r => r.getAs[Int]("bin_idx") -> r.getAs[Double]("energy"))
      .toMap
    // matched band (c=0 ⇔ ω=π/2) dwarfs the mismatched bands
    assert(e(0) > 100 * e(1), s"matched ${e(0)} vs ${e(1)}")
    assert(e(0) > 100 * e(2), s"matched ${e(0)} vs ${e(2)}")
    // tone magnitude: |Σ x·e^{-iωn}|² = (N/2·A)² = (32·1000)²
    assert(math.abs(e(0) - 32000.0 * 32000.0) / (32000.0 * 32000.0) < 1e-9)
  }

  test("lnDet tracks Math.log to < 1e-8 and is exact at powers of two") {
    // truncation bound: |t| <= 1/3 ⇒ error ~ t^17/17 ≈ 8e-10; the
    // 1e-8 gate leaves headroom without hiding a broken series term
    var x = 1.0
    while (x < 1e18) {
      for (m <- Seq(1.0, 1.1, 1.37, 1.5, 1.73, 1.9999)) {
        val v = x * m
        assert(math.abs(Multimodal.lnDet(v) - math.log(v)) < 1e-8,
          s"lnDet diverged at $v")
      }
      x *= 7.3
    }
    assert(Multimodal.lnDet(1.0) === 0.0)
    // exact at powers of two: reduction leaves m = 1, t = 0
    for (k <- 0 to 60)
      assert(Multimodal.lnDet(math.pow(2.0, k)) ===
        k * 0.6931471805599453, s"2^$k not exact")
  }

  test("mfccFeatures: k=0 is the plain log-energy sum; silence maps to 0; naive-reference parity") {
    val samples = Array.tabulate(64)(n => Seq(1000, 0, -1000, 0)(n % 4))
    val bb = java.nio.ByteBuffer.allocate(44 + 2 * samples.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * samples.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(2 * samples.length)
    samples.foreach(s => bb.putShort(s.toShort))
    val silence = {
      val sb = java.nio.ByteBuffer.allocate(44 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      sb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 8)
        .put("WAVE".getBytes("US-ASCII"))
      sb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      sb.put("data".getBytes("US-ASCII")).putInt(8)
      (0 until 4).foreach(_ => sb.putShort(0))
      sb.array()
    }
    val coeffs = Seq(1.5, 1.0, 0.5, 0.0, -0.5, -1.0, -1.5)
    val nf = 3
    val df = Seq((1L, bb.array()), (2L, silence)).toDF("media_id", "content")
    val got = Multimodal.mfccFeatures(df, coeffs, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // silence: all band energies 0 → pooled 0 → lnDet(1) = 0 → DCT 0
    for (k <- 0 until 3) assert(got((2L, k)) === 0.0, s"silence k=$k")
    // naive reference on the tone: independent recomputation through
    // resonatorFeatures + lnDet + an explicit DCT loop
    val en = Multimodal.resonatorFeatures(
        Seq((1L, bb.array())).toDF("media_id", "content"), coeffs)
      .collect().map(r => r.getAs[Int]("bin_idx") -> r.getAs[Double]("energy"))
      .toMap
    val lnp = (0 until nf).map(f =>
      Multimodal.lnDet((0.5 * en(2 * f) + en(2 * f + 1)) +
        0.5 * en(2 * f + 2) + 1.0))
    val dct = Multimodal.dctTable(3, nf)
    for (k <- 0 until 3) {
      var acc = 0.0
      for (f <- 0 until nf) acc = acc + lnp(f) * dct(k)(f)
      assert(got((1L, k)) === acc, s"tone k=$k diverged from reference")
    }
    // k=0 basis row is all ones: the plain log-energy sum
    assert(dct(0).forall(_ === 1.0))
    assert(got((1L, 0)) === lnp.sum || math.abs(got((1L, 0)) - lnp.sum) < 1e-12)
  }

  test("adpcmStep matches the IMA spec on hand-derived vectors") {
    // from (pred=0, index=0): step=7. nibble 3 (0b0011):
    // diff = 7>>3 + 7>>2 + 7>>1 = 0+1+3 = 4 → pred 4; index += -1 → 0
    assert(Multimodal.adpcmStep(0, 0, 3) === ((4, 0)))
    // nibble 0xB (0b1011, sign bit): same magnitude, subtracted
    assert(Multimodal.adpcmStep(0, 0, 0xB) === ((-4, 0)))
    // nibble 7 (0b0111): diff = 0+1+3+7 = 11; index += 8
    assert(Multimodal.adpcmStep(0, 0, 7) === ((11, 8)))
    // nibble 8 (sign only): diff = step>>3 = 0 → pred unchanged; -1 clamps to 0
    assert(Multimodal.adpcmStep(0, 0, 8) === ((0, 0)))
    // clamps: max index 88 (step 32767), nibble 7 from pred 30000:
    // diff = 4095 + 8191 + 16383 + 32767 = 61436 → clamp to 32767
    assert(Multimodal.adpcmStep(30000, 88, 7) === ((32767, 88)))
    assert(Multimodal.adpcmStep(-30000, 88, 0xF) === ((-32768, 88)))
  }

  test("IMA-ADPCM encode -> decode round-trip tracks the input within step bound") {
    // a slow sine-ish ramp the adaptive quantizer can follow
    val src = Array.tabulate(300)(i =>
      (8000 * math.sin(i / 20.0)).toInt)
    val wav = Multimodal.adpcmEncodeWav(src, 8000, 36)
    val dec = Multimodal.anyWavSamples(wav)
    // decoder clips to data present: full blocks of 65 samples
    assert(dec.length >= src.length && dec.length % 65 === 0)
    // block-leading samples are stored verbatim
    for (b <- 0 until src.length / 65)
      assert(dec(b * 65) === src(b * 65), s"block $b header sample")
    // quantization error of a trackable signal stays far below the
    // signal amplitude (codec sanity: the state machine is FOLLOWING,
    // not wandering)
    val errs = src.indices.map(i => math.abs(dec(i) - src(i)))
    assert(errs.max < 2000, s"max err ${errs.max}")
    assert(errs.sum.toDouble / errs.size < 300.0,
      s"mean err ${errs.sum.toDouble / errs.size}")
    // dispatcher: the emitted container self-identifies as ADPCM
    assert(Multimodal.wavSamples(wav).isEmpty,
      "PCM path must reject an ADPCM payload")
    // malformed: stereo / truncated-below-header reject cleanly
    assert(Multimodal.adpcmWavSamples(wav.take(30)).isEmpty)
  }

  test("monoWav: RIFF size, fmt length and data offset with and without ext words") {
    def le(b: Array[Byte], o: Int, n: Int): Int =
      (0 until n).map(i => (b(o + i) & 0xff) << (8 * i)).sum
    val g711Data = Array.tabulate(50)(_.toByte)
    val adpcmData = Array.tabulate(72)(i => (3 * i).toByte)
    val g711 = Multimodal.monoWav(7, 8000, 8000, 1, 8, Nil, g711Data)
    val adpcm = Multimodal.monoWav(0x11, 11025, 11025 * 36 / 65, 36, 4,
      Seq(2, 65), adpcmData)
    // (bytes, data, RIFF size, fmt length, data offset)
    for ((wav, data, riff, fmtLen, at) <- Seq(
        (g711, g711Data, 36 + 50, 16, 44),
        (adpcm, adpcmData, 40 + 72, 20, 48))) {
      assert(new String(wav, 0, 4, "US-ASCII") === "RIFF")
      assert(le(wav, 4, 4) === riff)
      assert(wav.length === riff + 8)
      assert(new String(wav, 8, 8, "US-ASCII") === "WAVEfmt ")
      assert(le(wav, 16, 4) === fmtLen)
      assert(new String(wav, at - 8, 4, "US-ASCII") === "data")
      assert(le(wav, at - 4, 4) === data.length)
      assert(wav.drop(at).sameElements(data))
    }
    // format tag, block align and bits, then ADPCM's cbSize and
    // samples-per-block words
    assert(Seq(20, 32, 34).map(le(g711, _, 2)) === Seq(7, 1, 8))
    assert(Seq(20, 32, 34, 36, 38).map(le(adpcm, _, 2)) ===
      Seq(0x11, 36, 4, 2, 65))
    val feats = Multimodal.decodeFeatures(
        Seq((1L, g711, "audio/wav"), (2L, adpcm, "audio/wav"))
          .toDF("media_id", "content", "mime"))
      .orderBy("media_id").collect()
    // WAV features: width = sample rate, channels = channel count
    assert(feats.map(r => (r.getAs[Int]("width"), r.getAs[Int]("channels")))
      .toSeq === Seq((8000, 1), (11025, 1)))
  }

  private def testImage(w: Int, h: Int, c: Int): Multimodal.PngImage = {
    val px = Array.tabulate(w * h * c) { i =>
      ((i * 2654435761L + (i % c) * 40503L) % 256).toByte
    }
    Multimodal.PngImage(w, h, c, px)
  }

  test("pngEncode → pngDecode round-trips every filter type, RGB and RGBA") {
    val inflater = new java.util.zip.Inflater()
    val deflater = new java.util.zip.Deflater()
    for (c <- Seq(3, 4); ft <- 0 to 4) {
      val img = testImage(7, 5, c) // odd width: left/up offsets disagree
      val bytes = Multimodal.pngEncode(img, _ => ft, deflater)
      val back = Multimodal.pngDecode(bytes, inflater)
      assert(back != null, s"filter $ft c=$c failed to decode")
      assert(back.width === 7 && back.height === 5 && back.channels === c)
      assert(back.pixels.toSeq === img.pixels.toSeq,
        s"filter $ft c=$c pixels diverged")
    }
    // mixed filters per row (the q89 shape) also round-trip
    val img = testImage(9, 8, 3)
    val mixed = Multimodal.pngEncode(img, y => y % 5, deflater)
    assert(Multimodal.pngDecode(mixed, inflater).pixels.toSeq
      === img.pixels.toSeq)
  }

  test("pngDecode rejects corruption and unsupported subsets") {
    val inflater = new java.util.zip.Inflater()
    val deflater = new java.util.zip.Deflater()
    val ok = Multimodal.pngEncode(testImage(6, 4, 3), y => (y + 1) % 5, deflater)
    assert(Multimodal.pngDecode(ok, inflater) != null)
    // flip one IDAT payload byte: the chunk CRC must catch it
    val corrupt = ok.clone()
    corrupt(45) = (corrupt(45) ^ 0x5a).toByte
    assert(Multimodal.pngDecode(corrupt, inflater) == null)
    // truncation mid-chunk
    assert(Multimodal.pngDecode(ok.take(ok.length - 10), inflater) == null)
    // not a PNG at all / null
    assert(Multimodal.pngDecode("not a png at all".getBytes, inflater) == null)
    assert(Multimodal.pngDecode(null, inflater) == null)
    // header-only synthetic PNG from q56 (no IDAT/IEND): rejected here,
    // still fine for decodeHeader
    val headerOnly = hexBytes("89504E470D0A1A0A0000000D49484452" +
      "00000280000001E00806000000" + "00000000")
    assert(Multimodal.pngDecode(headerOnly, inflater) == null)
    assert(Multimodal.decodeHeader(headerOnly) === ((640, 480, 4)))

    // IHDR rewritten to claim FEWER pixels than IDAT holds (CRC fixed
    // up): must reject the inconsistency, not silently truncate
    def patchIhdrDims(png: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val out = png.clone()
      def putBe(o: Int, v: Int): Unit = {
        out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
        out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      }
      putBe(16, w); putBe(20, h)
      val crc = new java.util.zip.CRC32()
      crc.update(out, 12, 17) // chunk type + 13-byte IHDR data
      putBe(29, crc.getValue.toInt)
      out
    }
    val shrunk = patchIhdrDims(
      Multimodal.pngEncode(testImage(6, 6, 3), _ => 0, deflater), 6, 4)
    assert(Multimodal.pngDecode(shrunk, inflater) == null,
      "IDAT longer than IHDR implies must be rejected")

    // IHDR claiming absurd dimensions (allocation bomb / Int overflow):
    // rejected before any allocation
    val bomb = patchIhdrDims(
      Multimodal.pngEncode(testImage(6, 6, 3), _ => 0, deflater),
      1 << 30, 1 << 30)
    assert(Multimodal.pngDecode(bomb, inflater) == null)
    // corrupt 4-byte chunk length near 2^31 (Int-overflow bounds case)
    val badLen = ok.clone()
    badLen(8) = 0x7f.toByte // IHDR length 0x7F00000D
    assert(Multimodal.pngDecode(badLen, inflater) == null)

    // zlib stream with the adler32 trailer cut off: pixel bytes all
    // present, so only the end-of-stream check can catch it
    def stripIdatTail(png: Array[Byte], nBytes: Int): Array[Byte] = {
      val idatOff = 33 // sig(8) + IHDR chunk(25)
      val idatLen = ((png(idatOff) & 0xff) << 24) |
        ((png(idatOff + 1) & 0xff) << 16) |
        ((png(idatOff + 2) & 0xff) << 8) | (png(idatOff + 3) & 0xff)
      val newLen = idatLen - nBytes
      val out = new java.io.ByteArrayOutputStream()
      out.write(png, 0, idatOff)
      def be(v: Int): Array[Byte] = Array((v >>> 24).toByte,
        (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      out.write(be(newLen))
      out.write(png, idatOff + 4, 4) // "IDAT"
      out.write(png, idatOff + 8, newLen)
      val crc = new java.util.zip.CRC32()
      crc.update(png, idatOff + 4, 4)
      crc.update(png, idatOff + 8, newLen)
      out.write(be(crc.getValue.toInt))
      // IEND chunk follows the original IDAT
      out.write(png, idatOff + 12 + idatLen, 12)
      out.toByteArray
    }
    assert(Multimodal.pngDecode(stripIdatTail(ok, 4), inflater) == null,
      "missing adler32 trailer must be rejected")
  }

  test("pngDecode → resizePixels → pngEncode round-trip (resize re-decoded)") {
    val inflater = new java.util.zip.Inflater()
    val deflater = new java.util.zip.Deflater()
    val img = testImage(8, 8, 4)
    val wire = Multimodal.pngEncode(img, y => y % 5, deflater)
    val decoded = Multimodal.pngDecode(wire, inflater)
    val small = Multimodal.resizePixels(decoded, 4, 4)
    // NN sampling: out (x,y) copies in (2x,2y), every channel
    for (y <- 0 until 4; x <- 0 until 4; k <- 0 until 4)
      assert(small.pixels((y * 4 + x) * 4 + k)
        === img.pixels(((2 * y) * 8 + 2 * x) * 4 + k))
    // the resized image survives a full encode/decode cycle — proof the
    // emitted PNG is well-formed, not just that the arithmetic ran
    val rewire = Multimodal.pngEncode(small, y => (y + 3) % 5, deflater)
    val back = Multimodal.pngDecode(rewire, inflater)
    assert(back.width === 4 && back.height === 4 && back.channels === 4)
    assert(back.pixels.toSeq === small.pixels.toSeq)
    // and agrees with the BMP resize core on the shared arithmetic:
    // resizePixels IS the array form of resizeBmp24's sampling loop
  }

  test("frameSample slices fixed-stride binary frames") {
    val frames = media.filter(col("media_id") === 1L)
      .select(Multimodal.frameSample(col("content"), frameSize = 10,
        stride = 16, n = 3).as("frames"))
      .head().getSeq[Array[Byte]](0)
    assert(frames.length === 3)
    assert(new String(frames(0), "UTF-8") === "hello worl")
    assert(new String(frames(1), "UTF-8") === "s is a bin")
    // past-the-end slice is shorter
    assert(new String(frames(2), "UTF-8") === "yload")
  }
}
