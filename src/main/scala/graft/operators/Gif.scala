package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** GIF (87a/89a) codec — completes the image matrix next to PNG
  * (DEFLATE), BMP (raw), and JPEG (DCT) with the remaining classic
  * compression family: LZW. Pure JVM, no codec libraries; real
  * variable-width LZW on both sides (dictionary growth 2^(min+1)→4096,
  * deferred-clear handling, LSB-first bit packing per the spec).
  *
  * Supported: global and local color tables, non-interlaced and
  * interlaced images (the 8/8/4/2 four-pass row order), extension
  * blocks (skipped structurally), multi-frame (animated) streams —
  * the FIRST frame decodes to pixels, remaining frames are walked
  * sub-block by sub-block for the frame count without decoding
  * (O(first frame + container walk) per row, the q119 stride-skip
  * stance). Rejected with a null decode (the [[Multimodal.pngDecode]]
  * convention — corrupt payloads yield a null row, never garbage):
  * bad signature, truncation anywhere, LZW codes beyond the
  * dictionary, pixel under/overrun, a first frame with no color
  * table on either level.
  *
  * Cross-engine exactness: LZW is lossless over palette INDICES and
  * the palette lookup is integer — decoded RGB is exactly the
  * synthesis formula, so q123's oracle recomputes every corner pixel
  * and the full channel sum closed-form with integer arithmetic only
  * (no rounding anywhere, unlike JPEG's YCbCr doubles).
  *
  * Scale shape: decode is embarrassingly row-parallel; the
  * dictionary arrays are per-image locals (zero shared state), the
  * per-partition codec-init discipline of the PNG/JPEG paths.
  */
object Gif {

  final case class GifImage(width: Int, height: Int, nFrames: Int,
    pixels: Array[Byte]) // first frame, RGB

  // ------------------------------------------------------------------
  // LZW (GIF variant: LSB-first bits, clear/eoi codes, 12-bit cap)
  // ------------------------------------------------------------------

  /** Compress palette indices. Emits a leading clear code, grows the
    * code width when the next free slot crosses a power of two (the
    * rule decoders mirror after each table add), and clears when the
    * table hits 4096.
    */
  def lzwEncode(indices: Array[Int], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    var width = minCodeSize + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += width
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    // dictionary: (prefix code, appended index) → code
    var dict = new java.util.HashMap[Long, Integer]()
    var nextFree = eoi + 1
    def reset(): Unit = { dict = new java.util.HashMap(); nextFree = eoi + 1 }
    emit(clear)
    var cur = indices(0)
    var i = 1
    while (i < indices.length) {
      val k = indices(i)
      val key = (cur.toLong << 12) | k
      val hit = dict.get(key)
      if (hit != null) cur = hit.intValue()
      else {
        emit(cur)
        dict.put(key, nextFree)
        nextFree += 1
        // the encoder's dictionary runs ONE entry ahead of the
        // decoder's (the decoder adds an entry only after READING the
        // next code), so the width grows at (1<<width)+1 here vs the
        // decoder's (1<<width) — the classic GIF-LZW off-by-one
        if (nextFree == (1 << width) + 1 && width < 12) width += 1
        if (nextFree == 4096) { emit(clear); width = minCodeSize + 1; reset() }
        cur = k
      }
      i += 1
    }
    emit(cur)
    emit(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** Decompress to exactly `expected` indices; null on any structural
    * violation (truncated stream, code beyond the table, overrun).
    */
  def lzwDecode(data: Array[Byte], minCodeSize: Int,
      expected: Int): Array[Int] = {
    if (minCodeSize < 2 || minCodeSize > 11) return null
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val out = new Array[Int](expected)
    var outLen = 0
    var width = minCodeSize + 1
    var nextFree = eoi + 1
    var prev = -1
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    val stack = new Array[Int](4096)
    def writeEntry(code: Int): Int = { // returns the entry's FIRST index
      var sp = 0
      var c = code
      while (c >= clear) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      val first = c
      if (outLen + sp + 1 > expected) return -1
      out(outLen) = c; outLen += 1
      while (sp > 0) { sp -= 1; out(outLen) = stack(sp); outLen += 1 }
      first
    }
    while (true) {
      while (bitCnt < width) {
        if (pos >= data.length) return null // truncated before EOI
        bitBuf |= (data(pos) & 0xffL) << bitCnt
        bitCnt += 8
        pos += 1
      }
      val code = (bitBuf & ((1 << width) - 1)).toInt
      bitBuf >>>= width
      bitCnt -= width
      if (code == clear) {
        width = minCodeSize + 1; nextFree = eoi + 1; prev = -1
      } else if (code == eoi) {
        return if (outLen == expected) out else null
      } else if (prev == -1) {
        if (code >= clear) return null // first code must be a root
        if (outLen >= expected) return null
        out(outLen) = code; outLen += 1
        prev = code
      } else {
        var first = 0
        if (code < nextFree && code != clear && code != eoi) {
          first = writeEntry(code)
        } else if (code == nextFree) {
          // the KwKwK case: entry = prev's string + its first index
          var c = prev
          while (c >= clear) c = prefix(c)
          if (outLen >= expected) return null
          // temporarily register, then write through the table path
          prefix(nextFree) = prev; suffix(nextFree) = c
          first = writeEntry(code)
        } else return null // beyond the table
        if (first < 0) return null
        if (code != nextFree) { // KwKwK already registered its entry
          if (nextFree < 4096) { prefix(nextFree) = prev; suffix(nextFree) = first }
        }
        if (nextFree < 4096) {
          nextFree += 1
          if (nextFree == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    null // unreachable
  }

  // ------------------------------------------------------------------
  // Container
  // ------------------------------------------------------------------

  /** Interlaced row order for `h` rows: passes at offsets/steps
    * (0,8) (4,8) (2,4) (1,2).
    */
  def interlaceOrder(h: Int): Array[Int] = {
    val out = new Array[Int](h)
    var i = 0
    for ((off, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
      var r = off
      while (r < h) { out(i) = r; i += 1; r += step }
    }
    out
  }

  /** Encode one or more frames sharing a global palette (0xRRGGBB
    * ints, length a power of two ≥ 2). Each frame is (indices,
    * interlaced?); all frames are full-screen. Animated streams are
    * just successive image blocks (no GCE needed for the codec).
    */
  def gifEncode(width: Int, height: Int, palette: Array[Int],
      frames: Seq[(Array[Int], Boolean)]): Array[Byte] = {
    require(frames.nonEmpty && frames.forall(_._1.length == width * height))
    require(palette.length >= 2 && (palette.length & (palette.length - 1)) == 0
      && palette.length <= 256)
    val bits = 31 - Integer.numberOfLeadingZeros(palette.length) // log2
    val minCode = math.max(2, bits)
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(width); w16(height)
    w8(0x80 | 0x70 | (bits - 1)) // GCT present, color res 8, size bits
    w8(0); w8(0) // background index, aspect
    palette.foreach { c => w8(c >> 16); w8(c >> 8); w8(c) }
    for ((indices, interlaced) <- frames) {
      w8(0x2c) // image descriptor
      w16(0); w16(0); w16(width); w16(height)
      w8(if (interlaced) 0x40 else 0x00) // no LCT
      w8(minCode)
      val rowOrder =
        if (interlaced) interlaceOrder(height) else (0 until height).toArray
      val stored = new Array[Int](indices.length)
      var i = 0
      for (r <- rowOrder; c <- 0 until width) {
        stored(i) = indices(r * width + c); i += 1
      }
      val data = lzwEncode(stored, minCode)
      var off = 0
      while (off < data.length) {
        val n = math.min(255, data.length - off)
        w8(n); out.write(data, off, n); off += n
      }
      w8(0) // block terminator
    }
    w8(0x3b) // trailer
    out.toByteArray
  }

  /** Decode the first frame + count all frames; null on corruption. */
  def gifDecode(bytes: Array[Byte]): GifImage = {
    if (bytes == null || bytes.length < 13) return null
    val sig = new String(bytes, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return null
    var pos = 6
    def u8(): Int = { val v = bytes(pos) & 0xff; pos += 1; v }
    def u16(): Int = { val v = u8(); v | (u8() << 8) }
    def has(n: Int): Boolean = pos + n <= bytes.length
    if (!has(7)) return null
    val sw = u16(); val sh = u16()
    val packed = u8(); u8(); u8() // bg, aspect
    var gct: Array[Int] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (!has(3 * n)) return null
      gct = Array.fill(n) { (u8() << 16) | (u8() << 8) | u8() }
    }
    var nFrames = 0
    var first: GifImage = null
    while (true) {
      if (!has(1)) return null
      u8() match {
        case 0x3b => // trailer
          return if (first == null) null
          else GifImage(first.width, first.height, nFrames, first.pixels)
        case 0x21 => // extension: label + sub-blocks
          if (!has(1)) return null
          u8()
          var n = if (has(1)) u8() else return null
          while (n != 0) {
            if (!has(n + 1)) return null
            pos += n; n = u8()
          }
        case 0x2c =>
          if (!has(9)) return null
          u16(); u16() // left, top (frames are full-screen in scope)
          val iw = u16(); val ih = u16()
          val ipacked = u8()
          var pal = gct
          if ((ipacked & 0x80) != 0) {
            val n = 2 << (ipacked & 7)
            if (!has(3 * n)) return null
            val lct = Array.fill(n) { (u8() << 16) | (u8() << 8) | u8() }
            pal = lct
          }
          if (!has(1)) return null
          val minCode = u8()
          // gather the frame's LZW bytes (first frame only; later
          // frames are walked without decode)
          val need = first == null
          val buf = if (need) new java.io.ByteArrayOutputStream() else null
          var n = if (has(1)) u8() else return null
          while (n != 0) {
            if (!has(n + 1)) return null
            if (need) buf.write(bytes, pos, n)
            pos += n; n = u8()
          }
          nFrames += 1
          if (need) {
            if (pal == null || iw <= 0 || ih <= 0 || iw > sw || ih > sh)
              return null
            // decompression-bomb guard: the screen/frame dims are
            // attacker 16-bit fields; cap pixels before the
            // iw·ih-driven allocations (lzw output, pixel buffer) —
            // an OOM is an Error, not an Exception, and would kill
            // the task instead of nulling the row
            if (iw.toLong * ih > (1L << 26)) return null
            val stored = lzwDecode(buf.toByteArray, minCode, iw * ih)
            if (stored == null) return null
            val rowOrder =
              if ((ipacked & 0x40) != 0) interlaceOrder(ih)
              else (0 until ih).toArray
            val px = new Array[Byte](iw * ih * 3)
            var i = 0
            for (r <- rowOrder; c <- 0 until iw) {
              val idx = stored(i); i += 1
              if (idx >= pal.length) return null
              val rgb = pal(idx)
              val o = (r * iw + c) * 3
              px(o) = (rgb >> 16).toByte
              px(o + 1) = (rgb >> 8).toByte
              px(o + 2) = rgb.toByte
            }
            first = GifImage(iw, ih, 1, px)
          }
        case _ => return null
      }
    }
    null // unreachable
  }

  val gifSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)) ++ Multimodal.cornerFields)

  /** Distributed decode: DataFrame(media_id, content) → dimensions,
    * frame count, first/last pixel RGB of the first frame, and the
    * all-channel sum over the first frame (integer-exact — the q123
    * oracle recomputes it closed-form). Corrupt rows → null columns.
    */
  def gifFeatures(media: DataFrame): DataFrame = {
    val enc = Encoders.row(gifSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = gifDecode(r.getAs[Array[Byte]](1))
          if (img == null)
            Row(r.getLong(0), null, null, null, null, null, null,
              null, null, null, null)
          else {
            var sum = 0L
            var i = 0
            while (i < img.pixels.length) { sum += img.pixels(i) & 0xff; i += 1 }
            val last = (img.width * img.height - 1) * 3
            def px(o: Int, ch: Int) = img.pixels(o + ch) & 0xff
            Row(r.getLong(0), img.width, img.height, img.nFrames,
              px(0, 0), px(0, 1), px(0, 2),
              px(last, 0), px(last, 1), px(last, 2), sum)
          }
        }
      }(enc)
  }
}
