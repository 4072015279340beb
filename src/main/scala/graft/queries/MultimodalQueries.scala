package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.Tpch
import graft.operators.{Jpeg, Multimodal}
import Portable._

/** Multimodal queries over real bytes: documents.text as a binary
  * payload column with byte-level features (length, md5 checksum,
  * fixed-stride frame samples), and per-doc synthetic media (PNG, BMP,
  * baseline and progressive JPEG, GIF, TIFF, AVI raw and MJPEG, MP4,
  * PCM / IMA-ADPCM / G.711 WAV) built from doc_id formulas and decoded
  * back by the pure-JVM codecs in graft.operators. Each oracle
  * recomputes the decoded values from the same formulas.
  *
  * Oracle note: DuckDB 1.0 has no BLOB substring, but the corpus is
  * ASCII, so the oracle slices text then encodes — byte-identical.
  */
object MultimodalQueries {

  private val FRAME = 32
  private val STRIDE = 64

  /** One synthesized media row (media_id, content, mime) per document
    * that passes `keep`. The per-row encode is the compute, so the scan
    * splits are fanned out first; `encoder()` runs once per partition
    * (a codec's state, such as a Deflater, lives there) and returns the
    * doc_id → (bytes, mime) encoder.
    */
  private def synthMedia(s: SparkSession, dir: String,
      keep: Column = lit(true))(
      encoder: () => Long => (Array[Byte], String)): DataFrame =
    graft.core.Scan.fanOut(
        Tpch(s, dir).documents.select(col("doc_id")).filter(keep))
      .mapPartitions { rows =>
        val enc = encoder()
        rows.map { r =>
          val d = r.getLong(0)
          val (bytes, mime) = enc(d)
          Row(d, bytes, mime)
        }
      }(Encoders.row(Multimodal.mediaSchema))

  private val q29 = Q(
    "q29_binary_features",
    (s, dir) => {
      val t = Tpch(s, dir)
      val bin = t.documents
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      bin.select(
          col("doc_id"),
          octet_length(col("content")).as("byte_len"),
          md5(col("content")).as("checksum"),
          floor((octet_length(col("content")) + lit(STRIDE - 1))
            / lit(STRIDE.toDouble)).cast("long").as("n_frames"),
          base64(col("content").substr(lit(1), lit(FRAME))).as("frame0_b64"),
          base64(col("content").substr(lit(STRIDE + 1), lit(FRAME))).as("frame1_b64"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
      octet_length(encode(text)) AS byte_len,
      md5(text) AS checksum,
      CAST(floor((octet_length(encode(text)) + ${STRIDE - 1}) / ${STRIDE}.0) AS BIGINT) AS n_frames,
      base64(encode(substr(text, 1, $FRAME))) AS frame0_b64,
      base64(encode(substr(text, ${STRIDE + 1}, $FRAME))) AS frame1_b64
    FROM documents
    ORDER BY doc_id"""))

  // -- q56: REAL container-header decode, oracle-gated ----------------
  // Each doc synthesizes a spec-conformant PNG / BMP / WAV header blob
  // (format by doc_id % 3) whose dimensions are doc_id-derived, via
  // hex-string assembly + unhex. Multimodal.decodeFeatures must then
  // recover width/height/channels from the BYTES — big-endian IHDR
  // reads, little-endian BITMAPINFOHEADER/fmt-chunk reads — while the
  // oracle recomputes them from the doc_id formulas. A decoder that
  // misreads any offset or endianness diverges from the oracle.
  private def be32hex(c: Column): Column = lpad(hex(c), 8, "0")
  private def le32hex(c: Column): Column = {
    val h = be32hex(c)
    concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2))
  }
  private def le16hex(c: Column): Column = {
    val h = lpad(hex(c), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }

  private val q56 = Q(
    "q56_media_decode",
    (s, dir) => {
      val t = Tpch(s, dir)
      val d = t.documents.select(
        col("doc_id"),
        (col("doc_id") % 3).as("fmt"),
        (lit(1) + col("doc_id") % 512).as("w"),
        (lit(1) + (col("doc_id") * 7) % 512).as("h"),
        (lit(8000) + (col("doc_id") % 8) * 1000).as("rate"),
        (lit(1) + col("doc_id") % 2).as("wch"))
      // PNG: sig + IHDR(len=13, type, w BE, h BE, depth 8, color 2
      // (truecolor -> 3 ch), compression/filter/interlace 0) + CRC
      val pngHex = concat(
        lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        be32hex(col("w")), be32hex(col("h")), lit("0802000000" + "00000000"))
      // BMP: BITMAPFILEHEADER (54-byte offset) + BITMAPINFOHEADER
      // (size 40, w/h LE, 1 plane, 24 bpp -> 3 ch) zero-padded
      val bmpHex = concat(
        lit("424D" + "36000000" + "00000000" + "36000000" + "28000000"),
        le32hex(col("w")), le32hex(col("h")),
        lit("0100" + "1800" + "00" * 24))
      // WAV: canonical RIFF/WAVE fmt chunk (PCM, doc-derived channels
      // + sample rate, 16-bit) + empty data chunk
      val wavHex = concat(
        lit("52494646" + "24000000" + "57415645" + "666D7420" + "10000000" + "0100"),
        le16hex(col("wch")), le32hex(col("rate")),
        le32hex(col("rate") * col("wch") * 2), le16hex(col("wch") * 2),
        lit("1000" + "64617461" + "00000000"))
      val media = d.select(
        col("doc_id").as("media_id"),
        unhex(when(col("fmt") === 0, pngHex)
          .when(col("fmt") === 1, bmpHex).otherwise(wavHex)).as("content"),
        when(col("fmt") === 0, lit("image/png"))
          .when(col("fmt") === 1, lit("image/bmp"))
          .otherwise(lit("audio/wav")).as("mime"))
      Multimodal.decodeFeatures(media).orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id,
      CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/bmp'
        ELSE 'audio/wav' END AS mime,
      CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 54 ELSE 44 END AS byte_len,
      CASE doc_id % 3 WHEN 2 THEN 8000 + (doc_id % 8) * 1000
        ELSE 1 + doc_id % 512 END AS width,
      CASE doc_id % 3 WHEN 2 THEN 16 ELSE 1 + (doc_id * 7) % 512 END AS height,
      CASE doc_id % 3 WHEN 2 THEN 1 + doc_id % 2 ELSE 3 END AS channels
    FROM documents
    ORDER BY media_id"""))

  // -- q60: REAL distributed image resize, oracle-gated ----------------
  // Each doc synthesizes an 8x8 uncompressed 24bpp BMP whose pixel
  // channels are doc_id-derived formulas (r=(d+7x+13y)%256 etc.,
  // top-left origin), assembled byte-for-byte (bottom-up BGR rows).
  // Spark resizes to 4x4 nearest-neighbor per partition, re-decodes
  // the EMITTED bmp, and reports corner pixels + Σ(r+g+b); the oracle
  // recomputes those from the formulas at the sampled source coords
  // (out (x,y) -> src (2x,2y)). Wrong padding, row order, channel
  // order, or sampling arithmetic all diverge.
  private val q60 = Q(
    "q60_media_resize",
    (s, dir) => {
      val t = Tpch(s, dir)
      val d = col("doc_id")
      def ch(c: Column): Column = lpad(hex(pmod(c, lit(256))), 2, "0")
      // stored bottom-up: row j carries image y = 7 - j; BGR order.
      // One transform lambda over pixel index i = j*8 + x, not 192
      // unrolled concat terms — the unrolled version stringified to a
      // ~150 KB plan and tripped maxPlanStringLength on every job.
      val pixelHex = array_join(
        transform(sequence(lit(0), lit(63)), i => {
          val j = floor(i / lit(8)).cast("int")
          val x = pmod(i, lit(8))
          val y = lit(7) - j
          concat(
            ch(d + x * y),               // b = (d + x*y) % 256
            ch(d * 3 + x * 5 + y),       // g = (3d + 5x + y) % 256
            ch(d + x * 7 + y * 13))      // r = (d + 7x + 13y) % 256
        }), "")
      val header = lit("424D" + "F6000000" + "00000000" + "36000000" +
        "28000000" + "08000000" + "08000000" + "0100" + "1800" + "00" * 24)
      val media = t.documents.select(d.as("media_id"),
        unhex(concat(header, pixelHex)).as("content"))
      Multimodal.resizeFeatures(media, 4, 4).orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id,
      CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
      CAST(doc_id % 256 AS INT) AS p_first_r,
      CAST((3 * doc_id) % 256 AS INT) AS p_first_g,
      CAST(doc_id % 256 AS INT) AS p_first_b,
      CAST((doc_id + 120) % 256 AS INT) AS p_last_r,
      CAST((3 * doc_id + 36) % 256 AS INT) AS p_last_g,
      CAST((doc_id + 36) % 256 AS INT) AS p_last_b,
      (SELECT CAST(SUM((doc_id + 14 * x + 26 * y) % 256
                     + (3 * doc_id + 10 * x + 2 * y) % 256
                     + (doc_id + 4 * x * y) % 256) AS BIGINT)
       FROM range(0, 4) tx(x), range(0, 4) ty(y)) AS pix_sum
    FROM documents
    ORDER BY media_id"""))

  // -- q61: REAL PCM audio feature extraction, oracle-gated ------------
  // Each doc synthesizes a canonical mono 16-bit WAV whose 64 samples
  // follow s(i) = (d*31 + 17i) % 2003 - 1001 (two's-complement LE
  // encoded). Spark decodes the BYTES back into samples per partition
  // and reports integer-exact amplitude stats (peak, Σ|s|, energy Σs²);
  // the oracle recomputes them from the formula. Sign handling and
  // little-endian decode are load-bearing.
  /** The q61 synthesized PCM corpus: canonical mono 16-bit WAV per
    * doc, samples s(i) = (d·31 + 17i) % 2003 − 1001 — shared by q61
    * (amplitude stats) and q225 (resonator band energies).
    */
  private def pcmMedia(t: Tpch): DataFrame =
    pcm16Wav(t, (0 until 64).map { i =>
      val sample = pmod(col("doc_id") * 31 + lit(17 * i), lit(2003)) - lit(1001)
      le16hex(pmod(sample, lit(65536))) // two's complement 16-bit
    })

  /** Canonical mono 16-bit 8 kHz WAV per doc (media_id, content):
    * `sampleHex` holds the 64 samples as little-endian hex.
    */
  private def pcm16Wav(t: Tpch, sampleHex: Seq[Column]): DataFrame = {
    require(sampleHex.size == 64, "the header declares 64 samples")
    val header = lit("52494646" + "A4000000" + "57415645" + "666D7420" +
      "10000000" + "0100" + "0100" + "401F0000" + "803E0000" + "0200" +
      "1000" + "64617461" + "80000000")
    t.documents.select(col("doc_id").as("media_id"),
      unhex(concat(header +: sampleHex: _*)).as("content"))
  }

  private val q61 = Q(
    "q61_audio_features",
    (s, dir) => {
      val t = Tpch(s, dir)
      Multimodal.audioFeatures(pcmMedia(t)).orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id, CAST(64 AS INT) AS n_samples,
      (SELECT CAST(MAX(ABS((doc_id * 31 + 17 * i) % 2003 - 1001)) AS INT)
       FROM range(0, 64) t(i)) AS peak,
      (SELECT CAST(SUM(ABS((doc_id * 31 + 17 * i) % 2003 - 1001)) AS BIGINT)
       FROM range(0, 64) t(i)) AS sum_abs,
      (SELECT CAST(SUM(((doc_id * 31 + 17 * i) % 2003 - 1001)
                     * ((doc_id * 31 + 17 * i) % 2003 - 1001)) AS BIGINT)
       FROM range(0, 64) t(i)) AS energy
    FROM documents
    ORDER BY media_id"""))

  // -- q89: REAL compressed-PNG pixel decode, oracle-gated -------------
  // Each doc synthesizes an 8x6 8-bit PNG (RGB for even doc_id, RGBA
  // for odd) whose channel values are doc_id-derived formulas, with a
  // DIFFERENT scanline filter per row (type = (doc_id + y) % 5 — all
  // five RFC 2083 filters incl. Paeth exercised on every doc), zlib-
  // compressed via one per-partition Deflater. Multimodal.pngFeatures
  // must then chunk-parse (CRC-verified), Inflater-decompress, and
  // unfilter the BYTES back to pixels; the oracle recomputes the
  // dimensions, corner pixels and whole-image channel sum from the
  // formulas. A wrong filter inverse, Paeth tie-break, row offset, or
  // alpha handling diverges.
  private val PW = 8
  private val PH = 6

  /** q89's PNG of doc `d`: 8x6, RGB for even d and RGBA for odd, with
    * scanline filter (d + y) % 5 on row y.
    */
  private def q89Png(d: Long, deflater: java.util.zip.Deflater)
      : Array[Byte] = {
    val c = if (d % 2 == 0) 3 else 4
    val px = new Array[Byte](PW * PH * c)
    var y = 0
    while (y < PH) {
      var x = 0
      while (x < PW) {
        val i = (y * PW + x) * c
        px(i) = ((d + 7 * x + 13 * y) % 256).toByte
        px(i + 1) = ((3 * d + 5 * x + y) % 256).toByte
        px(i + 2) = ((d + x * y) % 256).toByte
        if (c == 4) px(i + 3) = ((d + x + y) % 256).toByte
        x += 1
      }
      y += 1
    }
    Multimodal.pngEncode(Multimodal.PngImage(PW, PH, c, px),
      yy => ((d + yy) % 5).toInt, deflater)
  }

  private val q89 = Q(
    "q89_png_pixels",
    (s, dir) => {
      val media = synthMedia(s, dir) { () =>
        val deflater = new java.util.zip.Deflater()
        d => (q89Png(d, deflater), "image/png")
      }
      Multimodal.pngFeatures(media).orderBy(col("media_id"))
    },
    Some(s"""SELECT doc_id AS media_id,
      CAST($PW AS INT) AS width, CAST($PH AS INT) AS height,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INT) AS channels,
      CAST(doc_id % 256 AS INT) AS p_first_r,
      CAST((3 * doc_id) % 256 AS INT) AS p_first_g,
      CAST(doc_id % 256 AS INT) AS p_first_b,
      CAST((doc_id + ${7 * (PW - 1) + 13 * (PH - 1)}) % 256 AS INT) AS p_last_r,
      CAST((3 * doc_id + ${5 * (PW - 1) + (PH - 1)}) % 256 AS INT) AS p_last_g,
      CAST((doc_id + ${(PW - 1) * (PH - 1)}) % 256 AS INT) AS p_last_b,
      (SELECT CAST(SUM((doc_id + 7 * x + 13 * y) % 256
                     + (3 * doc_id + 5 * x + y) % 256
                     + (doc_id + x * y) % 256
                     + CASE WHEN doc_id % 2 = 1
                         THEN (doc_id + x + y) % 256 ELSE 0 END) AS BIGINT)
       FROM range(0, $PW) tx(x), range(0, $PH) ty(y)) AS pix_sum
    FROM documents
    ORDER BY media_id"""))

  // -- q118: REAL baseline-JPEG pixel decode, oracle-gated -------------
  // Each doc synthesizes a 16x16 baseline JFIF (4:4:4 YCbCr, flat Q=8
  // quant) whose four 8x8 blocks carry doc_id-derived DC-ONLY
  // coefficients — the regime where the IDCT is integer-exact
  // (IDCT(dc·8)/8 = dc to 1 ulp, absorbed by half-up rounding), so
  // every decoded pixel is closed-form: Y = 128+dcY, then the JFIF
  // YCbCr→RGB doubles, which the oracle mirrors literal-for-literal
  // (multiply/add/floor only — no libm). Spark must huffman-decode the
  // entropy stream (DC prediction chain across 12 blocks, EOB runs),
  // dequantize, IDCT, and color-convert the BYTES back to pixels; the
  // general AC/4:2:0/restart paths are JpegSpec's in-JVM territory.
  // Clamping is exercised: R/B leave [0,255] for ~1/4 of blocks.
  private val JW = 16
  private val JH = 16
  private val JFIF_SAMPLING = Seq((1, 1), (1, 1), (1, 1)) // 4:4:4
  private val JFIF_QUANT = Seq.fill(3)(Array.fill(64)(8)) // flat Q=8

  /** DC-only coefficients of the 16x16 JFIF model (q118, q127, and
    * q200's frame `f`): component c's block (bx, by) holds only its DC
    * term, Y = (5d + 31f + 7bx + 11by) % 200 − 100,
    * Cb = (3d + 13f + bx + 2by) % 100 − 50, Cr = (7d + 19f + 2bx + by)
    * % 100 − 50. Encode with [[JFIF_SAMPLING]] and [[JFIF_QUANT]].
    */
  private def jfifDcBlocks(d: Long, f: Int): (Int, Int, Int) => Array[Int] =
    (c, by, bx) => {
      val a = new Array[Int](64)
      a(0) = c match {
        case 0 => ((d * 5 + f * 31 + bx * 7 + by * 11) % 200).toInt - 100
        case 1 => ((d * 3 + f * 13 + bx + 2 * by) % 100).toInt - 50
        case _ => ((d * 7 + f * 19 + 2 * bx + by) % 100).toInt - 50
      }
      a
    }

  /** Oracle twin of [[jfifDcBlocks]]: the decoded (r, g, b) of frame
    * `f`'s block (bx, by), the JFIF YCbCr→RGB doubles rounded half-up
    * and clamped to [0, 255].
    */
  private def jfifRgbSql(f: String, bx: String, by: String)
      : (String, String, String) = {
    val y = s"(128 + (doc_id*5 + ($f)*31 + ($bx)*7 + ($by)*11) % 200 - 100)"
    val cb = s"((doc_id*3 + ($f)*13 + ($bx) + 2*($by)) % 100 - 50)"
    val cr = s"((doc_id*7 + ($f)*19 + 2*($bx) + ($by)) % 100 - 50)"
    def clamp(e: String) =
      s"LEAST(255, GREATEST(0, CAST(FLOOR($e + 0.5) AS BIGINT)))"
    (clamp(s"$y + 1.402*$cr"),
      clamp(s"$y - 0.344136*$cb - 0.714136*$cr"),
      clamp(s"$y + 1.772*$cb"))
  }

  /** q118's and q127's oracle: both decode the same frame-0 pixels. */
  private val jfifDcSql: String = {
    val (r0, g0, b0) = jfifRgbSql("0", "0", "0")
    val (r1, g1, b1) = jfifRgbSql("0", "1", "1")
    val (rp, gp, bp) = jfifRgbSql("0", "x", "y")
    s"""SELECT doc_id AS media_id,
      CAST($JW AS INT) AS width, CAST($JH AS INT) AS height,
      CAST(3 AS INT) AS channels,
      CAST($r0 AS INT) AS p_first_r,
      CAST($g0 AS INT) AS p_first_g,
      CAST($b0 AS INT) AS p_first_b,
      CAST($r1 AS INT) AS p_last_r,
      CAST($g1 AS INT) AS p_last_g,
      CAST($b1 AS INT) AS p_last_b,
      (SELECT CAST(64 * SUM($rp + $gp + $bp) AS BIGINT)
       FROM range(0, 2) tx(x), range(0, 2) ty(y)) AS pix_sum
    FROM documents
    ORDER BY media_id"""
  }

  private val q118 = Q(
    "q118_jpeg_pixels",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        (Jpeg.jpegEncode(JW, JH, JFIF_SAMPLING, JFIF_QUANT,
          jfifDcBlocks(d, 0)), "image/jpeg")
      }
      Jpeg.jpegFeatures(media).orderBy(col("media_id"))
    },
    Some(jfifDcSql))

  // -- q119: REAL video-container decode + stride frame sampling ------
  // Each doc synthesizes an uncompressed AVI (RIFF hdrl/movi, one
  // 'vids'/'DIB ' stream, 24bpp BI_RGB frames stored as BOTTOM-UP
  // 4-byte-padded BGR rows — the DIB layout, padding exercised at
  // width 6) with 4 + doc_id%3 frames of doc_id/frame-derived pixel
  // formulas. Spark must walk the RIFF chunks, validate the
  // BITMAPINFOHEADER, un-flip + un-pad + BGR→RGB the sampled frames
  // (stride 2 — unsampled frames are seek-skipped, never copied), and
  // report frame counts, corner pixels of the first/last SAMPLED
  // frame, and the all-channel sum over sampled frames; the oracle
  // recomputes everything closed-form. A wrong row flip, pad width,
  // channel order, stride index, or chunk-size walk diverges.
  private val VW = 6
  private val VH = 4
  private val VSTRIDE = 2
  private val q119 = Q(
    "q119_video_frames",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        (graft.operators.VideoAvi.aviEncode(VW, VH, (4 + d % 3).toInt,
          (f, x, y) => (
            ((d + f.toLong * x + 2L * y) % 256).toInt,
            ((2 * d + f + 4L * x + y) % 256).toInt,
            ((d + 3L * f + 5L * x + 7L * y) % 256).toInt)), "video/avi")
      }
      graft.operators.VideoAvi.videoFeatures(media, VSTRIDE)
        .orderBy(col("media_id"))
    },
    Some {
      // last sampled frame index: largest multiple of VSTRIDE < n
      val fL = s"($VSTRIDE * ((4 + doc_id % 3 - 1) // $VSTRIDE))"
      s"""SELECT doc_id AS media_id,
        CAST($VW AS INT) AS width, CAST($VH AS INT) AS height,
        CAST(4 + doc_id % 3 AS INT) AS n_frames,
        CAST((4 + doc_id % 3 + ${VSTRIDE - 1}) // $VSTRIDE AS INT) AS n_sampled,
        CAST(doc_id % 256 AS INT) AS f_first_r,
        CAST((2 * doc_id) % 256 AS INT) AS f_first_g,
        CAST(doc_id % 256 AS INT) AS f_first_b,
        CAST((doc_id + $fL * ${VW - 1} + ${2 * (VH - 1)}) % 256 AS INT) AS l_last_r,
        CAST((2 * doc_id + $fL + ${4 * (VW - 1) + (VH - 1)}) % 256 AS INT) AS l_last_g,
        CAST((doc_id + 3 * $fL + ${5 * (VW - 1) + 7 * (VH - 1)}) % 256 AS INT) AS l_last_b,
        (SELECT CAST(SUM(CASE WHEN f % $VSTRIDE = 0 AND f < 4 + doc_id % 3
            THEN (doc_id + f * x + 2 * y) % 256
               + (2 * doc_id + f + 4 * x + y) % 256
               + (doc_id + 3 * f + 5 * x + 7 * y) % 256
            ELSE 0 END) AS BIGINT)
         FROM range(0, 6) tf(f), range(0, $VW) tx(x), range(0, $VH) ty(y))
          AS pix_sum
      FROM documents
      ORDER BY media_id"""
    })

  // -- q123: REAL GIF decode (LZW), oracle-gated ----------------------
  // Each doc synthesizes an 8x6 16-color GIF (even doc_ids INTERLACED
  // — the 8/8/4/2 pass order must be undone) plus doc_id%3 extra
  // frames (animated container walk), with palette and indices from
  // doc_id-derived integer formulas. LZW is lossless over indices and
  // the palette lookup is integer, so EVERY decoded pixel is
  // closed-form — the oracle recomputes corners and the full channel
  // sum with pure integer arithmetic. A wrong LZW width transition,
  // deinterlace, palette slot, or sub-block walk diverges.
  private val GW = 8
  private val GH = 6
  private val q123 = Q(
    "q123_gif_pixels",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        val pal = Array.tabulate(16)(i =>
          (((d * 7 + i * 13) % 256).toInt << 16) |
            (((d * 11 + i * 17) % 256).toInt << 8) |
            ((d * 3 + i * 29) % 256).toInt)
        val f1 = Array.tabulate(GW * GH)(p => ((d + 5L * p) % 16).toInt)
        val frames = (f1, d % 2 == 0) +: Seq.tabulate((d % 3).toInt)(fi =>
          (Array.tabulate(GW * GH)(p => ((d + p + fi) % 16).toInt), false))
        (graft.operators.Gif.gifEncode(GW, GH, pal, frames), "image/gif")
      }
      graft.operators.Gif.gifFeatures(media).orderBy(col("media_id"))
    },
    Some {
      def idx(p: String) = s"((doc_id + 5*($p)) % 16)"
      def r(i: String) = s"((doc_id*7 + ($i)*13) % 256)"
      def g(i: String) = s"((doc_id*11 + ($i)*17) % 256)"
      def b(i: String) = s"((doc_id*3 + ($i)*29) % 256)"
      s"""SELECT doc_id AS media_id,
        CAST($GW AS INT) AS width, CAST($GH AS INT) AS height,
        CAST(1 + doc_id % 3 AS INT) AS n_frames,
        CAST(${r(idx("0"))} AS INT) AS p_first_r,
        CAST(${g(idx("0"))} AS INT) AS p_first_g,
        CAST(${b(idx("0"))} AS INT) AS p_first_b,
        CAST(${r(idx(s"${GW * GH - 1}"))} AS INT) AS p_last_r,
        CAST(${g(idx(s"${GW * GH - 1}"))} AS INT) AS p_last_g,
        CAST(${b(idx(s"${GW * GH - 1}"))} AS INT) AS p_last_b,
        (SELECT CAST(SUM(${r(idx("p"))} + ${g(idx("p"))} + ${b(idx("p"))})
            AS BIGINT)
         FROM range(0, ${GW * GH}) t(p)) AS pix_sum
      FROM documents
      ORDER BY media_id"""
    })

  // -- q127: PROGRESSIVE (SOF2) JPEG decode, oracle-gated -------------
  // q118's DC-only 16x16 images re-encoded with the progressive
  // progression: interleaved DC-first at Al=1, a DC refinement scan
  // (successive approximation), then per-component AC-first scans
  // whose all-zero bands compress into EOB RUNS spanning blocks.
  // Spark must drive the multi-scan coefficient accumulation (shifted
  // DC + OR-ed refinement bit + EOBRUN bookkeeping) back to the SAME
  // closed-form pixels as q118 — the oracle is byte-for-byte q118's
  // integer/literal-double formula. The AC-refinement scan class is
  // pinned against the JDK ImageIO codec in JpegProgressiveSpec.
  private val q127 = Q(
    "q127_jpeg_progressive",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        (Jpeg.jpegEncodeProgressive(JW, JH, JFIF_SAMPLING, JFIF_QUANT,
          jfifDcBlocks(d, 0), dcAl = 1), "image/jpeg")
      }
      Jpeg.jpegFeatures(media).orderBy(col("media_id"))
    },
    Some(jfifDcSql))

  // -- q152: image NEAR-DUP via perceptual hash, oracle-gated ----------
  // The image member of the dedup matrix. Each subset doc (doc_id%5=0)
  // synthesizes a 64×64 grayscale STEP image — v(x,y) = 16 +
  // 96·[x ≥ 2px] + 96·[y ≥ 2py] with doc-derived odd step positions
  // px, py ∈ {1,3,…,31} — as a zlib PNG (even doc_id, per-row filter
  // cycling) or a bottom-up 24bpp BMP (odd). Such "plus-separable"
  // images have an ANALYTIC pHash: the 8×8 DCT low band is nonzero
  // only on its first row/column, where sign(C(u,0)) =
  // −sign(sin(π·u·px/32)) — i.e. bit u·set ⟺ (u·px mod 64) > 32,
  // pure integer arithmetic (odd px keeps every u·px off the sin
  // zeros; min |C| ≈ 20 ≫ the rounding margin) — the 49 interior
  // coefficients round to exactly 0, pinning the 63-AC median at 0.
  // Spark must therefore decode BOTH codecs, luma, resize, DCT, and
  // median-threshold to the closed-form fingerprint, then surface
  // every pair within hamming ≤ 3 through the banded join; the oracle
  // recomputes the hashes with CASE arithmetic and verifies the pair
  // set EXHAUSTIVELY (all-pairs — the banding must lose nothing:
  // pigeonhole, 4 bands > 3 flips). Shared step positions collide
  // (hamming 0 duplicates); neighboring positions land at hamming
  // 1-3 (true near-dups); everything else stays apart.
  private val IW = 64
  private val ISTEP = 96
  private val IBASE = 16

  /** q152's crafted step-image corpus (see q152's comment), shared by
    * the pair query and the cluster query.
    */
  private def stepMedia(s: SparkSession, dir: String): DataFrame =
    synthMedia(s, dir, col("doc_id") % 5 === 0) { () =>
      val deflater = new java.util.zip.Deflater()
      d => {
        val px = 2 * (d % 16) + 1
        val py = 2 * ((d / 16) % 16) + 1
        def v(x: Int, y: Int): Int =
          IBASE + (if (x >= 2 * px) ISTEP else 0) +
            (if (y >= 2 * py) ISTEP else 0)
        if (d % 2 == 0) {
          val grey = Array.tabulate(IW * IW * 3)(i =>
            v(i / 3 % IW, i / 3 / IW).toByte)
          (Multimodal.pngEncode(Multimodal.PngImage(IW, IW, 3, grey),
            yy => ((d + yy) % 5).toInt, deflater), "image/png")
        } else (Multimodal.bmp24(IW, IW, (x, y) => {
          val g = v(x, y); (g, g, g)
        }), "image/bmp")
      }
    }

  /** q152's closed-form phash CTE (`p(doc_id, ph)`) — shared with the
    * q156 cluster oracle.
    */
  private def stepPhashCte: String = {
    val phx = (1 to 7).map(u =>
      s"(CASE WHEN (($u * (2*(doc_id%16)+1)) % 64) > 32 THEN ${1L << u} ELSE 0 END)")
      .mkString(" + ")
    val phy = (1 to 7).map(v =>
      s"(CASE WHEN (($v * (2*((doc_id//16)%16)+1)) % 64) > 32 THEN ${1L << (8 * v)} ELSE 0 END)")
      .mkString(" + ")
    s"""p AS (
        SELECT doc_id, CAST(1 + $phx + $phy AS BIGINT) AS ph
        FROM documents WHERE doc_id % 5 = 0),
      ipairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
          CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
        FROM p a JOIN p b
          ON a.doc_id < b.doc_id AND bit_count(xor(a.ph, b.ph)) <= 3)"""
  }

  private val q152 = Q(
    "q152_image_neardup",
    (s, dir) => {
      graft.operators.Dedup.imageNearDupPairs(stepMedia(s, dir),
          maxHamming = 3)
        .orderBy(col("d1"), col("d2"))
    },
    Some(s"""WITH $stepPhashCte
      SELECT d1, d2, hamming FROM ipairs
      ORDER BY d1, d2"""))

  // -- q156: image dedup CLUSTERS — q152's verified pair set closed
  //    into connected components (q43's CC machinery over image
  //    fingerprints): the "keep one per duplicate-image group" unit a
  //    multimodal curation pipeline actually deletes by. Same rollup
  //    and recursive-CTE oracle shape as q43. maxHamming = 1 here:
  //    at 3 the crafted patterns chain transitively into ONE giant
  //    component (computed), which pins almost nothing — at 1 the
  //    corpus closes into 22 components with real structure.
  private val q156 = Q(
    "q156_image_dedup_clusters",
    (s, dir) => {
      val pairs = graft.operators.Dedup.imageNearDupPairs(
        stepMedia(s, dir), maxHamming = 1)
      graft.operators.Dedup.connectedComponents(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_imgs"),
          min(col("node")).as("min_media"), max(col("node")).as("max_media"))
        .orderBy(col("component"))
    },
    Some(s"""WITH RECURSIVE $stepPhashCte,
      close AS (SELECT d1, d2 FROM ipairs WHERE hamming <= 1),
      undirected(a, b) AS (
        SELECT d1, d2 FROM close UNION SELECT d2, d1 FROM close),
      reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a),
      labels AS (
        SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a)
      SELECT component, count(*) AS n_imgs,
        min(node) AS min_media, max(node) AS max_media
      FROM labels
      GROUP BY component
      ORDER BY component"""))

  // -- q155: MULTIMODAL interleaved packing, oracle-gated --------------
  // The standard multimodal training-data layout: each doc's BPE id
  // stream (q154's vocab/encode) gains one PLACEHOLDER token per
  // attached image (id = |vocab| — the next free id), inserted at
  // doc-derived text positions (doc_id%3 images, insert-before
  // position (doc_id·7 + j·13) mod (n+1)); the interleaved streams
  // pack into MSEQ-id sequences and every image ref is located at its
  // (seq_id, pos_in_seq) — verified by reading the id AT that
  // position out of the ASSEMBLED sequence (must be the placeholder).
  // A wrong insertion order, off-by-one in the interleave index, or a
  // mis-packed slice all diverge. MSEQ < q154's SEQ_LEN so refs
  // straddle sequence boundaries.
  private val MSEQ = 48
  private val q155 = Q(
    "q155_multimodal_pack",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.{BpeTrainer, TrainingPrep}
      val merges = BpeTrainer.demoMerges
      // project early; no fanOut ahead of the BPE encode (it ran
      // 10-30x slower per row under 32 concurrent tasks — see q154)
      val docs = t.documents.select(col("doc_id"), col("text"))
      val vocab = BpeTrainer.vocabTable(docs, "text", merges)
      val imgId = vocab.count() // |vocab| = next free id (model-sized read)
      val enc = BpeTrainer.bpeEncodeIds(docs, "doc_id", "text",
        merges, vocab)
      val nImgs = (col("doc_id") % 3).cast("int")
      val marksExpr = when(nImgs > 0,
        transform(sequence(lit(0), nImgs - 1), j =>
          struct(
            pmod(col("doc_id") * 7 + j.cast("long") * 13,
              size(col("ids")).cast("long") + 1).cast("int").as("p"),
            (col("doc_id") * 10 + j.cast("long")).as("ref"))))
        .otherwise(array().cast("array<struct<p:int,ref:bigint>>"))
      val inter = TrainingPrep.interleavePlaceholders(
          enc.withColumn("marks", marksExpr), "doc_id", "marks", imgId)
        .withColumn("n_tokens", size(col("ids")).cast("long"))
        .localCheckpoint() // read by assembly AND alignment below
      val seqs = TrainingPrep.packSequences(inter, "doc_id", "n_tokens", MSEQ)
        .withColumnRenamed("ids", "seq_ids")
      val aligned = TrainingPrep.packOffsets(inter, "doc_id", "n_tokens", MSEQ)
        .select(col("doc_id"), col("offset"),
          posexplode(col("refs")).as(Seq("img_idx", "r")))
        .select(col("doc_id"), col("img_idx"),
          col("r.ref").as("media_ref"),
          (col("offset") + col("r.idx")).as("gpos"))
        .withColumn("seq_id", floor(col("gpos") / MSEQ).cast("long"))
        .withColumn("pos_in_seq", pmod(col("gpos"), lit(MSEQ)).cast("int"))
      aligned.join(seqs, Seq("seq_id"))
        .select(col("doc_id"), col("img_idx"), col("media_ref"),
          col("gpos"), col("seq_id"), col("pos_in_seq"),
          element_at(col("seq_ids"), col("pos_in_seq") + 1).as("id_at_pos"))
        .orderBy(col("doc_id"), col("img_idx"))
    },
    Some {
      val nm = graft.operators.BpeTrainer.demoMerges.size
      s"""WITH ${TextAnalysis.bpeDocIdsCtes},
      imgid AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM chars) + $nm AS iid),
      iv AS (
        SELECT doc_id, ids AS tids, CAST(len(ids) AS BIGINT) AS n,
          list_transform(generate_series(0, CAST(doc_id % 3 AS INT) - 1),
            j -> struct_pack(
              p := (doc_id * 7 + j * 13) % (len(ids) + 1),
              jx := j, ref := doc_id * 10 + j)) AS marks
        FROM docids),
      iv2 AS (
        SELECT doc_id,
          flatten(list_transform(generate_series(0, n), i ->
            list_concat(
              list_transform(list_filter(marks, m -> m.p = i), m -> iid),
              CASE WHEN i < n THEN [tids[i + 1]] ELSE [] END))) AS ids,
          list_transform(marks, m -> struct_pack(
            jx := m.jx, ref := m.ref,
            idx := m.p + len(list_filter(marks, m2 ->
              m2.p < m.p OR (m2.p = m.p AND m2.jx < m.jx))))) AS refs
        FROM iv CROSS JOIN imgid),
      offs AS (
        SELECT doc_id, ids, refs, CAST(len(ids) AS BIGINT) AS n,
          CAST(COALESCE(SUM(CAST(len(ids) AS BIGINT)) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS off
        FROM iv2),
      ${graft.operators.TrainingPrep.packSequencesSqlCtes(MSEQ)},
      align AS (
        SELECT doc_id, CAST(r.jx AS INT) AS img_idx, r.ref AS media_ref,
          CAST(off + r.idx AS BIGINT) AS gpos,
          CAST((off + r.idx) // $MSEQ AS BIGINT) AS seq_id,
          CAST((off + r.idx) % $MSEQ AS INT) AS pos_in_seq
        FROM (SELECT doc_id, off, unnest(refs) AS r FROM offs))
      SELECT a.doc_id, a.img_idx, a.media_ref, a.gpos, a.seq_id,
        a.pos_in_seq, s.ids[a.pos_in_seq + 1] AS id_at_pos
      FROM align a JOIN seqs s ON s.seq_id = a.seq_id
      ORDER BY a.doc_id, a.img_idx"""
    })

  // -- q174: REAL MP4 (ISO-BMFF) container walk + stride sampling ----
  //    The second video container next to q119's RIFF/AVI: each doc
  //    synthesizes a spec-conformant MP4 (ftyp/mdat/moov with the full
  //    trak→mdia→minf→stbl sample-table chain, 'raw ' visual entries)
  //    with 3 + doc_id%4 frames of closed-form integer pixels; decode
  //    walks the box tree, reads the 16.16 track dimensions, expands
  //    stsc chunk runs, and resolves every sampled frame through
  //    stco/stsz — a wrong box size, fixed-point shift, or sample-
  //    table offset diverges from the pure-arithmetic oracle.
  private val M4W = 6
  private val M4H = 4
  private val M4TS = 12
  private val M4STR = 2
  private val q174 = Q(
    "q174_mp4_metadata",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        (graft.operators.VideoMp4.mp4Encode(M4W, M4H, (3 + d % 4).toInt,
          M4TS, (f, x, y) => (
            ((d + 2L * f + 3L * x + 5L * y) % 256).toInt,
            ((3L * d + f + x + 2L * y) % 256).toInt,
            ((d + f + 7L * x + y) % 256).toInt)), "video/mp4")
      }
      graft.operators.VideoMp4.mp4Features(media, M4STR)
        .orderBy(col("media_id"))
    },
    Some {
      // last sampled frame: largest multiple of M4STR below n
      val fL = s"($M4STR * ((3 + doc_id % 4 - 1) // $M4STR))"
      s"""SELECT doc_id AS media_id,
        CAST($M4W AS INT) AS width, CAST($M4H AS INT) AS height,
        CAST($M4TS AS BIGINT) AS timescale,
        CAST(3 + doc_id % 4 AS BIGINT) AS duration_ts,
        CAST(3 + doc_id % 4 AS INT) AS n_samples,
        CAST((3 + doc_id % 4 + ${M4STR - 1}) // $M4STR AS INT)
          AS n_sampled,
        CAST(doc_id % 256 AS INT) AS f_first_r,
        CAST((3 * doc_id) % 256 AS INT) AS f_first_g,
        CAST(doc_id % 256 AS INT) AS f_first_b,
        CAST((doc_id + 2 * $fL + ${3 * (M4W - 1) + 5 * (M4H - 1)}) % 256
          AS INT) AS l_last_r,
        CAST((3 * doc_id + $fL + ${(M4W - 1) + 2 * (M4H - 1)}) % 256
          AS INT) AS l_last_g,
        CAST((doc_id + $fL + ${7 * (M4W - 1) + (M4H - 1)}) % 256
          AS INT) AS l_last_b,
        (SELECT CAST(SUM(CASE WHEN f % $M4STR = 0 AND f < 3 + doc_id % 4
            THEN (doc_id + 2 * f + 3 * x + 5 * y) % 256
               + (3 * doc_id + f + x + 2 * y) % 256
               + (doc_id + f + 7 * x + y) % 256
            ELSE 0 END) AS BIGINT)
         FROM range(0, 7) tf(f), range(0, $M4W) tx(x),
           range(0, $M4H) ty(y)) AS pix_sum
      FROM documents
      ORDER BY media_id"""
    })

  // -- q200: MJPEG-in-AVI compressed video decode, oracle-gated -------
  // q119's container walk meets q118's entropy decode: each doc
  // synthesizes an AVI whose stream is 'MJPG' biCompression and whose
  // 3 + doc_id%3 '00dc' chunks each hold a complete 16x16 baseline
  // JFIF (4:4:4, flat Q=8, DC-only blocks — the integer-exact IDCT
  // regime) with doc_id- AND frame-derived coefficients. Spark must
  // walk RIFF, dispatch each SAMPLED chunk (stride 2 — unsampled
  // frames are seek-skipped, never huffman-decoded) through the full
  // baseline JPEG path, and report the q119 frame-stats row; the
  // oracle mirrors the JFIF YCbCr→RGB literals per sampled frame.
  // A wrong chunk walk, stride index, DC prediction chain, or color
  // convert diverges.
  private val MJSTRIDE = 2
  private val q200 = Q(
    "q200_mjpeg_frames",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        val frames = (0 until (3 + d % 3).toInt).map(f =>
          Jpeg.jpegEncode(JW, JH, JFIF_SAMPLING, JFIF_QUANT,
            jfifDcBlocks(d, f)))
        (graft.operators.VideoAvi.aviEncodeMjpeg(JW, JH, frames), "video/avi")
      }
      graft.operators.VideoAvi.videoFeatures(media, MJSTRIDE)
        .orderBy(col("media_id"))
    },
    Some {
      val (r0, g0, b0) = jfifRgbSql("0", "0", "0")
      // last sampled frame: largest multiple of MJSTRIDE < n
      val fL = s"($MJSTRIDE * ((3 + doc_id % 3 - 1) // $MJSTRIDE))"
      val (rL, gL, bL) = jfifRgbSql(fL, "1", "1")
      val (rp, gp, bp) = jfifRgbSql("f", "x", "y")
      s"""SELECT doc_id AS media_id,
        CAST($JW AS INT) AS width, CAST($JH AS INT) AS height,
        CAST(3 + doc_id % 3 AS INT) AS n_frames,
        CAST((3 + doc_id % 3 + ${MJSTRIDE - 1}) // $MJSTRIDE AS INT)
          AS n_sampled,
        CAST($r0 AS INT) AS f_first_r,
        CAST($g0 AS INT) AS f_first_g,
        CAST($b0 AS INT) AS f_first_b,
        CAST($rL AS INT) AS l_last_r,
        CAST($gL AS INT) AS l_last_g,
        CAST($bL AS INT) AS l_last_b,
        (SELECT CAST(64 * SUM(CASE
            WHEN f % $MJSTRIDE = 0 AND f < 3 + doc_id % 3
            THEN $rp + $gp + $bp
            ELSE 0 END) AS BIGINT)
         FROM range(0, 5) tf(f), range(0, 2) tx(x), range(0, 2) ty(y))
          AS pix_sum
      FROM documents
      ORDER BY media_id"""
    })

  // -- q213: REAL IMA-ADPCM compressed-audio decode, oracle-gated ------
  // The audio analogue of q200's MJPEG move: the WAV lane decodes the
  // standard COMPRESSED codec (format 0x0011), not just canonical PCM.
  // Each doc synthesizes a mono ADPCM WAV of two 36-byte blocks: block
  // b seeds predictor (31d+997b)%2003-1001 and step index (d+7b)%89,
  // then 64 nibbles (d+11b+3j)%16, low nibble of each byte first.
  // Spark chunk-walks the RIFF container and replays the spec's
  // shift-cascade quantizer per nibble (Multimodal.adpcmWavSamples →
  // the audioFeatures fmt-tag dispatch); the oracle replays the SAME
  // state machine as a recursive CTE over the published step tables
  // and aggregates identical integer-exact amplitude stats. A wrong
  // shift truncation, sample/index clamp, index advance, nibble
  // order, or per-block state reset diverges.
  private val ADP_BA = 36 // block align (bytes): 64 nibbles, 65 samples
  private val q213 = Q(
    "q213_adpcm_audio",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        val nb = 2
        val bb = java.nio.ByteBuffer.allocate(nb * ADP_BA)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var b = 0
        while (b < nb) {
          val p0 = ((d * 31 + 997 * b) % 2003 - 1001).toInt
          val i0 = ((d + 7 * b) % 89).toInt
          bb.putShort(p0.toShort).put(i0.toByte).put(0.toByte)
          var k = 0
          while (k < ADP_BA - 4) {
            val lo = ((d + 11 * b + 3 * (2 * k)) % 16).toInt
            val hi = ((d + 11 * b + 3 * (2 * k + 1)) % 16).toInt
            bb.put(((lo | (hi << 4)) & 0xff).toByte)
            k += 1
          }
          b += 1
        }
        (Multimodal.monoWav(0x11, 8000, 8000 * ADP_BA / 65, ADP_BA, 4,
          Seq(2, 65), bb.array()), "audio/wav")
      }
      Multimodal.audioFeatures(media).orderBy(col("media_id"))
    },
    Some {
      val stepsLit =
        graft.operators.Multimodal.AdpcmSteps.mkString("[", ", ", "]")
      s"""WITH RECURSIVE dec(doc_id, b, j, pred, idx) AS (
        SELECT d.doc_id, b.b, 0,
          CAST((d.doc_id * 31 + 997 * b.b) % 2003 - 1001 AS INT),
          CAST((d.doc_id + 7 * b.b) % 89 AS INT)
        FROM documents d CROSS JOIN (SELECT unnest([0, 1]) AS b) b
        UNION ALL
        SELECT doc_id, b, j + 1,
          CAST(greatest(-32768, least(32767,
            CASE WHEN nib >= 8 THEN pred - diff ELSE pred + diff END))
            AS INT),
          CAST(greatest(0, least(88,
            idx + CASE WHEN nib % 8 < 4 THEN -1
                       ELSE (nib % 8 - 3) * 2 END)) AS INT)
        FROM (
          SELECT doc_id, b, j, pred, idx, nib,
            CAST(st // 8
              + CASE WHEN nib % 2 = 1 THEN st // 4 ELSE 0 END
              + CASE WHEN (nib // 2) % 2 = 1 THEN st // 2 ELSE 0 END
              + CASE WHEN (nib // 4) % 2 = 1 THEN st ELSE 0 END AS INT)
              AS diff
          FROM (
            SELECT doc_id, b, j, pred, idx,
              CAST((doc_id + 11 * b + 3 * j) % 16 AS INT) AS nib,
              ($stepsLit)[idx + 1] AS st
            FROM dec WHERE j < 64))
      )
      SELECT doc_id AS media_id, CAST(count(*) AS INT) AS n_samples,
        CAST(max(abs(pred)) AS INT) AS peak,
        CAST(sum(abs(pred)) AS BIGINT) AS sum_abs,
        CAST(sum(CAST(pred AS BIGINT) * pred) AS BIGINT) AS energy
      FROM dec GROUP BY doc_id ORDER BY media_id"""
    })

  // -- q217: G.711 µ-law/A-law compressed-audio decode, oracle-gated --
  // Completes the WAV codec family (PCM q61, IMA-ADPCM q213): the
  // telephony log-companded codecs, format tags 0x0007/0x0006. Unlike
  // ADPCM there is no running state — each byte expands independently
  // by the published segment/mantissa formula — so the oracle is pure
  // closed-form bit math over a range table, no recursion. Each doc
  // synthesizes a mono 8-bit WAV (µ-law for even doc_id, A-law for
  // odd; byte j = (13d+7j) mod 256, length 48 + d mod 5) and the
  // audioFeatures fmt-tag dispatch decodes it. A wrong bias, segment
  // shift, 0x55 toggle, sign convention (A-law's is INVERTED relative
  // to µ-law's), or dispatch tag diverges.
  private val q217 = Q(
    "q217_g711_audio",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        val tag = if (d % 2 == 0) 0x0007 else 0x0006
        val data = Array.tabulate((48 + d % 5).toInt)(j =>
          ((d * 13 + 7 * j) % 256).toByte)
        (Multimodal.monoWav(tag, 8000, 8000, 1, 8, Nil, data), "audio/wav")
      }
      Multimodal.audioFeatures(media).orderBy(col("media_id"))
    },
    Some {
      // µ-law: complement, bias-132 segment expansion
      val mu = """(CASE WHEN (255 - v) // 128 = 1
          THEN 132 - ((((255 - v) % 16) * 8 + 132) * (1 << (((255 - v) // 16) % 8)))
          ELSE ((((255 - v) % 16) * 8 + 132) * (1 << (((255 - v) // 16) % 8))) - 132
        END)"""
      // A-law: 0x55 toggle, then per-segment expansion; sign inverted
      val alT = """(CASE WHEN (xor(v, 85) // 16) % 8 = 0
          THEN (xor(v, 85) % 16) * 16 + 8
          WHEN (xor(v, 85) // 16) % 8 = 1
          THEN (xor(v, 85) % 16) * 16 + 264
          ELSE ((xor(v, 85) % 16) * 16 + 264)
               * (1 << ((xor(v, 85) // 16) % 8 - 1))
        END)"""
      val al = s"(CASE WHEN xor(v, 85) // 128 = 1 THEN $alT ELSE -$alT END)"
      s"""WITH s AS (
        SELECT d.doc_id, j,
          CAST((d.doc_id * 13 + 7 * j) % 256 AS INT) AS v
        FROM documents d, range(0, 52) t(j)
        WHERE j < 48 + d.doc_id % 5),
      dec AS (
        SELECT doc_id,
          CAST(CASE WHEN doc_id % 2 = 0 THEN $mu ELSE $al END AS INT)
            AS smp
        FROM s)
      SELECT doc_id AS media_id, CAST(count(*) AS INT) AS n_samples,
        CAST(max(abs(smp)) AS INT) AS peak,
        CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
        CAST(sum(CAST(smp AS BIGINT) * smp) AS BIGINT) AS energy
      FROM dec GROUP BY doc_id ORDER BY media_id"""
    })

  // -- q225: resonator-bank spectral features, oracle-gated ------------
  // Real DSP on the audio lane beyond amplitude stats: Goertzel's
  // two-pole recurrence s_n = x_n + c·s_{n-1} − s_{n-2} at four
  // RATIONAL coefficients c = 2cos(ω) ∈ {1.5, 1.0, 0.0, −1.0} (bands
  // near ω ≈ 0.72, π/3, π/2, 2π/3 of the sample rate; rational c ⇒
  // no libm, every step the same three IEEE ops both engines). Runs
  // over q61's synthesized PCM corpus; the oracle replays the filter
  // state as a recursive CTE and the final-state band energy
  // s₁² + s₂² − c·s₁·s₂ bit-exactly. A wrong recurrence order, state
  // shift, or energy formula diverges.
  private val RES_COEFFS = Seq(1.5, 1.0, 0.0, -1.0)

  /** Oracle replay of the resonator bank over [[pcmMedia]]: the
    * recursive CTE `res(doc_id, bi, c, j, s1, s2)`, band `bi`'s filter
    * state after `j` samples.
    */
  private def pcmResonatorCte(coeffs: Seq[Double]): String = {
    val cs = coeffs.map(c => s"CAST($c AS DOUBLE)").mkString(", ")
    val bis = coeffs.indices.mkString(", ")
    s"""res(doc_id, bi, c, j, s1, s2) AS (
        SELECT d.doc_id, b.bi, b.c, 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
        FROM documents d CROSS JOIN
          (SELECT unnest([$bis]) AS bi, unnest([$cs]) AS c) b
        UNION ALL
        SELECT doc_id, bi, c, j + 1,
          CAST((doc_id * 31 + 17 * j) % 2003 - 1001 AS DOUBLE)
            + c * s1 - s2,
          s1
        FROM res WHERE j < 64
      )"""
  }

  private val q225 = Q(
    "q225_resonator_bands",
    (s, dir) => {
      val t = Tpch(s, dir)
      Multimodal.resonatorFeatures(pcmMedia(t), RES_COEFFS)
        .select(col("media_id"), col("bin_idx"), col("coeff"),
          pround(col("energy"), 6).as("energy"))
        .orderBy(col("media_id"), col("bin_idx"))
    },
    Some(s"""WITH RECURSIVE ${pcmResonatorCte(RES_COEFFS)}
      SELECT doc_id AS media_id, CAST(bi AS INT) AS bin_idx, c AS coeff,
        ${proundSql("s1 * s1 + s2 * s2 - c * s1 * s2", 6)} AS energy
      FROM res WHERE j = 64
      ORDER BY media_id, bin_idx"""))

  // -- q232: MFCC-style cepstral features, oracle-gated ----------------
  // The full classic chain on q225's resonator lane: 13 RATIONAL
  // Goertzel coefficients (descending c = ascending ω, denser at low ω
  // — mel-like spacing), triangular pooling of bands 2f..2f+2 with
  // weights (0.5, 1, 0.5) into 6 filters, log compression via the
  // DETERMINISTIC ln (exact power-of-2 range reduction + fixed Horner
  // atanh series — two-operand IEEE ops in pinned order, no libm; see
  // Multimodal.lnDet), DCT-II over the 6 log-energies keeping k = 0..3.
  // The oracle replays every stage: the 13-band recursive-CTE filter
  // states (q225's shape), the pooling sums, the 6-step ln reduction
  // as chained CTE columns, the Horner polynomial, and the
  // order-pinned DCT fold against the SAME literal cosine table the
  // engine multiplies with (StrictMath-fixed, interpolated as
  // shortest-roundtrip decimals — both parsers return the identical
  // doubles). A wrong filter order, pooling weight, reduction step,
  // series term, or basis row diverges bit-exactly.
  private val MFCC_COEFFS = Seq(1.95, 1.9, 1.8, 1.65, 1.45, 1.2, 0.9,
    0.5, 0.0, -0.6, -1.2, -1.8, -1.95)
  private val MFCC_K = 4
  private val q232 = Q(
    "q232_mfcc",
    (s, dir) => {
      val t = Tpch(s, dir)
      Multimodal.mfccFeatures(pcmMedia(t), MFCC_COEFFS, MFCC_K)
        .select(col("media_id"), col("k"),
          pround(col("mfcc"), 6).as("mfcc"))
        .orderBy(col("media_id"), col("k"))
    },
    Some {
      val nf = (MFCC_COEFFS.length - 1) / 2
      val dct = Multimodal.dctTable(MFCC_K, nf)
      val dctLit = dct.map(_.map(v => s"CAST($v AS DOUBLE)")
        .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""WITH RECURSIVE ${pcmResonatorCte(MFCC_COEFFS)},
      bande AS (
        SELECT doc_id, bi, s1 * s1 + s2 * s2 - c * s1 * s2 AS en
        FROM res WHERE j = 64),
      pooled AS (
        SELECT a.doc_id, fx.f,
          ((0.5 * a.en + b.en) + 0.5 * c2.en) + CAST(1 AS DOUBLE) AS px
        FROM (SELECT unnest(generate_series(0, ${nf - 1})) AS f) fx
        JOIN bande a ON a.bi = 2 * fx.f
        JOIN bande b ON b.doc_id = a.doc_id AND b.bi = 2 * fx.f + 1
        JOIN bande c2 ON c2.doc_id = a.doc_id AND c2.bi = 2 * fx.f + 2),
      ${lnDetSqlCtes("", "pooled", "doc_id, f", "px")}
      SELECT doc_id AS media_id, CAST(k.k AS INT) AS k,
        ${proundSql(
          s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(v.lnp * ($dctLit)[k.k + 1][v.f + 1] ORDER BY v.f)),
            (a, b) -> a + b)""", 6)} AS mfcc
      FROM lnv v
      CROSS JOIN (SELECT unnest(generate_series(0, ${MFCC_K - 1})) AS k) k
      GROUP BY doc_id, k.k
      ORDER BY media_id, k"""
    })

  // -- q308: Haitsma–Kalker audio near-dup pairs — the AUDIO member
  //    of the dedup matrix ([[graft.operators.Dedup.audioNearDupPairs]]
  //    over [[Multimodal.audioFingerprints]]): framed Goertzel bank
  //    (9 rational-c bands, 16-sample frames, hop 6 → 9 frames) →
  //    sign-of-energy-delta bit per (frame, band-edge) → exactly
  //    8·8 = 64 bits frame-major (every 16-bit band of the hamming
  //    join carries real bits — a short fp would zero a band and turn
  //    it into one corpus-wide bucket), then q152's banded hamming
  //    join at ≤ 3 with the cap SMALL (64) so the whole-bucket drop
  //    policy is exercised live and REPLAYED by the oracle (HAVING
  //    count(*) <= cap — capBuckets drops whole buckets, so the cap
  //    is deterministic SQL, not engine luck). The audio corpus is a
  //    closed-form WAV synth with planted structure: class
  //    k = doc_id div 8 picks offset AND slope (spectra differ across
  //    classes), variant v = doc_id mod 8 adds a v-scaled one-sample
  //    spike (t = 40) — within a class the hamming spread is 0..~9,
  //    so the ≤ 3 cutoff genuinely separates (measured at sf0.01:
  //    1613 pairs pre-cap, incl. 38 cross-class). The oracle replays
  //    the filter states as a recursive CTE (q225's shape, per
  //    frame), the bits as energy-difference comparisons, the band
  //    values as bit·2^i sums, and the hamming as a bit-level join —
  //    no 64-bit packing, so DuckDB's checked `<<` never overflows
  //    at bit 63.
  private val AHK_COEFFS =
    Seq(1.9, 1.5, 1.0, 0.5, 0.0, -0.5, -1.0, -1.5, -1.9)
  private val AHK_FRAME = 16
  private val AHK_HOP = 6
  private val AHK_HAM = 3
  private val AHK_CAP = 64

  /** Near-dup audio corpus: 64 16-bit PCM samples per doc,
    * x_t = (k·53 + (17 + 3·(k mod 29))·t) mod 2003 − 1001
    *       + 8·v·[t = 40],  k = doc div 8, v = doc mod 8.
    */
  private def hkMedia(t: Tpch): DataFrame = {
    val d = col("doc_id")
    val k = shiftrightunsigned(d, 3)
    val v = d.bitwiseAND(lit(7L))
    val slope = lit(17L) + pmod(k, lit(29L)) * lit(3L)
    pcm16Wav(t, (0 until 64).map { ti =>
      val base = pmod(k * lit(53L) + slope * lit(ti.toLong), lit(2003L)) -
        lit(1001L)
      val sample = if (ti == 40) base + v * lit(8L) else base
      le16hex(pmod(sample, lit(65536L)))
    })
  }

  private val q308 = Q(
    "q308_audio_neardup",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Dedup.audioNearDupPairs(hkMedia(t), AHK_COEFFS,
          AHK_FRAME, AHK_HOP, AHK_HAM, maxBucket = AHK_CAP)
        .orderBy(col("d1"), col("d2"))
    },
    Some {
      val bis = AHK_COEFFS.indices.mkString(", ")
      val cs = AHK_COEFFS.map(c => s"CAST($c AS DOUBLE)").mkString(", ")
      val nf = (64 - AHK_FRAME) / AHK_HOP + 1
      s"""WITH RECURSIVE res(doc_id, f, bi, c, j, s1, s2) AS (
        SELECT d.doc_id, fr.f, b.bi, b.c, 0,
          CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, ${nf - 1})) AS f) fr
        CROSS JOIN (SELECT unnest([$bis]) AS bi, unnest([$cs]) AS c) b
        UNION ALL
        SELECT doc_id, f, bi, c, j + 1,
          CAST(((doc_id // 8) * 53
              + (17 + 3 * ((doc_id // 8) % 29)) * (f * $AHK_HOP + j))
              % 2003 - 1001
            + CASE WHEN f * $AHK_HOP + j = 40
                THEN 8 * (doc_id % 8) ELSE 0 END AS DOUBLE)
            + c * s1 - s2,
          s1
        FROM res WHERE j < $AHK_FRAME
      ),
      en AS (
        SELECT doc_id, f, bi, s1 * s1 + s2 * s2 - c * s1 * s2 AS en
        FROM res WHERE j = $AHK_FRAME),
      bits AS (
        SELECT e1.doc_id, (e1.f - 1) * 8 + e1.bi AS bit_idx,
          CASE WHEN (e1.en - e2.en) - (e3.en - e4.en) > 0
            THEN 1 ELSE 0 END AS bit
        FROM en e1
        JOIN en e2 ON e2.doc_id = e1.doc_id AND e2.f = e1.f
          AND e2.bi = e1.bi + 1
        JOIN en e3 ON e3.doc_id = e1.doc_id AND e3.f = e1.f - 1
          AND e3.bi = e1.bi
        JOIN en e4 ON e4.doc_id = e1.doc_id AND e4.f = e1.f - 1
          AND e4.bi = e1.bi + 1
        WHERE e1.f >= 1 AND e1.bi < 8),
      bvals AS (
        SELECT doc_id, bit_idx // 16 AS band_idx,
          sum(bit * (1::BIGINT << (bit_idx % 16))) AS band_val
        FROM bits GROUP BY doc_id, bit_idx // 16),
      ok AS (
        SELECT band_idx, band_val FROM bvals
        GROUP BY band_idx, band_val HAVING count(*) <= $AHK_CAP),
      cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bvals a
        JOIN ok o ON o.band_idx = a.band_idx AND o.band_val = a.band_val
        JOIN bvals b ON b.band_idx = a.band_idx
          AND b.band_val = a.band_val AND a.doc_id < b.doc_id),
      ham AS (
        SELECT c.d1, c.d2,
          CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS INT)
            AS hamming
        FROM cand c
        JOIN bits x ON x.doc_id = c.d1
        JOIN bits y ON y.doc_id = c.d2 AND y.bit_idx = x.bit_idx
        GROUP BY c.d1, c.d2)
      SELECT d1, d2, hamming FROM ham WHERE hamming <= $AHK_HAM
      ORDER BY d1, d2"""
    })

  // -- M19: baseline TIFF decode ([[graft.operators.Tiff]]) — the
  //    archival-format member of the codec lane (PNG q89 / JPEG q118 /
  //    GIF q123 / BMP q56): 8-bit gray AND RGB, multi-strip, both
  //    Compression=1 and PackBits=32773 exercised by id parity, both
  //    byte orders on read. Deterministic synthetic pixels
  //    p(i) = (id + 11·i) mod 256 mean the oracle PREDICTS the decoded
  //    first/last/byte-sum arithmetically — a wrong strip boundary,
  //    PackBits run, or IFD offset shifts the exact sum.
  private val TW = 8
  private val TH = 6
  private val q258 = Q(
    "q258_tiff_pixels",
    (s, dir) => {
      val media = synthMedia(s, dir) { () => d =>
        val c = if (d % 2 == 0) 3 else 1
        val px = Array.tabulate(TW * TH * c)(i => ((d + 11L * i) % 256).toByte)
        (graft.operators.Tiff.encode(
          graft.operators.Tiff.TiffImage(TW, TH, c, px),
          rowsPerStrip = 3, packBits = d % 3 == 0), "image/tiff")
      }
      graft.operators.Tiff.tiffFeatures(media).orderBy(col("media_id"))
    },
    Some(s"""SELECT doc_id AS media_id,
      CAST($TW AS INT) AS width, CAST($TH AS INT) AS height,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) AS channels,
      CAST(doc_id % 256 AS INT) AS p_first,
      CAST((doc_id + 11 * ($TW * $TH
        * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END) - 1)) % 256 AS INT)
        AS p_last,
      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(generate_series(0, $TW * $TH
          * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END) - 1),
          i -> (doc_id + 11 * i) % 256)),
        (a, b) -> a + b) AS BIGINT) AS psum
    FROM documents
    ORDER BY media_id"""))

  // -- M20: SSIM image-similarity metrology — the PERCEPTUAL distance
  //    next to q152's pHash bit distance: pHash answers "same image?",
  //    SSIM answers "how degraded?" — the metric an image-dedup
  //    pipeline reports when it keeps one of a near-dup pair. Global
  //    (single-window) SSIM on the R plane between each doc_id % 10
  //    image and its d+2 sibling (same parity ⇒ same channel count):
  //    both sides ride the REAL PNG encode → decode round trip (mixed
  //    per-row filters, the q89 codec path), reduce to five INTEGER
  //    moment sums in the decode pass, and evaluate the SSIM formula
  //    as identical pinned double ops (column expressions here, the
  //    same text in the oracle — the oracle derives the sums from the
  //    closed-form pixel model, so a codec bug, a filter-undo bug, or
  //    a moment error all break parity). C1/C2 are the standard
  //    (0.01·255)², (0.03·255)² literals.
  private val SSIM_C1 = 6.5025
  private val SSIM_C2 = 58.5225
  private val q279 = Q(
    "q279_ssim_pairs",
    (s, dir) => {
      val t = Tpch(s, dir)
      import org.apache.spark.sql.types._
      val sumSchema = StructType(Seq(
        StructField("media_id", LongType),
        StructField("n_px", LongType),
        StructField("sx", LongType), StructField("sy", LongType),
        StructField("sxx", LongType), StructField("syy", LongType),
        StructField("sxy", LongType)))
      val sums = graft.core.Scan.fanOut(
          t.documents.select(col("doc_id")).filter(col("doc_id") % 10 === 0))
        .mapPartitions { rows =>
          val deflater = new java.util.zip.Deflater()
          val inflater = new java.util.zip.Inflater()
          rows.map { r =>
            val d = r.getLong(0)
            val a = Multimodal.pngDecode(q89Png(d, deflater), inflater)
            val b = Multimodal.pngDecode(q89Png(d + 2, deflater), inflater)
            var sx = 0L; var sy = 0L; var sxx = 0L; var syy = 0L
            var sxy = 0L
            var i = 0
            val n = PW * PH
            while (i < n) {
              val pa = a.pixels(i * a.channels) & 0xff
              val pb = b.pixels(i * b.channels) & 0xff
              sx += pa; sy += pb
              sxx += pa.toLong * pa; syy += pb.toLong * pb
              sxy += pa.toLong * pb
              i += 1
            }
            Row(d, n.toLong, sx, sy, sxx, syy, sxy)
          }
        }(Encoders.row(sumSchema))
      val nD = col("n_px").cast("double")
      val mx = col("sx").cast("double") / nD
      val my = col("sy").cast("double") / nD
      val vx = col("sxx").cast("double") / nD - mx * mx
      val vy = col("syy").cast("double") / nD - my * my
      val cv = col("sxy").cast("double") / nD - mx * my
      sums.select(col("media_id"), col("n_px"),
          pround(mx, 4).as("mean_a"), pround(my, 4).as("mean_b"),
          pround((lit(2.0) * mx * my + lit(SSIM_C1))
            * (lit(2.0) * cv + lit(SSIM_C2))
            / ((mx * mx + my * my + lit(SSIM_C1))
              * (vx + vy + lit(SSIM_C2))), 6).as("ssim"))
        .orderBy(col("media_id"))
    },
    Some(s"""WITH px AS (
        SELECT d.doc_id AS media_id,
          CAST((d.doc_id + 7 * xs.x + 13 * ys.y) % 256 AS BIGINT) AS r1,
          CAST((d.doc_id + 2 + 7 * xs.x + 13 * ys.y) % 256 AS BIGINT)
            AS r2
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        CROSS JOIN (SELECT unnest(generate_series(0, ${PW - 1})) AS x) xs
        CROSS JOIN (SELECT unnest(generate_series(0, ${PH - 1})) AS y) ys),
      sums AS (
        SELECT media_id, CAST(count(*) AS BIGINT) AS n_px,
          CAST(sum(r1) AS BIGINT) AS sx, CAST(sum(r2) AS BIGINT) AS sy,
          CAST(sum(r1 * r1) AS BIGINT) AS sxx,
          CAST(sum(r2 * r2) AS BIGINT) AS syy,
          CAST(sum(r1 * r2) AS BIGINT) AS sxy
        FROM px GROUP BY media_id),
      m AS (
        SELECT media_id, n_px,
          CAST(sx AS DOUBLE) / CAST(n_px AS DOUBLE) AS mx,
          CAST(sy AS DOUBLE) / CAST(n_px AS DOUBLE) AS my,
          CAST(sxx AS DOUBLE) / CAST(n_px AS DOUBLE) AS exx,
          CAST(syy AS DOUBLE) / CAST(n_px AS DOUBLE) AS eyy,
          CAST(sxy AS DOUBLE) / CAST(n_px AS DOUBLE) AS exy
        FROM sums)
      SELECT media_id, n_px,
        ${proundSql("mx", 4)} AS mean_a,
        ${proundSql("my", 4)} AS mean_b,
        ${proundSql(
          s"""(2.0 * mx * my + $SSIM_C1) * (2.0 * (exy - mx * my)
             + $SSIM_C2) / ((mx * mx + my * my + $SSIM_C1)
             * ((exx - mx * mx) + (eyy - my * my) + $SSIM_C2))""", 6)}
          AS ssim
      FROM m
      ORDER BY media_id"""))

  val all: Seq[Q] = Seq(q29, q56, q60, q61, q89, q118, q119, q123, q127,
    q152, q155, q156, q174, q200, q213, q217, q225, q232, q258, q279,
    q308)
}
