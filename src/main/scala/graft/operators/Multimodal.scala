package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.{ByteBuffer, ByteOrder}

/** Multimodal column plumbing (builder-prompt training-data pipeline
  * ops): image/audio payloads as opaque `binary` columns with typed
  * metadata, processed batch-at-a-time in `mapPartitions`.
  *
  * Decode is REAL for every codec-free container that parses in pure
  * Scala — WAV (RIFF PCM, 8/16-bit, any channel count), PPM (binary
  * P6) and BMP (24bpp uncompressed) — implemented from their public
  * byte layouts below. The compressed codecs (jpeg/png) keep the
  * clearly-marked deterministic FAKE by choice, not for want of a
  * decoder: the JDK's ImageIO ships png and jpeg readers, but decoding
  * them is not wired in here. A payload that fails to parse falls back to the
  * fake path with `frames = -1` — the poison-pill discipline a crawl
  * pipeline needs (one corrupt file must not kill a 100 TB job), and
  * the sentinel keeps failures countable downstream.
  *
  * Scale notes: payloads never pass through a groupBy — feature
  * extraction is a narrow mapPartitions; metadata-only queries prune the
  * binary column at the parquet scan (columnar pruning is the whole
  * point of separating `media` from its metadata).
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, format: String, width: Int,
                            height: Int, media: Array[Byte])
  /** `feat` is serialized as a JSON array string (not Array[Double]):
    * the driver's rows-compare sorts every output column and arrays are
    * unhashable there — a string column is compare-friendly while
    * keeping the payload lossless and deterministic. */
  final case class MediaFeatures(doc_id: Long, format: String,
                                 n_bytes: Int, mean_byte: Double,
                                 frames: Int, feat: String)

  // ---- encoders (synthesis + test goldens) ---------------------------

  /** Minimal canonical RIFF/WAVE writer: PCM (format code 1), 16-bit
    * little-endian samples, interleaved by channel. Layout: RIFF header
    * (12 B) + "fmt " chunk (24 B) + "data" chunk header (8 B) + frames.
    */
  def encodeWavPcm16(channels: Int, sampleRate: Int,
                     samples: Array[Short]): Array[Byte] = {
    require(channels > 0 && samples.length % channels == 0)
    val dataLen = samples.length * 2
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * channels * 2)
      .putShort((channels * 2).toShort).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Binary PPM (P6) writer: ASCII header "P6 <w> <h> 255\n" then raw
    * RGB triplets row-major top-down. */
  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3)
    val hdr = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    hdr ++ rgb
  }

  /** 24bpp uncompressed BMP writer: BITMAPFILEHEADER (14 B) +
    * BITMAPINFOHEADER (40 B) + bottom-up BGR rows padded to 4 bytes.
    * Input is top-down RGB (the decoder's output order). */
  def encodeBmp24(w: Int, h: Int, rgbTopDown: Array[Byte]): Array[Byte] = {
    require(rgbTopDown.length == w * h * 3)
    val rowLen = (w * 3 + 3) / 4 * 4
    val dataLen = rowLen * h
    val bb = ByteBuffer.allocate(54 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putInt(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataLen).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) { // bottom-up rows, BGR pixel order
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        bb.put(rgbTopDown(p + 2)).put(rgbTopDown(p + 1)).put(rgbTopDown(p))
        x += 1
      }
      var pad = rowLen - w * 3
      while (pad > 0) { bb.put(0.toByte); pad -= 1 }
      y -= 1
    }
    bb.array()
  }

  // ---- decoders -------------------------------------------------------

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** RIFF/PCM WAV decode: walks the chunk list (sizes padded to even per
    * the RIFF spec, unknown chunks skipped), requires format code 1
    * (PCM) at 8 or 16 bits, and returns the interleaved samples
    * normalized to [-1, 1) — 16-bit signed LE / 32768, 8-bit unsigned
    * (b - 128) / 128, the two PCM conventions. */
  def decodeWav(bytes: Array[Byte]): (Int, Int, Int, Array[Double]) = {
    if (bytes.length < 12) fail("short wav")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def tag4(): String = {
      val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
    }
    if (tag4() != "RIFF") fail("no RIFF magic")
    bb.getInt() // riff size; trust the actual buffer bound instead
    if (tag4() != "WAVE") fail("no WAVE form")
    var channels = -1; var rate = -1; var bits = -1
    var data: Array[Byte] = null
    while (bb.remaining() >= 8 && data == null) {
      val tag = tag4(); val len = bb.getInt()
      if (len < 0 || len > bb.remaining()) fail(s"bad chunk len $len")
      tag match {
        case "fmt " =>
          if (len < 16) fail("short fmt chunk")
          val p0 = bb.position()
          val code = bb.getShort()
          if (code != 1) fail(s"not PCM (fmt code $code)")
          channels = bb.getShort()
          rate = bb.getInt()
          bb.getInt(); bb.getShort() // byte rate, block align
          bits = bb.getShort()
          if (channels <= 0 || rate <= 0 || (bits != 8 && bits != 16))
            fail(s"unsupported PCM shape ch=$channels rate=$rate bits=$bits")
          bb.position(p0 + len + (len & 1))
        case "data" =>
          data = new Array[Byte](len); bb.get(data)
        case _ => // LIST, fact, cue … — skip, sizes pad to even
          bb.position(bb.position() + len + (len & 1))
      }
    }
    if (channels < 0) fail("no fmt chunk")
    if (data == null) fail("no data chunk")
    val bytesPer = bits / 8
    if (data.length % (bytesPer * channels) != 0) fail("ragged data chunk")
    val n = data.length / bytesPer
    val out = new Array[Double](n)
    var i = 0
    if (bits == 16) {
      val db = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
      while (i < n) { out(i) = db.getShort().toDouble / 32768.0; i += 1 }
    } else {
      while (i < n) { out(i) = ((data(i) & 0xFF) - 128) / 128.0; i += 1 }
    }
    (channels, rate, bits, out)
  }

  /** Binary PPM (P6) decode: "P6", then three ASCII integers (width,
    * height, maxval <= 255) separated by whitespace with `#` comments,
    * one whitespace byte, then w*h RGB triplets. */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6')
      fail("no P6 magic")
    var p = 2
    def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def nextInt(): Int = {
      while (p < bytes.length && (isWs(bytes(p)) || bytes(p) == '#')) {
        if (bytes(p) == '#') { // comment runs to end of line
          while (p < bytes.length && bytes(p) != '\n') p += 1
        } else p += 1
      }
      if (p >= bytes.length || bytes(p) < '0' || bytes(p) > '9')
        fail("bad ppm header int")
      var v = 0
      while (p < bytes.length && bytes(p) >= '0' && bytes(p) <= '9') {
        v = v * 10 + (bytes(p) - '0'); p += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) fail("bad ppm dims")
    p += 1 // exactly ONE whitespace byte after maxval (spec)
    if (bytes.length - p < w * h * 3) fail("truncated ppm raster")
    (w, h, java.util.Arrays.copyOfRange(bytes, p, p + w * h * 3))
  }

  /** 24bpp uncompressed BMP decode: validates the BITMAPFILEHEADER +
    * BITMAPINFOHEADER fields it depends on (planes=1, bpp=24,
    * compression=BI_RGB), un-pads the 4-byte-aligned rows, flips
    * bottom-up storage to top-down, and converts BGR to RGB. */
  def decodeBmp(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M')
      fail("no BM magic")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val dataOff = bb.getInt(10)
    val w = bb.getInt(18)
    val hRaw = bb.getInt(22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (bb.getShort(26) != 1) fail("bmp planes != 1")
    if (bb.getShort(28) != 24) fail("not 24bpp")
    if (bb.getInt(30) != 0) fail("compressed bmp")
    if (w <= 0 || h <= 0) fail("bad bmp dims")
    val rowLen = (w * 3 + 3) / 4 * 4
    if (dataOff < 54 || dataOff.toLong + rowLen.toLong * h > bytes.length)
      fail("truncated bmp raster")
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataOff + (if (topDown) y else h - 1 - y) * rowLen
      var x = 0
      while (x < w) {
        val s = srcRow + x * 3; val d = (y * w + x) * 3
        out(d) = bytes(s + 2); out(d + 1) = bytes(s + 1); out(d + 2) = bytes(s)
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  // ---- synthesis ------------------------------------------------------

  /** Deterministic synthetic media table derived from documents: wav /
    * ppm / bmp payloads are REAL encoded files (a pure function of
    * doc_id), jpeg/png payloads stay opaque bytes (no codec in the
    * sandbox; the fake decode path covers them). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id".cast("long")).as[Long]
      .map { id =>
        val r = new graft.corpus.Synth.Rng(graft.corpus.Synth.mix(0x3ED1AL ^ id))
        val fmts = Array("png", "jpeg", "wav", "ppm", "bmp")
        val fmt = fmts(r.nextInt(5))
        val w = 8 + r.nextInt(24)
        val h = 8 + r.nextInt(24)
        val bytes = fmt match {
          case "wav" =>
            val channels = 1 + r.nextInt(2)
            val frames = 16 + r.nextInt(64)
            val samples = Array.fill(frames * channels)(r.nextLong().toShort)
            encodeWavPcm16(channels, 8000, samples)
          case "ppm" =>
            encodePpm(w, h, Array.fill(w * h * 3)(r.nextLong().toByte))
          case "bmp" =>
            encodeBmp24(w, h, Array.fill(w * h * 3)(r.nextLong().toByte))
          case _ =>
            Array.fill((w * h).min(512))(r.nextLong().toByte)
        }
        MediaRow(id, fmt, w, h, bytes)
      }.toDF()
  }

  // ---- feature extraction ---------------------------------------------

  /** STUB decode (deterministic fake) for the compressed codecs the
    * sandbox can't parse (jpeg/png) and for malformed payloads: real
    * deployments swap this for an actual codec; everything around it is
    * production plumbing. */
  def fakeDecode(media: Array[Byte], width: Int, height: Int): Array[Double] = {
    // pretend: 4-bin "histogram" of the payload
    val bins = new Array[Double](4)
    media.foreach(b => bins((b & 0xFF) >> 6) += 1.0)
    bins.map(_ / math.max(1, media.length))
  }

  private def r4(x: Double): Double = math.rint(x * 10000) / 10000

  /** Feature vector + frame count per format. wav: [mean, rms, min,
    * max] over normalized samples, frames = samples/channels. ppm/bmp:
    * [meanR, meanG, meanB, meanLum] / 255, frames = 1. jpeg/png: the
    * fake 4-bin byte histogram, frames = 1. Parse failure: fake
    * histogram with frames = -1 (poison-pill sentinel). */
  private[operators] def decodeFeatures(
      m: MediaRow): (Int, Array[Double]) =
    try {
      m.format match {
        case "wav" =>
          val (channels, _, _, s) = decodeWav(m.media)
          var mean = 0.0; var sq = 0.0
          var mn = Double.MaxValue; var mx = Double.MinValue
          s.foreach { v =>
            mean += v; sq += v * v
            if (v < mn) mn = v; if (v > mx) mx = v
          }
          val n = math.max(1, s.length)
          (s.length / channels,
            Array(mean / n, math.sqrt(sq / n),
              if (s.isEmpty) 0.0 else mn, if (s.isEmpty) 0.0 else mx))
        case "ppm" | "bmp" =>
          val (w, h, rgb) =
            if (m.format == "ppm") decodePpm(m.media) else decodeBmp(m.media)
          var rs = 0.0; var gs = 0.0; var bs = 0.0
          var i = 0
          while (i < rgb.length) {
            rs += (rgb(i) & 0xFF); gs += (rgb(i + 1) & 0xFF)
            bs += (rgb(i + 2) & 0xFF); i += 3
          }
          val px = math.max(1, w * h)
          val (mr, mg, mb) = (rs / px, gs / px, bs / px)
          (1, Array(mr / 255, mg / 255, mb / 255,
            (0.299 * mr + 0.587 * mg + 0.114 * mb) / 255))
        case _ =>
          (1, fakeDecode(m.media, m.width, m.height))
      }
    } catch {
      case _: IllegalArgumentException =>
        (-1, fakeDecode(m.media, m.width, m.height))
    }

  /** q21: batch feature extraction over the binary column. */
  def features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRow]
      .mapPartitions { it =>
        // batch shape: decode partition-at-a-time (the mapInPandas
        // analog); per-element state stays off the driver
        it.map { m =>
          val (frames, px) = decodeFeatures(m)
          val mean = if (m.media.isEmpty) 0.0
                     else m.media.map(b => (b & 0xFF).toDouble).sum / m.media.length
          MediaFeatures(m.doc_id, m.format, m.media.length,
            r4(mean), frames,
            px.map(r4).mkString("[", ",", "]"))
        }
      }.toDF()
      .orderBy($"doc_id")
  }

  /** Metadata-only projection — exists to prove the binary column is
    * pruned at the scan (checked by plan inspection in the spec). */
  def metaOnly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .groupBy($"format")
      .agg(count(lit(1)).as("cnt"), avg($"width").as("avg_w"))
      .orderBy($"format")
  }
}
