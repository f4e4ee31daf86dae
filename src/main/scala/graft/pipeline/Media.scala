package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata, processed per partition via
  * mapPartitions (the Scala analogue of mapInPandas batching).
  *
  * Two tiers:
  *  - UNCOMPRESSED container formats (RIFF/WAVE PCM16 audio, P6 PPM images)
  *    get REAL decoders below — header parsing and sample/pixel feature
  *    extraction are pure byte arithmetic, no codec library needed, and the
  *    oracle queries recompute the features from the payload-generating
  *    arithmetic, so the parsers themselves are hash-checked end to end.
  *  - COMPRESSED formats with a pure-JVM decode path get REAL decoders
  *    too: PNG (zlib DEFLATE via java.util.zip.Inflater + CRC-32 chunk
  *    verification + full filter reconstruction), baseline JPEG (pure-JVM
  *    ITU-T T.81 Huffman + IDCT — see graft.pipeline.Jpeg), GIF
  *    (pure-JVM variable-width LZW), and gzip/zstd/bzip2 text payloads
  *    (zstd-jni and commons-compress ship inside the Spark distribution).
  * Codecs with no pure-JVM decoder (mp3/h264 — video and perceptual audio)
  * are not supported.
  */
object Media {

  /** Pure-Column metadata projection over a binary payload column:
    * byte length + md5 — stays inside whole-stage codegen. */
  def metadata(df: DataFrame, binCol: String, keyCol: String): DataFrame =
    df.select(col(keyCol), length(col(binCol)).as("n_bytes"),
      md5(col(binCol)).as("content_md5"))

  // ---- REAL uncompressed-format decoders (no codec libs needed) ----

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Deterministic RIFF/WAVE PCM16 mono payload per key: sample i =
    * ((key·131 + i·7919) mod 65536) − 32768 — pure row arithmetic, so the
    * oracle can recompute every decoded feature without touching bytes. */
  def synthesizeWav(df: DataFrame, keyCol: String, nSamples: Int = 64,
                    sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    val schema = new StructType()
      .add("key", LongType, false).add("wav", BinaryType, false)
    val rdd = df.select(col(keyCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val key = r.getLong(0)
        val dataLen = nSamples * 2
        val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1) // PCM, mono
          .putInt(sampleRate).putInt(sampleRate * 2)
          .putShort(2).putShort(16) // block align, bits
          .put("data".getBytes("US-ASCII")).putInt(dataLen)
        var i = 0
        while (i < nSamples) {
          bb.putShort((((key * 131 + i.toLong * 7919) % 65536) - 32768).toShort)
          i += 1
        }
        Row(key, bb.array())
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Deterministic G.711 RIFF/WAVE payload per key: companded byte i =
    * (key·59 + i·17) mod 256, fmt = µ-law (7) for even keys, A-law (6)
    * for odd — pure row arithmetic, so the oracle reimplements the ITU-T
    * expansion formulas in SQL and recomputes the RMS exactly. */
  def synthesizeWavG711(df: DataFrame, keyCol: String, nSamples: Int = 64,
                        sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    val schema = new StructType()
      .add("key", LongType, false).add("wav", BinaryType, false)
    val rdd = df.select(col(keyCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val key = r.getLong(0)
        val fmt = if (key % 2 == 0) 7 else 6
        val bb = java.nio.ByteBuffer.allocate(44 + nSamples)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + nSamples)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(fmt.toShort).putShort(1) // G.711, mono
          .putInt(sampleRate).putInt(sampleRate)
          .putShort(1).putShort(8) // block align, bits
          .put("data".getBytes("US-ASCII")).putInt(nSamples)
        var i = 0
        while (i < nSamples) {
          bb.put((((key * 59 + i.toLong * 17) % 256) & 0xff).toByte)
          i += 1
        }
        Row(key, bb.array())
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  val wavSchema: StructType = new StructType()
    .add("key", LongType, false)
    .add("sample_rate", LongType, false)
    .add("n_channels", LongType, false)
    .add("n_samples", LongType, false)
    .add("rms", DoubleType, false)

  /** G.711 µ-law expansion (ITU-T G.711): 8-bit companded byte → 14-bit
    * linear sample (the standard telephony/speech-corpus codec). */
  private[graft] def ulawExpand(b0: Int): Int = {
    val u = ~b0 & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law expansion: 8-bit companded byte → 13-bit linear sample. */
  private[graft] def alawExpand(b0: Int): Int = {
    val a = b0 ^ 0x55
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0f) << 4
    if (seg == 0) t += 8
    else { t += 0x108; if (seg > 1) t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  /** REAL WAV decode: walks the RIFF chunk list, parses the fmt header
    * (rate/channels/bits little-endian), and computes RMS amplitude —
    * the standard audio-quality/silence filter of a multimodal pipeline.
    * Three codec tiers: PCM16 (fmt 1, 16-bit), and the G.711 companded
    * telephony codecs A-law (fmt 6) and µ-law (fmt 7), both 8-bit,
    * expanded with the standard ITU-T tables before the RMS. Malformed
    * payloads (bad magic, other codecs, wrong bit depth, missing chunks)
    * are DROPPED, the usual corpus-hygiene behavior. */
  def decodeWav(df: DataFrame, binCol: String, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(keyCol).cast("long"), col(binCol)).rdd
      .mapPartitions { it =>
        it.flatMap { r =>
          val key = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") None
          else {
            var o = 12
            var rate = -1L; var ch = -1L; var bits = -1; var fmtCode = -1
            var dataOff = -1; var dataLen = 0
            while (o + 8 <= b.length) {
              // chunk size stays a Long (le32 is unsigned 0..2^32-1): a
              // crafted/corrupt size near 2^32 must not wrap negative and
              // stall or walk o backwards — the cursor advance below is
              // monotone (+>=8) in Long, then clamped to b.length, so the
              // walk always terminates and a damaged chunk just truncates
              // the payload (malformed rows are DROPPED, per the contract)
              val id = tag(b, o); val szL = le32(b, o + 4)
              if (id == "fmt " && o + 8 + 16 <= b.length) {
                fmtCode = le16(b, o + 8)
                ch = le16(b, o + 10).toLong
                rate = le32(b, o + 12)
                bits = le16(b, o + 22)
                // supported codec/bit-depth pairs; others -> reject
                if (!((fmtCode == 1 && bits == 16) ||
                      ((fmtCode == 6 || fmtCode == 7) && bits == 8))) rate = -1
              } else if (id == "data") {
                dataOff = o + 8
                dataLen = math.min(szL, (b.length - dataOff).toLong).toInt
              }
              val next = o.toLong + 8L + szL + (szL & 1L) // word-aligned
              o = if (next > b.length) b.length else next.toInt
            }
            if (rate <= 0 || ch <= 0 || dataOff < 0) None
            else {
              val n = dataLen / (bits / 8)
              var ss = 0.0; var i = 0
              while (i < n) {
                val s = (fmtCode match {
                  case 1 => le16(b, dataOff + 2 * i).toShort.toInt
                  case 6 => alawExpand(b(dataOff + i) & 0xff)
                  case _ => ulawExpand(b(dataOff + i) & 0xff)
                }).toDouble
                ss += s * s; i += 1
              }
              // unrounded: callers round with Spark's round() so the oracle
              // reproduces the exact same rounding convention
              val rms = if (n == 0) 0.0 else math.sqrt(ss / n)
              Some(Row(key, rate, ch, n.toLong, rms))
            }
          }
        }
      }
    spark.createDataFrame(rdd, wavSchema)
  }

  /** Deterministic P6 PPM payload per key: pixel byte k =
    * (key·37 + k·101) mod 256 over w·h RGB triplets. */
  def synthesizePpm(df: DataFrame, keyCol: String, w: Int = 16,
                    h: Int = 9): DataFrame = {
    val spark = df.sparkSession
    val schema = new StructType()
      .add("key", LongType, false).add("ppm", BinaryType, false)
    val rdd = df.select(col(keyCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val key = r.getLong(0)
        val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
        val px = new Array[Byte](w * h * 3)
        var k = 0
        while (k < px.length) {
          px(k) = (((key * 37 + k.toLong * 101) % 256) & 0xff).toByte
          k += 1
        }
        Row(key, header ++ px)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  val ppmSchema: StructType = new StructType()
    .add("key", LongType, false)
    .add("width", LongType, false)
    .add("height", LongType, false)
    .add("mean_r", DoubleType, false)
    .add("mean_g", DoubleType, false)
    .add("mean_b", DoubleType, false)

  /** REAL PPM (P6) decode: parses the ASCII header (magic, dimensions,
    * maxval — whitespace/comment tolerant) and computes per-channel mean
    * intensities over the binary RGB payload. Malformed payloads DROPPED. */
  def decodePpm(df: DataFrame, binCol: String, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(keyCol).cast("long"), col(binCol)).rdd
      .mapPartitions { it =>
        it.flatMap { r =>
          val key = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          var o = 0
          def skipWs(): Unit = {
            var go = true
            while (go && o < b.length) {
              val c = b(o).toChar
              if (c == '#') while (o < b.length && b(o).toChar != '\n') o += 1
              else if (c.isWhitespace) o += 1
              else go = false
            }
          }
          def int(): Option[Int] = {
            skipWs()
            val s = o
            while (o < b.length && b(o).toChar.isDigit) o += 1
            // cap at 9 digits: anything longer cannot be a sane dimension
            // and would throw NumberFormatException inside the task (the
            // contract is DROP malformed payloads, never fail the job)
            if (o == s || o - s > 9) None
            else Some(new String(b, s, o - s, "US-ASCII").toInt)
          }
          if (b.length < 2 || b(0) != 'P' || b(1) != '6') None
          else {
            o = 2
            (for { w <- int(); h <- int(); mx <- int() } yield (w, h, mx)) match {
              case Some((w, h, 255)) if w > 0 && h > 0 =>
                // exactly ONE whitespace byte after maxval, per the netpbm
                // P6 spec (a \r\n here means the raster starts with \n —
                // such text-mode-written files are malformed and get the
                // usual drop-or-truncate treatment)
                o += 1
                // dims are individually <= 999999999 (9-digit cap above) so
                // w*h needs Long; after the length check n*3 <= b.length
                // fits Int again
                val nL = w.toLong * h
                if ((b.length - o).toLong < nL * 3) None
                else {
                  val n = nL.toInt
                  var sr = 0L; var sg = 0L; var sb = 0L; var k = 0
                  while (k < n) {
                    sr += b(o + 3 * k) & 0xff
                    sg += b(o + 3 * k + 1) & 0xff
                    sb += b(o + 3 * k + 2) & 0xff
                    k += 1
                  }
                  // unrounded (see decodeWav note)
                  def m(s: Long) = s.toDouble / n
                  Some(Row(key, w.toLong, h.toLong, m(sr), m(sg), m(sb)))
                }
              case _ => None
            }
          }
        }
      }
    spark.createDataFrame(rdd, ppmSchema)
  }

  // ---- REAL compressed-format decoder: PNG (DEFLATE via java.util.zip) ----
  //
  // PNG is the one compressed media codec whose full decode chain lives in
  // the JDK's standard library (zlib inflate = java.util.zip.Inflater,
  // CRC-32 = java.util.zip.CRC32), so unlike mp3/h264 it needs no
  // native codec library and gets the same REAL-decoder treatment as
  // WAV/PPM. Written from the public PNG specification (RFC 2083 / W3C
  // PNG): 8-byte signature, length-type-data-CRC chunk stream, IHDR
  // geometry, zlib-wrapped IDAT concatenation, and per-row filter
  // reconstruction (None/Sub/Up/Average/Paeth).

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def putBe32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
    out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
  }

  private def chunkCrc(typ: Array[Byte], data: Array[Byte], len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(typ, 0, 4); c.update(data, 0, len); c.getValue
  }

  /** Channels in the DECODED pixel stream per IHDR color type (bit depth 8):
    * 0 gray→1, 2 truecolor→3, 3 palette→3 (indices expand through PLTE),
    * 4 gray+alpha→2, 6 RGBA→4. */
  private def pngChannels(colorType: Int): Int = colorType match {
    case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    case _ => -1
  }

  /** Spec-compliant PNG ENCODER (engine-side fixture writer, also reusable
    * as a sink): 8-bit samples, color types 0/2/3/4/6, per-row forward
    * filtering chosen by `filterOf(row)` (cycle 0..4 to exercise every
    * reconstruction branch in the decoder), zlib DEFLATE, IDAT split at
    * 8 KiB (multi-IDAT concatenation is part of the spec and the decoder
    * must reassemble it). `pixels` is the raw sample stream, w·h·channels
    * bytes row-major; `palette` is required (RGB triplets) for color type
    * 3, whose `pixels` are then w·h palette indices. */
  private[graft] def encodePng(w: Int, h: Int, colorType: Int,
                               pixels: Array[Byte],
                               filterOf: Int => Int = _ % 5,
                               palette: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val bpp = pngChannels(colorType)
    require(bpp > 0, s"unsupported color type $colorType")
    require(pixels.length == w * h * bpp,
      s"pixel buffer ${pixels.length} != $w*$h*$bpp")
    val stride = w * bpp
    // forward filter: filt(x) = (raw(x) - pred(x)) & 0xff
    val raster = new Array[Byte]((1 + stride) * h)
    var row = 0
    while (row < h) {
      val ft = java.lang.Math.floorMod(filterOf(row), 5)
      raster(row * (1 + stride)) = ft.toByte
      var i = 0
      while (i < stride) {
        val x = pixels(row * stride + i) & 0xff
        val a = if (i >= bpp) pixels(row * stride + i - bpp) & 0xff else 0
        val b = if (row > 0) pixels((row - 1) * stride + i) & 0xff else 0
        val c = if (row > 0 && i >= bpp) pixels((row - 1) * stride + i - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raster(row * (1 + stride) + 1 + i) = ((x - pred) & 0xff).toByte
        i += 1
      }
      row += 1
    }
    // zlib-wrap the raster (Deflater default = zlib header + adler32)
    val defl = new java.util.zip.Deflater()
    val compressed = try {
      defl.setInput(raster); defl.finish()
      val out = new java.io.ByteArrayOutputStream(raster.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      out.toByteArray
    } finally defl.end()

    val png = new java.io.ByteArrayOutputStream(compressed.length + 128)
    png.write(PngSig, 0, PngSig.length)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val t = typ.getBytes("US-ASCII")
      putBe32(png, data.length.toLong)
      png.write(t, 0, 4); png.write(data, 0, data.length)
      putBe32(png, chunkCrc(t, data, data.length))
    }
    val ihdr = new java.io.ByteArrayOutputStream(13)
    putBe32(ihdr, w.toLong); putBe32(ihdr, h.toLong)
    ihdr.write(8); ihdr.write(colorType); ihdr.write(0); ihdr.write(0); ihdr.write(0)
    chunk("IHDR", ihdr.toByteArray)
    if (colorType == 3) chunk("PLTE", palette)
    compressed.grouped(8192).foreach(part => chunk("IDAT", part))
    chunk("IEND", Array.emptyByteArray)
    png.toByteArray
  }

  /** Deterministic PNG payload per key: truecolor 8-bit, pixel byte k =
    * (key·37 + k·101) mod 256 — the SAME arithmetic as synthesizePpm, so
    * the DuckDB oracle recomputes the decoded channel means without
    * touching bytes, and a green hash proves the whole DEFLATE + filter
    * reconstruction chain. Row filters cycle 0..4 so every filter type is
    * on the oracle-checked path. */
  def synthesizePng(df: DataFrame, keyCol: String, w: Int = 16,
                    h: Int = 9): DataFrame = {
    val spark = df.sparkSession
    val schema = new StructType()
      .add("key", LongType, false).add("png", BinaryType, false)
    val rdd = df.select(col(keyCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val key = r.getLong(0)
        val px = new Array[Byte](w * h * 3)
        var k = 0
        while (k < px.length) {
          px(k) = (((key * 37 + k.toLong * 101) % 256) & 0xff).toByte
          k += 1
        }
        Row(key, encodePng(w, h, 2, px))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  val pngSchema: StructType = new StructType()
    .add("key", LongType, false)
    .add("width", LongType, false)
    .add("height", LongType, false)
    .add("n_channels", LongType, false)
    .add("mean_r", DoubleType, false)
    .add("mean_g", DoubleType, false)
    .add("mean_b", DoubleType, false)

  /** REAL PNG decode, pure JDK: signature check, CRC-32-verified chunk
    * walk, IHDR geometry, multi-IDAT reassembly, zlib inflate, and per-row
    * filter reconstruction (None/Sub/Up/Average/Paeth), then per-channel
    * mean intensities — gray maps to equal r=g=b means, palette expands
    * through PLTE, alpha is excluded from the means. Supported: bit depth
    * 8, color types 0/2/3/4/6, non-interlaced. Malformed payloads (bad
    * signature, any chunk CRC mismatch, truncated chunk or raster, short
    * inflate) and out-of-tier payloads (bit depth ≠ 8, Adam7 interlace,
    * > 2²⁶ pixels — a quarantine bound so a crafted IHDR can't allocate
    * unbounded buffers inside a task) are DROPPED, the corpus-hygiene
    * contract shared with decodeWav/decodePpm. */
  def decodePng(df: DataFrame, binCol: String, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(keyCol).cast("long"), col(binCol)).rdd
      .mapPartitions { it =>
        it.flatMap { r =>
          val key = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          decodePngBytes(b).map { case (w, h, nch, mr, mg, mb) =>
            Row(key, w, h, nch, mr, mg, mb)
          }
        }
      }
    spark.createDataFrame(rdd, pngSchema)
  }

  /** Single-payload PNG decode core (task-side; also the unit-test seam).
    * Returns (width, height, decoded channels, mean_r, mean_g, mean_b),
    * or None for malformed/out-of-tier payloads. */
  private[graft] def decodePngBytes(
      b: Array[Byte]): Option[(Long, Long, Long, Double, Double, Double)] = {
    if (b.length < PngSig.length + 12 ||
        !java.util.Arrays.equals(
          java.util.Arrays.copyOf(b, PngSig.length), PngSig)) return None
    var o = PngSig.length
    var w = -1; var h = -1; var colorType = -1; var ok = true; var ended = false
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    while (ok && !ended && o + 12 <= b.length) {
      val len = be32(b, o)
      if (len > Int.MaxValue - 12 || o + 12 + len > b.length) ok = false
      else {
        val n = len.toInt
        val typ = tag(b, o + 4)
        val data = java.util.Arrays.copyOfRange(b, o + 8, o + 8 + n)
        // strict hygiene: every chunk's CRC must verify, ancillary included
        // (a failed CRC anywhere means a damaged file, not a usable image)
        if (be32(b, o + 8 + n) !=
            chunkCrc(typ.getBytes("US-ASCII"), data, n)) ok = false
        else typ match {
          case "IHDR" =>
            if (n != 13) ok = false
            else {
              w = be32(data, 0).toInt; h = be32(data, 4).toInt
              val bitDepth = data(8) & 0xff
              colorType = data(9) & 0xff
              val interlace = data(12) & 0xff
              if (bitDepth != 8 || pngChannels(colorType) < 0 ||
                  interlace != 0 || w <= 0 || h <= 0 ||
                  w.toLong * h > (1L << 26)) ok = false
            }
          case "PLTE" =>
            if (n % 3 != 0 || n == 0 || n > 768) ok = false else palette = data
          case "IDAT" => idat.write(data, 0, n)
          case "IEND" => ended = true
          case _ => () // ancillary chunk: CRC verified above, content skipped
        }
        o += 12 + n
      }
    }
    if (!ok || !ended || w <= 0 || (colorType == 3 && palette == null)) return None
    val bpp = pngChannels(colorType)
    val stride = w * bpp
    val raster = new Array[Byte]((1 + stride) * h)
    val infl = new java.util.zip.Inflater()
    val full = try {
      infl.setInput(idat.toByteArray)
      var off = 0
      var stalled = false
      while (!stalled && off < raster.length && !infl.finished()) {
        val got = try infl.inflate(raster, off, raster.length - off)
        catch { case _: java.util.zip.DataFormatException => stalled = true; 0 }
        if (got == 0 && (infl.needsInput() || infl.needsDictionary())) stalled = true
        off += got
      }
      off == raster.length
    } finally infl.end() // release zlib native state promptly (long-lived executors)
    if (!full) return None
    // per-row filter reconstruction: recon(x) = (filt(x) + pred(x)) & 0xff,
    // predictors over reconstructed bytes (left a, up b, upper-left c)
    var row = 0
    while (row < h) {
      val ft = raster(row * (1 + stride)) & 0xff
      if (ft > 4) return None
      var i = 0
      while (i < stride) {
        val idx = row * (1 + stride) + 1 + i
        val a = if (i >= bpp) raster(idx - bpp) & 0xff else 0
        val bb = if (row > 0) raster(idx - (1 + stride)) & 0xff else 0
        val c = if (row > 0 && i >= bpp) raster(idx - (1 + stride) - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => bb
          case 3 => (a + bb) >> 1
          case 4 =>
            val p = a + bb - c
            val pa = math.abs(p - a); val pb = math.abs(p - bb); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c
        }
        raster(idx) = (((raster(idx) & 0xff) + pred) & 0xff).toByte
        i += 1
      }
      row += 1
    }
    val nPix = w.toLong * h
    var sr = 0L; var sg = 0L; var sb = 0L
    row = 0
    while (row < h) {
      var px = 0
      while (px < w) {
        val base = row * (1 + stride) + 1 + px * bpp
        colorType match {
          case 0 | 4 => // gray (+alpha): equal channel means, alpha excluded
            val g = raster(base) & 0xff; sr += g; sg += g; sb += g
          case 2 | 6 => // truecolor (+alpha): alpha excluded from means
            sr += raster(base) & 0xff
            sg += raster(base + 1) & 0xff
            sb += raster(base + 2) & 0xff
          case 3 => // palette index → PLTE RGB triplet
            val pi = (raster(base) & 0xff) * 3
            if (pi + 2 >= palette.length) return None
            sr += palette(pi) & 0xff
            sg += palette(pi + 1) & 0xff
            sb += palette(pi + 2) & 0xff
        }
        px += 1
      }
      row += 1
    }
    val outCh = colorType match {
      case 0 => 1L; case 4 => 2L; case 3 => 3L; case 2 => 3L; case 6 => 4L
    }
    Some((w.toLong, h.toLong, outCh,
      sr.toDouble / nPix, sg.toDouble / nPix, sb.toDouble / nPix))
  }

  // ---- gzip text payloads (Common-Crawl-style compressed documents) ----

  /** Deterministic gzip payload per row: the document's own text column,
    * UTF-8-encoded and gzip-compressed task-side — so the DuckDB oracle
    * recomputes every decompressed feature from the PLAIN text column and
    * a green hash proves the full gzip (DEFLATE) round trip. */
  def synthesizeGzip(df: DataFrame, textCol: String,
                     keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = new StructType()
      .add("key", LongType, false).add("gz", BinaryType, false)
    val rdd = df.select(col(keyCol).cast("long"), col(textCol)).rdd
      .mapPartitions { it =>
        it.map { r =>
          val bos = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bos)
          gz.write(r.getString(1).getBytes("UTF-8")); gz.close()
          Row(r.getLong(0), bos.toByteArray)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  val gunzipSchema: StructType = new StructType()
    .add("key", LongType, false)
    .add("n_bytes", LongType, false)
    .add("content_md5", StringType, false)

  /** REAL gzip decompression of a binary payload column (the storage format
    * of Common-Crawl WET/WARC text), pure JDK `GZIPInputStream`, returning
    * the decompressed byte count and md5 — the content-addressing
    * projection a dedup pipeline runs right after ingest. Malformed
    * payloads (bad magic, truncated stream, CRC mismatch — GZIPInputStream
    * verifies the trailer) are DROPPED; decompressed output is CAPPED at
    * `maxBytes` (default 64 MiB) and oversized payloads dropped, so a
    * crafted zip bomb can't exhaust task memory. */
  def decompressGzip(df: DataFrame, binCol: String, keyCol: String,
                     maxBytes: Long = 1L << 26): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(keyCol).cast("long"), col(binCol)).rdd
      .mapPartitions { it =>
        it.flatMap { r =>
          val key = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          try {
            val in = new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(b))
            try {
              val md = java.security.MessageDigest.getInstance("MD5")
              val buf = new Array[Byte](8192)
              var total = 0L
              var n = in.read(buf)
              while (n >= 0 && total <= maxBytes) {
                md.update(buf, 0, n); total += n; n = in.read(buf)
              }
              if (total > maxBytes) None // zip-bomb guard: drop, never OOM
              else Some(Row(key, total,
                md.digest().map("%02x".format(_)).mkString))
            } finally in.close()
          } catch { case _: java.io.IOException => None } // malformed: DROP
        }
      }
    spark.createDataFrame(rdd, gunzipSchema)
  }

  // ---- REAL compressed-format decoder: GIF (pure-JVM LZW) ----
  //
  // GIF's only compression is LZW with variable 3..12-bit codes — ~100
  // lines of pure byte/bit arithmetic, no codec library — and GIF is still
  // a real constituent of web image corpora. Written from the public
  // GIF89a specification: header + logical screen descriptor, global/local
  // color tables, extension-block skipping, sub-block reassembly, LZW
  // decode with clear/EOI handling and 4-pass interlace reordering.

  /** Spec-compliant GIF ENCODER (fixture writer / sink): single image,
    * palette of ≤256 RGB triplets, `indices` row-major w·h palette
    * indices. Uses the classic "uncompressed GIF" LZW stream — every pixel
    * emitted as a literal code with a CLEAR before the code width would
    * grow — which any conformant decoder (ours, ImageIO, browsers) reads;
    * the real compression path of the decoder is exercised by ImageIO-
    * written GIFs in tests. */
  private[graft] def encodeGif(w: Int, h: Int, palette: Array[Byte],
                               indices: Array[Byte],
                               interlace: Boolean = false): Array[Byte] = {
    require(palette.length % 3 == 0 && palette.nonEmpty && palette.length <= 768)
    val nPal = palette.length / 3
    require(indices.length == w * h)
    // GCT size field: 2^(f+1) entries, the smallest power of two >= nPal
    var gctBits = 1
    while ((1 << gctBits) < nPal) gctBits += 1
    if (gctBits < 1) gctBits = 1
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    u16(w); u16(h)
    out.write(0x80 | (gctBits - 1)) // GCT present, size 2^gctBits
    out.write(0); out.write(0)      // bg index, aspect
    out.write(palette, 0, palette.length)
    for (_ <- nPal until (1 << gctBits)) { out.write(0); out.write(0); out.write(0) }
    out.write(0x2c)                 // image descriptor
    u16(0); u16(0); u16(w); u16(h)
    out.write(if (interlace) 0x40 else 0x00)
    val minCode = math.max(2, gctBits)
    out.write(minCode)
    // interlace = storage-order permutation of rows (4 passes)
    val rowOrder: Array[Int] =
      if (!interlace) (0 until h).toArray
      else ((0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++
        (1 until h by 2)).toArray
    // LZW literal stream: codeSize = minCode+1 bits, CLEAR every
    // 2^minCode - 2 literals so the decoder's dictionary never forces a
    // width increase; LSB-first bit packing, 255-byte sub-blocks
    val clear = 1 << minCode; val eoi = clear + 1
    val codeSize = minCode + 1
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nAcc = 0
    def put(code: Int): Unit = {
      acc |= code.toLong << nAcc; nAcc += codeSize
      while (nAcc >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nAcc -= 8 }
    }
    put(clear)
    var emitted = 0
    rowOrder.foreach { row =>
      var x = 0
      while (x < w) {
        if (emitted == (1 << minCode) - 2) { put(clear); emitted = 0 }
        put(indices(row * w + x) & 0xff); emitted += 1
        x += 1
      }
    }
    put(eoi)
    if (nAcc > 0) bits.write((acc & 0xff).toInt)
    val data = bits.toByteArray
    data.grouped(255).foreach { blk => out.write(blk.length); out.write(blk, 0, blk.length) }
    out.write(0)    // sub-block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** REAL GIF decode, pure JVM: header + logical screen descriptor,
    * global/local color table, extension skipping, sub-block reassembly,
    * full variable-width LZW (clear codes, dictionary growth to 4096,
    * deferred-clear tolerance, the cScSc first-code edge case), 4-pass
    * interlace reordering; returns the FIRST image's geometry and
    * palette-mapped channel means (animations: frame 1, the standard
    * corpus-feature choice). Malformed payloads (bad header, missing color
    * table, truncated or over-long code stream, out-of-range codes) are
    * DROPPED per the shared corpus-hygiene contract; geometry is capped at
    * 2²⁶ pixels like decodePng. */
  private[graft] def decodeGifBytes(
      b: Array[Byte]): Option[(Long, Long, Double, Double, Double)] = {
    if (b.length < 13) return None
    val hdr = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    var o = 6
    o += 4 // logical screen w/h (the image descriptor's geometry governs)
    val packed = b(o) & 0xff; o += 3
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 7) + 1))
      if (o + n > b.length) return None
      gct = java.util.Arrays.copyOfRange(b, o, o + n); o += n
    }
    // walk blocks to the first image descriptor
    while (o < b.length && (b(o) & 0xff) == 0x21) {
      o += 2 // extension introducer + label
      var more = true
      while (more) {
        if (o >= b.length) return None
        val n = b(o) & 0xff; o += 1 + n
        if (n == 0) more = false
      }
    }
    if (o >= b.length || (b(o) & 0xff) != 0x2c) return None
    if (o + 10 > b.length) return None
    val w = u16(o + 5); val h = u16(o + 7)
    val ipacked = b(o + 9) & 0xff; o += 10
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
    // note: the interlace flag (ipacked & 0x40) only permutes row STORAGE
    // order; the features below are permutation-invariant so no reorder
    // pass is needed (the encoder's interlace writer is pixel-exact-tested
    // against ImageIO, which does reorder)
    var ct = gct
    if ((ipacked & 0x80) != 0) {
      val n = 3 * (1 << ((ipacked & 7) + 1))
      if (o + n > b.length) return None
      ct = java.util.Arrays.copyOfRange(b, o, o + n); o += n
    }
    if (ct == null) return None
    if (o >= b.length) return None
    val minCode = b(o) & 0xff; o += 1
    if (minCode < 2 || minCode > 11) return None
    // reassemble the code stream from sub-blocks
    val code = new java.io.ByteArrayOutputStream()
    var more = true
    while (more) {
      if (o >= b.length) return None
      val n = b(o) & 0xff; o += 1
      if (n == 0) more = false
      else {
        if (o + n > b.length) return None
        code.write(b, o, n); o += n
      }
    }
    val cs = code.toByteArray
    // LZW decode
    val clear = 1 << minCode; val eoi = clear + 1
    val nPix = w * h
    val px = new Array[Byte](nPix)
    var nOut = 0
    // dictionary as prefix/suffix arrays (entry = prefix chain + last byte)
    val prefix = new Array[Int](4096); val suffix = new Array[Byte](4096)
    var dictSize = eoi + 1
    var codeSize = minCode + 1
    var acc = 0L; var nAcc = 0; var ci = 0
    var prev = -1
    val stack = new Array[Byte](4096); var sp = 0
    def emitEntry(c0: Int): Boolean = { // expand entry c0 onto px
      var c = c0; sp = 0
      while (c >= clear) { // walk the prefix chain (roots are < clear)
        if (sp >= 4096 || c >= dictSize) return false
        stack(sp) = suffix(c); sp += 1; c = prefix(c)
      }
      if (nOut + sp + 1 > nPix) return false
      px(nOut) = c.toByte; nOut += 1
      while (sp > 0) { sp -= 1; px(nOut) = stack(sp); nOut += 1 }
      true
    }
    var done = false
    while (!done) {
      while (nAcc < codeSize && ci < cs.length) {
        acc |= (cs(ci) & 0xffL) << nAcc; nAcc += 8; ci += 1
      }
      if (nAcc < codeSize) return None // truncated code stream
      val c = (acc & ((1L << codeSize) - 1)).toInt
      acc >>= codeSize; nAcc -= codeSize
      if (c == clear) {
        dictSize = eoi + 1; codeSize = minCode + 1; prev = -1
      } else if (c == eoi) {
        done = true
      } else {
        if (prev == -1) { // first code after clear: must be a root
          if (c >= clear || (c * 3) >= ct.length || !emitEntry(c)) return None
        } else {
          val firstOf = { var t = if (c < dictSize) c else prev
            while (t >= clear) t = prefix(t); t }
          if (c < dictSize) {
            if (!emitEntry(c)) return None
            if (dictSize < 4096) {
              prefix(dictSize) = prev; suffix(dictSize) = firstOf.toByte
              dictSize += 1
            }
          } else if (c == dictSize && dictSize < 4096) { // cScSc case
            prefix(dictSize) = prev; suffix(dictSize) = firstOf.toByte
            dictSize += 1
            if (!emitEntry(dictSize - 1)) return None
          } else return None
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = c
        if (nOut == nPix) done = true // some encoders omit the explicit EOI
      }
    }
    if (nOut != nPix) return None
    // interlace: storage row r maps to display row rowOrder(r); means are
    // permutation-invariant but the palette lookup validates every index
    val nCt = ct.length / 3
    var sr = 0L; var sg = 0L; var sb = 0L; var k = 0
    while (k < nPix) {
      val idx = px(k) & 0xff
      if (idx >= nCt) return None
      sr += ct(idx * 3) & 0xff; sg += ct(idx * 3 + 1) & 0xff
      sb += ct(idx * 3 + 2) & 0xff
      k += 1
    }
    Some((w.toLong, h.toLong,
      sr.toDouble / nPix, sg.toDouble / nPix, sb.toDouble / nPix))
  }

  val gifSchema: StructType = new StructType()
    .add("key", LongType, false)
    .add("width", LongType, false)
    .add("height", LongType, false)
    .add("mean_r", DoubleType, false)
    .add("mean_g", DoubleType, false)
    .add("mean_b", DoubleType, false)

  /** Deterministic GIF payload per key over a 64-entry palette: palette
    * entry j channel c = (key + j·7 + c·31) mod 256, pixel k's index =
    * (key·13 + k·29) mod 64, odd keys interlaced — pure row arithmetic, so
    * the oracle recomputes the palette-mapped channel means in SQL and a
    * green hash proves the LZW decode + palette mapping. */
  def synthesizeGif(df: DataFrame, keyCol: String, w: Int = 16,
                    h: Int = 9): DataFrame = {
    val spark = df.sparkSession
    val schema = new StructType()
      .add("key", LongType, false).add("gif", BinaryType, false)
    val rdd = df.select(col(keyCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val key = r.getLong(0)
        val pal = new Array[Byte](64 * 3)
        var j = 0
        while (j < 64) {
          var c = 0
          while (c < 3) {
            pal(j * 3 + c) = (((key + j * 7 + c * 31) % 256) & 0xff).toByte
            c += 1
          }
          j += 1
        }
        val idx = new Array[Byte](w * h)
        var k = 0
        while (k < idx.length) {
          idx(k) = (((key * 13 + k.toLong * 29) % 64) & 0xff).toByte
          k += 1
        }
        Row(key, encodeGif(w, h, pal, idx, interlace = key % 2 == 1))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** REAL GIF decode over a binary column (first frame, palette-mapped
    * channel means); malformed payloads DROPPED. See decodeGifBytes. */
  def decodeGif(df: DataFrame, binCol: String, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(keyCol).cast("long"), col(binCol)).rdd
      .mapPartitions { it =>
        it.flatMap { r =>
          val key = r.getLong(0)
          decodeGifBytes(r.getAs[Array[Byte]](1)).map {
            case (w, h, mr, mg, mb) => Row(key, w, h, mr, mg, mb)
          }
        }
      }
    spark.createDataFrame(rdd, gifSchema)
  }

  // ---- REAL compressed-format decoder: baseline JPEG (pure JVM) ----

  val jpegSchema: StructType = new StructType()
    .add("key", LongType, false)
    .add("width", LongType, false)
    .add("height", LongType, false)
    .add("n_components", LongType, false)
    .add("mean_r", DoubleType, false)
    .add("mean_g", DoubleType, false)
    .add("mean_b", DoubleType, false)

  /** Deterministic baseline-JPEG payload per key: 16×16 grayscale, four
    * 8×8 blocks, block j's value = (key·31 + j·53) mod 256, with a
    * restart interval of 2 so the RSTn path is on the oracle-checked
    * route. The fixture class is EXACT under JPEG's lossy chain (see
    * Jpeg's doc: flat DC quantizer 8, zero AC), so the DuckDB oracle
    * recomputes the decoded means from pure arithmetic. */
  def synthesizeJpeg(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = new StructType()
      .add("key", LongType, false).add("jpg", BinaryType, false)
    val rdd = df.select(col(keyCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val key = r.getLong(0)
        val blocks = Array.tabulate(4)(j => (((key * 31 + j * 53) % 256) & 0xff).toInt)
        Row(key, Jpeg.encodeGrayBlocks(16, 16, blocks, restartInterval = 2))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** REAL baseline JPEG decode (pure JVM — see graft.pipeline.Jpeg):
    * Huffman entropy decode, dequantize, IDCT, upsample, YCbCr→RGB,
    * per-channel means. Progressive/arithmetic/12-bit and malformed
    * payloads are DROPPED per the shared corpus-hygiene contract. */
  def decodeJpeg(df: DataFrame, binCol: String, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(keyCol).cast("long"), col(binCol)).rdd
      .mapPartitions { it =>
        it.flatMap { r =>
          val key = r.getLong(0)
          // belt-and-braces for the DROP contract (ADVICE r5): any residual
          // parser escape on adversarial bytes drops the ROW, never the job
          val dec = try Jpeg.decode(r.getAs[Array[Byte]](1))
            catch { case scala.util.control.NonFatal(_) => None }
          dec.map {
            case (w, h, nc, mr, mg, mb) => Row(key, w, h, nc, mr, mg, mb)
          }
        }
      }
    spark.createDataFrame(rdd, jpegSchema)
  }

  // ---- multi-codec text payloads (mixed-format LLM corpora) ----
  //
  // Real pretraining corpora arrive in MIXED compression: Common Crawl
  // WET/WARC is gzip, RedPajama/Dolma-style dumps are zstd, Wikipedia dumps
  // are bzip2, and plenty of shards are stored plain. zstd-jni and
  // commons-compress ship inside the Spark distribution itself
  // (/opt/spark/jars), so all three codecs are available on every executor
  // with no extra dependency.

  /** Codec ids for synthesizeCompressed / decompressAuto. */
  private val codecNames = Array("plain", "gzip", "zstd", "bzip2")

  /** Deterministic mixed-codec payload per row: the document's own text,
    * compressed with codec (key mod 4) ∈ plain/gzip/zstd/bzip2 — so the
    * oracle recomputes BOTH the sniffed codec name and the decompressed
    * features from the plain text column and the row key. */
  /** CPU-bound byte codecs must not be gated by the input's SPLIT count: a
    * few-MB parquet read plans 1-2 scan partitions, and the per-row
    * compress/decompress then runs on 1-2 cores while the rest idle
    * (measured: decompress_auto at sf0.1 ran its whole bzip2/zstd/gzip mix
    * on 3 tasks). Spread rows to the session parallelism when — and only
    * when — the input has fewer partitions: the repartition is UP-only and
    * hash-keyed (deterministic under retries, guide §2.5), and a real
    * corpus with ample splits skips the shuffle entirely (never move heavy
    * payloads without need — guide §8). */
  private def spread(df: DataFrame, keyCol: String): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (df.rdd.getNumPartitions < p) df.repartition(p, col(keyCol)) else df
  }

  def synthesizeCompressed(df: DataFrame, textCol: String,
                           keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = new StructType()
      .add("key", LongType, false).add("payload", BinaryType, false)
    val rdd = spread(df, keyCol).select(col(keyCol).cast("long"), col(textCol)).rdd
      .mapPartitions { it =>
        it.map { r =>
          val key = r.getLong(0)
          val raw = r.getString(1).getBytes("UTF-8")
          val bos = new java.io.ByteArrayOutputStream()
          (java.lang.Math.floorMod(key, 4).toInt: @unchecked) match {
            case 0 => bos.write(raw)
            case 1 =>
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(raw); gz.close()
            case 2 =>
              val zs = new com.github.luben.zstd.ZstdOutputStream(bos)
              zs.write(raw); zs.close()
            case 3 =>
              val bz = new org.apache.commons.compress.compressors.bzip2
                .BZip2CompressorOutputStream(bos)
              bz.write(raw); bz.close()
          }
          Row(key, bos.toByteArray)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  val decompressSchema: StructType = new StructType()
    .add("key", LongType, false)
    .add("codec", StringType, false)
    .add("n_bytes", LongType, false)
    .add("content_md5", StringType, false)

  /** Magic-sniffing decompression of a mixed-format binary payload column:
    * gzip (1f 8b), zstd (28 b5 2f fd), bzip2 ("BZh" + level digit) are
    * decompressed with their real codecs; anything else passes through as
    * plain bytes (the stored-uncompressed shard case). Same contract as
    * decompressGzip: decompressed output capped at `maxBytes` (zip-bomb
    * guard — zstd especially reaches 1000×+ ratios), malformed/truncated
    * streams DROPPED (gzip/bzip2 verify stream CRCs; zstd verifies frame
    * structure). Returns the sniffed codec name so downstream can audit
    * the corpus's format mix. */
  def decompressAuto(df: DataFrame, binCol: String, keyCol: String,
                     maxBytes: Long = 1L << 26): DataFrame = {
    val spark = df.sparkSession
    // spread() is a no-op when the payload relation already carries ≥
    // session-parallelism partitions (e.g. straight from synthesizeCompressed)
    val rdd = spread(df, keyCol).select(col(keyCol).cast("long"), col(binCol)).rdd
      .mapPartitions { it =>
        it.flatMap { r =>
          val key = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          val codec =
            if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) 1
            else if (b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
              (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) 2
            else if (b.length >= 4 && b(0) == 'B' && b(1) == 'Z' && b(2) == 'h' &&
              b(3) >= '1' && b(3) <= '9') 3
            else 0
          try {
            val bis = new java.io.ByteArrayInputStream(b)
            val in: java.io.InputStream = codec match {
              case 0 => bis
              case 1 => new java.util.zip.GZIPInputStream(bis)
              case 2 => new com.github.luben.zstd.ZstdInputStream(bis)
              case 3 => new org.apache.commons.compress.compressors.bzip2
                .BZip2CompressorInputStream(bis)
            }
            try {
              val md = java.security.MessageDigest.getInstance("MD5")
              val buf = new Array[Byte](8192)
              var total = 0L
              var n = in.read(buf)
              while (n >= 0 && total <= maxBytes) {
                md.update(buf, 0, n); total += n; n = in.read(buf)
              }
              if (total > maxBytes) None // zip-bomb guard: drop, never OOM
              else Some(Row(key, codecNames(codec), total,
                md.digest().map("%02x".format(_)).mkString))
            } finally in.close()
          } catch { case _: java.io.IOException => None } // malformed: DROP
        }
      }
    spark.createDataFrame(rdd, decompressSchema)
  }
}
