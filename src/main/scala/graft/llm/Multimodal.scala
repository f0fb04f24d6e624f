package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column support: image/audio payloads are carried as opaque
  * `binary` columns with typed metadata, and decode / feature-extract /
  * resize run batched per partition — payload bytes never hit the driver,
  * and each executor core streams its partition through the codec.
  *
  * The codecs are REAL pure-JVM implementations of two self-describing
  * container formats that need no native media libraries:
  *
  *   - [[PpmCodec]] — binary PPM (P6): full header parse (magic, `#`
  *     comments, arbitrary whitespace, maxval validation) + raw RGB
  *     payload. The format every image tool emits with `-compress none`.
  *   - [[WavCodec]] — RIFF/WAVE PCM: a real chunk walker (fmt validation,
  *     unknown-chunk skipping with the even-byte padding rule) + 16-bit
  *     little-endian mono samples.
  *
  * Fixture media is synthesized FROM the `documents` table (text bytes →
  * pixels / samples) so the decoded features are independently computable
  * by the DuckDB oracle from the same parquet — the decode path gets the
  * same hash-match guarantee as the relational queries. In production the
  * payload column is the raw bytes read straight from parquet/object
  * storage and the same decoders run unchanged.
  */
object Multimodal {

  // ImageIO defaults to a DISK-BACKED stream cache: every encode/decode
  // creates and deletes a temp file, which is ~6x slower single-threaded
  // (measured: 1000 16x6 jpg enc+dec 0.34s -> 0.06s) and serializes on
  // filesystem contention across executor threads. Payloads here are
  // in-memory byte arrays, so the heap-backed cache is strictly better.
  // JVM-global, set once when the codec class loads on each executor.
  javax.imageio.ImageIO.setUseCache(false)

  /** One media record: opaque payload + typed metadata. */
  final case class MediaRecord(
      media_id: Long,
      mime: String,
      n_bytes: Long,
      payload: Array[Byte],
  )

  final case class ImageFeatures(
      media_id: Long,
      width: Int,
      height: Int,
      n_pixels: Int,
      byte_sum: Long,
      mean_byte: Double,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double,
  )

  final case class AudioFeatures(
      media_id: Long,
      sample_rate: Int,
      n_channels: Int,
      bits_per_sample: Int,
      n_samples: Long,
      sample_sum: Long,
      mean_sample: Double,
      peak_abs: Int,
  )

  final case class Ppm(width: Int, height: Int, maxVal: Int, pixels: Array[Byte])

  /** Binary PPM (P6) — `P6 <ws> width <ws> height <ws> maxval <single-ws>`
    * then `width*height*3` raw RGB bytes; `#` starts a comment running to
    * end-of-line anywhere inside header whitespace. */
  object PpmCodec {
    val Mime = "image/x-portable-pixmap"

    def encode(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
      require(width > 0 && height > 0, s"bad dims ${width}x$height")
      require(pixels.length == width * height * 3,
        s"pixel buffer ${pixels.length} != ${width * height * 3}")
      val header = s"P6\n$width $height\n255\n".getBytes(UTF_8)
      val out = new Array[Byte](header.length + pixels.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(pixels, 0, out, header.length, pixels.length)
      out
    }

    def decode(bytes: Array[Byte]): Ppm = {
      def fail(msg: String) = throw new IllegalArgumentException(s"PPM: $msg")
      if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') fail("bad magic (want P6)")
      var i = 2
      def isWs(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == '\r'
      def skipWsAndComments(): Unit = {
        var moving = true
        while (moving && i < bytes.length) {
          if (isWs(bytes(i))) i += 1
          else if (bytes(i) == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
          else moving = false
        }
      }
      def readInt(what: String): Int = {
        skipWsAndComments()
        if (i >= bytes.length || bytes(i) < '0' || bytes(i) > '9') fail(s"expected $what digit")
        var v = 0
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          v = v * 10 + (bytes(i) - '0')
          if (v > 0x7fffffff / 16) fail(s"$what overflow")
          i += 1
        }
        v
      }
      val w = readInt("width")
      val h = readInt("height")
      val mv = readInt("maxval")
      if (w <= 0 || h <= 0) fail(s"bad dims ${w}x$h")
      if (mv <= 0 || mv > 255) fail(s"maxval $mv out of 8-bit range")
      // exactly ONE whitespace byte separates maxval from the raster
      if (i >= bytes.length || !isWs(bytes(i))) fail("missing raster separator")
      i += 1
      val need = w * h * 3
      if (bytes.length - i < need) fail(s"truncated raster: ${bytes.length - i} < $need")
      Ppm(w, h, mv, java.util.Arrays.copyOfRange(bytes, i, i + need))
    }
  }

  /** PNG via the JDK's built-in `javax.imageio` — the REAL-WORLD image
    * leg: production corpora carry PNG/JPEG blobs, not fixture PPMs.
    * Decode reads any ImageIO-supported PNG (palette, grayscale, alpha —
    * normalized to 8-bit RGB through the ARGB accessor, alpha discarded)
    * into the same [[Ppm]] shape the whole image family consumes, so
    * every operator downstream of [[decodeImage]] (features, resize,
    * phash, near-dup pairs) works on PNGs unchanged. Encode writes
    * lossless RGB — a decode of an [[encode]] output reproduces the
    * input raster byte for byte (PNG is lossless; q76 pins the full
    * roundtrip against the q29 oracle cross-engine). Public JDK API
    * only, headless-safe, no new dependencies. */
  object PngCodec {
    val Mime = "image/png"

    /** The 8-byte PNG signature's discriminating prefix. */
    def isPng(bytes: Array[Byte]): Boolean =
      bytes.length >= 8 &&
        bytes(0) == 0x89.toByte && bytes(1) == 'P'.toByte &&
        bytes(2) == 'N'.toByte && bytes(3) == 'G'.toByte

    def encode(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
      require(width > 0 && height > 0, s"bad dims ${width}x$height")
      require(pixels.length == width * height * 3,
        s"pixel buffer ${pixels.length} != ${width * height * 3}")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y,
            ((pixels(i) & 0xff) << 16) | ((pixels(i + 1) & 0xff) << 8) | (pixels(i + 2) & 0xff))
          i += 3
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      if (!javax.imageio.ImageIO.write(img, "png", bos))
        throw new IllegalStateException("PNG: no JDK png writer available")
      bos.toByteArray
    }

    def decode(bytes: Array[Byte]): Ppm = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null)
        throw new IllegalArgumentException("PNG: unreadable image payload")
      val w = img.getWidth
      val h = img.getHeight
      val pixels = new Array[Byte](w * h * 3)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y) // sRGB int regardless of storage type
          pixels(i) = ((rgb >> 16) & 0xff).toByte
          pixels(i + 1) = ((rgb >> 8) & 0xff).toByte
          pixels(i + 2) = (rgb & 0xff).toByte
          i += 3
          x += 1
        }
        y += 1
      }
      Ppm(w, h, 255, pixels)
    }
  }

  /** JPEG via the JDK's ImageIO — the LOSSY real-world image leg:
    * production image corpora are overwhelmingly JPEG, and the JDK
    * decodes it with the same zero-dependency API the PNG codec uses.
    * Decode normalizes to 8-bit RGB into the shared [[Ppm]] shape, so
    * every downstream image operator (features, resize, phash, near-dup
    * pairs) handles JPEG unchanged through [[decodeImage]]'s sniffing
    * dispatch. UNLIKE PNG, the encode->decode roundtrip is NOT
    * byte-exact (DCT quantization): DIMENSIONS survive exactly, pixel
    * values approximately — which is why q80's oracle hash-matches the
    * exact geometry plus a bounded-error verdict on the decoded means,
    * and the fixture-golden spec pins decoded stats of fixed payloads
    * (the q33 rows-only precedent, tightened). */
  object JpegCodec {
    val Mime = "image/jpeg"

    /** SOI marker + the third 0xFF every JFIF/EXIF/raw-JPEG stream
      * carries (the next marker's prefix) — the standard sniff. */
    def isJpeg(bytes: Array[Byte]): Boolean =
      bytes.length >= 3 &&
        bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte &&
        bytes(2) == 0xff.toByte

    def encode(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
      require(width > 0 && height > 0, s"bad dims ${width}x$height")
      require(pixels.length == width * height * 3,
        s"pixel buffer ${pixels.length} != ${width * height * 3}")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y,
            ((pixels(i) & 0xff) << 16) | ((pixels(i + 1) & 0xff) << 8) | (pixels(i + 2) & 0xff))
          i += 3
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      if (!javax.imageio.ImageIO.write(img, "jpg", bos))
        throw new IllegalStateException("JPEG: no JDK jpeg writer available")
      bos.toByteArray
    }

    def decode(bytes: Array[Byte]): Ppm = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null)
        throw new IllegalArgumentException("JPEG: unreadable image payload")
      val w = img.getWidth
      val h = img.getHeight
      val pixels = new Array[Byte](w * h * 3)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y) // sRGB int regardless of storage type
          pixels(i) = ((rgb >> 16) & 0xff).toByte
          pixels(i + 1) = ((rgb >> 8) & 0xff).toByte
          pixels(i + 2) = (rgb & 0xff).toByte
          i += 3
          x += 1
        }
        y += 1
      }
      Ppm(w, h, 255, pixels)
    }
  }

  /** Sniffing image decode: dispatches on the payload's magic bytes (PNG
    * signature vs JPEG SOI vs PPM "P6"), so one media table can mix
    * fixture PPMs and real-world PNGs/JPEGs and every image operator
    * handles all of them. */
  def decodeImage(bytes: Array[Byte]): Ppm =
    if (PngCodec.isPng(bytes)) PngCodec.decode(bytes)
    else if (JpegCodec.isJpeg(bytes)) JpegCodec.decode(bytes)
    else PpmCodec.decode(bytes)

  final case class Wav(sampleRate: Int, nChannels: Int, bitsPerSample: Int, samples: Array[Short])

  /** RIFF/WAVE, PCM. Encoder writes canonical 16-bit mono LE; decoder is a
    * real chunk walker — validates RIFF/WAVE framing, requires a PCM fmt
    * chunk ahead of data, skips unknown chunks (LIST, cue, …) honoring the
    * RIFF even-size padding rule. */
  object WavCodec {
    val Mime = "audio/wav"

    def encode(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      require(sampleRate > 0, s"bad sample rate $sampleRate")
      val dataLen = samples.length * 2
      val out = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes(UTF_8)).putInt(36 + dataLen).put("WAVE".getBytes(UTF_8))
      out.put("fmt ".getBytes(UTF_8)).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2) // byte rate
        .putShort(2) // block align
        .putShort(16) // bits per sample
      out.put("data".getBytes(UTF_8)).putInt(dataLen)
      samples.foreach(out.putShort)
      out.array()
    }

    def decode(bytes: Array[Byte]): Wav = {
      def fail(msg: String) = throw new IllegalArgumentException(s"WAV: $msg")
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, UTF_8)
      }
      if (bytes.length < 12 || fourcc() != "RIFF") fail("bad magic (want RIFF)")
      buf.getInt() // riff payload size — trust chunk sizes, not this
      if (fourcc() != "WAVE") fail("not a WAVE form")
      var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
      var data: Option[Array[Byte]] = None
      while (buf.remaining() >= 8 && data.isEmpty) {
        val id = fourcc()
        val size = buf.getInt()
        if (size < 0 || size > buf.remaining()) fail(s"chunk $id size $size overruns file")
        id match {
          case "fmt " =>
            if (size < 16) fail(s"fmt chunk too small ($size)")
            val start = buf.position()
            val audioFormat = buf.getShort()
            if (audioFormat != 1) fail(s"not PCM (format $audioFormat)")
            val channels = buf.getShort().toInt
            val rate = buf.getInt()
            buf.getInt() // byte rate (derived)
            buf.getShort() // block align (derived)
            val bits = buf.getShort().toInt
            if (bits != 16) fail(s"only 16-bit PCM supported (got $bits)")
            if (channels != 1) fail(s"only mono supported (got $channels)")
            fmt = Some((channels, rate, bits))
            buf.position(start + size + (size & 1)) // skip any fmt extension
          case "data" =>
            if (fmt.isEmpty) fail("data chunk before fmt")
            if (size % 2 != 0) fail(s"odd PCM16 data size $size")
            val d = new Array[Byte](size); buf.get(d)
            data = Some(d)
          case _ => // unknown chunk (LIST, cue, ...): skip, padded to even
            buf.position(buf.position() + size + (size & 1))
        }
      }
      val (ch, rate, bits) = fmt.getOrElse(fail("missing fmt chunk"))
      val d = data.getOrElse(fail("missing data chunk"))
      val samples = new Array[Short](d.length / 2)
      val sb = java.nio.ByteBuffer.wrap(d).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < samples.length) { samples(i) = sb.getShort(); i += 1 }
      Wav(rate, ch, bits, samples)
    }
  }

  /** Fixed raster width for document-derived fixture images — pixels are
    * the text's UTF-8 bytes zero-padded to a full `PpmWidth x h` RGB grid,
    * so the oracle can recompute every decoded stat from the text column. */
  val PpmWidth = 16

  /** documents -> media table of REAL binary PPM images (text bytes as
    * pixels). In production this column is raw image bytes read straight
    * from parquet/object storage; the decoder doesn't care which. */
  def asMedia(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = text.getBytes(UTF_8)
          val rowBytes = PpmWidth * 3
          val h = math.max(1, (tb.length + rowBytes - 1) / rowBytes)
          val pixels = java.util.Arrays.copyOf(tb, PpmWidth * h * 3)
          val payload = PpmCodec.encode(PpmWidth, h, pixels)
          MediaRecord(id, PpmCodec.Mime, payload.length.toLong, payload)
        }
      }.toDF()
  }

  /** [[asMedia]]'s REAL-PNG twin: the identical text-byte raster (so the
    * q29 oracle replays the decoded stats verbatim), but the payload is a
    * genuine PNG encoded through the JDK's ImageIO — the blob shape a
    * production image corpus actually carries. */
  def asPngMedia(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = text.getBytes(UTF_8)
          val rowBytes = PpmWidth * 3
          val h = math.max(1, (tb.length + rowBytes - 1) / rowBytes)
          val pixels = java.util.Arrays.copyOf(tb, PpmWidth * h * 3)
          val payload = PngCodec.encode(PpmWidth, h, pixels)
          MediaRecord(id, PngCodec.Mime, payload.length.toLong, payload)
        }
      }.toDF()
  }

  /** [[asMedia]]'s LOSSY real-world twin: the identical text-byte raster
    * carried as genuine JPEG blobs (encoded through ImageIO at the JDK's
    * default quality) — the payload shape production image corpora
    * actually store. Geometry survives the lossy roundtrip exactly;
    * pixel values approximately (see [[JpegCodec]]). */
  def asJpegMedia(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = text.getBytes(UTF_8)
          val rowBytes = PpmWidth * 3
          val h = math.max(1, (tb.length + rowBytes - 1) / rowBytes)
          val pixels = java.util.Arrays.copyOf(tb, PpmWidth * h * 3)
          val payload = JpegCodec.encode(PpmWidth, h, pixels)
          MediaRecord(id, JpegCodec.Mime, payload.length.toLong, payload)
        }
      }.toDF()
  }

  /** documents -> media table of REAL PCM16 WAV files: each text byte b
    * becomes the centered sample (b - 128) * 256. */
  def asWavMedia(documents: DataFrame, sampleRate: Int = 8000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = text.getBytes(UTF_8)
          val samples = new Array[Short](tb.length)
          var i = 0
          while (i < tb.length) { samples(i) = (((tb(i) & 0xff) - 128) * 256).toShort; i += 1 }
          val payload = WavCodec.encode(samples, sampleRate)
          MediaRecord(id, WavCodec.Mime, payload.length.toLong, payload)
        }
      }.toDF()
  }

  /** Batched per-partition image decode + feature extraction. mapPartitions
    * (not a per-row UDF) so codec init amortizes per task — the Scala
    * analog of the `mapInPandas` batch shape. All sums are exact integer
    * arithmetic; the means divide exact ints, so they are bit-identical
    * across engines. */
  def imageFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val img = decodeImage(m.payload)
        var sum = 0L
        val chan = new Array[Long](3)
        var i = 0
        while (i < img.pixels.length) {
          val v = img.pixels(i) & 0xff
          sum += v
          chan(i % 3) += v
          i += 1
        }
        val nPix = img.width * img.height
        ImageFeatures(m.media_id, img.width, img.height, nPix, sum,
          sum.toDouble / (nPix * 3),
          chan(0).toDouble / nPix, chan(1).toDouble / nPix, chan(2).toDouble / nPix)
      }
    }.toDF()
  }

  /** Batched per-partition audio decode + feature extraction (header
    * metadata + exact-integer sample stats). */
  def audioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val wav = WavCodec.decode(m.payload)
        var sum = 0L
        var peak = 0
        var i = 0
        while (i < wav.samples.length) {
          val v = wav.samples(i).toInt
          sum += v
          val a = math.abs(v)
          if (a > peak) peak = a
          i += 1
        }
        val n = wav.samples.length.toLong
        AudioFeatures(m.media_id, wav.sampleRate, wav.nChannels, wav.bitsPerSample,
          n, sum, if (n == 0) 0.0 else sum.toDouble / n, peak)
      }
    }.toDF()
  }

  /** REAL nearest-neighbor image resize: decode -> resample -> re-encode,
    * per row, executor-side. Output payloads are valid PPMs of exactly
    * `targetW x targetH`. */
  def resizeImage(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, s"bad target ${targetW}x$targetH")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val img = decodeImage(m.payload)
        val out = new Array[Byte](targetW * targetH * 3)
        var ty = 0
        while (ty < targetH) {
          val sy = ty * img.height / targetH
          var tx = 0
          while (tx < targetW) {
            val sx = tx * img.width / targetW
            val src = (sy * img.width + sx) * 3
            val dst = (ty * targetW + tx) * 3
            out(dst) = img.pixels(src)
            out(dst + 1) = img.pixels(src + 1)
            out(dst + 2) = img.pixels(src + 2)
            tx += 1
          }
          ty += 1
        }
        val payload = PpmCodec.encode(targetW, targetH, out)
        MediaRecord(m.media_id, m.mime, payload.length.toLong, payload)
      }
    }.toDF()
  }

  /** REAL audio downsample: decode -> keep every `factor`-th sample ->
    * re-encode at the correspondingly reduced sample rate. Plain
    * decimation (no low-pass) — the deterministic, oracle-friendly
    * resample; output payloads are valid WAVs. */
  def downsampleAudio(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"bad downsample factor $factor")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val wav = WavCodec.decode(m.payload)
        val n = (wav.samples.length + factor - 1) / factor
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { out(i) = wav.samples(i * factor); i += 1 }
        val payload = WavCodec.encode(out, math.max(1, wav.sampleRate / factor))
        MediaRecord(m.media_id, m.mime, payload.length.toLong, payload)
      }
    }.toDF()
  }

  final case class ImagePhash(media_id: Long, phash: String)

  /** aHash-style PERCEPTUAL image hash: decode -> nearest-neighbor
    * resample onto an 8x8 luminance grid (same index arithmetic as
    * [[resizeImage]]) -> threshold each cell against the grid mean -> 64
    * bits. Returned as a '0'/'1' string: the oracle must replay the hash
    * bit for bit, and a signed-64 representation is not portable (DuckDB
    * errors on `1::BIGINT << 63`; the simhash kernels sidestep the same
    * trap by using 60 bits). The threshold compares `64 * lum > total`
    * in exact integer arithmetic — no mean division, no float anywhere,
    * so the hash is bit-identical across engines by construction.
    *
    * Computed inside the per-partition decode pass (payload bytes never
    * hit the driver); at 100 TB the hash is 8 bytes of state per image
    * against megabyte payloads — the classic fingerprint-then-discard
    * shape. */
  def imagePhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val img = decodeImage(m.payload)
        val lums = new Array[Long](64)
        var j = 0
        while (j < 64) {
          val sy = (j / 8) * img.height / 8
          val sx = (j % 8) * img.width / 8
          val p = (sy * img.width + sx) * 3
          lums(j) = (img.pixels(p) & 0xff) + (img.pixels(p + 1) & 0xff) +
            (img.pixels(p + 2) & 0xff)
          j += 1
        }
        val total = lums.sum
        val sb = new java.lang.StringBuilder(64)
        j = 0
        while (j < 64) { sb.append(if (64L * lums(j) > total) '1' else '0'); j += 1 }
        ImagePhash(m.media_id, sb.toString)
      }
    }.toDF()
  }

  /** Energy-envelope PERCEPTUAL audio hash — the WAV twin of
    * [[imagePhash]]: decode -> 64 fixed-length frames of `frameLen`
    * samples ANCHORED AT SAMPLE 0 (not scaled to clip length: a
    * length-relative grid re-bins every frame when even a few samples are
    * appended, and the hash degrades to noise — measured median hamming
    * 24.5/64 on 3-byte-appended variants; the anchored grid is
    * append-invariant by construction because trailing content lands
    * beyond the window) -> per-frame energy = exact integer sum of
    * |sample| -> threshold each frame against the mean over the ACTIVE
    * (within-clip) frames, `nActive * e_j > total`, no division, no
    * float — active-mean, because zero-padding a short clip's tail into
    * the global mean would push every real frame above threshold and
    * collapse short clips to all-ones prefixes -> 64 bits as a '0'/'1'
    * string. Amplitude is absolute (not normalized): the threshold is
    * scale-free, so a uniformly re-gained copy hashes identically.
    *
    * `frameLen` sets the window to `64 * frameLen` samples (~2 s of
    * 8 kHz audio at the default 256, the fingerprint-the-prefix shape
    * real audio dedup uses); the synthetic test clips are only a few
    * hundred samples, so their queries pass frameLen = 1.
    *
    * Computed inside the per-partition decode pass (payload bytes never
    * hit the driver); at 100 TB the hash is 8 bytes of state per clip
    * against megabyte payloads. Feed the result straight to
    * [[phashNearDupPairs]] — banding and hamming verification are
    * representation-agnostic over the 64-bit string. */
  def audioPhash(media: DataFrame, frameLen: Int = 256): DataFrame = {
    require(frameLen > 0, s"frameLen $frameLen must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val wav = WavCodec.decode(m.payload)
        val n = wav.samples.length
        val win = math.min(n, 64 * frameLen)
        val energies = new Array[Long](64)
        var i = 0
        while (i < win) {
          energies(i / frameLen) += math.abs(wav.samples(i).toInt)
          i += 1
        }
        val total = energies.sum
        val nActive = math.min(64L, (n.toLong + frameLen - 1) / frameLen)
        val sb = new java.lang.StringBuilder(64)
        var j = 0
        while (j < 64) { sb.append(if (nActive * energies(j) > total) '1' else '0'); j += 1 }
        ImagePhash(m.media_id, sb.toString)
      }
    }.toDF()
  }

  /** Banded near-dup pairs over perceptual hashes — the simhash-LSH
    * recipe applied to images: split each 64-bit phash into `nBands`
    * bands, a candidate pair must collide on a FULL band (guaranteed for
    * any pair within `nBands - 1` total bit flips by pigeonhole), then
    * verify exact hamming <= `maxHamming` on candidates only. Candidate
    * generation runs through [[TextOps.bucketPairs]] — the same
    * within-bucket pair generator + bucket-size skew cap as the text LSH
    * path, because images have the same boilerplate hazard: all-padding
    * rasters all hash bands to zero, and that one bucket would otherwise
    * fan out O(bucket^2) pairs. Dropping a >cap bucket is sound for the
    * same reason as in text LSH: a band shared by that many images
    * carries no discriminating signal, and true near-dups still collide
    * on their rarer bands.
    *
    * Input: [[imagePhash]] output (checkpoint it — it is scanned by the
    * band melt and both hash-lookup joins). Output:
    * (media_a, media_b, hamming), media_a < media_b. */
  /** 64-bit phash -> (doc_id, band, sig) band rows — the banding step of
    * [[phashNearDupPairs]] factored out so the INCREMENTAL media path can
    * persist standing band rows ([[graft.llm.StandingState]]'s media
    * tables) and reuse [[TextOps.incrementalBucketPairs]] for
    * batch-vs-standing candidates. */
  def phashBandRows(phashes: DataFrame, nBands: Int): DataFrame = {
    require(64 % nBands == 0, s"nBands $nBands must divide 64")
    val bandLen = 64 / nBands
    phashes.select(
      col("media_id").as("doc_id"),
      posexplode(array((0 until nBands).map(b =>
        substring(col("phash"), b * bandLen + 1, bandLen)): _*)).as(Seq("band", "sig")))
  }

  /** Exact hamming distance between the 64-bit '0'/'1' phash strings in
    * `pa`/`pb` (built-ins only, codegen-friendly). */
  private def hammingCol: Column = expr(
    """aggregate(transform(sequence(1, 64),
      |  i -> IF(substring(pa, i, 1) = substring(pb, i, 1), 0, 1)),
      |  0, (acc, v) -> acc + v)""".stripMargin).cast("int")

  def phashNearDupPairs(
      phashes: DataFrame,
      nBands: Int = 4,
      maxHamming: Int = 8,
      maxBucketSize: Int = TextOps.DefaultMaxBucketSize): DataFrame = {
    val bands = phashBandRows(phashes, nBands)
    val pairs = TextOps.bucketPairs(bands, maxBucketSize)
    val pa = phashes.select(col("media_id").as("doc_a"), col("phash").as("pa"))
    val pb = phashes.select(col("media_id").as("doc_b"), col("phash").as("pb"))
    pairs.join(pa, "doc_a").join(pb, "doc_b")
      .withColumn("hamming", hammingCol)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"), col("hamming"))
  }

  /** INCREMENTAL perceptual near-dedup — the media intake's daily-ingest
    * case, mirroring [[graft.llm.Dedup.dedupNearLshIncrementalVsBands]]:
    * an incoming image/clip is dropped when its phash is within
    * `maxHamming` of ANY standing phash (the standing corpus always
    * wins) or of a LOWER-id incoming one (the greedy within-batch
    * policy). `standingBands` is the persisted (media_id, band, sig)
    * table and `standingPhashes` the persisted (media_id, phash) table —
    * the standing payloads are NEVER decoded again (8 bytes of state per
    * standing image, the fingerprint-then-discard shape); candidate
    * generation emits pairs only around incoming ids
    * ([[TextOps.incrementalBucketPairs]] — zero standing x standing
    * work). Returns the surviving incoming (media_id, phash) rows.
    * media_ids must be disjoint across the two sides. */
  def phashNearDupIncrementalVsBands(
      incomingPhashes: DataFrame,
      standingBands: DataFrame,
      standingPhashes: DataFrame,
      nBands: Int = 4,
      maxHamming: Int = 8,
      maxBucketSize: Int = TextOps.DefaultMaxBucketSize): DataFrame = {
    val bi = phashBandRows(incomingPhashes, nBands).withColumn("inc", lit(1L))
    val bs = standingBands
      .select(col("media_id").as("doc_id"), col("band"), col("sig"))
      .withColumn("inc", lit(0L))
    val pairs = TextOps.incrementalBucketPairs(bi.unionByName(bs), maxBucketSize)
      .localCheckpoint(false)
    // phash lookup for candidate ids only (semi-join pruned scan)
    val candIds = pairs.select(col("doc_a").as("media_id"))
      .union(pairs.select(col("doc_b").as("media_id"))).distinct()
    val allPh = standingPhashes.select("media_id", "phash")
      .unionByName(incomingPhashes.select("media_id", "phash"))
      .join(candIds, Seq("media_id"), "left_semi")
      .localCheckpoint(false)
    val drop = pairs
      .join(allPh.select(col("media_id").as("doc_a"), col("phash").as("pa")), Seq("doc_a"))
      .join(allPh.select(col("media_id").as("doc_b"), col("phash").as("pb")), Seq("doc_b"))
      .withColumn("hamming", hammingCol)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_b").as("media_id")).distinct()
      .localCheckpoint(false) // one consumer; not lazy (see Dedup.exactByHash)
    incomingPhashes.join(drop, Seq("media_id"), "left_anti")
  }

  /** Deterministic frame-sampling analog: every `stride`-th byte of the
    * payload as a "frame", limited to `maxFrames` — the access pattern a
    * video frame-sampler has (seek + slice), kept executor-side. */
  def sampleFrames(media: DataFrame, stride: Int, maxFrames: Int): DataFrame =
    media.select(
      col("media_id"),
      expr(
        s"""transform(sequence(0, least(int(n_bytes / $stride), ${maxFrames - 1})),
           |  i -> substring(payload, i * $stride + 1, 1))""".stripMargin).as("frames"),
    )

  final case class Gvid(width: Int, height: Int, nFrames: Int, frames: Array[Byte])

  /** Minimal uncompressed grayscale video container — the video leg's
    * [[PpmCodec]] analog: ascii header `GV1\n<width> <height> <nFrames>\n`
    * followed by `nFrames` raw `width*height`-byte luma rasters. The shape
    * of every raw-frame interchange format (Y4M without chroma); a real
    * production column would hold H.264/VP9 bytes and the decode step
    * would call a native decoder — everything downstream of the frame
    * buffer (sampling, hashing, banding) is codec-agnostic. */
  object GvidCodec {
    val Mime = "video/x-graft-raw"

    def encode(width: Int, height: Int, frames: Array[Byte]): Array[Byte] = {
      require(width > 0 && height > 0, s"bad dims ${width}x$height")
      val fsize = width * height
      require(frames.length % fsize == 0 && frames.length > 0,
        s"frame buffer ${frames.length} not a positive multiple of $fsize")
      val header = s"GV1\n$width $height ${frames.length / fsize}\n".getBytes(UTF_8)
      val out = new Array[Byte](header.length + frames.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(frames, 0, out, header.length, frames.length)
      out
    }

    def decode(bytes: Array[Byte]): Gvid = {
      def fail(msg: String) = throw new IllegalArgumentException(s"GVID: $msg")
      if (bytes.length < 4 || bytes(0) != 'G' || bytes(1) != 'V' ||
        bytes(2) != '1' || bytes(3) != '\n') fail("bad magic (want GV1)")
      var i = 4
      def readInt(what: String): Int = {
        while (i < bytes.length && (bytes(i) == ' ' || bytes(i) == '\n')) i += 1
        if (i >= bytes.length || bytes(i) < '0' || bytes(i) > '9') fail(s"expected $what digit")
        var v = 0
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          v = v * 10 + (bytes(i) - '0')
          if (v > 0x7fffffff / 16) fail(s"$what overflow")
          i += 1
        }
        v
      }
      val w = readInt("width")
      val h = readInt("height")
      val n = readInt("nFrames")
      if (i >= bytes.length || bytes(i) != '\n') fail("missing raster separator")
      i += 1
      if (w <= 0 || h <= 0 || n <= 0) fail(s"bad geometry ${w}x$h x$n")
      // Long product: the per-value overflow caps don't bound the PRODUCT —
      // a crafted header like 100000x100000x10 wraps an Int multiply and
      // could pass the truncation check with nFrames disagreeing with the
      // frame buffer (blowing up later in videoPhash instead of here)
      val need = w.toLong * h * n
      if (need > bytes.length - i || need > Int.MaxValue)
        fail(s"truncated frames: ${bytes.length - i} < $need")
      Gvid(w, h, n, java.util.Arrays.copyOfRange(bytes, i, i + need.toInt))
    }
  }

  /** documents -> media table of REAL GVID clips: text UTF-8 bytes chunked
    * into `width x height` grayscale frames, zero-padded to a whole frame
    * count — the video analog of [[asMedia]]/[[asWavMedia]], so the oracle
    * recomputes every decoded stat from the text column. */
  def asVideoMedia(documents: DataFrame, width: Int = 4, height: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val fsize = width * height
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = text.getBytes(UTF_8)
          val n = math.max(1, (tb.length + fsize - 1) / fsize)
          val payload = GvidCodec.encode(width, height,
            java.util.Arrays.copyOf(tb, n * fsize))
          MediaRecord(id, GvidCodec.Mime, payload.length.toLong, payload)
        }
      }.toDF()
  }

  /** REAL video resample: decode -> keep every `stride`-th frame (frame
    * 0, stride, 2*stride, ...) -> re-encode — the frame-drop decimation a
    * video pipeline runs before feature extraction, completing the
    * image ([[resizeImage]]) / audio ([[downsampleAudio]]) / video
    * resample triple. Output payloads are valid GVID clips of
    * `ceil(nFrames / stride)` frames. */
  def decimateVideo(media: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, s"bad decimation stride $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val v = GvidCodec.decode(m.payload)
        val fsize = v.width * v.height
        val n = (v.nFrames + stride - 1) / stride
        val out = new Array[Byte](n * fsize)
        var i = 0
        while (i < n) {
          System.arraycopy(v.frames, i * stride * fsize, out, i * fsize, fsize)
          i += 1
        }
        val payload = GvidCodec.encode(v.width, v.height, out)
        MediaRecord(m.media_id, m.mime, payload.length.toLong, payload)
      }
    }.toDF()
  }

  final case class VideoFeatures(
      media_id: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      byte_sum: Long,
      mean_byte: Double,
  )

  /** Batched per-partition video decode + feature extraction — the GVID
    * twin of [[imageFeatures]]/[[audioFeatures]]: header geometry plus
    * exact-integer luma stats (the mean divides exact ints, so it is
    * bit-identical across engines). */
  def videoFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val v = GvidCodec.decode(m.payload)
        var sum = 0L
        var i = 0
        while (i < v.frames.length) { sum += v.frames(i) & 0xffL; i += 1 }
        VideoFeatures(m.media_id, v.width, v.height, v.nFrames, sum,
          sum.toDouble / (v.nFrames.toLong * v.width * v.height))
      }
    }.toDF()
  }

  /** Frame-sampled PERCEPTUAL video hash — the [[sampleFrames]] access
    * pattern fused with the [[audioPhash]] energy-envelope recipe: decode,
    * take frames 0, stride, 2*stride, ... (up to 64 — a sampler never
    * touches every frame of a long clip), per-frame energy = exact integer
    * sum of luma bytes, threshold against the mean over ACTIVE (within-
    * clip) sampled frames with the same division-free `nActive * e_j >
    * total` form, 64 bits as a '0'/'1' string. Start-anchored like the
    * audio grid, so appended trailing frames never re-bin existing ones;
    * a uniformly re-gained (brightness-scaled) copy hashes identically
    * for the same scale-free reason. Feed straight to
    * [[phashNearDupPairs]] — banding is representation-agnostic. */
  def videoPhash(media: DataFrame, stride: Int = 1): DataFrame = {
    require(stride > 0, s"stride $stride must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { m =>
        val v = GvidCodec.decode(m.payload)
        val fsize = v.width * v.height
        val energies = new Array[Long](64)
        var j = 0
        while (j < 64) {
          val f = j.toLong * stride
          if (f < v.nFrames) {
            val off = (f * fsize).toInt
            var b = 0
            while (b < fsize) { energies(j) += (v.frames(off + b) & 0xffL); b += 1 }
          }
          j += 1
        }
        val total = energies.sum
        val nActive = math.min(64L, (v.nFrames + stride - 1L) / stride)
        val sb = new java.lang.StringBuilder(64)
        j = 0
        while (j < 64) { sb.append(if (nActive * energies(j) > total) '1' else '0'); j += 1 }
        ImagePhash(m.media_id, sb.toString)
      }
    }.toDF()
  }
}
