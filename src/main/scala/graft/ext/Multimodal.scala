package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * plus a typed metadata struct, with decode / feature-extract / resize /
  * frame-sample stages. The Spark-side machinery — schema contracts,
  * per-partition batch iteration (the Scala analog of `mapInPandas`
  * batches), partition sizing, column pruning before the heavy stage — is
  * real and tested. REAL codecs end-to-end: binary PPM (P6) decode +
  * nearest-neighbor resize + re-encode in pure JVM ([[decodePpm]],
  * [[transcodePpm]]), JPEG/PNG/BMP/GIF via the JDK's `javax.imageio`
  * ([[imageStats]], [[transcodeImage]]), and RIFF/WAV PCM audio
  * ([[decodeAudio]]). Only formats a bare JVM genuinely cannot decode
  * (webp/heic, compressed audio, video containers) keep a deterministic
  * stub, clearly marked, behind the same magic-byte dispatch a
  * production decoder uses.
  *
  * At 100 TB: binary payloads never shuffle — decode/featurize are
  * narrow (mapPartitions) stages; only extracted features (fixed-width
  * arrays) and metadata flow into joins/aggregations downstream.
  */
object Multimodal {

  val mediaMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_bytes", LongType)))

  /** Wrap a text corpus as a fake media corpus: payload = UTF-8 bytes.
    * Stands in for `spark.read.format("binaryFile")` at test scale.
    */
  def asMedia(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("media_id"),
                encode(col(textCol), "UTF-8").as("payload"))

  // ---- codecs ----------------------------------------------------------
  // One REAL codec — binary PPM (P6), the image format a bare JVM can parse
  // and re-encode with no native libraries — plus the deterministic STUB
  // fake for everything else (libjpeg/ffmpeg are not in this container).
  // The decode stage sniffs magic bytes like any production dispatcher.

  /** Parse a binary-PPM (P6) payload: ASCII header (`P6`, width, height,
    * maxval ≤ 255, '#' comments allowed) followed by raw RGB triplets.
    * Returns (width, height, 3, pixels) or None if the payload is not a
    * well-formed 8-bit P6 image.
    */
  private[ext] def decodePpm(payload: Array[Byte])
      : Option[(Int, Int, Int, Array[Byte])] =
    parsePpmAt(payload, 0).map { case (w, h, px, _) => (w, h, 3, px) }

  /** One P6 image starting at `start`: (width, height, pixels, end offset).
    * The end offset is what lets [[samplePpmFrames]] walk a concatenated
    * frame stream the way a container demuxer walks packets.
    */
  private[ext] def parsePpmAt(payload: Array[Byte], start: Int)
      : Option[(Int, Int, Array[Byte], Int)] = {
    if (start + 2 > payload.length ||
        payload(start) != 'P' || payload(start + 1) != '6')
      return None
    var pos = start + 2
    def nextInt(): Int = {
      while (pos < payload.length &&
             (Character.isWhitespace(payload(pos)) || payload(pos) == '#')) {
        if (payload(pos) == '#')
          while (pos < payload.length && payload(pos) != '\n') pos += 1
        else pos += 1
      }
      var v = -1
      while (pos < payload.length &&
             payload(pos) >= '0' && payload(pos) <= '9') {
        v = math.max(v, 0) * 10 + (payload(pos) - '0'); pos += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    pos += 1 // exactly one whitespace byte separates header and raster
    val need = w.toLong * h * 3
    if (pos + need > payload.length) None
    else Some((w, h,
      java.util.Arrays.copyOfRange(payload, pos, pos + need.toInt),
      pos + need.toInt))
  }

  /** Nearest-neighbor resize of a raw RGB raster to fit maxSide (never
    * upscales). The real pixel path behind [[transcodePpm]].
    */
  private[ext] def resizeRgb(w: Int, h: Int, px: Array[Byte],
                             maxSide: Int): (Int, Int, Array[Byte]) = {
    val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
    val nw = math.max(1, math.ceil(w * scale).toInt)
    val nh = math.max(1, math.ceil(h * scale).toInt)
    val out = new Array[Byte](nw * nh * 3)
    var y = 0
    while (y < nh) {
      val sy = math.min(h - 1, (y / scale).toInt)
      var x = 0
      while (x < nw) {
        val sx = math.min(w - 1, (x / scale).toInt)
        System.arraycopy(px, (sy * w + sx) * 3, out, (y * nw + x) * 3, 3)
        x += 1
      }
      y += 1
    }
    (nw, nh, out)
  }

  private[ext] def fakeDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val n = payload.length
    val width = (n % 512) + 1
    val height = (n / 512) + 1
    (width, height, 3)
  }

  // ---- REAL mainstream image lane: JPEG/PNG/BMP/GIF via javax.imageio ---
  // The JDK ships codecs for all four — no native libs needed. Same
  // magic-byte dispatch as a production decoder; formats the JDK cannot
  // decode (webp, heic, ...) still fall through to the honest stub.

  /** Magic-byte sniff for the formats the JDK's ImageIO can decode.
    * Returns the informal format name ("jpeg"|"png"|"bmp"|"gif") or None.
    */
  private[ext] def sniffImageFormat(p: Array[Byte]): Option[String] = {
    def b(i: Int) = p(i) & 0xff
    if (p.length >= 3 && b(0) == 0xff && b(1) == 0xd8 && b(2) == 0xff)
      Some("jpeg")
    else if (p.length >= 8 && b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
             b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a && b(6) == 0x1a &&
             b(7) == 0x0a)
      Some("png")
    else if (p.length >= 2 && b(0) == 'B' && b(1) == 'M')
      Some("bmp")
    else if (p.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
             b(3) == '8')
      Some("gif")
    else None
  }

  /** Real decode through `javax.imageio`: None unless the magic bytes name
    * a JDK-decodable format AND the payload parses. Sniff-first keeps
    * arbitrary binary (the fake-media test corpora) off the ImageIO path.
    */
  private[ext] def readImage(payload: Array[Byte])
      : Option[java.awt.image.BufferedImage] =
    sniffImageFormat(payload).flatMap { _ =>
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException => None }
    }

  /** (width, height, channels) from a real ImageIO decode; channels = the
    * raster's band count (3 RGB, 4 RGBA, 1 gray), from the actual header.
    */
  private[ext] def decodeImageIo(payload: Array[Byte])
      : Option[(Int, Int, Int)] =
    readImage(payload).map(img =>
      (img.getWidth, img.getHeight, img.getRaster.getNumBands))

  /** Encode a BufferedImage with the JDK writer for `format`. */
  def encodeImage(img: java.awt.image.BufferedImage,
                  format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, format, bos)
    require(ok, s"no JDK ImageIO writer for format $format")
    bos.toByteArray
  }

  /** Synthesize a real-image corpus from a doc table: one `format` image
    * per row, dimensions and fill color derived deterministically from the
    * id — so a DuckDB oracle can predict what a REAL decode must recover.
    * width = id%30+2, height = id%19+2, fill RGB = (id*7, id*13, id*29)%256.
    */
  def synthesizeImages(docs: DataFrame, format: String = "png",
                       idCol: String = "doc_id"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    val idIdx = docs.schema.fieldIndex(idCol)
    implicit val enc = Encoders.row(outSchema)
    // per-row ImageIO encode is seconds of CPU on an unsplittable
    // single-task scan — fan the small input rows out first (no-op on
    // already-parallel inputs; see Par.fanOut)
    Par.fanOut(docs).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val w = (id % 30).toInt + 2; val h = (id % 19).toInt + 2
        val rgb = ((id * 7) % 256).toInt << 16 |
                  ((id * 13) % 256).toInt << 8 | ((id * 29) % 256).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        Row(id, encodeImage(img, format))
      }
    }
  }

  /** Synthesize a textured PPM corpus with PLANTED near-duplicate
    * structure — the [[phashPairs]] gate fixture: ids group in threes
    * (g = id/3); member id%3 == 0 is the group's base texture, == 1 the
    * same texture with one small 3×3 brightness bump (a genuine
    * near-duplicate: a few Hamming bits away on the 64-bit pHash), == 2
    * an unrelated texture (far). Textures are splitmix-mixed from the
    * group seed (the Round5b lesson: a non-mixing generator gives every
    * image one alternating sign pattern and pathological median bits),
    * so the planted pair set {(3g, 3g+1)} is a pure function of the id
    * set — exactly what a SQL oracle can predict without decoding
    * anything. Deterministic: no RNG state, byte-identical across runs,
    * JVMs, and partitionings.
    */
  def synthesizeNearDupImages(docs: DataFrame,
                              idCol: String = "doc_id"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    val idIdx = docs.schema.fieldIndex(idCol)
    implicit val enc = Encoders.row(outSchema)
    Par.fanOut(docs).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        Row(id, nearDupPpm(id))
      }
    }
  }

  private[ext] def nearDupPpm(id: Long): Array[Byte] = {
    val w = 64; val h = 64
    val g = id / 3; val m = (id % 3).toInt
    def tex(seed: Long, i: Int): Int = {
      var z = seed + i.toLong * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) & 0xff).toInt
    }
    // members 0 and 1 share the group texture; member 2 is its own
    val seed = g * 1000003L + (if (m == 2) 777L else 0L)
    val px = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val x = i % w; val y = i / w
      val bump = if (m == 1 && x < 3 && y < 3) 18 else 0
      px(i * 3) = math.min(255, tex(seed, i) + bump).toByte
      px(i * 3 + 1) = tex(seed + 1, i).toByte
      px(i * 3 + 2) = tex(seed + 2, i).toByte
      i += 1
    }
    s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
  }

  /** Real-decode stats for image payloads: dimensions, channels, and the
    * (0,0) pixel's RGB — the lossless-round-trip probe (PNG/BMP/GIF give
    * back the exact fill color; JPEG is checked on dimensions only).
    * Non-image rows are dropped, mirroring [[decodeAudio]]'s lane contract.
    */
  def imageStats(media: DataFrame,
                 payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("r0", IntegerType),
      StructField("g0", IntegerType),
      StructField("b0", IntegerType)))
    val idIdx = media.schema.fieldIndex("media_id")
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(schema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        readImage(r.getAs[Array[Byte]](pIdx)).map { img =>
          val px = img.getRGB(0, 0)
          Row(r.getLong(idIdx), img.getWidth, img.getHeight,
              img.getRaster.getNumBands,
              (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
        }
      }
    }
  }

  /** REAL transcode for JDK-decodable image payloads: decode, scale to fit
    * `maxSide` (never upscales — same policy as [[resizeRgb]]), re-encode
    * in the sniffed format. Non-image rows pass through unchanged, like
    * [[transcodePpm]]. GIF re-encodes via an RGB frame (palette rebuilt by
    * the writer).
    */
  def transcodeImage(media: DataFrame, maxSide: Int,
                     payloadCol: String = "payload"): DataFrame = {
    val idx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(media.schema)
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val out = for {
          fmt <- sniffImageFormat(bytes)
          img <- readImage(bytes)
        } yield {
          val w = img.getWidth; val h = img.getHeight
          val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
          val nw = math.max(1, math.ceil(w * scale).toInt)
          val nh = math.max(1, math.ceil(h * scale).toInt)
          val dst = new java.awt.image.BufferedImage(
            nw, nh, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, nw, nh, null)
          } finally g.dispose()
          encodeImage(dst, fmt)
        }
        out match {
          case Some(p) => Row.fromSeq(r.toSeq.updated(idx, p))
          case None => r
        }
      }
    }
  }

  /** Decode stage: binary → metadata struct. mapPartitions so a real codec
    * amortizes per-partition init (model load, JNI context) exactly like a
    * `mapInPandas` batch fn would.
    */
  def decode(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(media.schema.fields :+
      StructField("meta", mediaMetaType))
    val idx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(schema)
    media.mapPartitions { it =>
      // per-partition init happens here (codec context in the real impl)
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        // sniff magic bytes: P6 and the JDK ImageIO formats (JPEG/PNG/
        // BMP/GIF) decode for real; only genuinely undecodable formats
        // (webp, video codecs, raw text) hit the stub
        val (w, h, c) = decodePpm(bytes) match {
          case Some((pw, ph, pc, _)) => (pw, ph, pc)
          case None => decodeImageIo(bytes).getOrElse(
            fakeDecode(bytes)) // STUB: ffmpeg-class codecs go here
        }
        Row.fromSeq(r.toSeq :+ Row(w, h, c, bytes.length.toLong))
      }
    }
  }

  /** REAL transcode for P6 payloads: decode, nearest-neighbor resize to
    * fit `maxSide`, re-encode as P6. Non-PPM rows pass through unchanged
    * (the dispatcher shape: route by format, never drop). Same narrow
    * mapPartitions contract as [[decode]] — payloads never shuffle.
    */
  def transcodePpm(media: DataFrame, maxSide: Int,
                   payloadCol: String = "payload"): DataFrame = {
    val idx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(media.schema)
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        decodePpm(bytes) match {
          case Some((w, h, _, px)) =>
            val (nw, nh, npx) = resizeRgb(w, h, px, maxSide)
            val header = s"P6\n$nw $nh\n255\n"
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
            val out = new Array[Byte](header.length + npx.length)
            System.arraycopy(header, 0, out, 0, header.length)
            System.arraycopy(npx, 0, out, header.length, npx.length)
            Row.fromSeq(r.toSeq.updated(idx, out))
          case None => r
        }
      }
    }
  }

  /** Resize stage: metadata-only transform (real impl rewrites pixels);
    * pure expressions — stays in codegen.
    */
  def resize(decoded: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide) / greatest(col("meta.width"), col("meta.height")).cast("double"))
    decoded.withColumn("meta", struct(
      ceil(col("meta.width") * scale).cast("int").as("width"),
      ceil(col("meta.height") * scale).cast("int").as("height"),
      col("meta.channels").as("channels"),
      col("meta.n_bytes").as("n_bytes")))
  }

  /** Frame sampling for "video" payloads: every strideBytes-th window marks
    * a frame; emits (media_id, frame_no, frame_bytes). Real impl seeks
    * keyframes; the batch shape (one row in → n frame rows out, payload
    * chunked not copied whole) is the load-bearing part.
    */
  def sampleFrames(media: DataFrame, strideBytes: Int = 64,
                   payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_no", IntegerType),
      StructField("frame", BinaryType)))
    val idIdx = media.schema.fieldIndex("media_id")
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        (0 until math.max(1, bytes.length / strideBytes)).iterator.map { f =>
          // STUB: real impl decodes the keyframe at this offset
          val start = f * strideBytes
          val end = math.min(bytes.length, start + strideBytes)
          Row(id, f, java.util.Arrays.copyOfRange(bytes, start, end))
        }
      }
    }
  }

  /** Feature extraction: payload → fixed-width float vector. STUB derives
    * features from byte histograms (deterministic); real impl runs a vision
    * encoder per partition-batch. Output feeds Similarity.* directly.
    */
  def extractFeatures(media: DataFrame, dim: Int = 16,
                      payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(FloatType))))
    val idIdx = media.schema.fieldIndex("media_id")
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(schema)
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](pIdx)
        // STUB: byte-bucket histogram normalized by length
        val hist = new Array[Float](dim)
        var i = 0
        while (i < bytes.length) {
          hist(((bytes(i) & 0xff) * dim) / 256) += 1f
          i += 1
        }
        val n = math.max(1, bytes.length).toFloat
        Row(r.getLong(idIdx), hist.map(_ / n).toSeq)
      }
    }
  }

  /** REAL frame sampling for concatenated-P6 "video" payloads (the
    * motion-PPM/y4m-style stream: frames back to back, no container): walk
    * the stream parsing each frame, emit every `stride`-th as a standalone
    * P6 payload with its frame number. Non-PPM payloads yield no rows —
    * they belong to [[sampleFrames]]'s byte-stride stub. Demonstrates the
    * demuxer shape for real: seek is sequential parse, emission is a slice
    * of the original buffer (no pixel copy).
    */
  def samplePpmFrames(media: DataFrame, stride: Int = 1,
                      payloadCol: String = "payload"): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_no", IntegerType),
      StructField("frame", BinaryType)))
    val idIdx = media.schema.fieldIndex("media_id")
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        Iterator.unfold(0) { pos =>
          parsePpmAt(bytes, pos).map { case (_, _, _, end) =>
            ((pos, end), end)
          }
        }.zipWithIndex.collect { case ((s, e), fno) if fno % stride == 0 =>
          Row(id, fno, java.util.Arrays.copyOfRange(bytes, s, e))
        }
      }
    }
  }

  /** Frame sampling for a MAINSTREAM animated format: every `stride`-th
    * frame of an animated GIF, decoded by the JDK ImageIO reader and
    * re-encoded standalone as PNG — the video-keyframe-extraction shape
    * over a format this container can actually decode. Non-GIF payloads
    * yield no rows (sniff-first, like every real lane). Frames are the
    * reader's RAW frames (a GIF frame may be a sub-rectangle under
    * disposal composition — keyframe pipelines treat frames
    * independently, so no compositing pass here; documented).
    *
    * Same 100 TB shape as [[samplePpmFrames]]: a narrow per-row flatMap,
    * no shuffle; per-task memory is one decoded frame at a time.
    */
  def sampleGifFrames(media: DataFrame, stride: Int = 1,
                      payloadCol: String = "payload"): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_no", IntegerType),
      StructField("frame", BinaryType)))
    val idIdx = media.schema.fieldIndex("media_id")
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        if (!sniffImageFormat(bytes).contains("gif")) Iterator.empty
        else {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) { iis.close(); Iterator.empty }
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              (0 until n by stride).iterator.map { i =>
                Row(id, i, encodeImage(reader.read(i), "png"))
              }.toVector.iterator // materialize before the reader closes
            } catch {
              case _: java.io.IOException => Iterator.empty
            } finally { reader.dispose(); iis.close() }
          }
        }
      }
    }
  }

  // ---- REAL audio lane: WAV (RIFF/PCM-16) ------------------------------

  /** Parse a RIFF/WAVE payload with a PCM-16 `data` chunk: returns
    * (sampleRate, channels, interleaved 16-bit samples) or None for
    * anything that is not canonical 16-bit PCM (compressed codecs stay in
    * stub territory). Chunk-walks like any RIFF reader — unknown chunks
    * (LIST, fact, ...) are skipped, not errors.
    */
  private[ext] def decodeWav(payload: Array[Byte])
      : Option[(Int, Int, Array[Short])] = {
    def ascii(at: Int) = new String(payload, at, 4, "US-ASCII")
    def le16(at: Int): Int =
      (payload(at) & 0xff) | ((payload(at + 1) & 0xff) << 8)
    def le32(at: Int): Int = le16(at) | (le16(at + 2) << 16)
    if (payload.length < 44 || ascii(0) != "RIFF" || ascii(8) != "WAVE")
      return None
    var pos = 12
    var fmt: Option[(Int, Int, Int)] = None // (audioFormat, channels, rate)
    var bits = 0
    var data: Option[(Int, Int)] = None // (offset, byteLen)
    while (pos + 8 <= payload.length) {
      val id = ascii(pos); val size = le32(pos + 4)
      // a negative or past-the-end chunk size is a malformed payload, not
      // a skippable chunk: a negative size would stall the walk (pos += 0
      // → infinite loop on an executor) and an oversized one would read
      // out of bounds — non-canonical payloads return None, per contract
      if (size < 0 || pos + 8 + size > payload.length) return None
      if (id == "fmt " && size >= 16) {
        fmt = Some((le16(pos + 8), le16(pos + 10), le32(pos + 12)))
        bits = le16(pos + 22)
      } else if (id == "data") {
        data = Some((pos + 8, size))
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    (fmt, data) match {
      case (Some((1, ch, rate)), Some((off, len)))
          if bits == 16 && ch >= 1 && rate > 0 =>
        val n = len / 2
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = ((payload(off + 2 * i) & 0xff) |
            (payload(off + 2 * i + 1) << 8)).toShort
          i += 1
        }
        Some((rate, ch, samples))
      case _ => None
    }
  }

  /** Decode stage for audio payloads: (media_id, sample_rate, channels,
    * n_samples, duration_s) per decodable WAV row; non-WAV rows are
    * dropped (the dispatcher would route them to their own codec). Narrow
    * mapPartitions, payloads never shuffle — same contract as [[decode]].
    */
  def decodeAudio(media: DataFrame,
                  payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("n_samples", LongType),
      StructField("duration_s", DoubleType)))
    val idIdx = media.schema.fieldIndex("media_id")
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(schema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeWav(r.getAs[Array[Byte]](pIdx)).map { case (rate, ch, s) =>
          val perCh = s.length / ch
          Row(r.getLong(idIdx), rate, ch, perCh.toLong,
              perCh.toDouble / rate)
        }
      }
    }
  }

  /** REAL audio features over PCM frames: per `frameSamples` window of the
    * first channel — RMS energy (full-scale = 1.0) and zero-crossing rate
    * (sign changes / (frame length − 1)), the two classic speech/music
    * discriminators. One row in → n frame rows out, like [[sampleFrames]].
    */
  def audioFeatures(media: DataFrame, frameSamples: Int = 512,
                    payloadCol: String = "payload"): DataFrame = {
    require(frameSamples >= 2, s"frameSamples must be >= 2, got $frameSamples")
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_no", IntegerType),
      StructField("rms", DoubleType),
      StructField("zcr", DoubleType)))
    val idIdx = media.schema.fieldIndex("media_id")
    val pIdx = media.schema.fieldIndex(payloadCol)
    implicit val enc = Encoders.row(schema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        decodeWav(r.getAs[Array[Byte]](pIdx)).iterator.flatMap {
          case (_, ch, s) =>
            // first channel of the interleaved stream
            val mono = Array.tabulate(s.length / ch)(i => s(i * ch))
            mono.grouped(frameSamples).zipWithIndex
              .filter(_._1.length == frameSamples)
              .map { case (frame, fno) =>
                var sq = 0.0; var flips = 0
                var i = 0
                while (i < frame.length) {
                  val v = frame(i) / 32768.0
                  sq += v * v
                  if (i > 0 && (frame(i) < 0) != (frame(i - 1) < 0)) flips += 1
                  i += 1
                }
                Row(id, fno, math.sqrt(sq / frame.length),
                    flips.toDouble / (frame.length - 1))
              }
        }
      }
    }
  }

  // ---- perceptual hashing (image near-dup) ----

  /** Raw RGB raster from any REAL decode lane (PPM pure-JVM, mainstream
    * formats via ImageIO); None for stub-lane/undecodable payloads —
    * unknown bytes must never hash.
    */
  private[ext] def decodeRgb(payload: Array[Byte])
      : Option[(Int, Int, Array[Byte])] =
    decodePpm(payload).map { case (w, h, _, px) => (w, h, px) }
      .orElse(readImage(payload).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        val px = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val o = (y * w + x) * 3
            px(o) = ((rgb >> 16) & 0xff).toByte
            px(o + 1) = ((rgb >> 8) & 0xff).toByte
            px(o + 2) = (rgb & 0xff).toByte
            x += 1
          }
          y += 1
        }
        (w, h, px)
      })

  /** 64-bit perceptual hash (pHash): box-average grayscale to 32×32 →
    * 2-D DCT-II → top-left 8×8 low-frequency block → bit per coefficient
    * above the non-DC median. Small pixel perturbations barely move the
    * low-frequency spectrum, so near-identical images land within a few
    * Hamming bits — the image analog of SimHash on text. StrictMath
    * cosines keep the hash identical across JVMs/architectures.
    */
  /** DCT-II basis table for [[phash64]]: cosTab(u)(x) =
    * cos((2x+1)·u·π/64) for the 8 output frequencies × 32 positions.
    * The naive loop called StrictMath.cos ~131k times per image (the
    * dominant cost — ~39M transcendental calls for a 300-image gate);
    * the table is the SAME StrictMath values computed once, so hashes
    * are bit-identical.
    */
  private val phashCosTab: Array[Array[Double]] =
    Array.tabulate(8, 32)((u, x) =>
      StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 64))

  private[ext] def phash64(w: Int, h: Int, px: Array[Byte]): Long = {
    val S = 32
    val g = new Array[Double](S * S)
    var ty = 0
    while (ty < S) {
      val y0 = ty * h / S
      val y1 = math.max(y0 + 1, (ty + 1) * h / S)
      var tx = 0
      while (tx < S) {
        val x0 = tx * w / S
        val x1 = math.max(x0 + 1, (tx + 1) * w / S)
        var acc = 0L
        var cnt = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val o = (y * w + x) * 3
            acc += 299L * (px(o) & 0xff) + 587L * (px(o + 1) & 0xff) +
              114L * (px(o + 2) & 0xff)
            cnt += 1
            x += 1
          }
          y += 1
        }
        g(ty * S + tx) = acc.toDouble / (cnt * 1000.0)
        tx += 1
      }
      ty += 1
    }
    // 2-D DCT-II, only the 8×8 low-frequency corner: O(64·S²)
    val c = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        val cu = phashCosTab(u)
        val cv = phashCosTab(v)
        var y = 0
        while (y < S) {
          val cvy = cv(y)
          var x = 0
          while (x < S) {
            s += g(y * S + x) * cu(x) * cvy
            x += 1
          }
          y += 1
        }
        c(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    val nonDc = java.util.Arrays.copyOfRange(c, 1, 64)
    java.util.Arrays.sort(nonDc)
    val med = nonDc(31) // median of 63
    var bits = 0L
    var k = 1
    while (k < 64) {
      if (c(k) > med) bits |= 1L << (k - 1)
      k += 1
    }
    bits
  }

  /** Per-image perceptual hash column: (idCol, phash) — null for payloads
    * no real lane decodes. A narrow map; the decode is the cost, the DCT
    * is fixed 32×32 work.
    */
  def phash(media: DataFrame, payloadCol: String = "payload",
            idCol: String = "media_id"): DataFrame = {
    val f = udf((p: Array[Byte]) =>
      if (p == null) None
      else decodeRgb(p).map { case (w, h, px) => phash64(w, h, px) })
    media.select(col(idCol), f(col(payloadCol)).as("phash"))
  }

  /** Near-duplicate image pairs by banded pHash (the [[Dedup.simhashPairs]]
    * shape on the image signature): 16 bands × 4 bits — pigeonhole
    * guarantees recall for every pair within `maxBits` ≤ 15 Hamming bits;
    * candidates verify on the exact `bit_count(xor)`. Only (id, phash)
    * rows shuffle — never pixels.
    */
  /** The 16 bands × 4 bits of a 64-bit signature, as the array the
    * banding posexplodes — extracted so the pigeonhole property (any
    * pair within `maxBits` < 16 differing bits shares at least one
    * identical band) is spec-testable against the exact expression the
    * operator runs.
    */
  private[graft] val PhashBandCount = 16
  private[graft] def phashBands(sig: Column): Column = {
    val width = 64 / PhashBandCount
    array((0 until PhashBandCount).map { b =>
      shiftright(sig, b * width).bitwiseAND(lit((1L << width) - 1))
    }: _*)
  }

  def phashPairs(media: DataFrame, maxBits: Int = 10,
                 payloadCol: String = "payload",
                 idCol: String = "media_id"): DataFrame = {
    require(maxBits >= 0 && maxBits < PhashBandCount,
      s"pigeonhole recall needs maxBits < $PhashBandCount bands, got $maxBits")
    val sig = OpCaches.persist(
      phash(media, payloadCol, idCol)
        .where(col("phash").isNotNull)
        .select(col(idCol).as("id"), col("phash").as("sig")))
    val banded = sig.select(col("id"), posexplode(phashBands(col("sig"))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "bits")
    Dedup.bucketPairs(banded, Seq("chunk", "bits"))
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxBits)
  }
}
