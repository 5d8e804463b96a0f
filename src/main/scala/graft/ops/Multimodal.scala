package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Multimodal column plumbing (builder brief): image/audio/video payloads
  * travel as opaque `binary` columns plus a typed metadata struct; decode
  * and frame-extract run as per-partition batch
  * kernels over the binary column (the Scala analog of `mapInPandas` — same
  * batch shape: one task processes an iterator of rows, vectorizable
  * libraries plug in per partition).
  *
  * ALL THREE modalities decode for real: IMAGE via the JDK's javax.imageio
  * ([[JdkImage]] decode / encode / channel means), AUDIO via a
  * hand-rolled RIFF/WAVE PCM16 codec ([[Wav]]: decode / encode), and
  * VIDEO via TWO real codecs — a
  * hand-rolled animated-GIF codec ([[Gif]]: GIF-variant LZW, frame
  * delays, disposal, interlace, frame rendering) and a Motion-JPEG AVI
  * codec ([[graft.io.Avi]]: AVI RIFF container + per-frame JDK JPEG
  * decode, a TRUE bitstream format). A payload that none of these codecs
  * reads (an `image` ImageIO rejects, a `video` that is neither GIF nor
  * AVI, e.g. an interframe-coded H.264/VP9 stream) yields nulls, not a
  * task failure: a null `meta` from [[decodeMeta]] and no row from
  * [[extractFrames]].
  */
object Multimodal {

  /** REAL image codec over the JDK's ImageIO (PNG/JPEG/BMP/GIF). */
  object JdkImage {
    /** The decoded image, or null when no ImageIO reader accepts the bytes. */
    def decode(payload: Array[Byte]): java.awt.image.BufferedImage =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))

    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }

    /** Deterministic synthetic PNG: pixel = f(id, x, y). */
    def syntheticPng(id: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = ((id * 31 + x * 7 + y * 13) % 256).toInt
          img.setRGB(x, y, (v << 16) | (((v * 3) % 256) << 8) | ((v * 5) % 256))
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }

    /** Mean R/G/B over the decoded pixels — the feature-extract stage with
      * a real decoder behind it; null for an undecodable payload. */
    def channelMeans(payload: Array[Byte]): Array[Double] = {
      val img = decode(payload)
      if (img == null) return null
      var (r, gSum, b) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = img.getRGB(x, y)
          r += (p >> 16) & 0xFF; gSum += (p >> 8) & 0xFF; b += p & 0xFF
          x += 1
        }
        y += 1
      }
      val n = img.getWidth.toLong * img.getHeight
      Array(r.toDouble / n, gSum.toDouble / n, b.toDouble / n)
    }
  }

  /** Deterministic synthetic media table with REAL payloads for BOTH
    * modalities: PNG stills and animated-GIF video clips ([[Gif]]). */
  def syntheticMediaPng(spark: org.apache.spark.sql.SparkSession, n: Long,
                        parts: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map { id =>
      val w = 16 + (id % 8).toInt * 4
      val h = 12 + (id % 5).toInt * 4
      if (id % 3 == 0) (id, "video", syntheticGif(id, w, h))
      else (id, "image", JdkImage.syntheticPng(id, w, h))
    }.toDF("media_id", "kind", "payload")
  }

  /** Deterministic animated GIF: 2-5 frames of a block sweeping across a
    * striped background, 8-color palette derived from the id. */
  def syntheticGif(id: Long, w: Int, h: Int): Array[Byte] = {
    val palette = Array.tabulate(8) { i =>
      val v = ((id * 37 + i * 29) % 256).toInt
      (v << 16) | (((v * 3) % 256) << 8) | ((v * 7) % 256)
    }
    val nFrames = 2 + (id % 4).toInt
    val frames = (0 until nFrames).map { f =>
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val block = x >= (f * w / nFrames) && x < ((f + 1) * w / nFrames)
          px(y * w + x) = (if (block) 7 else (x + y + f) % 4).toByte
          x += 1
        }
        y += 1
      }
      (px, 2 + (id % 10).toInt) // per-frame delay in centiseconds
    }
    Gif.encode(w, h, palette, frames, interlace = id % 5 == 0)
  }

  /** Deterministic MJPEG AVI clip: `2 + id%4` solid-color JPEG frames
    * (color a pure hash of (id, frame)), fps ∈ {5, 10, 20} so frame
    * timestamps are exact centisecond integers. A TRUE bitstream video —
    * independent JPEG frames in the AVI RIFF container ([[graft.io.Avi]]),
    * decoded by the JDK's real JPEG codec. */
  def syntheticAvi(id: Long, w: Int, h: Int): Array[Byte] = {
    val nFrames = 2 + (id % 4).toInt
    val fps = 5 * (1 << (id % 3).toInt) // 5, 10, 20
    val frames = (0 until nFrames).map { f =>
      val v = ((id * 37 + f * 11) % 256).toInt
      val rgb = (v << 16) | (((v * 3) % 256) << 8) | ((v * 7) % 256)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
      JdkImage.encodeJpeg(img)
    }
    graft.io.Avi.write(frames, w, h, fps)
  }

  /** REAL audio codec: RIFF/WAVE PCM16 little-endian (the dominant
    * uncompressed interchange format), hand-rolled over the public RIFF
    * spec — decode and encode. */
  object Wav {
    /** Mono/stereo PCM16 WAV bytes from interleaved samples. */
    def encode(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort)
        .putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(buf.putShort)
      buf.array()
    }

    /** (sampleRate, channels, interleaved samples). Walks RIFF chunks, so
      * extra chunks (LIST/fact) before `data` are fine. */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Short]) = {
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 12 &&
        new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
        new String(bytes, 8, 4, "US-ASCII") == "WAVE", "not a RIFF/WAVE payload")
      var pos = 12
      var rate = -1; var channels = -1; var bits = -1
      var data: Array[Short] = null
      while (pos + 8 <= bytes.length && (rate < 0 || data == null)) {
        val tag = new String(bytes, pos, 4, "US-ASCII")
        val len = buf.getInt(pos + 4)
        tag match {
          case "fmt " =>
            require((buf.getShort(pos + 8) & 0xFFFF) == 1, "only PCM WAV supported")
            channels = buf.getShort(pos + 10) & 0xFFFF
            rate = buf.getInt(pos + 12)
            bits = buf.getShort(pos + 22) & 0xFFFF
            require(bits == 16, s"only 16-bit PCM supported (got $bits)")
          case "data" =>
            val n = len / 2
            data = new Array[Short](n)
            var i = 0
            while (i < n) { data(i) = buf.getShort(pos + 8 + i * 2); i += 1 }
          case _ => // skip LIST/fact/...
        }
        pos += 8 + len + (len & 1) // chunks are word-aligned
      }
      require(rate > 0 && data != null, "missing fmt/data chunk")
      (rate, channels, data)
    }
  }

  /** DECODE stage: binary payload → `meta` (width, height, frames)
    * struct. Stills decode via ImageIO (frames = 1), video via the
    * animated-GIF ([[Gif]]) or MJPEG-AVI ([[graft.io.Avi]]) codec (frames =
    * real frame count). `meta` is null when no codec reads the payload. */
  def decodeMeta(media: DataFrame): DataFrame = {
    val schema = StructType(media.schema.fields :+ StructField("meta", StructType(Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("frames", IntegerType)))))
    val pIdx = media.schema.fieldIndex("payload")
    val kIdx = media.schema.fieldIndex("kind")
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](pIdx)
        val meta = r.getString(kIdx) match {
          case "image" =>
            val img = JdkImage.decode(payload)
            if (img == null) null else Row(img.getWidth, img.getHeight, 1)
          case _ if Gif.isGif(payload) =>
            val g = Gif.decode(payload)
            Row(g.width, g.height, g.frames.length)
          case _ if graft.io.Avi.isAvi(payload) =>
            val v = graft.io.Avi.parse(payload)
            Row(v.width, v.height, v.frames.length)
          case _ => null
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }
  }

  /** FRAME-EXTRACT stage with a real video decoder: every `everyK`-th
    * frame of each GIF video row → one output row with the frame's
    * centisecond timestamp, mean R/G/B, and the frame re-encoded as PNG
    * (the training-pipeline "frame sample → still" path). Image rows pass
    * through as frame 0 of their own payload; rows no codec reads emit
    * nothing. */
  def extractFrames(media: DataFrame, everyK: Int): DataFrame = {
    require(everyK >= 1, "everyK must be >= 1")
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("kind", StringType),
      StructField("frame_idx", IntegerType), StructField("t_cs", IntegerType),
      StructField("rgb_mean", ArrayType(DoubleType)),
      StructField("frame_png", BinaryType)))
    val pIdx = media.schema.fieldIndex("payload")
    val kIdx = media.schema.fieldIndex("kind")
    val iIdx = media.schema.fieldIndex("media_id")
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(iIdx)
        val payload = r.getAs[Array[Byte]](pIdx)
        r.getString(kIdx) match {
          case "video" if Gif.isGif(payload) =>
            val g = Gif.decode(payload)
            val rgb = Gif.renderRgbFrames(g)
            val starts = g.frames.scanLeft(0)((t, f) => t + f.delayCs)
            (0 until g.frames.length by everyK).map { fi =>
              val px = rgb(fi)
              val img = new java.awt.image.BufferedImage(g.width, g.height,
                java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
              img.setRGB(0, 0, g.width, g.height, px, 0, g.width)
              var (sr, sg, sb) = (0L, 0L, 0L)
              px.foreach { p =>
                sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
              }
              val n = px.length.toDouble
              Row(id, "video", fi, starts(fi),
                Seq(sr / n, sg / n, sb / n), JdkImage.encodePng(img))
            }
          case "video" if graft.io.Avi.isAvi(payload) =>
            // MJPEG: every frame is an independent JPEG — decode the
            // sampled ones with the real JDK codec, timestamp from the
            // container's dwMicroSecPerFrame (exact integer cs)
            val v = graft.io.Avi.parse(payload)
            (0 until v.frames.length by everyK).map { fi =>
              val jpeg = v.frames(fi)
              Row(id, "video", fi, v.timestampCs(fi),
                JdkImage.channelMeans(jpeg).toSeq,
                JdkImage.encodePng(JdkImage.decode(jpeg)))
            }
          case "image" =>
            Option(JdkImage.channelMeans(payload)).toSeq
              .map(m => Row(id, "image", 0, 0, m.toSeq, payload))
          case _ => Seq.empty[Row]
        }
      }
    }
  }
}
