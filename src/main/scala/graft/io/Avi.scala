package graft.io

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** Motion-JPEG AVI container codec, written to the public AVI RIFF
  * specification (Microsoft "AVI RIFF File Reference"; RIFF itself per the
  * 1991 IBM/Microsoft Multimedia Programming Interface spec). MJPEG is a
  * TRUE bitstream video format — every frame is an independent JPEG — so
  * together with the JDK's built-in JPEG codec this gives the multimodal
  * pipeline a second real video path (alongside the GIF89a codec in
  * [[graft.ops.Gif]]). Interframe-coded bitstreams (H.264/VP9) have no
  * codec here: [[graft.ops.Multimodal]] gives such rows null metadata.
  *
  * Layout written/parsed (all sizes little-endian, chunks word-aligned):
  * {{{
  * RIFF('AVI '
  *   LIST('hdrl'
  *     avih(<MainAVIHeader: 14 dwords>)
  *     LIST('strl' strh(<AVIStreamHeader 'vids'/'MJPG'>)
  *                 strf(<BITMAPINFOHEADER, biCompression 'MJPG'>)))
  *   LIST('movi' '00dc'(<jpeg>) ...)
  *   idx1(<AVIOLDINDEX entries>))
  * }}}
  */
object Avi {

  final case class AviVideo(width: Int, height: Int, usPerFrame: Int,
                            frames: Vector[Array[Byte]]) {
    /** centisecond timestamp of frame `i` (exact integer math) */
    def timestampCs(i: Int): Int = ((i.toLong * usPerFrame) / 10000L).toInt
  }

  def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  // ---------------------------------------------------------------- write

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
    fourcc(id) ++ le32(body.length) ++ body ++ pad
  }

  private def list(listType: String, body: Array[Byte]): Array[Byte] =
    chunk("LIST", fourcc(listType) ++ body)

  /** Assemble an MJPEG AVI from per-frame JPEG payloads. `fps` must divide
    * 1,000,000 evenly for an exact dwMicroSecPerFrame (any real fps works;
    * the gates use 5/10/20 for closed-form centisecond timestamps). */
  def write(jpegFrames: Seq[Array[Byte]], width: Int, height: Int,
            fps: Int): Array[Byte] = {
    require(fps > 0, "fps must be positive")
    val usPerFrame = 1000000 / fps
    val maxFrame = if (jpegFrames.isEmpty) 0 else jpegFrames.map(_.length).max

    val avih = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(usPerFrame)            // dwMicroSecPerFrame
      b.putInt(maxFrame * fps)        // dwMaxBytesPerSec (advisory)
      b.putInt(0)                     // dwPaddingGranularity
      b.putInt(0x10)                  // dwFlags: AVIF_HASINDEX
      b.putInt(jpegFrames.length)     // dwTotalFrames
      b.putInt(0)                     // dwInitialFrames
      b.putInt(1)                     // dwStreams
      b.putInt(maxFrame)              // dwSuggestedBufferSize
      b.putInt(width)
      b.putInt(height)
      b.array()                       // 4 reserved dwords stay zero
    }
    val strh = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.put(fourcc("vids")); b.put(fourcc("MJPG"))
      b.putInt(0)                     // dwFlags
      b.putInt(0)                     // wPriority + wLanguage
      b.putInt(0)                     // dwInitialFrames
      b.putInt(1)                     // dwScale
      b.putInt(fps)                   // dwRate (rate/scale = fps)
      b.putInt(0)                     // dwStart
      b.putInt(jpegFrames.length)     // dwLength (in frames)
      b.putInt(maxFrame)              // dwSuggestedBufferSize
      b.putInt(-1)                    // dwQuality (default)
      b.putInt(0)                     // dwSampleSize (varies per frame)
      b.putShort(0.toShort); b.putShort(0.toShort) // rcFrame left/top
      b.putShort(width.toShort); b.putShort(height.toShort)
      b.array()
    }
    val strf = {
      val b = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(40)                    // biSize
      b.putInt(width)
      b.putInt(height)
      b.putShort(1.toShort)           // biPlanes
      b.putShort(24.toShort)          // biBitCount
      b.put(fourcc("MJPG"))           // biCompression
      b.putInt(width * height * 3)    // biSizeImage (advisory)
      b.array()                       // x/y ppm, clr fields stay zero
    }
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))

    // movi body + old-style index (offsets relative to the 'movi' fourcc)
    val moviBody = new ByteArrayOutputStream()
    val idx = new ByteArrayOutputStream()
    moviBody.write(fourcc("movi"))
    jpegFrames.foreach { f =>
      idx.write(fourcc("00dc"))
      idx.write(le32(0x10))              // AVIIF_KEYFRAME
      idx.write(le32(moviBody.size()))   // chunk id offset from 'movi' fourcc
      idx.write(le32(f.length))
      moviBody.write(chunk("00dc", f))
    }
    val movi = chunk("LIST", moviBody.toByteArray)
    val idx1 = chunk("idx1", idx.toByteArray)

    val riffBody = fourcc("AVI ") ++ hdrl ++ movi ++ idx1
    fourcc("RIFF") ++ le32(riffBody.length) ++ riffBody
  }

  // ---------------------------------------------------------------- parse

  /** Parse an MJPEG AVI: header dims + frame timing from `avih`, frame
    * payloads from the `movi` list's `00dc`/`00db` chunks (the idx1 index
    * is advisory and not required — chunks are walked directly, so files
    * without an index parse too). */
  def parse(bytes: Array[Byte]): AviVideo = {
    require(isAvi(bytes), "not an AVI RIFF file")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def cc(off: Int): String =
      new String(bytes, off, 4, "US-ASCII")
    var width = 0; var height = 0; var usPerFrame = 0
    val frames = Vector.newBuilder[Array[Byte]]

    def walk(off0: Int, end: Int): Unit = {
      var off = off0
      while (off + 8 <= end) {
        val id = cc(off)
        val size = b.getInt(off + 4)
        val dataOff = off + 8
        // malformed size (negative, or past this container) ends the walk
        // instead of looping or reading out of bounds
        if (size < 0 || dataOff + size.toLong > end) return
        id match {
          case "LIST" =>
            val listType = cc(dataOff)
            // hdrl and movi both get walked; other lists skipped whole
            if (listType == "hdrl" || listType == "movi" || listType == "strl")
              walk(dataOff + 4, dataOff + size)
          case "avih" =>
            usPerFrame = b.getInt(dataOff)
            width = b.getInt(dataOff + 32)
            height = b.getInt(dataOff + 36)
          case "00dc" | "00db" =>
            frames += java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + size)
          case _ => // strh/strf/idx1/JUNK: advisory here
        }
        off = dataOff + size + (size & 1) // chunks are word-aligned
      }
    }
    // clamp the declared RIFF size to the real buffer so a truncated file
    // (header promises more bytes than exist) ends the walk instead of
    // reading out of bounds; nested walks are bounded by this via the
    // dataOff+size <= end check above
    walk(12, math.min(8L + b.getInt(4), bytes.length.toLong).toInt)
    AviVideo(width, height, usPerFrame, frames.result())
  }
}
