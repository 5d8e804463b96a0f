package graft.io

import graft.model.RasterMeta

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal GeoTIFF codec for the raster-payload path (SURVEY.md S5/S6/S7;
  * reference opens rasters with rasterio — GDAL does not exist in this
  * sandbox, so the baseline-TIFF subset the pipelines actually need is
  * hand-rolled over the public TIFF 6.0 + GeoTIFF 1.1 specs):
  *
  *  - parse: classic TIFF, both byte orders, chunky planar layout, 8- and
  *    16-bit samples, STRIP or TILE organization, Compression none / LZW
  *    (with the early-change rule) / Deflate / PackBits, Predictor 1-2 —
  *    the layouts GDAL actually writes for aerial rasters; georeferencing
  *    from ModelPixelScale (33550) + ModelTiepoint (33922) or the full
  *    ModelTransformation (34264); CRS text from GeoAsciiParams (34737).
  *  - window read: the reference's per-tile pixel copy
  *    (`geotiff.read(window=window)`, tiles.py:126) — decodes only the
  *    chunks the window touches.
  *  - write: single-strip uncompressed GeoTIFF with the affine tags — the
  *    reference's tile writer (tiles.py:116-126) and the jpeg2tiff
  *    georeferencer (scripts/jpeg2tiff.py:85-105) both land here.
  *  - PNG sidecar: first-N-band slice or truncating grayscale mean
  *    (coco.py:140-169) via javax.imageio (headless JDK PNG encoder).
  */
object GeoTiff {

  final case class TiffInfo(
      width: Int, height: Int, samplesPerPixel: Int, bitsPerSample: Int,
      rowsPerStrip: Int, stripOffsets: Array[Long], stripByteCounts: Array[Long],
      a: Double, b: Double, c: Double, d: Double, e: Double, f: Double,
      crs: String,
      compression: Int = 1, predictor: Int = 1,
      /** 0 = strip layout; > 0 = tiled layout, stripOffsets/stripByteCounts
        * then hold the tile offsets/counts in row-major tile order. */
      tileWidth: Int = 0, tileLength: Int = 0,
      littleEndian: Boolean = true,
      /** TIFF SampleFormat (tag 339): 1 = unsigned int, 3 = IEEE float. */
      sampleFormat: Int = 1) {
    def toMeta(rasterId: String): RasterMeta =
      RasterMeta(rasterId, width, height, a, b, c, d, e, f, crs)
    def tiled: Boolean = tileWidth > 0
    def bytesPerSample: Int = bitsPerSample / 8
  }

  private final case class Entry(tag: Int, typ: Int, count: Long, valueOff: Long,
      inlineBytes: Array[Byte])

  /** Parse header + first IFD of a classic TIFF. */
  def parse(bytes: Array[Byte]): TiffInfo = {
    val order = (bytes(0), bytes(1)) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("not a TIFF")
    }
    val buf = ByteBuffer.wrap(bytes).order(order)
    require((buf.getShort(2) & 0xFFFF) == 42, "not a classic TIFF")
    val ifdOff = buf.getInt(4) & 0xFFFFFFFFL
    val n = buf.getShort(ifdOff.toInt) & 0xFFFF
    val entries = (0 until n).map { i =>
      val o = ifdOff.toInt + 2 + i * 12
      val tag = buf.getShort(o) & 0xFFFF
      val typ = buf.getShort(o + 2) & 0xFFFF
      val count = buf.getInt(o + 4) & 0xFFFFFFFFL
      val valueOff = buf.getInt(o + 8) & 0xFFFFFFFFL
      Entry(tag, typ, count, valueOff, java.util.Arrays.copyOfRange(bytes, o + 8, o + 12))
    }.map(e => e.tag -> e).toMap

    def typeSize(t: Int) = t match {
      case 1 | 2 | 6 | 7 => 1; case 3 | 8 => 2; case 4 | 9 | 11 => 4
      case 5 | 10 | 12 => 8; case _ => 1
    }
    def values(e: Entry): Array[Long] = {
      val sz = typeSize(e.typ)
      val total = sz * e.count
      val src = if (total <= 4) ByteBuffer.wrap(e.inlineBytes).order(order)
        else ByteBuffer.wrap(bytes, e.valueOff.toInt, total.toInt).order(order).slice().order(order)
      (0 until e.count.toInt).map { i =>
        e.typ match {
          case 1 => (src.get(i) & 0xFF).toLong
          case 3 => (src.getShort(i * 2) & 0xFFFF).toLong
          case 4 => src.getInt(i * 4) & 0xFFFFFFFFL
          case t => throw new IllegalArgumentException(s"unsupported TIFF type $t for tag ${e.tag}")
        }
      }.toArray
    }
    def doubles(e: Entry): Array[Double] = {
      require(e.typ == 12, s"tag ${e.tag}: expected DOUBLE")
      (0 until e.count.toInt).map(i => buf.getDouble(e.valueOff.toInt + i * 8)).toArray
    }
    def firstValue(tag: Int, default: Long = -1L): Long =
      entries.get(tag).map(values(_).head).getOrElse(default)

    val width = firstValue(256).toInt
    val height = firstValue(257).toInt
    require(width > 0 && height > 0, "missing dimensions")
    val compression = firstValue(259, 1L).toInt
    require(Set(1, 5, 8, 32773, 32946).contains(compression),
      s"unsupported TIFF compression $compression (have: none, LZW, Deflate, PackBits)")
    val spp = firstValue(277, 1L).toInt
    val bps = entries.get(258).map(values(_).head.toInt).getOrElse(8)
    val sfmt = firstValue(339, 1L).toInt
    require(bps == 8 || bps == 16 || bps == 32,
      s"only 8/16/32-bit samples supported (bps=$bps)")
    require(bps != 32 || sfmt == 3,
      s"32-bit samples supported as IEEE float (SampleFormat=3) only, got $sfmt")
    val planar = firstValue(284, 1L)
    require(planar == 1L, "only chunky planar configuration supported")
    val predictor = firstValue(317, 1L).toInt
    require(predictor == 1 || predictor == 2,
      s"unsupported predictor $predictor (have: none, horizontal differencing)")
    require(predictor == 1 || bps <= 16,
      "horizontal-differencing predictor not supported for float samples")
    val tileW = firstValue(322, 0L).toInt
    val tileL = firstValue(323, 0L).toInt
    val rps = firstValue(278, height.toLong).toInt
    val (chunkOffsets, chunkCounts) =
      if (tileW > 0) (values(entries(324)), values(entries(325)))
      else (values(entries(273)),
        entries.get(279).map(values).getOrElse(
          Array(width.toLong * height * spp * (bps / 8))))

    // georeferencing: ModelTransformation wins, else PixelScale+Tiepoint
    val (ta, tb, tc, td, te, tf) = entries.get(34264) match {
      case Some(e) =>
        val m = doubles(e) // 4x4 row-major
        (m(0), m(1), m(3), m(4), m(5), m(7))
      case None =>
        (entries.get(33550), entries.get(33922)) match {
          case (Some(ps), Some(tp)) =>
            val s = doubles(ps) // sx, sy, sz
            val t = doubles(tp) // i, j, k, x, y, z
            val (i, j, x, y) = (t(0), t(1), t(3), t(4))
            (s(0), 0.0, x - i * s(0), 0.0, -s(1), y + j * s(1))
          case _ => (1.0, 0.0, 0.0, 0.0, 1.0, 0.0) // pixel space
        }
    }
    val crs = entries.get(34737).map { e =>
      new String(bytes, e.valueOff.toInt, e.count.toInt, "US-ASCII")
        .takeWhile(_ != '\u0000').trim
    }.getOrElse("")

    TiffInfo(width, height, spp, bps, rps, chunkOffsets,
      chunkCounts, ta, tb, tc, td, te, tf, crs,
      compression, predictor, tileW, tileL, order == ByteOrder.LITTLE_ENDIAN,
      sfmt)
  }

  // ---------- compression codecs (TIFF 6.0 §7-9; GDAL writes these) ----------

  /** zlib inflate (Compression=8 Deflate / 32946 legacy code). */
  def inflate(src: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(src)
    val out = new Array[Byte](expected)
    var n = 0
    while (n < expected && !inf.finished()) {
      val got = inf.inflate(out, n, expected - n)
      if (got == 0 && inf.needsInput()) throw new IllegalArgumentException("truncated deflate strip")
      n += got
    }
    inf.end()
    out
  }

  /** PackBits decode (Compression=32773, TIFF 6.0 §9). */
  def packbitsDecode(src: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = 0; var o = 0
    while (o < expected && i < src.length) {
      val n = src(i); i += 1
      if (n >= 0) { // copy n+1 literal bytes
        System.arraycopy(src, i, out, o, n + 1); i += n + 1; o += n + 1
      } else if (n != -128) { // repeat next byte 1-n times
        val b = src(i); i += 1
        java.util.Arrays.fill(out, o, o + 1 - n, b); o += 1 - n
      } // -128: no-op
    }
    out
  }

  /** TIFF-variant LZW decode (Compression=5): MSB-first bit packing, codes
    * start at 9 bits, ClearCode=256 / EOI=257, and the EARLY-CHANGE rule —
    * the code width bumps one entry before the table fills (at 510, 1021,
    * 2045), matching what GDAL/libtiff write. */
  def lzwDecode(src: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var o = 0
    var bitPos = 0
    def nextCode(width: Int): Int = {
      if ((bitPos + width + 7) / 8 > src.length) 257 // truncated → EOI
      else {
        var v = 0
        var taken = 0
        while (taken < width) {
          val byteIdx = (bitPos + taken) / 8
          val bitInByte = (bitPos + taken) % 8
          val avail = 8 - bitInByte
          val take = math.min(width - taken, avail)
          val bits = (src(byteIdx) >> (avail - take)) & ((1 << take) - 1)
          v = (v << take) | bits
          taken += take
        }
        bitPos += width
        v
      }
    }
    // table: entries 0-255 single bytes; 256/257 reserved; dynamic from 258
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = 258
    var width = 9
    val stack = new Array[Byte](4096)
    def emit(code: Int): Unit = {
      // walk the chain backwards into a small stack
      var c = code
      var depth = 0
      while (c >= 258) { stack(depth) = suffix(c); depth += 1; c = prefix(c) }
      stack(depth) = c.toByte; depth += 1
      while (depth > 0 && o < expected) { depth -= 1; out(o) = stack(depth); o += 1 }
    }
    var prev = -1
    var running = true
    while (running && o < expected) {
      val code = nextCode(width)
      if (code == 257) running = false // EOI
      else if (code == 256) { next = 258; width = 9; prev = -1 } // Clear
      else {
        if (prev < 0) emit(code)
        else if (code < next) {
          emit(code)
          prefix(next) = prev; suffix(next) = firstByte(code, prefix, suffix)
          next += 1
        } else { // KwKwK: the entry being defined is the code itself
          prefix(next) = prev; suffix(next) = firstByte(prev, prefix, suffix)
          next += 1
          emit(code)
        }
        // early change (libtiff): width bumps when the NEXT entry to assign
        // is 511/1023/2047 — one code earlier than plain LZW
        if (next == 511) width = 10
        else if (next == 1023) width = 11
        else if (next == 2047) width = 12
        prev = code
      }
    }
    out
  }

  private def firstByte(code: Int, prefix: Array[Int], suffix: Array[Byte]): Byte = {
    var c = code
    while (c >= 258) c = prefix(c)
    c.toByte
  }

  /** TIFF-variant LZW encode — the writer-side twin of [[lzwDecode]]
    * (same MSB-first packing, Clear/EOI, early change). Table resets near
    * 4094 like libtiff so width never exceeds 12 bits. */
  def lzwEncode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length / 2 + 16)
    var bitBuf = 0L
    var bitCnt = 0
    def put(code: Int, width: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      bitCnt += width
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xFF).toInt)
        bitCnt -= 8
      }
    }
    def flush(): Unit =
      if (bitCnt > 0) { out.write(((bitBuf << (8 - bitCnt)) & 0xFF).toInt); bitCnt = 0 }

    var table = new java.util.HashMap[Long, Integer]()
    var next = 258
    var width = 9
    put(256, width) // Clear
    if (src.isEmpty) { put(257, width); flush(); return out.toByteArray }
    var prev = src(0) & 0xFF
    var i = 1
    while (i < src.length) {
      val k = src(i) & 0xFF
      val key = (prev.toLong << 8) | k
      val hit = table.get(key)
      if (hit != null) prev = hit.intValue()
      else {
        put(prev, width)
        table.put(key, next)
        next += 1
        // the encoder runs one table entry AHEAD of the decoder (it adds
        // its entry at emit time; the decoder adds on the NEXT code), so
        // its width bump fires one entry later — that asymmetry is the
        // spec's "early change" rule from the decoder's point of view
        if (next == 512) width = 10
        else if (next == 1024) width = 11
        else if (next == 2048) width = 12
        else if (next >= 4094) { // reset before 12-bit overflow
          put(256, width)
          table = new java.util.HashMap[Long, Integer]()
          next = 258; width = 9
        }
        prev = k
      }
      i += 1
    }
    put(prev, width)
    put(257, width)
    flush()
    out.toByteArray
  }

  /** Undo Predictor=2 (horizontal differencing) in place: each sample adds
    * its left neighbour of the same band; 16-bit samples difference as
    * 16-bit words in the file's byte order. */
  def undoPredictor(buf: Array[Byte], rowSamplesWidth: Int, rows: Int, spp: Int,
                    bytesPerSample: Int, littleEndian: Boolean): Unit = {
    val rowBytes = rowSamplesWidth * spp * bytesPerSample
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      if (bytesPerSample == 1) {
        var i = spp
        while (i < rowSamplesWidth * spp) {
          buf(base + i) = (buf(base + i) + buf(base + i - spp)).toByte
          i += 1
        }
      } else {
        var i = spp
        while (i < rowSamplesWidth * spp) {
          val o = base + i * 2
          val po = base + (i - spp) * 2
          if (littleEndian) {
            val v = ((buf(o) & 0xFF) | ((buf(o + 1) & 0xFF) << 8)) +
              ((buf(po) & 0xFF) | ((buf(po + 1) & 0xFF) << 8))
            buf(o) = v.toByte; buf(o + 1) = (v >> 8).toByte
          } else {
            val v = (((buf(o) & 0xFF) << 8) | (buf(o + 1) & 0xFF)) +
              (((buf(po) & 0xFF) << 8) | (buf(po + 1) & 0xFF))
            buf(o + 1) = v.toByte; buf(o) = (v >> 8).toByte
          }
          i += 1
        }
      }
      r += 1
    }
  }

  /** Decode chunk `idx` (strip or tile) to raw chunky samples, predictor
    * undone. Chunk dims: tiles are always tileWidth×tileLength (edge tiles
    * padded); strip `idx` holds min(rowsPerStrip, height − idx·rps) rows. */
  def decodeChunk(bytes: Array[Byte], info: TiffInfo, idx: Int): Array[Byte] = {
    val (cw, ch) =
      if (info.tiled) (info.tileWidth, info.tileLength)
      else (info.width,
        math.min(info.rowsPerStrip, info.height - idx * info.rowsPerStrip))
    val expected = cw * ch * info.samplesPerPixel * info.bytesPerSample
    val off = info.stripOffsets(idx).toInt
    val len = info.stripByteCounts(idx).toInt
    val raw = info.compression match {
      case 1 => java.util.Arrays.copyOfRange(bytes, off, off + expected)
      case 5 => lzwDecode(java.util.Arrays.copyOfRange(bytes, off, off + len), expected)
      case 8 | 32946 => inflate(java.util.Arrays.copyOfRange(bytes, off, off + len), expected)
      case 32773 => packbitsDecode(java.util.Arrays.copyOfRange(bytes, off, off + len), expected)
    }
    if (info.predictor == 2)
      undoPredictor(raw, cw, ch, info.samplesPerPixel, info.bytesPerSample, info.littleEndian)
    raw
  }

  /** Pixel-window copy (tiles.py:126 semantics): chunky interleaved
    * samples, row-major, `h` rows of `w`·spp samples — RAW bytes in the
    * file's sample layout (w·h·spp·bytesPerSample). Only the strips/tiles
    * overlapping the window are decoded (each once, via a per-call cache),
    * so a tile cut from a large compressed raster touches only its own
    * chunks. 8-bit uncompressed strips keep the zero-copy row path. */
  def readWindow(bytes: Array[Byte], info: TiffInfo,
                 colOff: Int, rowOff: Int, w: Int, h: Int): Array[Byte] = {
    val spp = info.samplesPerPixel
    val bytesPS = info.bytesPerSample
    if (info.compression == 1 && !info.tiled && bytesPS == 1) {
      // fast path: direct row copies out of the raw strip bytes
      val out = new Array[Byte](w * h * spp)
      val rowBytes = info.width * spp
      var r = 0
      while (r < h) {
        val srcRow = rowOff + r
        val strip = srcRow / info.rowsPerStrip
        val rowInStrip = srcRow % info.rowsPerStrip
        val src = info.stripOffsets(strip) + rowInStrip.toLong * rowBytes + colOff.toLong * spp
        System.arraycopy(bytes, src.toInt, out, r * w * spp, w * spp)
        r += 1
      }
      return out
    }
    val out = new Array[Byte](w * h * spp * bytesPS)
    val decoded = new java.util.HashMap[Integer, Array[Byte]]()
    def chunk(idx: Int): Array[Byte] = {
      val hit = decoded.get(idx)
      if (hit != null) hit
      else { val d = decodeChunk(bytes, info, idx); decoded.put(idx, d); d }
    }
    if (!info.tiled) {
      val rowBytes = info.width * spp * bytesPS
      var r = 0
      while (r < h) {
        val srcRow = rowOff + r
        val strip = srcRow / info.rowsPerStrip
        val rowInStrip = srcRow % info.rowsPerStrip
        val buf = chunk(strip)
        System.arraycopy(buf, rowInStrip * rowBytes + colOff * spp * bytesPS,
          out, r * w * spp * bytesPS, w * spp * bytesPS)
        r += 1
      }
    } else {
      val tilesAcross = (info.width + info.tileWidth - 1) / info.tileWidth
      val tileRowBytes = info.tileWidth * spp * bytesPS
      var r = 0
      while (r < h) {
        val srcRow = rowOff + r
        val tr = srcRow / info.tileLength
        val rowInTile = srcRow % info.tileLength
        var c = 0
        while (c < w) {
          val srcCol = colOff + c
          val tc = srcCol / info.tileWidth
          val colInTile = srcCol % info.tileWidth
          // contiguous run inside this tile (and inside the window)
          val run = math.min(info.tileWidth - colInTile, w - c)
          val buf = chunk(tr * tilesAcross + tc)
          System.arraycopy(buf, rowInTile * tileRowBytes + colInTile * spp * bytesPS,
            out, (r * w + c) * spp * bytesPS, run * spp * bytesPS)
          c += run
        }
        r += 1
      }
    }
    out
  }

  /** Window read decoded to Int samples (chunky order), handling 8- and
    * 16-bit inputs in either byte order — the typed accessor for 16-bit
    * DEM/radiometric rasters where raw bytes aren't directly usable. */
  def readWindowSamples(bytes: Array[Byte], info: TiffInfo,
                        colOff: Int, rowOff: Int, w: Int, h: Int): Array[Int] = {
    val raw = readWindow(bytes, info, colOff, rowOff, w, h)
    val n = w * h * info.samplesPerPixel
    val out = new Array[Int](n)
    if (info.bytesPerSample == 1) {
      var i = 0
      while (i < n) { out(i) = raw(i) & 0xFF; i += 1 }
    } else {
      var i = 0
      while (i < n) {
        val o = i * 2
        out(i) =
          if (info.littleEndian) (raw(o) & 0xFF) | ((raw(o + 1) & 0xFF) << 8)
          else ((raw(o) & 0xFF) << 8) | (raw(o + 1) & 0xFF)
        i += 1
      }
    }
    out
  }

  /** [[readWindow]] with multi-byte samples normalized to LITTLE-ENDIAN
    * byte order — the raw-byte form [[write]] accepts regardless of the
    * source raster's byte order (identity for 8-bit and LE sources). */
  def readWindowLE(bytes: Array[Byte], info: TiffInfo,
                   colOff: Int, rowOff: Int, w: Int, h: Int): Array[Byte] = {
    val raw = readWindow(bytes, info, colOff, rowOff, w, h)
    if (!info.littleEndian && info.bytesPerSample > 1) {
      val bp = info.bytesPerSample
      var i = 0
      while (i < raw.length) {
        var a = 0; var b = bp - 1
        while (a < b) {
          val t = raw(i + a); raw(i + a) = raw(i + b); raw(i + b) = t
          a += 1; b -= 1
        }
        i += bp
      }
    }
    raw
  }

  /** Window read decoded to Float samples (chunky order) — the typed
    * accessor for float32 DEM/NDVI rasters (SampleFormat=3), either byte
    * order. */
  def readWindowFloats(bytes: Array[Byte], info: TiffInfo,
                       colOff: Int, rowOff: Int, w: Int, h: Int): Array[Float] = {
    require(info.bitsPerSample == 32 && info.sampleFormat == 3,
      "readWindowFloats requires float32 samples")
    val raw = readWindow(bytes, info, colOff, rowOff, w, h)
    val buf = ByteBuffer.wrap(raw).order(
      if (info.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val out = new Array[Float](raw.length / 4)
    var i = 0
    while (i < out.length) { out(i) = buf.getFloat(i * 4); i += 1 }
    out
  }

  /** Single-strip GeoTIFF with affine tags. `pixels` is chunky (w·h·bands
    * bytes). `compression`: 1 = none (default, the reference's rasterio
    * write path), 5 = LZW, 8 = Deflate — what GDAL writes for real aerial
    * rasters; both round-trip through [[parse]]/[[readWindow]]. */
  def write(width: Int, height: Int, bands: Int, pixels: Array[Byte],
            a: Double, bAff: Double, c: Double, d: Double, e: Double, f: Double,
            compression: Int = 1, bitsPerSample: Int = 8,
            sampleFormat: Int = 1): Array[Byte] = {
    require(bitsPerSample == 8 || bitsPerSample == 16 || bitsPerSample == 32,
      s"write supports 8/16/32-bit samples (got $bitsPerSample)")
    require((bitsPerSample == 32) == (sampleFormat == 3),
      "32-bit write is IEEE float (SampleFormat=3); 8/16-bit is unsigned int")
    // 16-bit pixels must arrive LITTLE-ENDIAN (the writer's byte order);
    // readWindowLE normalizes windows cut from big-endian sources
    require(pixels.length == width * height * bands * (bitsPerSample / 8))
    require(bAff == 0 && d == 0, "GeoTIFF write requires an axis-aligned transform")
    val strip = compression match {
      case 1 => pixels
      case 5 => lzwEncode(pixels)
      case 8 =>
        val d8 = new java.util.zip.Deflater()
        d8.setInput(pixels); d8.finish()
        val buf = new Array[Byte](pixels.length + 64)
        val out = new java.io.ByteArrayOutputStream()
        while (!d8.finished()) out.write(buf, 0, d8.deflate(buf))
        d8.end()
        out.toByteArray
      case other => throw new IllegalArgumentException(s"unsupported write compression $other")
    }
    // layout: header(8) + strip + [bps values if bands>2] + doubles + IFD
    val dataOff = 8
    val afterPixels = dataOff + strip.length
    val bpsOff = afterPixels // BitsPerSample array when bands > 2
    val bpsLen = if (bands > 2) bands * 2 else 0
    val bpsL = bitsPerSample.toLong
    val scaleOff = bpsOff + bpsLen
    val tieOff = scaleOff + 3 * 8
    val ifdOff = tieOff + 6 * 8
    val tags = Seq[(Int, Int, Long, Long)](
      (256, 4, 1, width.toLong), (257, 4, 1, height.toLong),
      (258, 3, bands.toLong, if (bands > 2) bpsOff.toLong
        else if (bands == 2) bpsL | (bpsL << 16) else bpsL),
      (259, 3, 1, compression.toLong),
      (262, 3, 1, if (bands >= 3) 2L else 1L), // RGB vs grayscale
      (273, 4, 1, dataOff.toLong),
      (277, 3, 1, bands.toLong),
      (278, 4, 1, height.toLong),
      (279, 4, 1, strip.length.toLong),
      (284, 3, 1, 1L)) ++
      (if (sampleFormat != 1) Seq((339, 3, 1L, sampleFormat.toLong)) else Nil) ++
      Seq[(Int, Int, Long, Long)](
      (33550, 12, 3, scaleOff.toLong),
      (33922, 12, 6, tieOff.toLong))
    val total = ifdOff + 2 + tags.length * 12 + 4
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0, 'I'.toByte); buf.put(1, 'I'.toByte)
    buf.putShort(2, 42)
    buf.putInt(4, ifdOff)
    System.arraycopy(strip, 0, buf.array(), dataOff, strip.length)
    if (bands > 2) (0 until bands).foreach(i => buf.putShort(bpsOff + i * 2, bitsPerSample.toShort))
    buf.putDouble(scaleOff, a); buf.putDouble(scaleOff + 8, -e); buf.putDouble(scaleOff + 16, 0.0)
    buf.putDouble(tieOff, 0.0); buf.putDouble(tieOff + 8, 0.0); buf.putDouble(tieOff + 16, 0.0)
    buf.putDouble(tieOff + 24, c); buf.putDouble(tieOff + 32, f); buf.putDouble(tieOff + 40, 0.0)
    buf.putShort(ifdOff, tags.length.toShort)
    tags.zipWithIndex.foreach { case ((tag, typ, count, value), i) =>
      val o = ifdOff + 2 + i * 12
      buf.putShort(o, tag.toShort)
      buf.putShort(o + 2, typ.toShort)
      buf.putInt(o + 4, count.toInt)
      typ match {
        case 3 if count == 1 => buf.putShort(o + 8, value.toShort) // left-justified SHORT
        case _ => buf.putInt(o + 8, value.toInt)
      }
    }
    buf.putInt(ifdOff + 2 + tags.length * 12, 0) // no next IFD
    buf.array()
  }

  /** PNG sidecar (coco.py:140-169): keep the first `bands` bands; when
    * `colour` is false average them (truncating cast, numpy semantics). */
  def toPng(pixels: Array[Byte], width: Int, height: Int, sourceBands: Int,
            bands: Int = 3, colour: Boolean = true): Array[Byte] = {
    import java.awt.image.BufferedImage
    val keep = math.min(bands, sourceBands)
    val img =
      if (keep >= 3 && colour) {
        val im = new BufferedImage(width, height, BufferedImage.TYPE_3BYTE_BGR)
        var p = 0
        while (p < width * height) {
          val o = p * sourceBands
          val rgb = ((pixels(o) & 0xFF) << 16) | ((pixels(o + 1) & 0xFF) << 8) |
            (pixels(o + 2) & 0xFF)
          im.setRGB(p % width, p / width, rgb)
          p += 1
        }
        im
      } else {
        val im = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
        val raster = im.getRaster
        var p = 0
        while (p < width * height) {
          val o = p * sourceBands
          var s = 0
          var k = 0
          while (k < keep) { s += pixels(o + k) & 0xFF; k += 1 }
          raster.setSample(p % width, p / width, 0, s / keep) // truncating mean
          p += 1
        }
        im
      }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }
}
