package graft.io

import org.scalatest.funsuite.AnyFunSuite

import java.nio.{ByteBuffer, ByteOrder}

/** Compressed / tiled / 16-bit GeoTIFF coverage — the layouts GDAL writes
  * for real aerial rasters (the reference reads them via rasterio,
  * tiles.py:50). Fixtures are hand-assembled per the TIFF 6.0 spec so the
  * parser is exercised against an independent byte layout, not its own
  * writer; the LZW bit format is additionally pinned by a hand-derived
  * known-answer vector (decoder correctness does not rest on the encoder). */
/** Hand-assembled TIFF fixtures shared by the codec spec and the
  * distributed raster-pipeline tests. */
object TiffFixtures {

  /** Assemble a classic TIFF: chunky samples, optional tiles, compression
    * (1/5/8/32773), predictor (1/2), bps 8/16, either byte order —
    * independent of GeoTiff.write. */
  def buildTiff(samples: Array[Int], width: Int, height: Int, spp: Int,
                bps: Int, compression: Int, predictor: Int = 1,
                tile: Option[(Int, Int)] = None, rowsPerStrip: Int = 0,
                littleEndian: Boolean = true): Array[Byte] = {
    require(samples.length == width * height * spp)
    val order = if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val bytesPS = bps / 8

    def chunkBytes(cw: Int, ch: Int, colOff: Int, rowOff: Int): Array[Byte] = {
      val buf = new Array[Byte](cw * ch * spp * bytesPS)
      for (r <- 0 until ch; c <- 0 until cw; b <- 0 until spp) {
        val (sr, sc) = (rowOff + r, colOff + c)
        val v = if (sr < height && sc < width) samples((sr * width + sc) * spp + b) else 0
        val o = ((r * cw + c) * spp + b) * bytesPS
        if (bytesPS == 1) buf(o) = v.toByte
        else if (bytesPS == 4) { // float32: v carries the IEEE bit pattern
          if (littleEndian) { buf(o) = v.toByte; buf(o + 1) = (v >> 8).toByte
            buf(o + 2) = (v >> 16).toByte; buf(o + 3) = (v >> 24).toByte }
          else { buf(o) = (v >> 24).toByte; buf(o + 1) = (v >> 16).toByte
            buf(o + 2) = (v >> 8).toByte; buf(o + 3) = v.toByte }
        }
        else if (littleEndian) { buf(o) = v.toByte; buf(o + 1) = (v >> 8).toByte }
        else { buf(o) = (v >> 8).toByte; buf(o + 1) = v.toByte }
      }
      if (predictor == 2) { // forward horizontal differencing per row
        for (r <- 0 until ch) {
          val base = r * cw * spp * bytesPS
          for (i <- (spp until cw * spp).reverse) {
            val o = base + i * bytesPS
            val po = base + (i - spp) * bytesPS
            if (bytesPS == 1) buf(o) = (buf(o) - buf(po)).toByte
            else {
              def rd(p: Int) = if (littleEndian) (buf(p) & 0xFF) | ((buf(p + 1) & 0xFF) << 8)
                else ((buf(p) & 0xFF) << 8) | (buf(p + 1) & 0xFF)
              val v = rd(o) - rd(po)
              if (littleEndian) { buf(o) = v.toByte; buf(o + 1) = (v >> 8).toByte }
              else { buf(o) = (v >> 8).toByte; buf(o + 1) = v.toByte }
            }
          }
        }
      }
      compression match {
        case 1 => buf
        case 5 => GeoTiff.lzwEncode(buf)
        case 8 =>
          val d = new java.util.zip.Deflater(); d.setInput(buf); d.finish()
          val tmp = new Array[Byte](buf.length + 64)
          val out = new java.io.ByteArrayOutputStream()
          while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
          d.end(); out.toByteArray
        case 32773 => // PackBits: naive all-literal runs of ≤128
          val out = new java.io.ByteArrayOutputStream()
          var i = 0
          while (i < buf.length) {
            val n = math.min(128, buf.length - i)
            out.write(n - 1); out.write(buf, i, n); i += n
          }
          out.toByteArray
      }
    }

    val chunks: Seq[Array[Byte]] = tile match {
      case Some((tw, tl)) =>
        for (tr <- 0 until (height + tl - 1) / tl; tc <- 0 until (width + tw - 1) / tw)
          yield chunkBytes(tw, tl, tc * tw, tr * tl)
      case None =>
        val rps = if (rowsPerStrip > 0) rowsPerStrip else height
        for (s <- 0 until (height + rps - 1) / rps)
          yield chunkBytes(width, math.min(rps, height - s * rps), 0, s * rps)
    }

    // layout: header(8) | IFD | external arrays (bps, chunk offs, counts) |
    // chunk data — two passes: sizes first, then values
    val rps = if (rowsPerStrip > 0) rowsPerStrip else height
    val (offId, cntId) = if (tile.isDefined) (324, 325) else (273, 279)
    val bpsExternal = spp > 2
    val arraysExternal = chunks.length > 1
    val tagIds = Seq(256, 257, 258, 259, 262, 277, 284, offId, cntId) ++
      (if (bps == 32) Seq(339) else Nil) ++
      (if (predictor != 1) Seq(317) else Nil) ++
      (tile match { case Some(_) => Seq(322, 323); case None => Seq(278) })
    val n = tagIds.length
    val ifdSize = 2 + n * 12 + 4
    val extStart = 8 + ifdSize
    val bpsArrOff = extStart
    val bpsArrLen = if (bpsExternal) spp * 2 else 0
    val offsArrOff = bpsArrOff + bpsArrLen
    val offsArrLen = if (arraysExternal) chunks.length * 4 else 0
    val cntsArrOff = offsArrOff + offsArrLen
    val cntsArrLen = if (arraysExternal) chunks.length * 4 else 0
    val dataStart = cntsArrOff + cntsArrLen
    val chunkOffs = chunks.scanLeft(dataStart.toLong)(_ + _.length).init.toArray
    val chunkCounts = chunks.map(_.length.toLong).toArray

    def tagOf(id: Int): (Int, Int, Int, Long) = id match {
      case 256 => (256, 4, 1, width.toLong)
      case 257 => (257, 4, 1, height.toLong)
      case 258 =>
        if (bpsExternal) (258, 3, spp, bpsArrOff.toLong)
        else (258, 3, spp, (0 until spp).map(i => bps.toLong << (16 * i)).sum)
      case 259 => (259, 3, 1, compression.toLong)
      case 262 => (262, 3, 1, 1L)
      case 277 => (277, 3, 1, spp.toLong)
      case 278 => (278, 4, 1, rps.toLong)
      case 284 => (284, 3, 1, 1L)
      case 317 => (317, 3, 1, predictor.toLong)
      case 339 => (339, 3, 1, 3L) // IEEE float
      case 322 => (322, 4, 1, tile.get._1.toLong)
      case 323 => (323, 4, 1, tile.get._2.toLong)
      case `offId` =>
        (offId, 4, chunks.length, if (arraysExternal) offsArrOff.toLong else chunkOffs(0))
      case `cntId` =>
        (cntId, 4, chunks.length, if (arraysExternal) cntsArrOff.toLong else chunkCounts(0))
    }
    val tags = tagIds.sorted.map(tagOf)

    val head = ByteBuffer.allocate(dataStart).order(order)
    head.put(0, (if (littleEndian) 'I' else 'M').toByte)
    head.put(1, (if (littleEndian) 'I' else 'M').toByte)
    head.putShort(2, 42)
    head.putInt(4, 8)
    head.putShort(8, n.toShort)
    tags.zipWithIndex.foreach { case ((id, typ, cnt, v), i) =>
      val o = 8 + 2 + i * 12
      head.putShort(o, id.toShort)
      head.putShort(o + 2, typ.toShort)
      head.putInt(o + 4, cnt)
      if (typ == 3 && cnt <= 2) {
        head.putShort(o + 8, (v & 0xFFFF).toShort)
        if (cnt == 2) head.putShort(o + 10, ((v >> 16) & 0xFFFF).toShort)
      } else head.putInt(o + 8, v.toInt)
    }
    head.putInt(8 + 2 + n * 12, 0)
    if (bpsExternal) (0 until spp).foreach(i => head.putShort(bpsArrOff + i * 2, bps.toShort))
    if (arraysExternal) {
      chunkOffs.zipWithIndex.foreach { case (o, i) => head.putInt(offsArrOff + i * 4, o.toInt) }
      chunkCounts.zipWithIndex.foreach { case (c, i) => head.putInt(cntsArrOff + i * 4, c.toInt) }
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(head.array())
    chunks.foreach(out.write)
    out.toByteArray
  }

  def samplePattern(w: Int, h: Int, spp: Int, max: Int): Array[Int] =
    Array.tabulate(w * h * spp) { i => (i * 31 + (i / spp) * 7) % max }
}

class GeoTiffCodecSpec extends AnyFunSuite {
  import TiffFixtures._

  def checkFull(bytes: Array[Byte], w: Int, h: Int, spp: Int, expect: Array[Int]): Unit = {
    val info = GeoTiff.parse(bytes)
    assert(info.width == w && info.height == h && info.samplesPerPixel == spp)
    val got = GeoTiff.readWindowSamples(bytes, info, 0, 0, w, h)
    assert(got.toSeq == expect.toSeq)
  }

  // ---------- LZW bit-format known answers ----------

  test("lzwDecode known-answer vector (hand-assembled 9-bit stream)") {
    // [7,7,7,8,8,7] → codes 256,7,258,8,8,7,257 → these exact bytes
    val stream = Array(128, 1, 224, 64, 128, 64, 30, 2).map(_.toByte)
    assert(GeoTiff.lzwDecode(stream, 6).toSeq == Seq[Byte](7, 7, 7, 8, 8, 7))
  }

  test("lzw encode/decode round trip across width bumps and table reset") {
    val rnd = new scala.util.Random(11)
    // random data grows the table ~1 entry/byte: 600B crosses the 9→10-bit
    // bump, 3k crosses 11, 60k crosses several 12-bit table RESETS
    for (n <- Seq(1, 5, 300, 600, 3000, 10000, 60000)) {
      val data = Array.fill(n)(rnd.nextInt(256).toByte)
      val enc = GeoTiff.lzwEncode(data)
      assert(GeoTiff.lzwDecode(enc, n).toSeq == data.toSeq, s"n=$n")
    }
    // highly repetitive data exercises the KwKwK path
    val rep = Array.tabulate(5000)(i => (i % 3).toByte)
    assert(GeoTiff.lzwDecode(GeoTiff.lzwEncode(rep), 5000).toSeq == rep.toSeq)
  }

  test("packbits decode: literal, run, and no-op markers") {
    // 3 literals, run of 4×0x2A, -128 no-op, 2 literals
    val src = Array[Byte](2, 1, 2, 3, -3, 0x2A, -128, 1, 9, 8)
    assert(GeoTiff.packbitsDecode(src, 9).toSeq ==
      Seq[Byte](1, 2, 3, 0x2A, 0x2A, 0x2A, 0x2A, 9, 8))
  }

  // ---------- full-file layouts ----------

  test("deflate-compressed multi-strip TIFF reads back exactly") {
    val s = samplePattern(40, 30, 3, 256)
    checkFull(buildTiff(s, 40, 30, 3, 8, compression = 8, rowsPerStrip = 7), 40, 30, 3, s)
  }

  test("LZW-compressed strip TIFF with Predictor=2 reads back exactly") {
    val s = samplePattern(33, 21, 3, 256)
    checkFull(buildTiff(s, 33, 21, 3, 8, compression = 5, predictor = 2,
      rowsPerStrip = 5), 33, 21, 3, s)
  }

  test("PackBits strip TIFF reads back exactly") {
    val s = samplePattern(16, 16, 1, 256)
    checkFull(buildTiff(s, 16, 16, 1, 8, compression = 32773), 16, 16, 1, s)
  }

  test("tiled deflate TIFF with edge padding reads back exactly (windows too)") {
    val (w, h, spp) = (50, 35, 3)
    val s = samplePattern(w, h, spp, 256)
    val bytes = buildTiff(s, w, h, spp, 8, compression = 8, tile = Some((16, 16)))
    val info = GeoTiff.parse(bytes)
    assert(info.tiled && info.tileWidth == 16)
    checkFull(bytes, w, h, spp, s)
    // random windows crossing tile boundaries
    val rnd = new scala.util.Random(3)
    for (_ <- 0 until 20) {
      val cw = 1 + rnd.nextInt(w); val ch = 1 + rnd.nextInt(h)
      val co = rnd.nextInt(w - cw + 1); val ro = rnd.nextInt(h - ch + 1)
      val win = GeoTiff.readWindowSamples(bytes, info, co, ro, cw, ch)
      for (r <- 0 until ch; c <- 0 until cw; b <- 0 until spp)
        assert(win((r * cw + c) * spp + b) == s(((ro + r) * w + co + c) * spp + b),
          s"win($co,$ro,$cw,$ch) at ($c,$r,$b)")
    }
  }

  test("16-bit samples decode in both byte orders (uncompressed + deflate + predictor)") {
    val (w, h) = (25, 18)
    val s = samplePattern(w, h, 1, 65536)
    for (le <- Seq(true, false)) {
      checkFull(buildTiff(s, w, h, 1, 16, compression = 1, littleEndian = le), w, h, 1, s)
      checkFull(buildTiff(s, w, h, 1, 16, compression = 8, predictor = 2,
        rowsPerStrip = 4, littleEndian = le), w, h, 1, s)
    }
  }

  test("16-bit tiled LZW TIFF reads back exactly") {
    val (w, h) = (40, 24)
    val s = samplePattern(w, h, 1, 65536)
    checkFull(buildTiff(s, w, h, 1, 16, compression = 5, tile = Some((16, 8))), w, h, 1, s)
  }

  test("GeoTiff.write with LZW and Deflate round-trips through parse/readWindow") {
    val (w, h, bands) = (48, 32, 3)
    val px = Array.tabulate(w * h * bands)(i => ((i * 13) % 256).toByte)
    for (comp <- Seq(5, 8)) {
      val t = GeoTiff.write(w, h, bands, px, 2.0, 0, 100.0, 0, -2.0, 500.0, compression = comp)
      assert(t.length < px.length + 400, s"comp=$comp should shrink this pattern")
      val info = GeoTiff.parse(t)
      assert(info.compression == comp)
      assert(GeoTiff.readWindow(t, info, 0, 0, w, h).toSeq == px.toSeq)
      assert((info.a, info.c, info.e, info.f) == ((2.0, 100.0, -2.0, 500.0)))
    }
  }

  test("float32 samples decode in both byte orders (strip + tiled deflate)") {
    val (w, h) = (10, 7)
    val vals = Array.tabulate(w * h)(i => 0.25f * i - 3.5f)
    val bits = vals.map(java.lang.Float.floatToIntBits)
    for (le <- Seq(true, false);
         tile <- Seq(None, Some((4, 4)));
         comp <- Seq(1, 8)) {
      val t = buildTiff(bits, w, h, 1, 32, comp, tile = tile, littleEndian = le)
      val info = GeoTiff.parse(t)
      assert(info.sampleFormat == 3 && info.bitsPerSample == 32)
      val got = GeoTiff.readWindowFloats(t, info, 0, 0, w, h)
      assert(got.toSeq == vals.toSeq, s"le=$le tile=$tile comp=$comp")
      // window cut from the middle
      val win = GeoTiff.readWindowFloats(t, info, 3, 2, 5, 4)
      val expect = for (r <- 2 until 6; c <- 3 until 8) yield vals(r * w + c)
      assert(win.toSeq == expect, s"window le=$le tile=$tile comp=$comp")
      // LE normalization matches the typed accessor bit-for-bit
      val le4 = GeoTiff.readWindowLE(t, info, 3, 2, 5, 4)
      val bb = java.nio.ByteBuffer.wrap(le4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      assert((0 until 20).map(i => bb.getFloat(i * 4).toDouble) == expect.map(_.toDouble))
    }
  }

  /** [[GeoTiff.write]]'s float32 arm (SampleFormat=3) from typed samples,
    * chunky row-major, as a tile cut from a float raster writes them */
  def writeFloat(width: Int, height: Int, samples: Array[Float], a: Double, c: Double,
                 e: Double, f: Double, compression: Int): Array[Byte] = {
    val raw = java.nio.ByteBuffer.allocate(samples.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(raw.putFloat)
    GeoTiff.write(width, height, 1, raw.array(), a, 0, c, 0, e, f, compression,
      bitsPerSample = 32, sampleFormat = 3)
  }

  test("writeFloat round-trips float32 rasters incl. the affine tags") {
    val (w, h) = (12, 9)
    val vals = Array.tabulate(w * h)(i => (i * 0.125f) - 2f)
    for (comp <- Seq(1, 5, 8)) {
      val t = writeFloat(w, h, vals, 0.5, 10.0, -0.5, 99.0, comp)
      val info = GeoTiff.parse(t)
      assert(info.sampleFormat == 3 && info.compression == comp)
      assert(GeoTiff.readWindowFloats(t, info, 0, 0, w, h).toSeq == vals.toSeq)
      assert((info.a, info.c, info.e, info.f) == ((0.5, 10.0, -0.5, 99.0)))
    }
  }

  test("readWindowFloats refuses non-float rasters; fixture declares SampleFormat=3") {
    val bits = Array.tabulate(4)(i => java.lang.Float.floatToIntBits(i.toFloat))
    assert(GeoTiff.parse(buildTiff(bits, 2, 2, 1, 32, 1)).sampleFormat == 3)
    val int8 = buildTiff(Array.fill(4)(1), 2, 2, 1, 8, 1)
    intercept[IllegalArgumentException] {
      GeoTiff.readWindowFloats(int8, GeoTiff.parse(int8), 0, 0, 2, 2)
    }
  }
}
