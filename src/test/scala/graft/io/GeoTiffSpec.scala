package graft.io

import graft.SparkSpec
import graft.ops.RasterTiles

class GeoTiffSpec extends SparkSpec {

  /** 64×48 3-band raster, pixel value = deterministic f(col,row,band). */
  def pixels(w: Int, h: Int, bands: Int): Array[Byte] =
    Array.tabulate(w * h * bands) { i =>
      val p = i / bands; val b = i % bands
      ((p * 31 + b * 97) % 256).toByte
    }

  val (w, h, bands) = (64, 48, 3)
  val (pa, pc, pe, pf) = (2.0, 1000.0, -2.0, 2000.0)
  lazy val tiffBytes = GeoTiff.write(w, h, bands, pixels(w, h, bands), pa, 0, pc, 0, pe, pf)

  test("write → parse round trip preserves dimensions, affine, layout") {
    val info = GeoTiff.parse(tiffBytes)
    assert(info.width == w && info.height == h)
    assert(info.samplesPerPixel == bands && info.bitsPerSample == 8)
    assert((info.a, info.c, info.e, info.f) == ((pa, pc, pe, pf)))
    assert(info.b == 0 && info.d == 0)
    val full = GeoTiff.readWindow(tiffBytes, info, 0, 0, w, h)
    assert(full.toSeq == pixels(w, h, bands).toSeq)
  }

  test("window read copies the exact pixel rectangle (tiles.py:126)") {
    val info = GeoTiff.parse(tiffBytes)
    val win = GeoTiff.readWindow(tiffBytes, info, 10, 20, 5, 4)
    val all = pixels(w, h, bands)
    for (r <- 0 until 4; cc <- 0 until 5; b <- 0 until bands) {
      val expect = all(((20 + r) * w + 10 + cc) * bands + b)
      assert(win((r * 5 + cc) * bands + b) == expect, s"($cc,$r,$b)")
    }
  }

  test("jdk PNG sidecar: colour keeps band values; grayscale is truncating mean") {
    val info = GeoTiff.parse(tiffBytes)
    val full = GeoTiff.readWindow(tiffBytes, info, 0, 0, w, h)
    val png = GeoTiff.toPng(full, w, h, bands, 3, colour = true)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == w && img.getHeight == h)
    val rgb0 = img.getRGB(1, 2)
    val o = (2 * w + 1) * bands
    assert(((rgb0 >> 16) & 0xFF) == (full(o) & 0xFF))
    assert(((rgb0 >> 8) & 0xFF) == (full(o + 1) & 0xFF))
    assert((rgb0 & 0xFF) == (full(o + 2) & 0xFF))
    val gray = GeoTiff.toPng(full, w, h, bands, 3, colour = false)
    val gimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gray))
    val expect = ((full(o) & 0xFF) + (full(o + 1) & 0xFF) + (full(o + 2) & 0xFF)) / 3
    assert(gimg.getRaster.getSample(1, 2, 0) == expect)
  }

  test("random windows equal the corresponding slice of the full raster") {
    val info = GeoTiff.parse(tiffBytes)
    val all = pixels(w, h, bands)
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 30) {
      val cw = 1 + rnd.nextInt(w); val ch = 1 + rnd.nextInt(h)
      val co = rnd.nextInt(w - cw + 1); val ro = rnd.nextInt(h - ch + 1)
      val win = GeoTiff.readWindow(tiffBytes, info, co, ro, cw, ch)
      assert(win.length == cw * ch * bands)
      for (r <- 0 until ch; cc <- 0 until cw; b <- 0 until bands) {
        assert(win((r * cw + cc) * bands + b) == all(((ro + r) * w + co + cc) * bands + b),
          s"window ($co,$ro,$cw,$ch) at ($cc,$r,$b)")
      }
    }
  }

  test("single-band grayscale raster round-trips") {
    val gray = GeoTiff.write(20, 10, 1, pixels(20, 10, 1), 1.0, 0, 0.0, 0, -1.0, 10.0)
    val info = GeoTiff.parse(gray)
    assert(info.samplesPerPixel == 1 && info.width == 20 && info.height == 10)
    assert(GeoTiff.readWindow(gray, info, 3, 2, 5, 4).toSeq ==
      (for (r <- 2 until 6; c <- 3 until 8) yield pixels(20, 10, 1)(r * 20 + c)).toSeq)
  }

  test("cutTiles + pngSidecars on a 16-bit BIG-endian tiled deflate source") {
    // the compressed-16-bit layouts GDAL writes must flow through the
    // whole tile pipeline, not just parse: window → LE-normalized rewrap
    // → re-parse → high-byte PNG preview
    val (sw, sh) = (40, 26)
    val s16 = TiffFixtures.samplePattern(sw, sh, 1, 65536)
    val src = TiffFixtures.buildTiff(s16, sw, sh, 1, 16, compression = 8,
      tile = Some((16, 8)), littleEndian = false)
    // give it georeferencing by rebuilding with GeoTiff.write? No — patch
    // via the pixel-space default affine; tiling only needs dims
    val tmp = java.nio.file.Files.createTempDirectory("tiff16")
    java.nio.file.Files.write(tmp.resolve("r16.tif"), src)
    val tiles = RasterTiles.cutTiles(spark, tmp.toString, 16, 16).collect()
      .sortBy(r => (r.getInt(2), r.getInt(3)))
    assert(tiles.length == 6) // 3 cols × 2 rows
    // re-parse a payload: 16-bit samples round-trip exactly
    val t = tiles.find(r => r.getInt(2) == 16 && r.getInt(3) == 16).get
    val ti = GeoTiff.parse(t.getAs[Array[Byte]](12))
    assert(ti.bitsPerSample == 16 && ti.littleEndian)
    val got = GeoTiff.readWindowSamples(t.getAs[Array[Byte]](12), ti, 0, 0, 16, 10)
    for (r <- 0 until 10; c <- 0 until 16)
      assert(got(r * 16 + c) == s16((16 + r) * sw + 16 + c), s"($c,$r)")
    // png sidecar decodes with the high-byte preview value
    val withPng = RasterTiles.pngSidecars(
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(t)),
        RasterTiles.cutTiles(spark, tmp.toString, 16, 16).schema)).collect()(0)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(withPng.getAs[Array[Byte]](13)))
    assert(img.getRaster.getSample(2, 3, 0) ==
      ((s16((16 + 3) * sw + 16 + 2) >> 8) & 0xFF))
  }

  test("cutTiles + pngSidecars on a float32 BIG-endian tiled deflate source") {
    val (sw, sh) = (24, 14)
    val vals = Array.tabulate(sw * sh)(i => i * 0.5f - 20f)
    val bits = vals.map(java.lang.Float.floatToIntBits)
    val src = TiffFixtures.buildTiff(bits, sw, sh, 1, 32, compression = 8,
      tile = Some((8, 8)), littleEndian = false)
    val tmp = java.nio.file.Files.createTempDirectory("tiff32")
    java.nio.file.Files.write(tmp.resolve("r32.tif"), src)
    val tiles = RasterTiles.cutTiles(spark, tmp.toString, 12, 8).collect()
      .sortBy(r => (r.getInt(2), r.getInt(3)))
    assert(tiles.length == 4) // 2 cols × 2 rows (last row 6 px)
    val t = tiles.find(r => r.getInt(2) == 12 && r.getInt(3) == 8).get
    val ti = GeoTiff.parse(t.getAs[Array[Byte]](12))
    assert(ti.sampleFormat == 3 && ti.bitsPerSample == 32 && ti.littleEndian)
    val got = GeoTiff.readWindowFloats(t.getAs[Array[Byte]](12), ti, 0, 0, 12, 6)
    for (r <- 0 until 6; c <- 0 until 12)
      assert(got(r * 12 + c) == vals((8 + r) * sw + 12 + c), s"($c,$r)")
    // png preview: min→0, max→255 within the tile
    val withPng = RasterTiles.pngSidecars(
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(t)),
        RasterTiles.cutTiles(spark, tmp.toString, 12, 8).schema)).collect()(0)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(withPng.getAs[Array[Byte]](13)))
    val tileVals = for (r <- 0 until 6; c <- 0 until 12) yield vals((8 + r) * sw + 12 + c)
    val (lo, hi) = (tileVals.min, tileVals.max)
    val expect = math.min(255, ((vals((8 + 3) * sw + 12 + 2) - lo) / (hi - lo) * 255f).toInt)
    assert(img.getRaster.getSample(2, 3, 0) == expect)
  }

  test("distributed cutTiles: payload windows + shifted affines + png sidecars") {
    val tmp = java.nio.file.Files.createTempDirectory("tiffs")
    java.nio.file.Files.write(tmp.resolve("r1.tif"), tiffBytes)
    val metas = RasterTiles.metaTable(spark, tmp.toString).collect()
    assert(metas.length == 1 && metas.head.width == w && metas.head.a == pa)

    val tiles = RasterTiles.cutTiles(spark, tmp.toString, 32, 32).cache()
    val rows = tiles.collect().sortBy(r => (r.getInt(2), r.getInt(3)))
    // 64×48 in 32×32 tiles → 2 cols × 2 rows (last row 16 px tall)
    assert(rows.length == 4)
    assert(rows.map(r => (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))).toSeq ==
      Seq((0, 0, 32, 32), (0, 32, 32, 16), (32, 0, 32, 32), (32, 32, 32, 16)))
    // tile (32,0): affine c shifted by 32 pixels, payload matches source window
    val t = rows(2)
    assert(t.getDouble(8) == pc + pa * 32) // c column
    val tileTiff = t.getAs[Array[Byte]](12)
    val ti = GeoTiff.parse(tileTiff)
    val tp = GeoTiff.readWindow(tileTiff, ti, 0, 0, 32, 32)
    val all = pixels(w, h, bands)
    for (cc <- 0 until 32; b <- 0 until bands)
      assert(tp(cc * bands + b) == all((32 + cc) * bands + b), s"col $cc band $b")

    val withPng = RasterTiles.pngSidecars(tiles).collect()
    assert(withPng.forall { r =>
      val png = r.getAs[Array[Byte]](13)
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      im.getWidth == r.getInt(4) && im.getHeight == r.getInt(5)
    })
  }

  test("writeTileFiles puts each raster's tiles in its own directory") {
    val src = java.nio.file.Files.createTempDirectory("tiffs")
    java.nio.file.Files.write(src.resolve("r1.tif"), tiffBytes)
    java.nio.file.Files.write(src.resolve("r2.tif"), GeoTiff.write(w, h, bands,
      pixels(w, h, bands).map(b => (b ^ 0x5A).toByte), pa, 0, pc, 0, pe, pf))
    val tiles = RasterTiles.pngSidecars(RasterTiles.cutTiles(spark, src.toString, 32, 32))
    val out = java.nio.file.Files.createTempDirectory("tile-files")
    RasterTiles.writeTileFiles(tiles, out.toString)

    val rows = tiles.select("rasterId", "tileName", "tiff", "png").collect()
    // both rasters are cut on the same grid, so every tile name occurs twice
    assert(rows.length == 8 && rows.map(_.getString(1)).distinct.length == 4)
    rows.foreach { r =>
      val stem = r.getString(0).split('/').last.stripSuffix(".tif")
      val tileDir = out.resolve(stem)
      val tif = java.nio.file.Files.readAllBytes(tileDir.resolve(r.getString(1) + ".tif"))
      val png = java.nio.file.Files.readAllBytes(tileDir.resolve(r.getString(1) + ".png"))
      assert(tif.toSeq == r.getAs[Array[Byte]](2).toSeq, s"$stem/${r.getString(1)}.tif")
      assert(png.toSeq == r.getAs[Array[Byte]](3).toSeq, s"$stem/${r.getString(1)}.png")
    }
  }
}
