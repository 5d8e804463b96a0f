package graft.ops

import graft.io.GeoTiff
import graft.model.RasterMeta
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Raster payload IO (SURVEY.md S5/S6/S7 payload arms): `binaryFile` ingest
  * of real GeoTIFFs into the raster-metadata table, the per-tile pixel
  * window copy (reference save_tiles, tiles.py:86-128), and PNG sidecar
  * derivation (coco.py:140-169) — all as distributed transforms where one
  * raster is one task (rasters arrive as many files at fleet scale; a
  * single huge raster is the degenerate case the reference is also
  * single-threaded on).
  */
object RasterTiles {

  /** Scan GeoTIFF headers under `path` into the RasterMeta table (S5). */
  def metaTable(spark: SparkSession, path: String, glob: String = "*.tif"): Dataset[RasterMeta] = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .map { case (p, bytes) => GeoTiff.parse(bytes).toMeta(p) }
  }

  /** Cut every raster under `path` into its tile grid with real pixel
    * payloads: one output row per tile with the shifted affine and a
    * standalone single-strip GeoTIFF payload (tiles.py:116-126 semantics,
    * `tile_{colOff}-{rowOff}` naming). */
  def cutTiles(spark: SparkSession, path: String, tileWidth: Int, tileHeight: Int,
               mapUnits: Boolean = false, offsetPct: Double = 0.0,
               glob: String = "*.tif"): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val info = GeoTiff.parse(bytes)
        Tiling.tilesFor(info.toMeta(p), tileWidth, tileHeight, mapUnits, offsetPct)
          .map { t =>
            // LE-normalized raw window so 16-bit and float32 sources
            // (either byte order, any compression/tiling) re-wrap into
            // valid payloads of the same sample type
            val pixels = GeoTiff.readWindowLE(bytes, info, t.colOff, t.rowOff, t.width, t.height)
            val tiff = GeoTiff.write(t.width, t.height, info.samplesPerPixel, pixels,
              t.a, t.b, t.c, t.d, t.e, t.f, bitsPerSample = info.bitsPerSample,
              sampleFormat = info.sampleFormat)
            (t.rasterId, t.tileName, t.colOff, t.rowOff, t.width, t.height,
              t.a, t.b, t.c, t.d, t.e, t.f, tiff)
          }
      }
      .toDF("rasterId", "tileName", "colOff", "rowOff", "width", "height",
        "a", "b", "c", "d", "e", "f", "tiff")
  }

  /** Derive PNG sidecars from tile payloads (S7): keep the first `bands`
    * bands, or their truncating mean when `colour` is false. Adds a `png`
    * binary column next to the tiff payload. */
  def pngSidecars(tiles: DataFrame, bands: Int = 3, colour: Boolean = true): DataFrame = {
    val spark = tiles.sparkSession
    val schema = tiles.schema.add("png", org.apache.spark.sql.types.BinaryType)
    val wI = tiles.schema.fieldIndex("width")
    val hI = tiles.schema.fieldIndex("height")
    val tI = tiles.schema.fieldIndex("tiff")
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    tiles.mapPartitions { it =>
      it.map { r =>
        val tiff = r.getAs[Array[Byte]](tI)
        val info = GeoTiff.parse(tiff)
        // 16-bit payloads map to PNG via the high byte (rasterio's
        // 8-bit-preview convention); float32 rescales min→0 max→255 per
        // tile (the DEM-preview convention); 8-bit passes through
        val pixels =
          if (info.bitsPerSample == 8)
            GeoTiff.readWindow(tiff, info, 0, 0, info.width, info.height)
          else if (info.bitsPerSample == 32) {
            val f = GeoTiff.readWindowFloats(tiff, info, 0, 0, info.width, info.height)
            var lo = Float.MaxValue; var hi = Float.MinValue
            f.foreach { v => if (v < lo) lo = v; if (v > hi) hi = v }
            val span = if (hi > lo) hi - lo else 1f
            val b = new Array[Byte](f.length)
            var i = 0
            while (i < f.length) {
              b(i) = math.min(255, ((f(i) - lo) / span * 255f).toInt).toByte; i += 1
            }
            b
          } else {
            val s = GeoTiff.readWindowSamples(tiff, info, 0, 0, info.width, info.height)
            val b = new Array[Byte](s.length)
            var i = 0
            while (i < s.length) { b(i) = (s(i) >> 8).toByte; i += 1 }
            b
          }
        val png = GeoTiff.toPng(pixels, info.width, info.height,
          info.samplesPerPixel, bands, colour)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ png)
      }
    }
  }

  /** Sink (S6, reference save_tiles): write each tile's `tiff` payload,
    * and its `png` when that column exists, as `<tileName>.tif`/`.png`
    * under `<dir>/<stem of rasterId>/` — executor-side writes. Tile names
    * repeat across rasters cut on one grid, so each raster gets its own
    * directory. */
  def writeTileFiles(tiles: DataFrame, dir: String): Unit = {
    val cols = Seq("rasterId", "tileName", "tiff") ++
      tiles.schema.fieldNames.filter(_ == "png")
    tiles.select(cols.map(col): _*).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val base = r.getString(0).split('/').last
          val dot = base.lastIndexOf('.')
          val out = java.nio.file.Paths.get(dir, if (dot > 0) base.take(dot) else base)
          java.nio.file.Files.createDirectories(out)
          val name = r.getString(1)
          java.nio.file.Files.write(out.resolve(s"$name.tif"), r.getAs[Array[Byte]](2))
          if (r.length > 3)
            java.nio.file.Files.write(out.resolve(s"$name.png"), r.getAs[Array[Byte]](3))
        }
    }
  }
}
