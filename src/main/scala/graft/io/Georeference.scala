package graft.io

import graft.geo.Affine
import graft.model.RasterMeta
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** jpeg2tiff georeferencing (reference scripts/jpeg2tiff.py:53-105,
  * SURVEY.md S11/P14/J5): match plain images to a bounds table by the
  * numeric prefix of their file name, build a `from_bounds` affine per
  * image, and emit raster metadata rows. Payload copy (the actual TIFF
  * write) is a sink concern; the metadata join + affine construction is the
  * data-processing part and lives here.
  */
object Georeference {

  /** P14 kernel: numeric-prefix id from the file base name
    * (jpeg2tiff.py:66-71) — pure built-in expressions, codegen'd. Null
    * when the name has no leading digits (or more than a long holds). */
  def numericIdCol(path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(element_at(split(path, "/"), -1), "^([0-9]+)", 1).try_cast("long")

  /** P13 kernel: tile name = file base name without extension
    * (coco2geojson.py:306-308). */
  def tileNameCol(fileName: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(split(fileName, "\\."), 1)

  /** `images`: (path:string, width:int, height:int) rows;
    * `bounds`: (id:long, west,south,east,north:double, crs:string).
    * Join key: leading digits of the file base name (jpeg2tiff.py:66-71);
    * an image without them, or without a bounds row, is dropped. Each
    * row's affine is [[Affine.fromBounds]] of its bounds and size, so a
    * bounds row with `east == west` or `north == south` fails the task as a
    * singular affine. */
  def fromBoundsTable(images: DataFrame, bounds: DataFrame): Dataset[RasterMeta] = {
    import images.sparkSession.implicits._
    images.withColumn("id", numericIdCol(col("path")))
      .join(bounds, "id")
      .select("path", "width", "height", "west", "south", "east", "north", "crs")
      .as[(String, Int, Int, Double, Double, Double, Double, String)]
      .map { case (path, width, height, west, south, east, north, crs) =>
        val t = Affine.fromBounds(west, south, east, north, width, height)
        RasterMeta(path, width, height, t.a, t.b, t.c, t.d, t.e, t.f, crs)
      }
  }
}
