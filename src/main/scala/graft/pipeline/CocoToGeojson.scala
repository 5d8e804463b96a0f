package graft.pipeline

import graft.geo.{Affine, JtsGeo, Orthogonalise, Proj}
import graft.io.{Coco, Georeference}
import graft.model.TileMeta
import graft.ops.GeomUnionAgg
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.locationtech.jts.geom.{Geometry, Polygon}

/** coco2geojson pipeline (reference scripts/coco2geojson.py:188-367 traced in
  * SURVEY.md §3.2), one typed pass over the annotations:
  *
  *  1. dimension tables on the driver: image id → tile affine (tile name
  *     from the image file name, P13; tile metadata by name, J3) and
  *     category id → name (J4) — per-raster tables, collected, not joined;
  *  2. pixel segmentation → world polygon at pixel centres (P4, y/x swap of
  *     coordinates.py:102-104);
  *  3. per-class geometry union (A2, the custom Aggregator replacing the
  *     reference's sequential per-class loop);
  *  4. explode parts → shape regularisation (G1/G2/G7: MRR overrides
  *     simplify) → class name.
  *
  * Dropped, like the reference's inner joins drop them: an annotation whose
  * image has no tile or whose category has no name. Skipped, since they add
  * no area to the union: a null segmentation (RLE or absent, see
  * [[Coco.read]]), an odd-length one (a lone coordinate is no vertex, so
  * the ring is malformed) and a ring of zero area (fewer than 3 vertices or
  * all on one line), which is not a valid polygon to hand to the union.
  *
  * A tile name that appears twice in `tiles` is refused with an
  * IllegalArgumentException: its images would have two affines.
  *
  * Output: one row per merged polygon part with (zone_code, zone_name, wkb).
  */
object CocoToGeojson {

  final case class Params(
      simplifyTolerance: Double = 0.0,
      minimumRotatedRectangle: Boolean = false,
      orthogonalise: Boolean = false,
      /** Layer CRS for the reference's regularisation hop: it reprojects to
        * EPSG:4326 before simplify/orthogonalise (tolerance is in degrees!)
        * and back (coco2geojson.py:342-353). The codes with a hop are
        * listed at [[Proj.crsHop]]; EPSG:4326 means already lon/lat; None
        * or an unknown code skips the hop (tolerance interpreted in layer
        * units — documented deviation). */
      layerCrs: Option[String] = None)

  def run(tables: Coco.CocoTables, tiles: Dataset[TileMeta], p: Params): DataFrame = {
    val spark = tables.annotations.sparkSession
    import spark.implicits._

    val tileAffine: Map[String, Affine] = tiles.collect().groupBy(_.tileName).map {
      case (name, Array(t)) => name -> Affine(t.a, t.b, t.c, t.d, t.e, t.f)
      case (name, _) =>
        throw new IllegalArgumentException(s"tile name '$name' appears more than once in tiles")
    }
    val imageAffine: Map[Long, Affine] = tables.images
      .select(col("id"), Georeference.tileNameCol(col("fileName")))
      .as[(Long, String)].collect()
      .flatMap { case (id, tileName) => tileAffine.get(tileName).map(id -> _) }.toMap
    val names: Map[Int, String] =
      tables.categories.select("id", "name").as[(Int, String)].collect().toMap

    // P4: reference pixel_segmentation_to_spatial_rio — pairs are (x=col,
    // y=row), mapped by xy(row, col) at the pixel centre
    val worldPolys = tables.annotations.select("imageId", "categoryId", "segmentation")
      .as[(Long, Int, Array[Double])]
      .flatMap { case (imageId, categoryId, seg) =>
        for {
          aff <- imageAffine.get(imageId)
          if names.contains(categoryId) && seg != null && seg.length >= 6 && seg.length % 2 == 0
          pixel = JtsGeo.polygonFromFlat(seg.toIndexedSeq)
          if pixel.getArea > 0
        } yield (categoryId, JtsGeo.toWkb(Proj.transformCoords(pixel, aff.pixelToWorld)))
      }

    val hop =
      if (p.simplifyTolerance > 0 || p.orthogonalise || p.minimumRotatedRectangle)
        Proj.crsHop(p.layerCrs)
      else None

    // A2: per-class union, then explode multipolygon parts (O8)
    worldPolys.toDF("categoryId", "wkb").groupBy("categoryId")
      .agg(GeomUnionAgg.union(col("wkb")))
      .as[(Int, Array[Byte])]
      .flatMap { case (categoryId, wkb) =>
        JtsGeo.explodePolygons(JtsGeo.fromWkb(wkb)).map { part =>
          val reg = hop match {
            case Some((toLonLat, fromLonLat)) =>
              Proj.transformCoords(regularise(Proj.transformCoords(part, toLonLat), p), fromLonLat)
            case None => regularise(part, p)
          }
          (categoryId, names(categoryId), JtsGeo.toWkb(reg))
        }
      }
      .toDF("zone_code", "zone_name", "wkb")
  }

  /** G7 regularise: MRR wins over simplify + orthogonalise (coco.py:441-447
    * precedence). */
  private def regularise(part: Geometry, p: Params): Geometry =
    if (p.minimumRotatedRectangle) JtsGeo.minimumRotatedRectangle(part)
    else {
      val simplified =
        if (p.simplifyTolerance > 0) JtsGeo.simplify(part, p.simplifyTolerance) else part
      simplified match {
        case poly: Polygon if p.orthogonalise => Orthogonalise(poly)
        case other => other
      }
    }
}
