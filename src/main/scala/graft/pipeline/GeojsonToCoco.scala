package graft.pipeline

import graft.geo.{Affine, GeomCols, JtsGeo}
import graft.io.Coco
import graft.model._
import graft.ops.Tiling
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.geom.{Envelope, Polygon}

import scala.jdk.CollectionConverters._

/** geojson2coco pipeline (reference scripts/geojson2coco.py:52-254 traced in
  * SURVEY.md §3.1): tile grid over the raster → spatial clip of features per
  * tile → world→pixel conversion (floor law) → COCO assembly.
  *
  * Spark shape: the per-tile Python loop becomes one `mapPartitions` over
  * the feature table with the (small, per-raster) tile grid broadcast as an
  * STRtree — the broadcast arm of J1. Determinism pins the reference's
  * accidental orderings: image ids = tiles sorted by name (reference uses
  * glob order, non-deterministic — SURVEY.md S8); class ids = first
  * appearance in featureId order (factorize semantics); annotation ids =
  * row_number over (imageId, featureId, partIdx).
  */
object GeojsonToCoco {

  final case class Params(
      tileWidth: Int = 2000, tileHeight: Int = 2000, mapUnits: Boolean = false,
      offsetPct: Double = 0.0, areaFilter: Double = 0.0, trimClass: Int = 0,
      /** Layer CRS for the P16 area filter. The reference ALWAYS filters on
        * area in the layer's estimated UTM CRS (coordinates.py:194-198); for
        * a geographic layer ("EPSG:4326") the engine projects each clipped
        * part to the layer-level estimated UTM zone before the shoelace.
        * For projected layers the layer-unit area is already m² (documented
        * deviation: arbitrary projected CRSs are not re-projected). */
      layerCrs: Option[String] = None)

  def run(features: Dataset[Feature], raster: RasterMeta, p: Params): Coco.CocoTables = {
    val spark = features.sparkSession
    import spark.implicits._

    // tile grid (small per-raster metadata), image ids pinned by sorted name
    val tiles = Tiling.tilesFor(raster, p.tileWidth, p.tileHeight, p.mapUnits, p.offsetPct)
    val tilesSorted = tiles.sortBy(_.tileName)
    val images = tilesSorted.zipWithIndex.map { case (t, i) =>
      CocoImage(i.toLong, s"${t.tileName}.png", t.height, t.width)
    }

    // categories: first-appearance factorization over featureId order (A1),
    // one job of per-partition (zone, min featureId), merged on the driver
    val catRows = features.select("zoneName", "featureId").as[(String, Long)]
      .mapPartitions(_.foldLeft(Map.empty[String, Long]) { case (m, (z, f)) =>
        m.updated(z, m.get(z).fold(f)(math.min(_, f))) }.iterator)
      .collect().groupMapReduce(_._1)(_._2)(math.min).toSeq.sortBy(_.swap).map(_._1)
    val categories = catRows.zipWithIndex.map { case (name, i) =>
      CocoCategory(i, name.drop(p.trimClass), name.drop(p.trimClass))
    }
    val catMap = catRows.zipWithIndex.map { case (n, i) => (n, i) }.toMap

    val bcTiles = spark.sparkContext.broadcast(
      tilesSorted.zipWithIndex.map { case (t, i) => (t, i.toLong) })
    val bcCats = spark.sparkContext.broadcast(catMap)
    val areaFilter = p.areaFilter
    // P16: for a geographic layer (any degree-unit CRS — 4326, NAD83,
    // ETRS89, … — matched by family via Proj.isGeographic) the filter
    // threshold is m², so estimate ONE UTM zone from the layer bounds
    // (geopandas estimate_utm_crs rule) and measure each clipped part
    // there (coordinates.py:194-198).
    val utmZone: Option[(Int, Boolean)] =
      if (p.layerCrs.exists(graft.geo.Proj.isGeographic)) {
        val env = features.toDF()
          .agg(min("xmin"), min("ymin"), max("xmax"), max("ymax")).head()
        if (env.isNullAt(0)) None
        else Some(graft.geo.Proj.estimateUtmZone(
          env.getDouble(0), env.getDouble(1), env.getDouble(2), env.getDouble(3)))
      } else None

    // J1 broadcast arm: STRtree over tile envelopes, JTS clip, explode parts,
    // area filter, world→pixel (floor), shoelace area + bbox on pixel ring
    // (GeomCols' scalar kernels, bit-identical to its columns)
    val rows = features.mapPartitions { it =>
      // each tile's clip box and affine are built once per partition
      val tree = new STRtree()
      bcTiles.value.foreach { case (t, imgId) =>
        val (x0, y0, x1, y1) = Tiling.worldEnvelope(t)
        tree.insert(new Envelope(x0, x1, y0, y1),
          (imgId, JtsGeo.box(x0, y0, x1, y1), Affine(t.a, t.b, t.c, t.d, t.e, t.f)))
      }
      val cats = bcCats.value
      it.flatMap { f =>
        val geom = JtsGeo.fromWkb(f.wkb)
        tree.query(new Envelope(f.xmin, f.xmax, f.ymin, f.ymax)).asScala
          .map(_.asInstanceOf[(Long, Polygon, Affine)])
          .flatMap { case (imgId, box, aff) =>
            val parts = JtsGeo.clipToBox(geom, box)
              .filter { part =>
                val area = utmZone match {
                  case Some((z, north)) => part match {
                    case poly: org.locationtech.jts.geom.Polygon =>
                      graft.geo.Proj.utmPolygonArea(poly, z, north)
                    case other => other.getArea
                  }
                  case None => part.getArea
                }
                area > areaFilter
              }
            parts.zipWithIndex.map { case (part, partIdx) =>
              // reference spatial_polygon_to_pixel_rio: every exterior coord
              // (closing dup included) → floor pixel, stored (x=col, y=row)
              val seg = part.getExteriorRing.getCoordinates.flatMap { cc =>
                val (row, colIdx) = aff.worldToPixel(cc.x, cc.y)
                Array(colIdx.toDouble, row.toDouble)
              }
              (imgId, cats(f.zoneName), f.featureId, partIdx, seg,
                GeomCols.shoelace(seg), GeomCols.bbox(seg))
            }
          }
      }
    }.toDF("imageId", "categoryId", "featureId", "partIdx", "segmentation", "area", "bbox")

    // annotation ids: global dense sequence in the reference's traversal
    // order (coordinates.py:246) — assigned by Ids.denseId (oracle-proven
    // ≡ row_number by q08): features in one partition are sorted in place
    // with no exchange; any others are range-partitioned as AQE sizes the
    // clipped rows, so a large raster's annotations are numbered by many tasks.
    val anns = graft.ops.Ids.denseId(rows, "id", Seq("imageId", "featureId", "partIdx"))
      .select(col("id"), col("imageId"), col("categoryId"),
        col("segmentation"), col("bbox"), col("area"), lit(0).as("iscrowd"))
      .as[CocoAnnotation]

    // the dimension tables are local Datasets: their collect starts no job
    Coco.CocoTables(
      spark.createDataset(images),
      anns,
      spark.createDataset(categories.toSeq),
      // reference writes an MIT default when no license is supplied
      // (scripts/geojson2coco.py:222-228)
      extras = Map("license" -> Coco.DefaultLicenseJson))
  }
}
