package graft.pipeline

import graft.SparkSpec
import graft.geo.JtsGeo
import graft.io.Coco.CocoTables
import graft.model.{CocoAnnotation, CocoCategory, CocoImage, TileMeta}

/** coco2geojson on hand-built COCO tables: which annotations reach the
  * per-class union, and which tile metadata is refused. */
class CocoToGeojsonSpec extends SparkSpec {

  // one 40×40 tile of 2 m pixels, north-up at (1000, 2000)
  val tile = TileMeta("r", "tile_0-0", 0, 0, 40, 40, 2.0, 0, 1000.0, 0, -2.0, 2000.0)

  /** pixel square cols 5..25, rows 15..35: 400 px = 1600 m² */
  val square: Array[Double] = Array(5, 35, 25, 35, 25, 15, 5, 15, 5, 35)

  def ann(id: Long, imageId: Long, categoryId: Int, seg: Array[Double]): CocoAnnotation =
    CocoAnnotation(id, imageId, categoryId, seg, Array(0, 0, 0, 0), 0.0)

  def tables(anns: CocoAnnotation*): CocoTables = {
    val spark2 = spark
    import spark2.implicits._
    CocoTables(
      Seq(CocoImage(0, "tile_0-0.png", 40, 40), CocoImage(1, "tile_9-9.png", 40, 40)).toDS(),
      anns.toDS(),
      Seq(CocoCategory(0, "building", ""), CocoCategory(1, "road", "")).toDS())
  }

  def run(t: CocoTables, tiles: TileMeta*): Seq[(Int, String, Double)] = {
    val spark2 = spark
    import spark2.implicits._
    CocoToGeojson.run(t, tiles.toDS(), CocoToGeojson.Params()).collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), JtsGeo.fromWkb(r.getAs[Array[Byte]](2)).getArea))
      .sortBy(_._1)
  }

  test("null, odd-length and zero-area segmentations are skipped: their class keeps its area") {
    val t = tables(
      ann(0, 0, 0, square),
      ann(1, 0, 0, null), // RLE or absent segmentation (Coco.read)
      ann(2, 0, 0, Array(1, 1, 3, 3)), // two vertices
      ann(3, 0, 0, Array(1, 1, 2, 2, 3, 3)), // three vertices on one line
      ann(5, 0, 0, Array(5, 35, 25, 35, 25, 15, 5)), // odd length: a lone tail coordinate
      ann(4, 0, 1, null)) // a class with no ring at all has no output row
    run(t, tile) shouldBe Seq((0, "building", 1600.0))
  }

  test("an annotation whose image has no tile or whose category has no name is dropped") {
    val t = tables(
      ann(0, 0, 0, square),
      ann(1, 1, 1, square), // image 1 is tile_9-9: no tile metadata
      ann(2, 0, 7, square), // category 7 has no name
      ann(3, 5, 0, square)) // image 5 does not exist
    run(t, tile) shouldBe Seq((0, "building", 1600.0))
  }

  test("a tile name that appears twice in the tile metadata is refused") {
    val t = tables(ann(0, 0, 0, square))
    val e = intercept[IllegalArgumentException](
      run(t, tile, tile.copy(c = 5000.0), tile.copy(tileName = "tile_0-40")))
    e.getMessage should include("'tile_0-0'")
  }
}
