package graft.io

import graft.SparkSpec
import graft.geo.Affine

/** jpeg2tiff georeferencing (reference scripts/jpeg2tiff.py:53-105). */
class GeoreferenceSpec extends SparkSpec {

  test("fromBoundsTable matches images to bounds rows by numeric file-name prefix") {
    val spark2 = spark
    import spark2.implicits._
    val images = rddBacked(Seq(
      ("/in/12_a.jpg", 400, 300),   // id 12
      ("/in/7.jpg", 256, 256),      // id 7
      ("/in/aerial.jpg", 100, 100), // no digits: dropped
      ("/in/99_b.jpg", 100, 100)    // no bounds row: dropped
    ).toDF("path", "width", "height"))
    val bounds = rddBacked(Seq(
      (12L, 151.1, -33.9, 151.3, -33.7, "EPSG:4326"),
      (7L, 500000.0, 6240000.0, 500640.0, 6240640.0, "EPSG:32756"),
      (5L, 0.0, 0.0, 1.0, 1.0, "EPSG:4326")
    ).toDF("id", "west", "south", "east", "north", "crs"))

    val metas = Georeference.fromBoundsTable(images, bounds).collect().sortBy(_.rasterId)
    assert(metas.map(m => (m.rasterId, m.width, m.height, m.crs)).toSeq == Seq(
      ("/in/12_a.jpg", 400, 300, "EPSG:4326"), ("/in/7.jpg", 256, 256, "EPSG:32756")))
    val expected = Map(
      "/in/12_a.jpg" -> Affine.fromBounds(151.1, -33.9, 151.3, -33.7, 400, 300),
      "/in/7.jpg" -> Affine.fromBounds(500000.0, 6240000.0, 500640.0, 6240640.0, 256, 256))
    metas.foreach { m =>
      assert(Affine(m.a, m.b, m.c, m.d, m.e, m.f) == expected(m.rasterId), m.rasterId)
    }
  }
}
