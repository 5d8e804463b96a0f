package graft.geo

import graft.{PropHelpers, SparkSpec}
import org.scalacheck.Gen

class AffineSpec extends SparkSpec with PropHelpers {

  val tf = Affine.northUp(west = 1000.0, north = 5000.0, pixelW = 2.0, pixelH = 2.0)

  test("round-trip law: world → floor pixel → back lands on pixel centre (coordinates.py:88,147)") {
    forAll(Gen.choose(0, 1999), Gen.choose(0, 1999), Gen.choose(0.0, 0.999), Gen.choose(0.0, 0.999)) {
      (c, r, fx, fy) =>
        // any world point strictly inside pixel (c, r)
        val x = 1000.0 + (c + fx) * 2.0
        val y = 5000.0 - (r + fy) * 2.0 - 1e-9
        val (row, col) = tf.worldToPixel(x, y)
        assert(col == c && row == r)
        val (cx, cy) = tf.pixelToWorld(col.toDouble, row.toDouble)
        assert(cx == 1000.0 + (c + 0.5) * 2.0)
        assert(cy == 5000.0 - (r + 0.5) * 2.0)
    }
  }

  test("integer-pixel centres round-trip exactly (in-bounds ints, property 5.3)") {
    forAll(Gen.choose(0L, 10000L), Gen.choose(0L, 10000L)) { (c, r) =>
      val (x, y) = tf.pixelToWorld(c.toDouble, r.toDouble)
      assert(tf.worldToPixel(x, y) == ((r, c)))
    }
  }

  test("fromBounds matches rasterio semantics") {
    val t = Affine.fromBounds(0.0, 0.0, 100.0, 50.0, width = 200, height = 100)
    assert(t.a == 0.5 && t.e == -0.5 && t.c == 0.0 && t.f == 50.0)
    // the far corner (col 200, row 100) is the (east, south) bound
    assert(t.c + t.a * 200 + t.b * 100 == 100.0 && t.f + t.d * 200 + t.e * 100 == 0.0)
  }
}
