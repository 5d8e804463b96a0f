package graft.ops

import graft.SparkSpec
import graft.geo.Affine
import graft.model.RasterMeta

class TilingSpec extends SparkSpec {

  val r = RasterMeta("r0", width = 25, height = 17,
    a = 2.0, b = 0, c = 1000.0, d = 0, e = -2.0, f = 2000.0, crs = "local")

  test("plain grid without offset clamps last tiles (tiles.py:16-83)") {
    val ts = Tiling.tilesFor(r, 10, 10)
    assert(ts.map(_.tileName).toSet == Set(
      "tile_0-0", "tile_0-10", "tile_10-0", "tile_10-10", "tile_20-0", "tile_20-10"))
    val m = ts.map(t => t.tileName -> ((t.width, t.height))).toMap
    assert(m("tile_0-0") == ((10, 10)))
    assert(m("tile_20-0") == ((5, 10)))
    assert(m("tile_0-10") == ((10, 7)))
    assert(m("tile_20-10") == ((5, 7)))
  }

  test("offset overlap reproduces the reference's asymmetric padding math") {
    // hand-traced through tiles.py:57-83 with tw=th=10, offset=20%:
    // offW=2, TW=min(14,25)=14, TH=min(14,17)=14
    val ts = Tiling.tilesFor(r, 10, 10, offsetPct = 20.0)
    val m = ts.map(t => t.tileName -> ((t.colOff, t.rowOff, t.width, t.height))).toMap
    assert(m.keySet == Set("tile_0-0", "tile_0-8", "tile_8-0", "tile_8-8",
      "tile_18-0", "tile_18-8"))
    assert(m("tile_0-0") == ((0, 0, 16, 16)))
    assert(m("tile_8-0") == ((8, 0, 17, 16)))
    assert(m("tile_18-0") == ((18, 0, 7, 16)))
    assert(m("tile_8-8") == ((8, 8, 17, 9)))
  }

  test("map_units divides both dims by pixel width with +0.5 rounding (tiles.py:39-48)") {
    val ts = Tiling.tilesFor(r, 25, 25, mapUnits = true) // 25m / 2m = 13 px (12.5+0.5)
    assert(ts.exists(_.tileName == "tile_13-13"))
    val t00 = ts.find(_.tileName == "tile_0-0").get
    assert(t00.width == 13 && t00.height == 13)
  }

  test("map_units on rotated raster raises like the reference") {
    val rot = r.copy(b = 0.1)
    intercept[IllegalArgumentException] {
      Tiling.tilesFor(rot, 25, 25, mapUnits = true)
    }
  }

  test("tile affine is the parent composed with window translation") {
    val ts = Tiling.tilesFor(r, 10, 10)
    val t = ts.find(_.tileName == "tile_10-10").get
    assert(t.c == 1000.0 + 2.0 * 10 && t.f == 2000.0 - 2.0 * 10)
    val (x0, y0, x1, y1) = Tiling.worldEnvelope(t)
    assert(x0 == 1020.0 && x1 == 1040.0 && y1 == 1980.0 && y0 == 1980.0 - 2.0 * 7)
    // rotated raster (b, d ≠ 0, dyadic coefficients so every sum is exact):
    // each tile pixel's centre is the parent's centre at the offset pixel
    val rot = r.copy(b = 0.5, d = -0.25)
    val parent = Affine(rot.a, rot.b, rot.c, rot.d, rot.e, rot.f)
    for (t <- Tiling.tilesFor(rot, 10, 10); c <- 0 until t.width; row <- 0 until t.height) {
      Affine(t.a, t.b, t.c, t.d, t.e, t.f).pixelToWorld(c, row) shouldBe
        parent.pixelToWorld(t.colOff + c, t.rowOff + row)
    }
  }

  test("distributed tileGrid matches the pure generator") {
    val spark2 = spark
    import spark2.implicits._
    val rs = Seq(r, r.copy(rasterId = "r1", width = 13)).toDS()
    val got = Tiling.tileGrid(rs, 10, 10).collect().toSet
    val expect = (Tiling.tilesFor(r, 10, 10) ++
      Tiling.tilesFor(r.copy(rasterId = "r1", width = 13), 10, 10)).toSet
    assert(got == expect)
  }
}
