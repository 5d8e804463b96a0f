package graft.geo

/** 6-coefficient affine georeferencing transform, rasterio/GDAL convention:
  *
  * {{{ x = c + a*col + b*row ;  y = f + d*col + e*row }}}
  *
  * Two laws from the reference are load-bearing for byte-exact round-trips
  * (reference: aerial_conversion/coordinates.py:74-88 and :135-148):
  *   - pixel→world uses the **pixel centre** (`xy(row, col)` with rasterio's
  *     default `offset="center"`): substitute `col+0.5, row+0.5`;
  *   - world→pixel applies the **inverse affine then floor** (`index(x, y)`).
  * Hence the round-trip law: world vertex → floor to int pixel → back-convert
  * lands on that pixel's centre. Property-tested in AffineSpec.
  */
final case class Affine(a: Double, b: Double, c: Double, d: Double, e: Double, f: Double) {

  val det: Double = a * e - b * d
  require(det != 0.0, s"singular affine: $this")

  /** Forward at pixel centre — reference `geotiff.xy(row, col)`. */
  def pixelToWorld(col: Double, row: Double): (Double, Double) =
    (c + a * (col + 0.5) + b * (row + 0.5), f + d * (col + 0.5) + e * (row + 0.5))

  /** Inverse + floor — reference `geotiff.index(x, y)` → (row, col). */
  def worldToPixel(x: Double, y: Double): (Long, Long) = {
    val dx = x - c; val dy = y - f
    (math.floor((a * dy - d * dx) / det).toLong, math.floor((e * dx - b * dy) / det).toLong)
  }
}

object Affine {
  /** North-up axis-aligned transform: pixel (0,0) top-left at (west, north),
    * y decreasing — the common GeoTIFF shape. */
  def northUp(west: Double, north: Double, pixelW: Double, pixelH: Double): Affine =
    Affine(pixelW, 0.0, west, 0.0, -pixelH, north)

  /** rasterio `from_bounds` equivalent (reference scripts/jpeg2tiff.py:85). */
  def fromBounds(west: Double, south: Double, east: Double, north: Double,
                 width: Long, height: Long): Affine =
    northUp(west, north, (east - west) / width, (north - south) / height)
}
