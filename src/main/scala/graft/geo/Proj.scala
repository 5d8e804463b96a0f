package graft.geo

import org.locationtech.jts.geom.{Coordinate, CoordinateSequence, Geometry, LineString, Polygon}
import org.locationtech.jts.geom.util.GeometryTransformer

/** From-scratch projection math for the CRS pairs the reference actually
  * uses (SURVEY.md P7; no proj4 jar exists in the sandbox):
  *  - EPSG:4326 ↔ EPSG:3857 closed-form spherical Mercator
  *    (reference hops for simplify/orthogonalise, coco2geojson.py:342-353);
  *  - EPSG:4326 ↔ UTM via Transverse Mercator Krüger series
  *    (reference area filter, coordinates.py:194-198);
  *  - `estimateUtmZone` reproducing geopandas `estimate_utm_crs`: zone from
  *    the layer bounds' centroid (coordinates.py:195);
  *  - `crsHop`: the one place that maps a layer CRS code to its lon/lat hop.
  * Pure double math — usable inside kernels and as column expressions.
  */
object Proj {

  val R = 6378137.0 // WGS84 semi-major
  val F = 1.0 / 298.257223563
  val E2 = F * (2 - F) // first eccentricity²
  val K0 = 0.9996 // UTM scale

  // ---------- spherical Mercator (EPSG:3857) ----------

  /** `R · ((lon · π) / 180)`, in that op order: bit-equal to the EPSG:3857
    * x of gate q21 and its DuckDB oracle (`toRadians` multiplies by one
    * rounded constant and differs in the last bit on some longitudes). */
  def mercatorX(lon: Double): Double = R * ((lon * math.Pi) / 180.0)
  def mercatorY(lat: Double): Double =
    R * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2))
  def invMercatorLon(x: Double): Double = math.toDegrees(x / R)
  def invMercatorLat(y: Double): Double =
    math.toDegrees(2 * math.atan(math.exp(y / R)) - math.Pi / 2)

  // ---------- UTM (Transverse Mercator, series to n^4) ----------

  /** Geographic (degree-unit) CRS detection by FAMILY, not one literal
    * code: a layer declared EPSG:4269 (NAD83), 4267 (NAD27), 4258 (ETRS89),
    * 4283 (GDA94), 4759 (NAD83 NSRS2007), OGC:CRS84, or with a GEOGCS/
    * GEOGCRS WKT body is in degrees exactly like EPSG:4326 and needs the
    * same UTM-projected area measurement (coordinates.py:194-198 calls
    * `estimate_utm_crs` for ANY geographic layer, not just 4326). */
  def isGeographic(crs: String): Boolean = {
    val c = crs.trim.toUpperCase
    val geographicEpsg =
      Set("4326", "4269", "4267", "4258", "4283", "4490", "4617", "4759")
    c == "CRS84" || c == "OGC:CRS84" || c == "WGS84" ||
      c.startsWith("GEOGCS") || c.startsWith("GEOGCRS") ||
      geographicEpsg.exists(code => c == s"EPSG:$code")
  }

  /** geopandas estimate_utm_crs rule: zone of the bounds centroid. */
  def estimateUtmZone(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double): (Int, Boolean) = {
    val lon = (lonMin + lonMax) / 2; val lat = (latMin + latMax) / 2
    (((lon + 180) / 6).toInt % 60 + 1, lat >= 0)
  }

  private val n = F / (2 - F)
  private val A = R / (1 + n) * (1 + n * n / 4 + n * n * n * n / 64)
  private val alpha = Array(
    n / 2 - 2.0 / 3 * n * n + 5.0 / 16 * n * n * n,
    13.0 / 48 * n * n - 3.0 / 5 * n * n * n,
    61.0 / 240 * n * n * n)

  /** Forward TM: (lat, lon) degrees → (easting, northing) meters for the
    * given zone/hemisphere (standard Karney/Krüger series, ~1e-5 m). */
  def utmForward(lat: Double, lon: Double, zone: Int, north: Boolean): (Double, Double) = {
    val lon0 = math.toRadians(zone * 6 - 183)
    val phi = math.toRadians(lat)
    val dl = math.toRadians(lon) - lon0
    val t = math.sinh(atanh(math.sin(phi)) - math.sqrt(E2) * atanh(math.sqrt(E2) * math.sin(phi)))
    val xiP = math.atan2(t, math.cos(dl))
    val etaP = atanh(math.sin(dl) / math.sqrt(1 + t * t))
    var xi = xiP; var eta = etaP
    for (j <- 1 to 3) {
      xi += alpha(j - 1) * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
      eta += alpha(j - 1) * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
    }
    val e = K0 * A * eta + 500000.0
    val nn = K0 * A * xi + (if (north) 0.0 else 10000000.0)
    (e, nn)
  }

  private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))

  private val beta = Array(
    n / 2 - 2.0 / 3 * n * n + 37.0 / 96 * n * n * n,
    n * n / 48 + n * n * n / 15,
    17.0 / 480 * n * n * n)

  /** Inverse TM: (easting, northing) → (lat, lon) degrees (Karney series). */
  def utmInverse(e: Double, nn: Double, zone: Int, north: Boolean): (Double, Double) = {
    val lon0 = math.toRadians(zone * 6 - 183)
    val xi0 = (nn - (if (north) 0.0 else 10000000.0)) / (K0 * A)
    val eta0 = (e - 500000.0) / (K0 * A)
    var xi = xi0; var eta = eta0
    for (j <- 1 to 3) {
      xi -= beta(j - 1) * math.sin(2 * j * xi0) * math.cosh(2 * j * eta0)
      eta -= beta(j - 1) * math.cos(2 * j * xi0) * math.sinh(2 * j * eta0)
    }
    val chi = math.asin(math.sin(xi) / math.cosh(eta))
    // latitude from conformal latitude: solve tau(phi) = tan(chi) by
    // bisection (robust, ~1e-12 rad after 60 halvings)
    val target = math.tan(chi)
    var lo = -math.Pi / 2 + 1e-12; var hi = math.Pi / 2 - 1e-12
    for (_ <- 0 until 60) {
      val mid = (lo + hi) / 2
      val t = math.sinh(atanh(math.sin(mid)) - math.sqrt(E2) * atanh(math.sqrt(E2) * math.sin(mid)))
      if (t < target) lo = mid else hi = mid
    }
    val phi = (lo + hi) / 2
    val lon = lon0 + math.atan2(math.sinh(eta), math.cos(xi))
    (math.toDegrees(phi), math.toDegrees(lon))
  }

  /** UTM-projected area of a lon/lat polygon (shell − holes) for a FIXED
    * zone — the reference estimates one UTM CRS for the whole layer
    * (`geojson.estimate_utm_crs()`, coordinates.py:195) and filters every
    * clipped part by its area in that CRS (coordinates.py:194-198). */
  def utmPolygonArea(poly: Polygon, zone: Int, north: Boolean): Double = {
    def ringArea(ring: LineString): Double = {
      val cs = ring.getCoordinates
      if (cs.length < 4) return 0.0
      val pts = cs.map(c => utmForward(c.y, c.x, zone, north))
      var s = 0.0
      for (i <- 0 until pts.length - 1) {
        s += pts(i)._1 * pts(i + 1)._2 - pts(i + 1)._1 * pts(i)._2
      }
      math.abs(s) / 2
    }
    val holes = (0 until poly.getNumInteriorRing)
      .map(i => ringArea(poly.getInteriorRingN(i))).sum
    ringArea(poly.getExteriorRing) - holes
  }

  // ---------- conic projections (Snyder 1987, ellipsoidal 2SP forms) ----------

  /** A projected CRS as a (forward lat/lon→E/N, inverse E/N→lat/lon) pair.
    * Angles in the API are DEGREES, like the UTM functions. */
  final case class Conic(forward: (Double, Double) => (Double, Double),
                         inverse: (Double, Double) => (Double, Double))

  /** GRS80 ellipsoid (NAD83 / GDA94 / RGF93 / ETRS89 datums). */
  val Grs80A = 6378137.0
  val Grs80E2 = {
    val f = 1.0 / 298.257222101
    f * (2 - f)
  }

  /** Lambert Conformal Conic, 2 standard parallels (Snyder §15 ellipsoidal
    * form) — most US state planes and many national grids (Lambert-93,
    * Belgium/Spain/Canada LCC). Degrees in, meters out. */
  def lcc2sp(lat0: Double, lon0: Double, lat1: Double, lat2: Double,
             fe: Double, fn: Double, a: Double = Grs80A, e2: Double = Grs80E2): Conic = {
    val e = math.sqrt(e2)
    def m(phi: Double) = math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
    def t(phi: Double) = math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)
    val (p0, p1, p2) = (math.toRadians(lat0), math.toRadians(lat1), math.toRadians(lat2))
    val l0 = math.toRadians(lon0)
    val n = (math.log(m(p1)) - math.log(m(p2))) / (math.log(t(p1)) - math.log(t(p2)))
    val bigF = m(p1) / (n * math.pow(t(p1), n))
    val rho0 = a * bigF * math.pow(t(p0), n)
    Conic(
      forward = (lat, lon) => {
        val rho = a * bigF * math.pow(t(math.toRadians(lat)), n)
        val th = n * (math.toRadians(lon) - l0)
        (fe + rho * math.sin(th), fn + rho0 - rho * math.cos(th))
      },
      inverse = (x, y) => {
        // Snyder: for n < 0 reverse the signs of x, y, ρ₀ (i.e. dx, dy)
        // before the polar decomposition — southern-cone grids otherwise
        // come back rotated by θ/n's period
        val s = if (n < 0) -1.0 else 1.0
        val dx = s * (x - fe)
        val dy = s * (rho0 - (y - fn))
        val rho = s * math.sqrt(dx * dx + dy * dy)
        val tP = math.pow(rho / (a * bigF), 1 / n)
        val th = math.atan2(dx, dy)
        var phi = math.Pi / 2 - 2 * math.atan(tP)
        for (_ <- 0 until 12) {
          phi = math.Pi / 2 - 2 * math.atan(tP *
            math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2))
        }
        (math.toDegrees(phi), math.toDegrees(l0 + th / n))
      })
  }

  /** Albers Equal-Area Conic, 2 standard parallels (Snyder §14 ellipsoidal
    * form) — CONUS Albers (EPSG:5070), Australian Albers (EPSG:3577). */
  def albers2sp(lat0: Double, lon0: Double, lat1: Double, lat2: Double,
                fe: Double, fn: Double, a: Double = Grs80A, e2: Double = Grs80E2): Conic = {
    val e = math.sqrt(e2)
    def m(phi: Double) = math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
    def q(phi: Double) = (1 - e2) * (math.sin(phi) / (1 - e2 * math.sin(phi) * math.sin(phi)) -
      (1 / (2 * e)) * math.log((1 - e * math.sin(phi)) / (1 + e * math.sin(phi))))
    val (p0, p1, p2) = (math.toRadians(lat0), math.toRadians(lat1), math.toRadians(lat2))
    val l0 = math.toRadians(lon0)
    val n = (m(p1) * m(p1) - m(p2) * m(p2)) / (q(p2) - q(p1))
    val c = m(p1) * m(p1) + n * q(p1)
    val rho0 = a * math.sqrt(c - n * q(p0)) / n
    Conic(
      forward = (lat, lon) => {
        val rho = a * math.sqrt(c - n * q(math.toRadians(lat))) / n
        val th = n * (math.toRadians(lon) - l0)
        (fe + rho * math.sin(th), fn + rho0 - rho * math.cos(th))
      },
      inverse = (x, y) => {
        // Snyder: for n < 0 reverse the signs of dx, dy (and ρ) before the
        // polar decomposition — see the LCC inverse
        val s = if (n < 0) -1.0 else 1.0
        val dx = s * (x - fe)
        val dy = s * (rho0 - (y - fn))
        val rho = s * math.sqrt(dx * dx + dy * dy)
        val qP = (c - (rho * n / a) * (rho * n / a)) / n
        val th = math.atan2(dx, dy)
        var phi = math.asin(math.min(1.0, math.max(-1.0, qP / 2)))
        for (_ <- 0 until 12) {
          val s = math.sin(phi)
          val d = 1 - e2 * s * s
          phi = phi + d * d / (2 * math.cos(phi)) * (qP / (1 - e2) - s / d +
            (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
        }
        (math.toDegrees(phi), math.toDegrees(l0 + th / n))
      })
  }

  /** Registry of projected CRSs the regularisation hop recognises beyond
    * 3857/UTM: Lambert/Albers national grids (the reference reprojects
    * between ANY fiona pair, coordinates.py:56-71 — this covers the common
    * conic families rather than falling back to layer-unit tolerances). */
  def projectedCrs(code: String): Option[Conic] = code match {
    case "EPSG:2154" => // RGF93 / Lambert-93 (France)
      Some(lcc2sp(46.5, 3.0, 44.0, 49.0, 700000.0, 6600000.0))
    case "EPSG:5070" => // NAD83 / CONUS Albers
      Some(albers2sp(23.0, -96.0, 29.5, 45.5, 0.0, 0.0))
    case "EPSG:3577" => // GDA94 / Australian Albers (the reference's home turf)
      Some(albers2sp(0.0, 132.0, -18.0, -36.0, 0.0, 0.0))
    case _ => None
  }

  // ---------- the regularisation hop: layer CRS ↔ lon/lat ----------

  /** A vertex transform (x, y) → (x', y'). */
  type XY = (Double, Double) => (Double, Double)

  /** (toLonLat, fromLonLat) vertex transforms of a layer CRS: the reference
    * reprojects to EPSG:4326 before simplify/orthogonalise (tolerance in
    * degrees) and back (coco2geojson.py:342-353). EPSG:3857 is the
    * closed-form Mercator, EPSG:326xx/327xx UTM zone xx north/south
    * (coordinates.py:56-71), and every [[projectedCrs]] code its conic.
    * None when the layer is already lon/lat (EPSG:4326), has no CRS or an
    * unknown one: the hop is the identity (tolerance in layer units). */
  def crsHop(layerCrs: Option[String]): Option[(XY, XY)] = {
    val Utm = "EPSG:32([67])([0-9]{2})".r
    def hop(toLonLat: XY, fromLonLat: XY) = Some((toLonLat, fromLonLat))
    layerCrs.flatMap {
      case "EPSG:3857" =>
        hop((x, y) => (invMercatorLon(x), invMercatorLat(y)),
          (lon, lat) => (mercatorX(lon), mercatorY(lat)))
      case Utm(hemi, zoneS) =>
        val zone = zoneS.toInt
        val north = hemi == "6"
        hop((e, n) => utmInverse(e, n, zone, north).swap,
          (lon, lat) => utmForward(lat, lon, zone, north))
      case code =>
        projectedCrs(code).flatMap(conic =>
          hop((x, y) => conic.inverse(x, y).swap, (lon, lat) => conic.forward(lat, lon)))
    }
  }

  /** Apply a vertex transform to every coordinate of `g`, keeping its
    * structure (rings, holes, parts). */
  def transformCoords(g: Geometry, f: XY): Geometry = {
    val edit = new GeometryTransformer {
      override def transformCoordinates(cs: CoordinateSequence, parent: Geometry) = {
        val out = new Array[Coordinate](cs.size)
        var i = 0
        while (i < cs.size) {
          val (x, y) = f(cs.getX(i), cs.getY(i))
          out(i) = new Coordinate(x, y)
          i += 1
        }
        JtsGeo.factory.getCoordinateSequenceFactory.create(out)
      }
    }
    edit.transform(g)
  }
}
