package graft.geo

import graft.{PropHelpers, SparkSpec}
import org.scalacheck.Gen

class ProjSpec extends SparkSpec with PropHelpers {

  test("mercator forward/inverse round trip") {
    forAll(Gen.choose(-179.0, 179.0), Gen.choose(-84.0, 84.0)) { (lon, lat) =>
      val x = Proj.mercatorX(lon); val y = Proj.mercatorY(lat)
      assert(math.abs(Proj.invMercatorLon(x) - lon) < 1e-9)
      assert(math.abs(Proj.invMercatorLat(y) - lat) < 1e-9)
    }
  }

  test("mercator matches known anchor values") {
    // equator/prime meridian and the web-mercator world corner
    assert(Proj.mercatorX(0) == 0.0 && math.abs(Proj.mercatorY(0)) < 1e-6)
    assert(math.abs(Proj.mercatorX(180) - 20037508.342789244) < 1e-6)
    assert(math.abs(Proj.mercatorY(85.0511287798066) - 20037508.34) < 1.0)
  }

  test("mercatorX is bit-equal to gate q21's R·((lon·π)/180) on every integer longitude") {
    for (lon <- -180 until 180) {
      val gate = 6378137.0 * ((lon * math.Pi) / 180.0)
      assert(java.lang.Double.doubleToRawLongBits(Proj.mercatorX(lon)) ==
        java.lang.Double.doubleToRawLongBits(gate), s"lon $lon")
    }
  }

  test("UTM forward matches closed-form anchors") {
    // on the central meridian: easting exactly 500 km, northing = K0 · arc
    val (e0, n0) = Proj.utmForward(0.0, -177.0, zone = 1, north = true)
    assert(math.abs(e0 - 500000.0) < 1e-6 && math.abs(n0) < 1e-6)
    // pole northing = K0 × quarter meridian (WGS84: 10001965.7293 m)
    val (_, nPole) = Proj.utmForward(90.0, -177.0, zone = 1, north = true)
    assert(math.abs(nPole - 0.9996 * 10001965.7293) < 0.01, s"pole $nPole")
    // southern hemisphere false northing
    val (_, nS) = Proj.utmForward(-0.0001, -177.0, zone = 1, north = false)
    assert(nS < 10000000.0 && nS > 9999980.0)
  }

  test("UTM forward/inverse round trip across zones and hemispheres") {
    forAll(Gen.choose(-70.0, 70.0), Gen.choose(-179.0, 179.0)) { (lat, lon) =>
      val (zone, north) = Proj.estimateUtmZone(lon, lat, lon, lat)
      val (e, n) = Proj.utmForward(lat, lon, zone, north)
      val (lat2, lon2) = Proj.utmInverse(e, n, zone, north)
      assert(math.abs(lat2 - lat) < 1e-7, s"lat $lat -> $lat2")
      assert(math.abs(lon2 - lon) < 1e-7, s"lon $lon -> $lon2")
    }
  }

  test("estimateUtmZone reproduces the geopandas rule") {
    assert(Proj.estimateUtmZone(151.0, -33.0, 151.4, -33.9) == ((56, false)))
    assert(Proj.estimateUtmZone(-0.5, 51.0, 0.3, 51.8) == ((30, true))) // London straddle
    assert(Proj.estimateUtmZone(-180.0, 10.0, -180.0, 10.0)._1 == 1)
  }

  test("utmPolygonArea: 1km square near the equator has ~1e6 m2 area") {
    // ~0.009 degrees of lat ≈ 1 km
    val d = 0.0089932
    val square = JtsGeo.polygonFromFlat(Seq(30.0, 0.0, 30.0 + d, 0.0, 30.0 + d, d, 30.0, d))
    val (zone, north) = Proj.estimateUtmZone(30.0, 0.0, 30.0 + d, d)
    val a = Proj.utmPolygonArea(square, zone, north)
    assert(math.abs(a - 1e6) / 1e6 < 0.01, s"area $a")
  }

  test("crsHop round-trips a point for every CRS family; lon/lat, absent and unknown CRSs have none") {
    // (layer CRS, a lon/lat point inside its area of use)
    val families = Seq(
      "EPSG:3857" -> (151.2, -33.8),
      "EPSG:32633" -> (15.3, 52.1), // UTM zone 33 north
      "EPSG:32756" -> (151.2, -33.8), // UTM zone 56 south
      "EPSG:2154" -> (2.35, 48.85),
      "EPSG:5070" -> (-96.0, 37.0),
      "EPSG:3577" -> (151.2, -33.8))
    for ((code, (lon, lat)) <- families) {
      val (toLonLat, fromLonLat) = Proj.crsHop(Some(code)).getOrElse(fail(s"$code has no hop"))
      val (x, y) = fromLonLat(lon, lat)
      // projected meters, not degrees
      assert(math.abs(x) > 1000 || math.abs(y) > 1000, s"$code: ($x, $y)")
      val (lon2, lat2) = toLonLat(x, y)
      assert(math.abs(lon2 - lon) < 1e-7 && math.abs(lat2 - lat) < 1e-7,
        s"$code: ($lon, $lat) -> ($lon2, $lat2)")
    }
    for (crs <- Seq(Some("EPSG:4326"), None, Some("EPSG:9999"), Some("local")))
      Proj.crsHop(crs) shouldBe None
  }

  test("transformCoords maps every vertex and keeps rings and holes") {
    val withHole = JtsGeo.box(0, 0, 10, 10).difference(JtsGeo.box(2, 2, 4, 4))
    val moved = Proj.transformCoords(withHole, (x, y) => (x + 100, 2 * y))
    moved.getGeometryType shouldBe "Polygon"
    moved.asInstanceOf[org.locationtech.jts.geom.Polygon].getNumInteriorRing shouldBe 1
    moved.getEnvelopeInternal shouldBe new org.locationtech.jts.geom.Envelope(100, 110, 0, 20)
    moved.getArea shouldBe 2 * withHole.getArea
  }

  // ---------- conic projections ----------

  /** ellipsoidal prime-vertical radius on GRS80 */
  private def nu(latDeg: Double): Double = {
    val s = math.sin(math.toRadians(latDeg))
    Proj.Grs80A / math.sqrt(1 - Proj.Grs80E2 * s * s)
  }

  test("Lambert-93 (EPSG:2154): grid origin, round trip, unit scale on the standard parallels") {
    val p = Proj.projectedCrs("EPSG:2154").get
    // the false origin is (lat0, lon0) by definition of the grid
    val (ox, oy) = p.forward(46.5, 3.0)
    assert(math.abs(ox - 700000.0) < 1e-6 && math.abs(oy - 6600000.0) < 1e-6)
    // round trip across France
    for (lat <- Seq(42.5, 44.0, 46.5, 49.0, 51.0); lon <- Seq(-4.0, 0.0, 3.0, 8.0)) {
      val (x, y) = p.forward(lat, lon)
      val (lat2, lon2) = p.inverse(x, y)
      assert(math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9, s"($lat,$lon)")
    }
    // conformal scale is EXACTLY 1 along both standard parallels (44°, 49°):
    // projected distance of a small parallel step ≈ ellipsoidal arc ν·cosφ·Δλ
    for (sp <- Seq(44.0, 49.0)) {
      val dl = 0.01
      val (x1, y1) = p.forward(sp, 3.0)
      val (x2, y2) = p.forward(sp, 3.0 + dl)
      val proj = math.hypot(x2 - x1, y2 - y1)
      val arc = nu(sp) * math.cos(math.toRadians(sp)) * math.toRadians(dl)
      assert(math.abs(proj - arc) / arc < 1e-6, s"sp=$sp scale=${proj / arc}")
    }
    // between the parallels the scale dips below 1, outside it exceeds 1
    def scaleAt(lat: Double): Double = {
      val dl = 0.01
      val (x1, y1) = p.forward(lat, 3.0); val (x2, y2) = p.forward(lat, 3.0 + dl)
      math.hypot(x2 - x1, y2 - y1) / (nu(lat) * math.cos(math.toRadians(lat)) * math.toRadians(dl))
    }
    assert(scaleAt(46.5) < 1.0 && scaleAt(42.0) > 1.0 && scaleAt(51.0) > 1.0)
  }

  test("Albers (EPSG:5070/3577): round trip and exact area preservation") {
    for ((code, pts) <- Seq(
        "EPSG:5070" -> Seq((23.0, -96.0), (29.5, -120.0), (45.5, -70.0), (37.0, -96.0)),
        "EPSG:3577" -> Seq((-33.87, 151.2), (-18.0, 132.0), (-36.0, 115.0), (-12.5, 145.0)))) {
      val p = Proj.projectedCrs(code).get
      for ((lat, lon) <- pts) {
        val (x, y) = p.forward(lat, lon)
        val (lat2, lon2) = p.inverse(x, y)
        assert(math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9, s"$code ($lat,$lon)")
      }
    }
    // equal-area property: a small lat/lon quad's projected shoelace area
    // equals its ellipsoidal area a²·Δλ·(q(φ₂)−q(φ₁))/2 (authalic identity)
    val p = Proj.projectedCrs("EPSG:5070").get
    val e = math.sqrt(Proj.Grs80E2)
    def q(latDeg: Double): Double = {
      val s = math.sin(math.toRadians(latDeg))
      (1 - Proj.Grs80E2) * (s / (1 - Proj.Grs80E2 * s * s) -
        (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
    }
    for ((lat, lon) <- Seq((30.0, -100.0), (45.0, -80.0), (24.0, -96.0))) {
      val d = 0.05
      val corners = Seq((lat, lon), (lat, lon + d), (lat + d, lon + d), (lat + d, lon))
        .map { case (la, lo) => p.forward(la, lo) }
      var s = 0.0
      for (i <- corners.indices) {
        val j = (i + 1) % corners.length
        s += corners(i)._1 * corners(j)._2 - corners(j)._1 * corners(i)._2
      }
      val projArea = math.abs(s) / 2
      val ellArea = Proj.Grs80A * Proj.Grs80A * math.toRadians(d) * (q(lat + d) - q(lat)) / 2
      assert(math.abs(projArea - ellArea) / ellArea < 1e-4,
        s"($lat,$lon): proj=$projArea ell=$ellArea")
    }
  }
}
