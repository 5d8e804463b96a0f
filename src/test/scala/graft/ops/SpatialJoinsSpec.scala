package graft.ops

import graft.{PropHelpers, SparkSpec}
import graft.geo.{CellIndex, JtsGeo}
import graft.io.WebPages
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, Polygon}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.io.WKTReader
import org.scalacheck.Gen

class SpatialJoinsSpec extends SparkSpec with PropHelpers {
  lazy val ci = CellIndex.Unit20

  lazy val pages = WebPages.pages(spark, 2000, 8)
  lazy val pts = WebPages.features(pages).select(col("id") * 10 + col("f") as "pid", col("x"), col("y"))
  lazy val zones = WebPages.zones(spark, 64)

  def fromWkt(s: String): Geometry = new WKTReader(JtsGeo.factory).read(s)

  /** brute-force oracle: nested-loop PIP on collected rows */
  lazy val expected: Set[(Long, Long)] = {
    val ps = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val zs = zones.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    (for {
      (pid, x, y) <- ps
      (zid, x0, y0, x1, y1) <- zs
      if x0 <= x && x < x1 && y0 <= y && y < y1
    } yield (pid, zid)).toSet
  }

  test("pointInBox matches brute-force oracle at several levels") {
    for (level <- Seq(3, 5, 8)) {
      val got = SpatialJoins.pointInBox(pts, zones.drop("wkb"), ci, level)
        .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"level=$level")
    }
    assert(expected.nonEmpty)
  }

  test("pointInBox emits each qualifying pair exactly once (no dedup shuffle needed)") {
    val got = SpatialJoins.pointInBox(pts, zones.drop("wkb"), ci, 5)
      .groupBy("pid", "poly_id").count().where(col("count") > 1)
    assert(got.isEmpty)
  }

  test("pointInPolygon (partitioned JTS refine) matches oracle") {
    // JTS covers() is closed on the boundary; the arithmetic oracle is
    // half-open — integer-lattice points land on box edges with prob ~1e-5;
    // compare against a closed-predicate oracle instead.
    val ps = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val zs = zones.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val closed = (for {
      (pid, x, y) <- ps; (zid, x0, y0, x1, y1) <- zs
      if x0 <= x && x <= x1 && y0 <= y && y <= y1
    } yield (pid, zid)).toSet
    val got = SpatialJoins.pointInPolygon(pts, zones, ci, 5)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == closed)
  }

  test("pointInPolygonBroadcast matches the partitioned path") {
    val a = SpatialJoins.pointInPolygon(pts, zones, ci, 5)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = SpatialJoins.pointInPolygonBroadcastFast(pts, zones)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  /** JTS `PreparedGeometry.covers` by brute force: the oracle for both arms */
  private def jtsCovers(pts: Seq[(Long, Double, Double)], polys: Seq[(Long, Geometry)]): Set[(Long, Long)] = {
    val prepared = polys.map { case (id, g) => (id, PreparedGeometryFactory.prepare(g)) }
    (for ((pid, x, y) <- pts; (id, pg) <- prepared if pg.covers(JtsGeo.point(x, y))) yield (pid, id)).toSet
  }

  private def layer(polys: Seq[(Long, Geometry)]): DataFrame = {
    val s = spark
    import s.implicits._
    polys.map { case (id, g) =>
      val e = g.getEnvelopeInternal
      (id, JtsGeo.toWkb(g), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }.toDF("poly_id", "wkb", "xmin", "ymin", "xmax", "ymax")
  }

  /** (partitioned, broadcast) hit pairs over RDD-backed inputs, so the probe
    * runs as generated code; both arms run again on the interpreted path,
    * which must give the same pairs */
  private def bothArms(pts: Seq[(Long, Double, Double)],
                       polys: Seq[(Long, Geometry)]): (Set[(Long, Long)], Set[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val (p, l) = (rddBacked(pts.toDF("pid", "x", "y")), rddBacked(layer(polys)))
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      val rows = df.select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length == rows.toSet.size, "duplicate pair emission")
      rows.toSet
    }
    def arms = (pairs(SpatialJoins.pointInPolygon(p, l, ci, 15)), pairs(SpatialJoins.pointInPolygonBroadcastFast(p, l)))
    val generated = arms
    assert(withInterpretedEval(arms) == generated, "the interpreted path differs from generated code")
    generated
  }

  /** vertices, edge midpoints and thirds of every ring */
  private def ringPoints(g: Geometry): Seq[(Double, Double)] =
    (0 until g.getNumGeometries).flatMap { i =>
      val p = g.getGeometryN(i).asInstanceOf[Polygon]
      (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)).flatMap { r =>
        r.getCoordinates.sliding(2).flatMap { case Array(a, b) =>
          Seq(0.0, 1.0 / 3, 0.5, 2.0 / 3).map(t => (a.x + (b.x - a.x) * t, a.y + (b.y - a.y) * t))
        }
      }
    }

  test("both PIP arms equal JTS covers on vertices, edges, holes, multipolygons and rectangles") {
    val polys: Seq[(Long, Geometry)] = Seq(
      1L -> JtsGeo.box(1000, 1000, 1010, 1020), // JTS's isRectangle shortcut
      2L -> fromWkt("POLYGON ((1100 1000, 1140 1000, 1140 1040, 1120 1050, 1100 1040, 1100 1000), " +
        "(1110 1010, 1110 1030, 1130 1030, 1130 1010, 1110 1010))"),
      3L -> fromWkt("MULTIPOLYGON (((1200 1000, 1230 1000, 1215 1025, 1200 1000)), " +
        "((1240 1000, 1270 1000, 1270 1030, 1260 1030, 1260 1010, 1250 1010, 1250 1030, 1240 1030, 1240 1000)))"),
      4L -> fromWkt("POLYGON ((1300.5 1000.25, 1330.75 1010.5, 1320.125 1040.875, 1295.3 1030.1, 1300.5 1000.25))"),
      5L -> JtsGeo.box(1005, 1005, 1050, 1015), // overlaps 1: two hits per point
      // invalid: holes reaching past the shell, which alone bounds JTS's envelope
      6L -> fromWkt("POLYGON ((1400 1000, 1420 1000, 1420 1020, 1400 1020, 1400 1000), " +
        "(1410 1005, 1430 1005, 1430 1015, 1410 1015, 1410 1005), (1435 1000, 1455 1000, 1455 1020, 1435 1000))"),
      7L -> fromWkt("POLYGON ((1500 1010, 1510 1000, 1520 1010, 1510 1020, 1500 1010), " +
        "(1515 1001, 1530 1001, 1530 1019, 1515 1019, 1515 1001))"),
      8L -> JtsGeo.box(1540, 990, 1550, 1030)) // widens the grid past 6 and 7
    val onRings = polys.flatMap { case (_, g) => ringPoints(g) }
    val lattice = for (x <- 995 to 1555; y <- 985 to 1055) yield (x.toDouble, y.toDouble)
    val offLattice = lattice.map { case (x, y) => (x + 0.5, y + 0.25) }
    val nudged = onRings.flatMap { case (x, y) => Seq((math.nextUp(x), y), (x, math.nextDown(y))) }
    val pts = (onRings ++ lattice ++ offLattice ++ nudged).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val want = jtsCovers(pts, polys)
    val (part, bcast) = bothArms(pts, polys)
    assert(part == want)
    assert(bcast == want)
    // every case is exercised: holes and gaps reject, rings and overlaps hit
    assert(want.map(_._2) == (1L to 8L).toSet)
    assert(!want.contains((pts.find(p => p._2 == 1120.0 && p._3 == 1020.0).get._1, 2L)))
  }

  test("property: both PIP arms equal JTS covers over random valid polygons") {
    val polys = scala.collection.mutable.ArrayBuffer.empty[(Long, Geometry)]
    val pts = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    forAll(Gen.choose(0L, Long.MaxValue), Gen.choose(4, 24), Gen.oneOf(true, false), Gen.choose(0, 2)) {
      (seed, nv, integral, kind) =>
        val rnd = new scala.util.Random(seed)
        val k = polys.length
        // centres 70 apart, radii up to 60: neighbours overlap
        val (cx, cy) = (5000.0 + (k % 10) * 70, 5000.0 + (k / 10) * 70)
        def round(v: Double) = if (integral) math.rint(v) else v
        def star(x0: Double, y0: Double, n: Int, r0: Double, r1: Double, ccw: Boolean) = {
          val cs = (0 until n).map { i =>
            val a = 2 * math.Pi * (i + 0.1 + 0.8 * rnd.nextDouble()) / n * (if (ccw) 1 else -1)
            val r = r0 + (r1 - r0) * rnd.nextDouble()
            new Coordinate(round(x0 + r * math.cos(a)), round(y0 + r * math.sin(a)))
          }
          JtsGeo.factory.createLinearRing((cs :+ cs.head.copy()).toArray)
        }
        val shell = star(cx, cy, nv, 30, 60, ccw = true)
        val poly =
          if (kind == 1 && nv >= 8) JtsGeo.factory.createPolygon(shell, Array(star(cx, cy, 8, 6, 15, ccw = false)))
          else JtsGeo.factory.createPolygon(shell)
        val g: Geometry =
          if (kind == 2) JtsGeo.factory.createMultiPolygon(Array(poly,
            JtsGeo.factory.createPolygon(star(cx + 140, cy, nv, 10, 25, ccw = true))))
          else poly
        if (g.isValid) {
          polys += (k.toLong -> g)
          val e = g.getEnvelopeInternal
          val inBox = Seq.fill(40)((round(e.getMinX - 2 + (e.getWidth + 4) * rnd.nextDouble()),
            round(e.getMinY - 2 + (e.getHeight + 4) * rnd.nextDouble())))
          (ringPoints(g) ++ inBox).foreach { case (x, y) => pts += ((pts.length.toLong, x, y)) }
        }
    }
    assert(polys.length >= 60, s"only ${polys.length} valid polygons")
    val want = jtsCovers(pts.toSeq, polys.toSeq)
    val (part, bcast) = bothArms(pts.toSeq, polys.toSeq)
    assert(part == want)
    assert(bcast == want)
  }

  /** a polygon with `n` vertices on a wobbly ellipse around (cx, cy), radii r and 0.6 r */
  private def wobbly(cx: Double, cy: Double, r: Double, n: Int, ccw: Boolean): Array[Coordinate] = {
    val cs = Array.tabulate(n) { i =>
      val a = 2 * math.Pi * i / n * (if (ccw) 1 else -1)
      val w = 1 + 0.08 * math.sin(7 * a) + 0.03 * math.cos(31 * a)
      new Coordinate(cx + r * w * math.cos(a), cy + 0.6 * r * w * math.sin(a))
    }
    cs :+ cs.head.copy()
  }

  test("both PIP arms equal JTS covers on grid row boundaries and horizontal edges lying on them") {
    // staircases of one width between two corner boxes: moving a step or the bottom
    // edge keeps the grid of the broadcast index, whose row boundaries it probes
    val (w, h) = (97.25, 61.5)
    val corner = Seq(0L -> JtsGeo.box(1000.3, 1000.1, 1000.3 + w, 1000.1 + h),
      1L -> JtsGeo.box(1700.9, 1400.7 - h, 1700.9 + w, 1400.7))
    val origin = (0 until 12).map(i => (1110.5 + (i % 4) * 140.25, 1090.2 + (i / 4) * 90.3))
    /** staircase i: steps at absolute heights `levels(i)`, bottom edge from (x0, b0) to (x0 + w, b1) */
    def layer(levels: Int => Seq[Double], bottom: Int => (Double, Double)): Seq[(Long, Geometry)] =
      corner ++ origin.indices.map { i =>
        val (x0, y0) = origin(i)
        val (b0, b1) = bottom(i)
        val steps = levels(i).zipWithIndex.flatMap { case (l, j) =>
          Seq(new Coordinate(x0 + w - j * w / 8, l), new Coordinate(x0 + w - (j + 1) * w / 8, l))
        }
        val ring = new Coordinate(x0, b0) +: new Coordinate(x0 + w, b1) +: steps :+
          new Coordinate(x0, y0 + h) :+ new Coordinate(x0, b0)
        (i + 2L) -> (JtsGeo.factory.createPolygon(ring.toArray): Geometry)
      }
    def grid(polys: Seq[(Long, Geometry)]) = {
      val g = PipIndex.fromWkb(polys.map { case (id, p) => (id, JtsGeo.toWkb(p)) }.toArray).grid
      (g, (g.x0, g.y0, g.x1, g.y1, g.nx, g.ny))
    }
    val (g, shape) = grid(layer(i => (1 to 5).map(origin(i)._2 + 10.0 * _ + i % 3), i => (origin(i)._2, origin(i)._2)))
    assert(g.ny >= 8, s"only ${g.ny} grid rows")
    // row boundaries y0 + k·ch and the doubles next to them
    val bounds = (0 to g.ny).map(k => g.y0 + k * g.ch)
    def near(y: Double) = Seq(math.nextDown(math.nextDown(y)), math.nextDown(y), y, math.nextUp(y),
      math.nextUp(math.nextUp(y)))
    // each bottom edge rises by two ulps from a row boundary: it is almost horizontal
    val bottoms = origin.map { case (_, y0) =>
      bounds.find(b => b > y0 - 20 && b < y0 + 5).map(b => (b, math.nextUp(math.nextUp(b)))).get
    }
    val polys = layer(i => bounds.filter(b => b > origin(i)._2 + 5 && b < origin(i)._2 + 56).take(5)
      .zipWithIndex.map { case (b, j) => near(b)(j % 5) }, bottoms)
    assert(grid(polys)._2 == shape)
    assert(polys.forall(_._2.isValid))
    val xs = (0 until 200).map(i => 1000.3 + i * 3.71)
    val onBounds = for (b <- bounds; y <- near(b); x <- xs) yield (x, y)
    // exactly on each bottom edge, halfway along it
    val onBottoms = origin.indices.map(i => (origin(i)._1 + w / 2, math.nextUp(bottoms(i)._1)))
    val pts = (onBounds ++ onBottoms ++ polys.flatMap { case (_, p) => ringPoints(p) })
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val want = jtsCovers(pts, polys)
    val (part, bcast) = bothArms(pts, polys)
    assert(part == want)
    assert(bcast == want)
    assert(want.map(_._2) == polys.map(_._1).toSet)
    assert(onBottoms.forall { case (x, y) => want.exists(h => pts(h._1.toInt) == ((h._1, x, y))) })
  }

  test("both PIP arms equal JTS covers where an inside cell reaches past its polygon's envelope") {
    // Two anchor boxes fix the grid. Each of polygons 2 and 3 is a triangle with a
    // hole reaching past its envelope, which JTS takes from the shell alone: inside
    // the envelope the hole's points are covered (odd crossings), past it none is.
    // Polygon 2's right edge and polygon 3's top edge lie on a computed cell edge
    // that the grid maps points beyond the envelope into the cell inside it.
    val anchors = Seq(0L -> JtsGeo.box(-700.3, -800.7, -700.3 + 300.25, -800.7 + 300.25),
      1L -> JtsGeo.box(447.8 - 300.25, 347.4 - 300.25, 447.8, 347.4))
    def index(polys: Seq[(Long, Geometry)]) = PipIndex.fromWkb(polys.map { case (id, p) => (id, JtsGeo.toWkb(p)) }.toArray)
    val g = index(anchors).grid
    val (cw, ch) = (g.cw, g.ch)
    def ex(k: Int) = g.x0 + k * g.cw // the cell edges as the index computes them
    def ey(k: Int) = g.y0 + k * g.ch
    /** the doubles up to 8 ulps past `edge` that `cell` still maps to cell k */
    def past(edge: Double, cell: Double => Int, k: Int) =
      Iterator.iterate(edge)(math.nextUp).slice(1, 9).filter(cell(_) == k).toSeq
    val cR = (14 to 18).find(c => past(ex(c + 1), g.col, c).nonEmpty).get
    val rT = (14 to 18).find(r => past(ey(r + 1), g.row, r).nonEmpty).get
    def ring(cs: (Double, Double)*) = JtsGeo.factory.createLinearRing((cs :+ cs.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
    def rect(x0: Double, y0: Double, x1: Double, y1: Double) = ring((x0, y0), (x0, y1), (x1, y1), (x1, y0))
    // polygon 2: max x = B at its bottom vertex only, the hole spans grid row 4 past B
    val (b, bot) = (ex(cR + 1), ey(1))
    val right = JtsGeo.factory.createPolygon(ring((ex(cR - 5), bot), (b, bot), (ex(cR - 5), ey(7))),
      Array(rect(b - 2.5 * cw, bot + 2.5 * ch, b + 2.5 * cw, bot + 4.5 * ch)))
    // polygon 3: max y = T at its left vertex only, the hole spans grid column 4 past T
    val (t, left) = (ey(rT + 1), ex(1))
    val top = JtsGeo.factory.createPolygon(ring((left, ey(rT - 5)), (ex(7), ey(rT - 5)), (left, t)),
      Array(rect(left + 2.5 * cw, t - 2.5 * ch, left + 4.5 * cw, t + 2.5 * ch)))
    val polys = anchors ++ Seq(2L -> (right: Geometry), 3L -> (top: Geometry))
    val g2 = index(polys).grid
    assert((g2.x0, g2.y0, g2.x1, g2.y1, g2.nx, g2.ny) == ((g.x0, g.y0, g.x1, g.y1, g.nx, g.ny)))
    // across the edge, in the hole: inside the edge's cell, the few doubles past the
    // edge that stay in it, and the middles of the next three cells
    def across(edge: Double, cell: Double => Int, k: Int, step: Double) =
      Seq(edge - step / 2, math.nextDown(edge), edge) ++ past(edge, cell, k) ++ Seq(0.5, 1.5, 2.5).map(edge + _ * step)
    val pts = (across(b, g.col, cR, cw).map((_, bot + 3.5 * ch)) ++ across(t, g.row, rT, ch).map((left + 3.5 * cw, _)))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val want = jtsCovers(pts, polys)
    assert(want.filter(_._2 >= 2).map(_._1) == pts.filter { case (_, x, y) => (x <= b && y < t - ch) || (y <= t && x < b) }
      .map(_._1).toSet, "the hole is covered inside the envelope and only there")
    val (part, bcast) = bothArms(pts, polys)
    assert(part == want)
    assert(bcast == want)
    val idx = index(polys)
    assert(pts.filter { case (_, x, y) => idx.covers(x, y) }.map(_._1).toSet == want.map(_._1))
  }

  test("both PIP arms equal JTS covers for a point under more than 64 overlapping polygons") {
    val polys: Seq[(Long, Geometry)] = (0 until 150).map { i =>
      i.toLong -> JtsGeo.box(1000 + (i % 10) * 0.5, 1000 + (i / 10) * 0.25, 1100 + (i % 7), 1060 + (i % 5))
    } :+ (150L -> JtsGeo.box(3000, 3000, 3010, 3010)) // another region: a sparser grid
    val pts = (for (x <- 995 to 1110 by 3; y <- 995 to 1070 by 3) yield (x.toDouble + 0.5, y.toDouble + 0.5)) ++
      polys.flatMap { case (_, p) => ringPoints(p) }.take(3000)
    val indexed = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val want = jtsCovers(indexed, polys)
    assert(want.groupBy(_._1).values.map(_.size).max > 128, "no point under more than 128 polygons")
    val (part, bcast) = bothArms(indexed, polys)
    assert(part == want)
    assert(bcast == want)
  }

  test("both PIP arms equal JTS covers on polygons of 10^3 and 10^4 vertices with holes") {
    val polys: Seq[(Long, Geometry)] = Seq((1L, 1000, 5000.0), (2L, 10000, 9000.0)).map { case (id, n, cx) =>
      val shell = JtsGeo.factory.createLinearRing(wobbly(cx, 5000, 1500, n, ccw = true))
      val holes = Seq((cx - 500, n / 4), (cx + 600, n / 10)).map { case (hx, hn) =>
        JtsGeo.factory.createLinearRing(wobbly(hx, 5000, 300, hn, ccw = false))
      }
      id -> (JtsGeo.factory.createPolygon(shell, holes.toArray): Geometry)
    } :+ (3L -> JtsGeo.box(6000, 4000, 6500, 4100)) // overlaps the first
    assert(polys.take(2).forall(_._2.isValid))
    val rnd = new scala.util.Random(17)
    val inBox = Seq.fill(20000)((3300 + 7400 * rnd.nextDouble(), 3900 + 2200 * rnd.nextDouble()))
    val rings = polys.flatMap { case (_, p) => ringPoints(p) }
    val pts = (inBox ++ rings.grouped(3).map(_.head)).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val want = jtsCovers(pts, polys)
    val (part, bcast) = bothArms(pts, polys)
    assert(part == want)
    assert(bcast == want)
    assert(want.map(_._2) == Set(1L, 2L, 3L))
  }

  test("a non-areal geometry in the polygon layer raises IllegalArgumentException naming its poly_id") {
    val s = spark
    import s.implicits._
    val pts = Seq((0L, 1005.0, 1005.0)).toDF("pid", "x", "y")
    for (bad <- Seq(JtsGeo.point(1005, 1005), fromWkt("LINESTRING (1000 1000, 1010 1010)"))) {
      val polys = layer(Seq(1L -> JtsGeo.box(1000, 1000, 1010, 1010), 7L -> bad))
      val e = intercept[IllegalArgumentException](SpatialJoins.pointInPolygonBroadcastFast(pts, polys))
      assert(e.getMessage.contains("poly_id 7"))
      // the partitioned arm packs polygons in its tasks: the task's error is the cause
      val t = intercept[Exception](SpatialJoins.pointInPolygon(pts, polys, ci, 15).collect())
      val iae = Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i }
      assert(iae.exists(_.getMessage.contains("poly_id 7")), t)
    }
  }

  test("an empty polygon layer gives an empty result in both PIP arms") {
    val (part, bcast) = bothArms(Seq((0L, 1005.0, 1005.0), (1L, 0.0, 0.0)), Seq.empty)
    assert(part.isEmpty && bcast.isEmpty)
  }

  test("a NaN coordinate gives no hit in both PIP arms") {
    val polys = Seq(1L -> JtsGeo.box(0, 0, 4096, 4096), 2L -> JtsGeo.box(1000, 1000, 1010, 1010))
    val nan = Double.NaN
    val pts = Seq((0L, nan, 1005.0), (1L, 1005.0, nan), (2L, nan, nan), (3L, 1005.0, 1005.0))
    val (part, bcast) = bothArms(pts, polys)
    assert(part == Set((3L, 1L), (3L, 2L)))
    assert(bcast == part)
  }

  test("pointInBoxSalted output is identical to pointInBox under heavy skew") {
    val spark2 = spark
    import spark2.implicits._
    // point-mass skew: 3000 points in one cell + scattered rest
    val skewed = (0 until 3000).map(i => (i.toLong, 1000.0 + i % 50, 2000.0 + i % 40)) ++
      (0 until 200).map(i => (3000L + i, (i * 5237.0) % 1000000, (i * 7919.0) % 1000000))
    val pts2 = skewed.toDF("pid", "x", "y")
    val plain = SpatialJoins.pointInBox(pts2, zones.drop("wkb"), ci, 5)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = SpatialJoins.pointInBoxSalted(pts2, zones.drop("wkb"), ci, 5,
      hotThreshold = 100, saltFactor = 8)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain && plain.nonEmpty)
    // and no duplicate emission
    val dup = SpatialJoins.pointInBoxSalted(pts2, zones.drop("wkb"), ci, 5, 100, 8)
      .groupBy("pid", "poly_id").count().where(col("count") > 1)
    assert(dup.isEmpty)
  }

  test("pointInBoxAdaptive output is identical to pointInBox under heavy skew") {
    val spark2 = spark
    import spark2.implicits._
    val skewed = (0 until 3000).map(i => (i.toLong, 1000.0 + i % 50, 2000.0 + i % 40)) ++
      (0 until 200).map(i => (3000L + i, (i * 5237.0) % 1000000, (i * 7919.0) % 1000000))
    val pts2 = skewed.toDF("pid", "x", "y")
    val plain = SpatialJoins.pointInBox(pts2, zones.drop("wkb"), ci, 5)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // active splitting (threshold below the point mass), two fine levels
    for (fine <- Seq(7, 9)) {
      val adaptive = SpatialJoins.pointInBoxAdaptive(pts2, zones.drop("wkb"), ci,
        level = 5, fineLevel = fine, hotThreshold = 100)
        .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(adaptive == plain && plain.nonEmpty, s"fine=$fine")
    }
    // no duplicate emission even when a box spans hot AND cold base cells
    val dup = SpatialJoins.pointInBoxAdaptive(pts2, zones.drop("wkb"), ci, 5, 7, 100)
      .groupBy("pid", "poly_id").count().where(col("count") > 1)
    assert(dup.isEmpty)
    // inactive splitting (threshold above everything) also matches
    val inactive = SpatialJoins.pointInBoxAdaptive(pts2, zones.drop("wkb"), ci, 5, 7,
      hotThreshold = 100000)
      .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inactive == plain)
  }

  test("envelopeJoin matches brute-force intersects, one row per pair") {
    val left = zones.select(col("poly_id").as("lid"), col("xmin").as("lxmin"),
      col("ymin").as("lymin"), col("xmax").as("lxmax"), col("ymax").as("lymax"))
    val right = zones.select(col("poly_id").as("rid"), col("xmin").as("rxmin"),
      col("ymin").as("rymin"), col("xmax").as("rxmax"), col("ymax").as("rymax"))
    val got = SpatialJoins.envelopeJoin(left, right, ci, 5)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val zs = zones.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val expect = (for {
      (a, ax0, ay0, ax1, ay1) <- zs; (b, bx0, by0, bx1, by1) <- zs
      if ax0 <= bx1 && bx0 <= ax1 && ay0 <= by1 && by0 <= ay1
    } yield (a, b)).toSet
    assert(got.length == got.toSet.size, "duplicate pair emission")
    assert(got.toSet == expect)
  }
}
