package graft.ops

import graft.geo.JtsGeo
import java.util.Arrays
import org.locationtech.jts.algorithm.CGAlgorithmsDD
import org.locationtech.jts.geom.{Geometry, Polygon, Polygonal}

/** Exact point-in-polygon index over a polygon layer, immutable and shared
  * read-only by every probing thread. Rings are packed into `double[]`s; the
  * exact test is JTS's `RayCrossingCounter` over all rings behind the envelope
  * check, i.e. `PreparedPolygon.covers(Point)`, bit-identical on edges and
  * vertices too. A CSR grid (`cellStart` offsets into `cellEntries`) lists per
  * cell the polygons covering it whole (entry `p`: a hit, no test) and those
  * whose boundary may cross it (`~p`: the exact test) — the interior cells of
  * GeoBlocks (EDBT 2021) and Raptor (VLDB 2019). */
final class PipIndex private (
    ids: Array[Long],
    bounds: Array[Double], // per polygon: min x, min y, max x, max y of its shells
    polyRings: Array[Int], // polygon p owns rings polyRings(p) until polyRings(p + 1)
    ringStart: Array[Int], // ring r owns vertices ringStart(r) until ringStart(r + 1)
    xs: Array[Double], ys: Array[Double],
    grid: PipIndex.Grid, cellStart: Array[Int], cellEntries: Array[Int]) extends Serializable {

  /** ids of the polygons that cover (x, y), in layer order */
  def covering(x: Double, y: Double): Array[Long] = {
    if (!(x >= grid.x0 && x <= grid.x1 && y >= grid.y0 && y <= grid.y1)) return PipIndex.NoHits
    val cell = grid.row(y) * grid.nx + grid.col(x)
    val end = cellStart(cell + 1)
    var k = cellStart(cell)
    var out: Array[Long] = null
    var m = 0
    while (k < end) {
      val e = cellEntries(k)
      if (e >= 0 || covers(~e, x, y)) {
        if (out == null) out = new Array[Long](end - k)
        out(m) = ids(if (e >= 0) e else ~e)
        m += 1
      }
      k += 1
    }
    if (m == 0) PipIndex.NoHits else if (m == out.length) out else Arrays.copyOf(out, m)
  }

  /** `PreparedPolygon.covers(Point)` of polygon `p`: inside its envelope, and
    * on a ring or crossing its rings an odd number of times */
  private def covers(p: Int, x: Double, y: Double): Boolean = {
    val b = 4 * p
    if (!(x >= bounds(b) && y >= bounds(b + 1) && x <= bounds(b + 2) && y <= bounds(b + 3))) return false
    var crossings = 0
    var r = polyRings(p)
    while (r < polyRings(p + 1)) {
      var k = ringStart(r)
      while (k < ringStart(r + 1) - 1) {
        // RayCrossingCounter.countSegment((x1, y1), (x2, y2)) for the point (x, y)
        val x1 = xs(k); val y1 = ys(k); val x2 = xs(k + 1); val y2 = ys(k + 1)
        if (x1 < x && x2 < x) {} // strictly left of the point
        else if (x == x2 && y == y2) return true
        else if (y1 == y && y2 == y) { if (x >= math.min(x1, x2) && x <= math.max(x1, x2)) return true }
        else if ((y1 > y && y2 <= y) || (y2 > y && y1 <= y)) {
          var orient = CGAlgorithmsDD.orientationIndex(x1, y1, x2, y2, x, y)
          if (orient == 0) return true
          if (y2 < y1) orient = -orient
          if (orient == 1) crossings += 1
        }
        k += 1
      }
      r += 1
    }
    (crossings & 1) == 1
  }
}

object PipIndex {
  private val NoHits = Array.empty[Long]

  /** `nx`×`ny` cells over [x0, x1]×[y0, y1], by truncation clamped in range */
  final class Grid(val x0: Double, val y0: Double, val x1: Double, val y1: Double,
                   val nx: Int, val ny: Int) extends Serializable {
    val (cw, ch) = ((x1 - x0) / nx, (y1 - y0) / ny)
    private val (invW, invH) = (if (x1 > x0) nx / (x1 - x0) else 0.0, if (y1 > y0) ny / (y1 - y0) else 0.0)
    def col(x: Double): Int = math.min(nx - 1, math.max(0, ((x - x0) * invW).toInt))
    def row(y: Double): Int = math.min(ny - 1, math.max(0, ((y - y0) * invH).toInt))
  }

  /** index over (poly_id, WKB) rows of Polygons/MultiPolygons, finite coordinates;
    * `cells = false` skips the grid, for an index probed too few times to repay it */
  def fromWkb(rows: Array[(Long, Array[Byte])], cells: Boolean = true): PipIndex = build(rows.map(_._1), rows.map {
    case (id, wkb) => JtsGeo.fromWkb(wkb) match {
      case g: Polygonal => g
      case g => throw new IllegalArgumentException(
        s"point-in-polygon layer: poly_id $id is a ${g.getGeometryType}, not a Polygon or MultiPolygon")
    }
  }, cells)

  // build loops live in methods: loops in a constructor may never OSR-compile
  private def build(ids: Array[Long], geoms: Array[Geometry], cells: Boolean): PipIndex = {
    // per polygon: (ring, is a shell) of its non-empty parts
    val rings = geoms.map(g => (0 until g.getNumGeometries).map(g.getGeometryN(_).asInstanceOf[Polygon])
      .filterNot(_.isEmpty).flatMap(p => (p.getExteriorRing, true) +:
        (0 until p.getNumInteriorRing).map(i => (p.getInteriorRingN(i), false))))
    val polyRings = rings.map(_.length).scanLeft(0)(_ + _)
    val ringStart = rings.flatten.map(_._1.getNumPoints).scanLeft(0)(_ + _)
    val (xs, ys) = (new Array[Double](ringStart.last), new Array[Double](ringStart.last))
    val bounds = Array.tabulate(4 * ids.length)(i => if (i % 4 < 2) Double.MaxValue else -Double.MaxValue)
    for (p <- ids.indices; (((ring, shell), r)) <- rings(p).zipWithIndex; i <- 0 until ring.getNumPoints) {
      val (v, b, c) = (ringStart(polyRings(p) + r) + i, 4 * p, ring.getCoordinateN(i))
      if (!java.lang.Double.isFinite(c.x) || !java.lang.Double.isFinite(c.y))
        throw new IllegalArgumentException(s"point-in-polygon layer: poly_id ${ids(p)} has a non-finite coordinate")
      xs(v) = c.x; ys(v) = c.y
      if (shell) { // JTS envelopes a polygon by its shells only
        bounds(b) = math.min(bounds(b), c.x); bounds(b + 1) = math.min(bounds(b + 1), c.y)
        bounds(b + 2) = math.max(bounds(b + 2), c.x); bounds(b + 3) = math.max(bounds(b + 3), c.y)
      }
    }
    val grid = gridFor(bounds, cells)
    val (cellStart, cellEntries) = classify(bounds, polyRings, ringStart, xs, ys, grid)
    new PipIndex(ids, bounds, polyRings, ringStart, xs, ys, grid, cellStart, cellEntries)
  }

  /** grid over the polygon envelopes: the median one spans 16 cells along its longer
    * side, with at most 256 cells and ~1024 envelope-cell registrations per polygon;
    * one cell for a degenerate extent or without `cells` */
  private def gridFor(bounds: Array[Double], cells: Boolean): Grid = {
    val live = bounds.indices.by(4).filter(b => bounds(b) <= bounds(b + 2))
    if (live.isEmpty) return new Grid(0, 0, -1, -1, 1, 1) // contains no point
    val (x0, y0) = (live.map(bounds(_)).min, live.map(b => bounds(b + 1)).min)
    val (x1, y1) = (live.map(b => bounds(b + 2)).max, live.map(b => bounds(b + 3)).max)
    val (w, h) = (x1 - x0, y1 - y0)
    if (!(w > 0 && h > 0 && cells)) return new Grid(x0, y0, x1, y1, 1, 1)
    val spans = live.map(b => math.max(bounds(b + 2) - bounds(b), bounds(b + 3) - bounds(b + 1))).sorted
    val cap = math.min(1L << 22, math.max(1024L, 256L * live.length))
    var side = math.max(spans(spans.length / 2) / 16, math.sqrt(w * h / cap))
    // large envelopes register in many cells: keep the registrations near the cap too
    val regs = live.map(b => (2 + (bounds(b + 2) - bounds(b)) / side) * (2 + (bounds(b + 3) - bounds(b + 1)) / side)).sum
    if (regs > 4 * cap) side *= math.sqrt(regs / (4 * cap))
    val nx = math.max(1L, math.min(math.ceil(w / side).toLong, cap))
    new Grid(x0, y0, x1, y1, nx.toInt, math.max(1L, math.min(math.ceil(h / side).toLong, cap / nx)).toInt)
  }

  /** CSR cell lists. Per polygon and row of its envelope's cells: mark the cells
    * the rings' parts in the padded row may touch. An unmarked cell holds no
    * boundary, so it is inside iff its centre is: odd ring crossings of the row's
    * centre line left of it. Pads dwarf the rounding of the cell arithmetic. */
  private def classify(bounds: Array[Double], polyRings: Array[Int], ringStart: Array[Int],
                       xs: Array[Double], ys: Array[Double], g: Grid): (Array[Int], Array[Int]) = {
    val nCells = g.nx * g.ny
    val scale = Seq(g.x0, g.y0, g.x1, g.y1).map(math.abs).max * 1e-9
    val (padX, padY) = (g.cw * 1e-3 + scale, g.ch * 1e-3 + scale)
    var cellOf, codes = new Array[Int](1024)
    var cross = new Array[Double](16)
    var m = 0
    for (p <- 0 until bounds.length / 4; b = 4 * p if bounds(b) <= bounds(b + 2)) {
      val (c0, c1) = (g.col(bounds(b) - padX), g.col(bounds(b + 2) + padX))
      val (r0, r1) = (g.row(bounds(b + 1) - padY), g.row(bounds(b + 3) + padY))
      val need = m + (c1 - c0 + 1) * (r1 - r0 + 1)
      if (need > cellOf.length) { cellOf = Arrays.copyOf(cellOf, 2 * need); codes = Arrays.copyOf(codes, 2 * need) }
      val marked = new Array[Boolean](c1 - c0 + 1)
      var row = r0
      while (row <= r1) {
        val (lo, hi, cy) = (g.y0 + row * g.ch - padY, g.y0 + (row + 1) * g.ch + padY, g.y0 + (row + 0.5) * g.ch)
        Arrays.fill(marked, false)
        var n = 0
        var (r, v) = (polyRings(p), ringStart(polyRings(p)))
        while (v < ringStart(polyRings(p + 1)) - 1) {
          if (v == ringStart(r + 1) - 1) r += 1 // last vertex of ring r: no segment
          else {
            val ax = xs(v); val ay = ys(v); val bx = xs(v + 1); val by = ys(v + 1)
            if (math.max(ay, by) >= lo && math.min(ay, by) <= hi) { // x-range of its part in the row
              val ta = if (ay == by) 0.0 else math.min(1.0, math.max(0.0, (lo - ay) / (by - ay)))
              val tb = if (ay == by) 1.0 else math.min(1.0, math.max(0.0, (hi - ay) / (by - ay)))
              var c = math.max(c0, g.col(math.min(ax + (bx - ax) * ta, ax + (bx - ax) * tb) - padX))
              val to = math.min(c1, g.col(math.max(ax + (bx - ax) * ta, ax + (bx - ax) * tb) + padX))
              while (c <= to) { marked(c - c0) = true; c += 1 }
            }
            if ((ay > cy) != (by > cy)) { // RayCrossingCounter's half-open rule
              if (n == cross.length) cross = Arrays.copyOf(cross, 2 * n)
              cross(n) = ax + (cy - ay) * (bx - ax) / (by - ay)
              n += 1
            }
          }
          v += 1
        }
        Arrays.sort(cross, 0, n)
        var (c, k) = (c0, 0)
        while (c <= c1) {
          while (k < n && cross(k) < g.x0 + (c + 0.5) * g.cw) k += 1
          if (marked(c - c0) || (k & 1) == 1) {
            // an inside cell reaching past the envelope is not covered whole
            val whole = !marked(c - c0) &&
              g.x0 + c * g.cw - padX >= bounds(b) && g.x0 + (c + 1) * g.cw + padX <= bounds(b + 2) &&
              g.y0 + row * g.ch - padY >= bounds(b + 1) && g.y0 + (row + 1) * g.ch + padY <= bounds(b + 3)
            cellOf(m) = row * g.nx + c
            codes(m) = if (whole) p else ~p
            m += 1
          }
          c += 1
        }
        row += 1
      }
    }
    val cellStart = new Array[Int](nCells + 1)
    var i = 0
    while (i < m) { cellStart(cellOf(i) + 1) += 1; i += 1 }
    i = 0
    while (i < nCells) { cellStart(i + 1) += cellStart(i); i += 1 }
    val next = Arrays.copyOf(cellStart, nCells)
    val entries = new Array[Int](m)
    i = 0
    while (i < m) { entries(next(cellOf(i))) = codes(i); next(cellOf(i)) += 1; i += 1 }
    (cellStart, entries)
  }
}
