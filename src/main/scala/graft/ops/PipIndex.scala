package graft.ops

import graft.geo.JtsGeo
import java.util.Arrays
import org.locationtech.jts.algorithm.CGAlgorithmsDD
import org.locationtech.jts.geom.{Geometry, Polygon, Polygonal}

/** Exact point-in-polygon index over a polygon layer, immutable and shared
  * read-only by every probing thread. Rings are packed into `double[]`s; the
  * exact test is JTS's `RayCrossingCounter` behind the envelope check, i.e.
  * `PreparedPolygon.covers(Point)`, bit-identical on edges and vertices too.
  *
  * A CSR grid (`cellStart` offsets into `cellEntries`) lists per cell the
  * polygons covering it whole (entry `p`: a hit, no test) and those whose
  * boundary may cross it (`~p`: the exact test) — the interior cells of
  * GeoBlocks (EDBT 2021) and Raptor (VLDB 2019). The median envelope spans
  * 8 cells (`gridFor`).
  *
  * The exact test walks one y-slab, as JTS's interval index does: per polygon
  * and grid row of its envelope, the segments whose padded y-range reaches
  * the row, kept as runs of consecutive segments of a ring (CSR: polygon
  * `p`'s slab in row `r` is `runs(slabStart(slabBase(p) + r))` until the
  * next offset, two words a run). A grid-less index has one row: one run
  * per ring, walked as the rings lie in memory. The same
  * slabs feed the cell classification, so a build costs O(V + cells). The
  * test stays exact: `RayCrossingCounter` counts nothing for a segment whose
  * y-range misses the point's y, and a segment with y-range [a, b] sits in
  * the rows `row(a - padY)` to `row(b + padY)`, which hold `row(y)` of every
  * y in [a, b] because `row` is monotone. The pad, the one the cell lists
  * use, also absorbs the rounding of a row band's edges there. */
final class PipIndex private (
    ids: Array[Long],
    bounds: Array[Double], // per polygon: min x, min y, max x, max y of its shells
    slabBase: Array[Int], // polygon p's slab in grid row r is slab slabBase(p) + r
    slabStart: Array[Int], // slab s holds the runs in runs(slabStart(s)) until runs(slabStart(s + 1))
    runs: Array[Int], // run (v0, v1): the segments (xs(v), ys(v)) to (xs(v + 1), ys(v + 1)) for v0 ≤ v < v1
    xs: Array[Double], ys: Array[Double],
    private[ops] val grid: PipIndex.Grid, cellStart: Array[Int], cellEntries: Array[Int]) extends Serializable {

  /** The ids of the polygons that cover (x, y), in layer order, as a fresh
    * count-prefixed array: word 0 holds their count `m` ≥ 1, words 1 until
    * `lead(m)` ≥ 1 are zero, and the ids follow. A caller's header, such as
    * Spark's `UnsafeArrayData` one, thus needs no second copy of the ids.
    * Null when no polygon covers the point. */
  def covering(x: Double, y: Double, lead: Int => Int): Array[Long] = {
    if (!(x >= grid.x0 && x <= grid.x1 && y >= grid.y0 && y <= grid.y1)) return null
    val row = grid.row(y)
    val cell = row * grid.nx + grid.col(x)
    val (from, end) = (cellStart(cell), cellStart(cell + 1))
    if (end - from <= 64) { // the hits as a bit mask over the cell list
      var hit = 0L
      var k = from
      while (k < end) {
        val e = cellEntries(k)
        if (e >= 0 || covers(~e, row, x, y)) hit |= 1L << (k - from)
        k += 1
      }
      if (hit == 0) return null
      val m = java.lang.Long.bitCount(hit)
      var i = lead(m)
      val out = new Array[Long](i + m)
      out(0) = m
      while (hit != 0) {
        val e = cellEntries(from + java.lang.Long.numberOfTrailingZeros(hit))
        out(i) = ids(if (e >= 0) e else ~e)
        i += 1
        hit &= hit - 1
      }
      out
    } else {
      val hits = new Array[Int](end - from)
      var m = 0
      var k = from
      while (k < end) {
        val e = cellEntries(k)
        if (e >= 0 || covers(~e, row, x, y)) { hits(m) = if (e >= 0) e else ~e; m += 1 }
        k += 1
      }
      if (m == 0) return null
      val at = lead(m)
      val out = new Array[Long](at + m)
      out(0) = m
      var i = 0
      while (i < m) { out(at + i) = ids(hits(i)); i += 1 }
      out
    }
  }

  /** whether some polygon covers (x, y): [[covering]] without its result */
  def covers(x: Double, y: Double): Boolean = {
    if (!(x >= grid.x0 && x <= grid.x1 && y >= grid.y0 && y <= grid.y1)) return false
    val row = grid.row(y)
    val cell = row * grid.nx + grid.col(x)
    var k = cellStart(cell)
    while (k < cellStart(cell + 1)) {
      val e = cellEntries(k)
      if (e >= 0 || covers(~e, row, x, y)) return true
      k += 1
    }
    false
  }

  /** `PreparedPolygon.covers(Point)` of polygon `p` for a point in grid row
    * `row`: inside its envelope, and on a segment of the row's slab or
    * crossing that slab an odd number of times */
  private def covers(p: Int, row: Int, x: Double, y: Double): Boolean = {
    val b = 4 * p
    if (!(x >= bounds(b) && y >= bounds(b + 1) && x <= bounds(b + 2) && y <= bounds(b + 3))) return false
    var crossings = 0
    val s = slabBase(p) + row
    var k = slabStart(s)
    while (k < slabStart(s + 1)) {
      var v = runs(k)
      while (v < runs(k + 1)) {
        // RayCrossingCounter.countSegment((x1, y1), (x2, y2)) for the point (x, y)
        val x1 = xs(v); val y1 = ys(v); val x2 = xs(v + 1); val y2 = ys(v + 1)
        if (x1 < x && x2 < x) {} // strictly left of the point
        else if (x == x2 && y == y2) return true
        else if (y1 == y && y2 == y) { if (x >= math.min(x1, x2) && x <= math.max(x1, x2)) return true }
        else if ((y1 > y && y2 <= y) || (y2 > y && y1 <= y)) {
          var orient = CGAlgorithmsDD.orientationIndex(x1, y1, x2, y2, x, y)
          if (orient == 0) return true
          if (y2 < y1) orient = -orient
          if (orient == 1) crossings += 1
        }
        v += 1
      }
      k += 2
    }
    (crossings & 1) == 1
  }
}

object PipIndex {
  /** `nx`×`ny` cells over [x0, x1]×[y0, y1], by truncation clamped in range */
  final class Grid(val x0: Double, val y0: Double, val x1: Double, val y1: Double,
                   val nx: Int, val ny: Int) extends Serializable {
    val (cw, ch) = ((x1 - x0) / nx, (y1 - y0) / ny)
    private val (invW, invH) = (if (x1 > x0) nx / (x1 - x0) else 0.0, if (y1 > y0) ny / (y1 - y0) else 0.0)
    def col(x: Double): Int = math.min(nx - 1, math.max(0, ((x - x0) * invW).toInt))
    def row(y: Double): Int = math.min(ny - 1, math.max(0, ((y - y0) * invH).toInt))
    /** pads of the cell edges: they dwarf the rounding of the cell arithmetic */
    val (padX, padY) = {
      val scale = Seq(x0, y0, x1, y1).map(math.abs).max * 1e-9
      (cw * 1e-3 + scale, ch * 1e-3 + scale)
    }
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
    val flat = rings.flatten
    val ringStart = flat.map(_._1.getNumPoints).scanLeft(0)(_ + _)
    val (xs, ys) = (new Array[Double](ringStart.last), new Array[Double](ringStart.last))
    val bounds = Array.tabulate(4 * ids.length)(i => if (i % 4 < 2) Double.MaxValue else -Double.MaxValue)
    var p = 0
    while (p < ids.length) {
      val b = 4 * p
      var r = polyRings(p)
      while (r < polyRings(p + 1)) {
        val (cs, shell) = (flat(r)._1.getCoordinateSequence, flat(r)._2)
        var i = 0
        while (i < cs.size) {
          val x = cs.getX(i); val y = cs.getY(i)
          if (!java.lang.Double.isFinite(x) || !java.lang.Double.isFinite(y))
            throw new IllegalArgumentException(s"point-in-polygon layer: poly_id ${ids(p)} has a non-finite coordinate")
          xs(ringStart(r) + i) = x; ys(ringStart(r) + i) = y
          if (shell) { // JTS envelopes a polygon by its shells only
            bounds(b) = math.min(bounds(b), x); bounds(b + 1) = math.min(bounds(b + 1), y)
            bounds(b + 2) = math.max(bounds(b + 2), x); bounds(b + 3) = math.max(bounds(b + 3), y)
          }
          i += 1
        }
        r += 1
      }
      p += 1
    }
    val grid = gridFor(bounds, cells)
    val (slabBase, slabStart, runs) = slabs(bounds, polyRings, ringStart, ys, grid)
    val (cellStart, cellEntries) = classify(bounds, slabBase, slabStart, runs, xs, ys, grid)
    new PipIndex(ids, bounds, slabBase, slabStart, runs, xs, ys, grid, cellStart, cellEntries)
  }

  /** grid over the polygon envelopes: the median one spans 8 cells along its longer
    * side, with at most 256 cells and ~1024 envelope-cell registrations per polygon;
    * one cell for a degenerate extent or without `cells`. The slabs keep a test in a
    * boundary cell short, so a finer grid buys fewer tests than its lists cost. */
  private def gridFor(bounds: Array[Double], cells: Boolean): Grid = {
    val live = bounds.indices.by(4).filter(b => bounds(b) <= bounds(b + 2))
    if (live.isEmpty) return new Grid(0, 0, -1, -1, 1, 1) // contains no point
    val (x0, y0) = (live.map(bounds(_)).min, live.map(b => bounds(b + 1)).min)
    val (x1, y1) = (live.map(b => bounds(b + 2)).max, live.map(b => bounds(b + 3)).max)
    val (w, h) = (x1 - x0, y1 - y0)
    if (!(w > 0 && h > 0 && cells)) return new Grid(x0, y0, x1, y1, 1, 1)
    val spans = live.map(b => math.max(bounds(b + 2) - bounds(b), bounds(b + 3) - bounds(b + 1))).sorted
    val cap = math.min(1L << 22, math.max(1024L, 256L * live.length))
    var side = math.max(spans(spans.length / 2) / 8, math.sqrt(w * h / cap))
    // large envelopes register in many cells: keep the registrations near the cap too
    val regs = live.map(b => (2 + (bounds(b + 2) - bounds(b)) / side) * (2 + (bounds(b + 3) - bounds(b + 1)) / side)).sum
    if (regs > 4 * cap) side *= math.sqrt(regs / (4 * cap))
    val nx = math.max(1L, math.min(math.ceil(w / side).toLong, cap))
    new Grid(x0, y0, x1, y1, nx.toInt, math.max(1L, math.min(math.ceil(h / side).toLong, cap / nx)).toInt)
  }

  /** The y-slabs, bucketed in one walk of the segments per pass (O(V + rows)):
    * polygon `p` owns the rows `row(min y - padY)` to `row(max y + padY)` of its
    * shells' envelope, and a segment joins the slabs of the rows its padded
    * y-range spans, clamped to those: it extends the slab's last run when
    * the ring's previous segment is in that slab too. The last vertex of a
    * ring starts no segment. Returns (slabBase, slabStart, runs). */
  private def slabs(bounds: Array[Double], polyRings: Array[Int], ringStart: Array[Int],
                    ys: Array[Double], g: Grid): (Array[Int], Array[Int], Array[Int]) = {
    val n = bounds.length / 4
    val (rowLo, rowHi, slabBase) = (new Array[Int](n), new Array[Int](n), new Array[Int](n))
    var nSlabs = 0
    var p = 0
    while (p < n) {
      val b = 4 * p
      if (bounds(b) <= bounds(b + 2)) {
        rowLo(p) = g.row(bounds(b + 1) - g.padY)
        rowHi(p) = g.row(bounds(b + 3) + g.padY)
      } else rowHi(p) = -1 // no rows: the envelope check rejects every point
      slabBase(p) = nSlabs - rowLo(p)
      nSlabs += rowHi(p) - rowLo(p) + 1
      p += 1
    }
    val slabStart = new Array[Int](nSlabs + 1)
    var runs, next = Array.emptyIntArray
    // pass 0 counts slab i's run words at slabStart(i + 1), pass 1 places the runs
    var pass = 0
    while (pass < 2) {
      p = 0
      while (p < n) {
        var r = polyRings(p)
        while (r < polyRings(p + 1)) {
          var (lo, hi) = (0, -1) // rows of the ring's previous segment
          var v = ringStart(r)
          while (v < ringStart(r + 1) - 1) {
            var row = math.max(rowLo(p), g.row(math.min(ys(v), ys(v + 1)) - g.padY))
            val to = math.min(rowHi(p), g.row(math.max(ys(v), ys(v + 1)) + g.padY))
            val from = row
            while (row <= to) {
              val slab = slabBase(p) + row
              val extend = row >= lo && row <= hi
              if (pass == 0) { if (!extend) slabStart(slab + 1) += 2 }
              else if (extend) runs(next(slab) - 1) = v + 1
              else { runs(next(slab)) = v; runs(next(slab) + 1) = v + 1; next(slab) += 2 }
              row += 1
            }
            lo = from; hi = to
            v += 1
          }
          r += 1
        }
        p += 1
      }
      if (pass == 0) {
        var i = 0
        while (i < nSlabs) { slabStart(i + 1) += slabStart(i); i += 1 }
        runs = new Array[Int](slabStart(nSlabs))
        next = Arrays.copyOf(slabStart, nSlabs)
      }
      pass += 1
    }
    (slabBase, slabStart, runs)
  }

  /** CSR cell lists. Per polygon and row of its slabs: mark the cells the
    * slab's segments may touch within the padded row band. An unmarked cell
    * holds no boundary, so it is inside iff its centre is: odd crossings of
    * the row's centre line left of it, all of them by segments of the slab.
    * O(V + rows + cells) over the layer. */
  private def classify(bounds: Array[Double], slabBase: Array[Int], slabStart: Array[Int], runs: Array[Int],
                       xs: Array[Double], ys: Array[Double], g: Grid): (Array[Int], Array[Int]) = {
    val nCells = g.nx * g.ny
    val (padX, padY) = (g.padX, g.padY)
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
        val slab = slabBase(p) + row
        var k = slabStart(slab)
        while (k < slabStart(slab + 1)) {
          var v = runs(k)
          while (v < runs(k + 1)) {
            val ax = xs(v); val ay = ys(v); val bx = xs(v + 1); val by = ys(v + 1)
            // the x-range of its part in the padded band
            val ta = if (ay == by) 0.0 else math.min(1.0, math.max(0.0, (lo - ay) / (by - ay)))
            val tb = if (ay == by) 1.0 else math.min(1.0, math.max(0.0, (hi - ay) / (by - ay)))
            var c = math.max(c0, g.col(math.min(ax + (bx - ax) * ta, ax + (bx - ax) * tb) - padX))
            val to = math.min(c1, g.col(math.max(ax + (bx - ax) * ta, ax + (bx - ax) * tb) + padX))
            while (c <= to) { marked(c - c0) = true; c += 1 }
            if ((ay > cy) != (by > cy)) { // RayCrossingCounter's half-open rule
              if (n == cross.length) cross = Arrays.copyOf(cross, 2 * n)
              cross(n) = ax + (cy - ay) * (bx - ax) / (by - ay)
              n += 1
            }
            v += 1
          }
          k += 2
        }
        Arrays.sort(cross, 0, n)
        var (c, j) = (c0, 0)
        while (c <= c1) {
          while (j < n && cross(j) < g.x0 + (c + 0.5) * g.cw) j += 1
          if (marked(c - c0) || (j & 1) == 1) {
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
