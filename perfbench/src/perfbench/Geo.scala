package perfbench

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, Point, Polygon}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.io.{WKBReader, WKBWriter}

/** The benchmark's own geometry helpers. The expectations are computed
  * with these and plain JTS, never with the engine's code. */
object Geo {
  val gf = new GeometryFactory()

  def wkb(g: Geometry): Array[Byte] = new WKBWriter(2).write(g)
  def fromWkb(b: Array[Byte]): Geometry = new WKBReader(gf).read(b)

  def ring(xs: Array[Double], ys: Array[Double]): Array[Coordinate] =
    (xs.indices.map(i => new Coordinate(xs(i), ys(i))) :+ new Coordinate(xs(0), ys(0))).toArray

  def rect(x0: Double, y0: Double, x1: Double, y1: Double): Polygon =
    gf.createPolygon(ring(Array(x0, x1, x1, x0), Array(y0, y0, y1, y1)))

  /** Quadkey cell id, written out independently of the engine's CellIndex:
    * (level << 58) | bit-interleave(col, row), col in the even bits. */
  def cellId(level: Int, col: Long, row: Long): Long = {
    var z = 0L
    var b = 0
    while (b < 28) {
      z |= ((col >>> b) & 1L) << (2 * b)
      z |= ((row >>> b) & 1L) << (2 * b + 1)
      b += 1
    }
    (level.toLong << 58) | z
  }

  /** (col, row) of a Morton index: the inverse interleave. */
  def deinterleave(m: Long): (Long, Long) = {
    var c, r = 0L
    var b = 0
    while (b < 28) {
      c |= ((m >>> (2 * b)) & 1L) << b
      r |= ((m >>> (2 * b + 1)) & 1L) << b
      b += 1
    }
    (c, r)
  }

  /** Spark's `xxhash64(a, b, …)` of long columns, for fingerprints. */
  def xxhash(vals: Long*): Long = vals.foldLeft(42L)((h, v) => XXH64.hashLong(v, h))

  /** Brute-force point-in-polygon: every polygon whose envelope holds the
    * point is tested with JTS `covers`. `visit(id)` sees each hit and the
    * return value counts the envelope candidates. */
  final class BruteForce(polys: Array[(Long, Array[Byte])]) {
    private val tree = new STRtree()
    polys.foreach { case (id, b) =>
      val g = fromWkb(b)
      tree.insert(g.getEnvelopeInternal, (id, PreparedGeometryFactory.prepare(g)))
    }
    tree.build()
    private val coord = new Coordinate()
    private val pt: Point = gf.createPoint(coord)
    private val env = new org.locationtech.jts.geom.Envelope()

    def probe(x: Double, y: Double)(visit: Long => Unit): Int = {
      coord.x = x; coord.y = y
      pt.geometryChanged()
      env.init(x, x, y, y)
      var cands = 0
      tree.query(env, new org.locationtech.jts.index.ItemVisitor {
        override def visitItem(item: AnyRef): Unit = {
          val (id, pg) = item.asInstanceOf[(Long, PreparedGeometry)]
          cands += 1
          if (pg.covers(pt)) visit(id)
        }
      })
      cands
    }
  }
}
