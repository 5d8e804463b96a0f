package graft.geo

import org.locationtech.jts.geom._
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.io.{WKBReader, WKBWriter}
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.locationtech.jts.algorithm.MinimumDiameter

import scala.jdk.CollectionConverters._

/** JVM geometry kernels over JTS 1.20 (the one geometry lib in the sandbox).
  * Geometry travels between operators as WKB `BinaryType` columns plus cached
  * envelope (xmin,ymin,xmax,ymax) Double columns — the GeoParquet-style layout
  * (SURVEY.md §1.2) — and is only materialized as JTS objects inside
  * per-partition kernels. All readers/writers are confined per-thread
  * (JTS readers are not thread-safe).
  */
object JtsGeo {

  // Use OverlayNG for all Geometry overlay ops — matches GEOS ≥3.9 (what the
  // reference's shapely 2 calls), and survives degenerate inputs the legacy
  // overlay throws TopologyException on. Must be set before GeometryOverlay
  // is initialized.
  System.setProperty("jts.overlay", "ng")

  val factory = new GeometryFactory(new PrecisionModel(), 0)

  // thread-confined codecs
  private val wkbR = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbW = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter(2))

  def fromWkb(b: Array[Byte]): Geometry = wkbR.get.read(b)
  def toWkb(g: Geometry): Array[Byte] = wkbW.get.write(g)

  def point(x: Double, y: Double): Point = factory.createPoint(new Coordinate(x, y))

  def box(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Polygon =
    factory.createPolygon(Array(
      new Coordinate(xmin, ymin), new Coordinate(xmax, ymin),
      new Coordinate(xmax, ymax), new Coordinate(xmin, ymax),
      new Coordinate(xmin, ymin)))

  /** Polygon from a flat [x1,y1,x2,y2,…] ring (COCO segmentation layout,
    * reference coco.py:258); auto-closes the ring. */
  def polygonFromFlat(flat: Seq[Double]): Polygon = {
    val pts = flat.grouped(2).map(p => new Coordinate(p(0), p(1))).toArray
    val closed = if (pts.nonEmpty && pts.head != pts.last) pts :+ pts.head.copy() else pts
    factory.createPolygon(closed)
  }

  /** Clip to a tile box, reference `gpd.clip` semantics (coordinates.py:184-191):
    * intersection, drop empties/non-areal, explode multiparts. */
  def clipToBox(g: Geometry, bx: Polygon): Seq[Polygon] = {
    val inter =
      try g.intersection(bx)
      catch { case _: org.locationtech.jts.geom.TopologyException =>
        makeValid(g).intersection(bx)
      }
    explodePolygons(inter)
  }

  /** Recursively pull polygon parts out of any geometry (GeometryCollection
    * from clip included), dropping empties — `explode(index_parts=True)`. */
  def explodePolygons(g: Geometry): Seq[Polygon] = g match {
    case p: Polygon if !p.isEmpty => Seq(p)
    case mp: GeometryCollection =>
      (0 until mp.getNumGeometries).flatMap(i => explodePolygons(mp.getGeometryN(i)))
    case _ => Seq.empty
  }

  /** One cascaded union of `gs`, in the order given; an empty polygon for
    * none. JTS union is float-sensitive to input order (SURVEY.md §7
    * hard-part 2), so the caller pins the order to get reproducible bytes:
    * [[graft.ops.GeomUnionAgg.union]] passes its inputs sorted by WKB
    * bytes. */
  def unionAll(gs: Seq[Geometry]): Geometry =
    if (gs.isEmpty) factory.createPolygon()
    else UnaryUnionOp.union(gs.asJava)

  /** shapely `Geometry.simplify` defaults to preserve_topology=True →
    * GEOS TopologyPreservingSimplifier (reference coco.py:445 uses the
    * default). A plain Douglas-Peucker collapses polygons smaller than the
    * tolerance to empties; the topology-preserving variant never does. */
  def simplify(g: Geometry, tol: Double): Geometry =
    org.locationtech.jts.simplify.TopologyPreservingSimplifier.simplify(g, tol)

  def minimumRotatedRectangle(g: Geometry): Geometry =
    MinimumDiameter.getMinimumRectangle(g)

  /** Validity repair cascade, reference orthogonalise.py:219-231 order:
    * buffer(0), then buffer(1e-7), then make_valid. */
  def makeValid(g: Geometry): Geometry = {
    if (g.isValid) return g
    val b0 = g.buffer(0)
    if (b0.isValid && !b0.isEmpty) return b0
    val b1 = g.buffer(1e-7)
    if (b1.isValid && !b1.isEmpty) return b1
    GeometryFixer.fix(g)
  }
}
