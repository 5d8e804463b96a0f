package graft.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.geo.JtsGeo
import graft.model.Feature
import org.apache.spark.sql.{Dataset, SparkSession}
import org.locationtech.jts.geom._

import scala.jdk.CollectionConverters._

/** GeoJSON FeatureCollection codec (SURVEY.md S3/S4), hand-rolled over the
  * Jackson shipped with Spark — no GDAL/fiona exists here. Geometry becomes
  * WKB + envelope columns (the engine's standard layout, §1.2); properties
  * keep only the class column by default (the reference reads the full
  * attribute table but the pipelines use class + geometry).
  *
  * Parsing runs distributed: `wholetext` read → per-document parse in
  * `flatMap` (one FeatureCollection per file; many files scale out).
  */
object GeoJson {

  def parseDocument(text: String, classColumn: String, classDefault: String): Seq[(Geometry, String, Map[String, String])] = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(text)
    val feats = root.get("features")
    if (feats == null || !feats.isArray) return Seq.empty
    feats.asScala.toSeq.map { f =>
      val geom = parseGeometry(f.get("geometry"))
      val props = f.get("properties")
      val propMap: Map[String, String] =
        if (props == null) Map.empty
        else props.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      val cls = propMap.getOrElse(classColumn, classDefault)
      (geom, cls, propMap)
    }
  }

  def parseGeometry(g: JsonNode): Geometry = {
    val gf = JtsGeo.factory
    def coord(n: JsonNode) = new Coordinate(n.get(0).asDouble(), n.get(1).asDouble())
    def ring(n: JsonNode) = n.asScala.map(coord).toArray
    def polygon(n: JsonNode): Polygon = {
      val rings = n.asScala.toSeq
      val shell = gf.createLinearRing(ring(rings.head))
      val holes = rings.tail.map(r => gf.createLinearRing(ring(r))).toArray
      gf.createPolygon(shell, holes)
    }
    g.get("type").asText() match {
      case "Point" => gf.createPoint(coord(g.get("coordinates")))
      case "LineString" => gf.createLineString(ring(g.get("coordinates")))
      case "Polygon" => polygon(g.get("coordinates"))
      case "MultiPolygon" =>
        gf.createMultiPolygon(g.get("coordinates").asScala.map(polygon).toArray)
      case "MultiPoint" =>
        gf.createMultiPointFromCoords(ring(g.get("coordinates")))
      case "MultiLineString" =>
        gf.createMultiLineString(
          g.get("coordinates").asScala.map(ls => gf.createLineString(ring(ls))).toArray)
      case "GeometryCollection" =>
        gf.createGeometryCollection(
          g.get("geometries").asScala.map(parseGeometry).toArray)
      case other => throw new IllegalArgumentException(s"unsupported geometry: $other")
    }
  }

  /** Read one-or-many GeoJSON files into the typed Feature layout.
    * featureId is GLOBAL across files: dense ids in (file path, in-file
    * ordinal) order via [[graft.ops.Ids.denseId]] — per-file ids restarting
    * at 0 would collide on multi-file reads and corrupt first-appearance
    * factorization (reference reads one layer per call,
    * scripts/geojson2coco.py:180; the engine reads many). */
  def read(spark: SparkSession, path: String, classColumn: String = "class",
           classDefault: String = "class"): Dataset[Feature] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val docs = spark.read.option("wholetext", true).text(path)
      .select(input_file_name().as("path"), col("value"))
      .as[(String, String)]
    val local = docs.flatMap { case (p, text) =>
      parseDocument(text, classColumn, classDefault).zipWithIndex.map {
        case ((geom, cls, props), i) =>
          val e = geom.getEnvelopeInternal
          (p, i.toLong, JtsGeo.toWkb(geom), e.getMinX, e.getMinY, e.getMaxX,
            e.getMaxY, cls, props)
      }
    }.toDF("path", "i", "wkb", "xmin", "ymin", "xmax", "ymax", "zoneName", "props")
    graft.ops.Ids.denseId(local, "featureId", Seq("path", "i"))
      .drop("path", "i")
      .as[Feature]
  }

  // ---------- writer ----------

  def geometryToNode(mapper: ObjectMapper, g: Geometry): ObjectNode = {
    val node = mapper.createObjectNode()
    def coords(cs: Array[Coordinate]): ArrayNode = {
      val arr = mapper.createArrayNode()
      cs.foreach { c =>
        val p = mapper.createArrayNode(); p.add(c.x); p.add(c.y); arr.add(p)
      }
      arr
    }
    def polyCoords(p: Polygon): ArrayNode = {
      val arr = mapper.createArrayNode()
      arr.add(coords(p.getExteriorRing.getCoordinates))
      (0 until p.getNumInteriorRing).foreach(i =>
        arr.add(coords(p.getInteriorRingN(i).getCoordinates)))
      arr
    }
    g match {
      case p: Polygon =>
        node.put("type", "Polygon"); node.set[JsonNode]("coordinates", polyCoords(p))
      case mp: MultiPolygon =>
        node.put("type", "MultiPolygon")
        val arr = mapper.createArrayNode()
        (0 until mp.getNumGeometries).foreach(i =>
          arr.add(polyCoords(mp.getGeometryN(i).asInstanceOf[Polygon])))
        node.set[JsonNode]("coordinates", arr)
      case pt: Point =>
        node.put("type", "Point")
        val p = mapper.createArrayNode(); p.add(pt.getX); p.add(pt.getY)
        node.set[JsonNode]("coordinates", p)
      case ls: LineString =>
        node.put("type", "LineString")
        node.set[JsonNode]("coordinates", coords(ls.getCoordinates))
      case mls: MultiLineString =>
        node.put("type", "MultiLineString")
        val arr = mapper.createArrayNode()
        (0 until mls.getNumGeometries).foreach(i =>
          arr.add(coords(mls.getGeometryN(i).getCoordinates)))
        node.set[JsonNode]("coordinates", arr)
      case mp: MultiPoint =>
        node.put("type", "MultiPoint")
        node.set[JsonNode]("coordinates", coords(mp.getCoordinates))
      case gc: GeometryCollection =>
        node.put("type", "GeometryCollection")
        val arr = mapper.createArrayNode()
        (0 until gc.getNumGeometries).foreach(i =>
          arr.add(geometryToNode(mapper, gc.getGeometryN(i))))
        node.set[JsonNode]("geometries", arr)
      case other => throw new IllegalArgumentException(s"unsupported write: ${other.getGeometryType}")
    }
    node
  }

  /** Single FeatureCollection document (driver assembly — reference
    * to_file contract); rows: (zone_code:int, zone_name:string, wkb). */
  def toDocument(rows: Seq[(Int, String, Array[Byte])]): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("type", "FeatureCollection")
    val feats = mapper.createArrayNode()
    rows.foreach { case (code, name, wkb) =>
      val f = feats.addObject()
      f.put("type", "Feature")
      val props = f.putObject("properties")
      props.put("zone_code", code); props.put("zone_name", name)
      f.set[JsonNode]("geometry", geometryToNode(mapper, JtsGeo.fromWkb(wkb)))
    }
    root.set[JsonNode]("features", feats)
    mapper.writeValueAsString(root)
  }
}
