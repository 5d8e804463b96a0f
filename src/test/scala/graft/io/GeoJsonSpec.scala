package graft.io

import graft.SparkSpec
import graft.geo.JtsGeo

class GeoJsonSpec extends SparkSpec {

  val doc =
    """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"class":"building","other":1},
       "geometry":{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]],
                                                   [[2,2],[4,2],[4,4],[2,4],[2,2]]]}},
      {"type":"Feature","properties":{},
       "geometry":{"type":"MultiPolygon","coordinates":[
         [[[20,20],[30,20],[30,30],[20,30],[20,20]]],
         [[[40,40],[45,40],[45,45],[40,45],[40,40]]]]}}
    ]}"""

  test("parse: polygon with hole + multipolygon + class default") {
    val feats = GeoJson.parseDocument(doc, "class", "fallback")
    assert(feats.length == 2)
    val (g0, c0, p0) = feats(0)
    assert(c0 == "building")
    assert(g0.getArea == 100.0 - 4.0) // hole subtracted
    assert(p0 == Map("class" -> "building", "other" -> "1"))
    val (g1, c1, p1) = feats(1)
    assert(c1 == "fallback")
    assert(g1.getNumGeometries == 2 && g1.getArea == 125.0)
    assert(p1.isEmpty)
  }

  test("multi-file read assigns globally unique featureIds in (path, ordinal) order") {
    val tmp = java.nio.file.Files.createTempDirectory("gjmulti")
    java.nio.file.Files.writeString(tmp.resolve("a.geojson"), doc)
    java.nio.file.Files.writeString(tmp.resolve("b.geojson"), doc)
    val feats = GeoJson.read(spark, tmp.toString, "class", "fallback").collect()
    assert(feats.length == 4)
    assert(feats.map(_.featureId).toSet == Set(0L, 1L, 2L, 3L),
      "ids must be globally dense, not per-file")
    // stable factorization order: file a's features before file b's
    val byId = feats.sortBy(_.featureId)
    assert(byId.map(_.zoneName).toSeq == Seq("building", "fallback", "building", "fallback"))
  }

  test("distributed read produces the WKB+envelope Feature layout") {
    val tmp = java.nio.file.Files.createTempDirectory("gj")
    java.nio.file.Files.writeString(tmp.resolve("a.geojson"), doc)
    val feats = GeoJson.read(spark, tmp.toString, "class", "fallback").collect()
    assert(feats.length == 2)
    val f0 = feats.find(_.zoneName == "building").get
    assert((f0.xmin, f0.ymin, f0.xmax, f0.ymax) == ((0.0, 0.0, 10.0, 10.0)))
    assert(JtsGeo.fromWkb(f0.wkb).getArea == 96.0)
  }

  test("MultiLineString and GeometryCollection parse and round-trip (GDAL layers carry both)") {
    val gf = JtsGeo.factory
    val doc2 =
      """{"type":"FeatureCollection","features":[
        {"type":"Feature","properties":{"class":"road"},
         "geometry":{"type":"MultiLineString","coordinates":[
           [[0,0],[5,5],[10,0]],[[20,20],[25,25]]]}},
        {"type":"Feature","properties":{"class":"mixed"},
         "geometry":{"type":"GeometryCollection","geometries":[
           {"type":"Point","coordinates":[1,2]},
           {"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]},
           {"type":"LineString","coordinates":[[7,7],[9,9]]}]}}
      ]}"""
    val feats = GeoJson.parseDocument(doc2, "class", "?")
    assert(feats.length == 2)
    val mls = feats(0)._1.asInstanceOf[org.locationtech.jts.geom.MultiLineString]
    assert(mls.getNumGeometries == 2 && mls.getLength > 0)
    val gc = feats(1)._1.asInstanceOf[org.locationtech.jts.geom.GeometryCollection]
    assert(gc.getNumGeometries == 3)
    assert(gc.getGeometryN(1).getArea == 16.0)
    // writer round trip for each new type
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (g <- Seq[org.locationtech.jts.geom.Geometry](mls, gc,
        gf.createMultiPointFromCoords(Array(
          new org.locationtech.jts.geom.Coordinate(1, 2),
          new org.locationtech.jts.geom.Coordinate(3, 4))))) {
      val node = GeoJson.geometryToNode(mapper, g)
      val back = GeoJson.parseGeometry(node)
      assert(back.equalsExact(g), g.getGeometryType)
    }
  }

  test("write → parse round trip preserves geometry exactly") {
    val rows = Seq(
      (0, "a", JtsGeo.toWkb(JtsGeo.box(1.5, 2.5, 7.25, 9.75))),
      (1, "b", JtsGeo.toWkb(JtsGeo.factory.createMultiPolygon(Array(
        JtsGeo.box(0, 0, 1, 1), JtsGeo.box(5, 5, 6, 6))))))
    val text = GeoJson.toDocument(rows)
    val back = GeoJson.parseDocument(text, "zone_name", "?")
    assert(back.length == 2)
    assert(back(0)._1.equalsExact(JtsGeo.fromWkb(rows(0)._3)))
    assert(back(1)._1.equalsExact(JtsGeo.fromWkb(rows(1)._3)))
    assert(back(0)._2 == "a" && back(1)._2 == "b")
  }
}
