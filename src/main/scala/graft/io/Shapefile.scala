package graft.io

import graft.geo.JtsGeo
import graft.model.Feature
import org.apache.spark.sql.{Dataset, SparkSession}
import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.geom._

import java.nio.{ByteBuffer, ByteOrder}

/** ESRI Shapefile codec (SURVEY.md S3 — the reference reads any GDAL vector
  * format via `gpd.read_file`, scripts/geojson2coco.py:180 /
  * batch_geojson2coco.py:85, and Shapefile is the dominant GIS interchange
  * format). Hand-rolled over the public format spec (ESRI Shapefile
  * Technical Description, 1998) — no GDAL/fiona exists in this sandbox.
  *
  * Read path is distributed: `binaryFile` scan of the `.shp` payloads, a
  * same-stem equi-join to the sibling `.dbf` attribute tables (dBASE III),
  * then per-pair parsing in `flatMap`. One shapefile is one task (the
  * format is a single-file container — at fleet scale inputs arrive as
  * many files, which is exactly what scales out); featureIds are globally
  * dense in (path, record) order like [[GeoJson.read]]. The `.prj` is not
  * read: the caller names the layer CRS (`GeojsonToCoco.Params.layerCrs`).
  *
  * Shape types: Point (1), PolyLine (3), Polygon (5), MultiPoint (8) and
  * their Z/M variants (11/13/15/18 — Z/M values ignored). Polygon ring
  * grouping follows the spec: clockwise = shell, counter-clockwise = hole
  * of the containing shell.
  */
object Shapefile {

  // ---------- .shp geometry parsing ----------

  /** Parse a whole .shp payload into geometries (record order). */
  def parseShp(bytes: Array[Byte]): Seq[Geometry] = {
    val buf = ByteBuffer.wrap(bytes)
    buf.order(ByteOrder.BIG_ENDIAN)
    require(buf.getInt(0) == 9994, "not a shapefile (magic != 9994)")
    val fileWords = buf.getInt(24) // length in 16-bit words incl. header
    val out = Seq.newBuilder[Geometry]
    var pos = 100
    while (pos + 8 <= math.min(fileWords * 2, bytes.length)) {
      val contentWords = buf.getInt(pos + 4) // record content length
      val g = parseRecord(bytes, pos + 8, contentWords * 2)
      g.foreach(out += _)
      pos += 8 + contentWords * 2
    }
    out.result()
  }

  private def parseRecord(bytes: Array[Byte], off: Int, len: Int): Option[Geometry] = {
    val b = ByteBuffer.wrap(bytes, off, len).order(ByteOrder.LITTLE_ENDIAN)
    val gf = JtsGeo.factory
    val shapeType = b.getInt
    shapeType match {
      case 0 => None // null shape
      case 1 | 11 | 21 => // Point / PointZ / PointM
        Some(gf.createPoint(new Coordinate(b.getDouble, b.getDouble)))
      case 8 | 18 | 28 => // MultiPoint (+Z/M)
        b.position(b.position() + 32) // box
        val n = b.getInt
        Some(gf.createMultiPointFromCoords(
          Array.fill(n)(new Coordinate(b.getDouble, b.getDouble))))
      case 3 | 13 | 23 => // PolyLine (+Z/M)
        val parts = readParts(b)
        val lines = parts.map(cs => gf.createLineString(cs))
        Some(if (lines.length == 1) lines.head
          else gf.createMultiLineString(lines.toArray))
      case 5 | 15 | 25 => // Polygon (+Z/M)
        Some(assemblePolygon(readParts(b)))
      case other =>
        throw new IllegalArgumentException(s"unsupported shape type: $other")
    }
  }

  /** Common PolyLine/Polygon body: box, numParts, numPoints, part offsets,
    * points — returns one Coordinate array per part. */
  private def readParts(b: ByteBuffer): Seq[Array[Coordinate]] = {
    b.position(b.position() + 32) // box
    val nParts = b.getInt
    val nPoints = b.getInt
    val offsets = Array.fill(nParts)(b.getInt)
    val pts = Array.fill(nPoints)(new Coordinate(b.getDouble, b.getDouble))
    (0 until nParts).map { i =>
      val end = if (i + 1 < nParts) offsets(i + 1) else nPoints
      pts.slice(offsets(i), end)
    }
  }

  /** Spec ring semantics: CW rings are shells, CCW rings are holes of the
    * shell containing them. Each hole is assigned to exactly ONE shell —
    * the innermost (smallest-area) shell covering its first vertex, the
    * GDAL `organizePolygons` rule the reference inherits via fiona. With
    * nested shells (island-in-lake) the outer shell also covers the inner
    * shell's holes, and adjacent shells both cover a boundary-touching
    * hole vertex; filtering per shell independently would duplicate the
    * hole into several polygons. `covers` (not `contains`) so a hole
    * vertex ON the shell boundary still assigns. */
  private def assemblePolygon(rings: Seq[Array[Coordinate]]): Geometry = {
    val gf = JtsGeo.factory
    val (shells, holes) = rings.partition(r => !Orientation.isCCW(r))
    val shellRings = (if (shells.isEmpty) rings else shells) // degenerate: treat all as shells
      .map(gf.createLinearRing)
    val holeRings = if (shells.isEmpty) Seq.empty else holes.map(gf.createLinearRing)
    val shellPolys = shellRings.map(gf.createPolygon)
    val holesByShell: Map[Int, Seq[LinearRing]] = holeRings.map { h =>
      // primary test: the shell covers the ENTIRE hole ring (boundary
      // contact allowed). A point test alone mis-assigns twice over: a
      // first-vertex test ties between two shells sharing the edge the
      // vertex sits on, and an interior-point test hands a lake hole to an
      // island shell sitting at the lake's centre.
      val hp = gf.createPolygon(h)
      // relate can throw on rings real-world files ship (self-touching,
      // shared segments) — treat a throwing shell as non-covering and let
      // the point fallbacks decide
      val byRing = shellPolys.zipWithIndex.filter(p =>
        scala.util.Try(p._1.covers(hp)).getOrElse(false))
      val pool =
        if (byRing.nonEmpty) byRing
        else {
          val byVertex = shellPolys.zipWithIndex
            .filter(_._1.covers(gf.createPoint(h.getCoordinateN(0))))
          if (byVertex.nonEmpty) byVertex
          else shellPolys.zipWithIndex
            .filter(_._1.getEnvelopeInternal.contains(h.getEnvelopeInternal))
        }
      // deterministic innermost pick: smallest area, index breaks ties
      val owner = pool.sortBy(p => (p._1.getArea, p._2)).headOption
        .map(_._2).getOrElse(0)
      owner -> h
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val polys = shellRings.zipWithIndex.map { case (shell, i) =>
      gf.createPolygon(shell, holesByShell.getOrElse(i, Seq.empty).toArray)
    }
    if (polys.length == 1) polys.head else gf.createMultiPolygon(polys.toArray)
  }

  // ---------- .dbf attribute parsing (dBASE III) ----------

  /** Parse a .dbf payload into one Map per record (values trimmed). */
  def parseDbf(bytes: Array[Byte]): Seq[Map[String, String]] = {
    if (bytes == null || bytes.length < 32) return Seq.empty
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val nRecords = b.getInt(4)
    val headerSize = b.getShort(8) & 0xFFFF
    val recordSize = b.getShort(10) & 0xFFFF
    val fields = Seq.newBuilder[(String, Int)]
    var pos = 32
    while (pos + 32 <= headerSize && bytes(pos) != 0x0D) {
      val nameEnd = (pos until pos + 11).find(bytes(_) == 0).getOrElse(pos + 11)
      val name = new String(bytes, pos, nameEnd - pos, "US-ASCII")
      val len = bytes(pos + 16) & 0xFF
      fields += ((name, len))
      pos += 32
    }
    val fs = fields.result()
    (0 until nRecords).flatMap { r =>
      val base = headerSize + r.toLong * recordSize
      if (base + recordSize > bytes.length) None
      else if (bytes(base.toInt) == '*') None // deleted record
      else {
        var o = base.toInt + 1
        Some(fs.map { case (name, len) =>
          val v = new String(bytes, o, len, "US-ASCII").trim
          o += len
          name -> v
        }.toMap)
      }
    }
  }

  // ---------- distributed read ----------

  /** Read .shp(+.dbf) files under `path` into the typed Feature
    * layout. `path` may be a directory or glob; sibling files pair by stem. */
  def read(spark: SparkSession, path: String, classColumn: String = "class",
           classDefault: String = "class"): Dataset[Feature] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def files(glob: String) = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(path)
      .select(regexp_replace(col("path"), "\\.[A-Za-z]+$", "").as("stem"),
        col("content"))
    val shp = files("*.shp")
    val dbf = files("*.dbf").withColumnRenamed("content", "dbfContent")
    val paired = shp.join(dbf, Seq("stem"), "left")
      .select(col("stem"), col("content"), col("dbfContent"))
      .as[(String, Array[Byte], Array[Byte])]
    val local = paired.flatMap { case (stem, shpBytes, dbfBytes) =>
      val geoms = parseShp(shpBytes)
      val props = parseDbf(dbfBytes)
      geoms.zipWithIndex.map { case (g, i) =>
        val p = if (i < props.length) props(i) else Map.empty[String, String]
        val cls = p.getOrElse(classColumn, classDefault)
        val e = g.getEnvelopeInternal
        (stem, i.toLong, JtsGeo.toWkb(g), e.getMinX, e.getMinY, e.getMaxX,
          e.getMaxY, cls, p)
      }
    }.toDF("path", "i", "wkb", "xmin", "ymin", "xmax", "ymax", "zoneName", "props")
    graft.ops.Ids.denseId(local, "featureId", Seq("path", "i"))
      .drop("path", "i")
      .as[Feature]
  }

  // ---------- minimal writer (round-trip tests; polygons only) ----------

  /** Write Polygon/MultiPolygon rows + string attributes as stem.shp/.dbf.
    * Shells are emitted clockwise and holes counter-clockwise per spec. */
  def write(stem: String, rows: Seq[(Geometry, Map[String, String])],
            fields: Seq[(String, Int)]): Unit = {
    // --- .shp ---
    val records = rows.map { case (g, _) => polygonRecord(g) }
    val fileLen = 100 + records.map(_.length + 8).sum
    val shp = ByteBuffer.allocate(fileLen)
    val env = new Envelope()
    rows.foreach { case (g, _) => env.expandToInclude(g.getEnvelopeInternal) }
    shp.order(ByteOrder.BIG_ENDIAN)
    shp.putInt(0, 9994)
    shp.putInt(24, fileLen / 2)
    shp.order(ByteOrder.LITTLE_ENDIAN)
    shp.putInt(28, 1000)
    shp.putInt(32, 5)
    shp.putDouble(36, env.getMinX); shp.putDouble(44, env.getMinY)
    shp.putDouble(52, env.getMaxX); shp.putDouble(60, env.getMaxY)
    shp.position(100)
    records.zipWithIndex.foreach { case (rec, i) =>
      shp.order(ByteOrder.BIG_ENDIAN)
      shp.putInt(i + 1); shp.putInt(rec.length / 2)
      shp.put(rec)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$stem.shp"), shp.array())

    // --- .dbf ---
    val recordSize = 1 + fields.map(_._2).sum
    val headerSize = 32 + fields.length * 32 + 1
    val dbf = ByteBuffer.allocate(headerSize + rows.length * recordSize + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    dbf.put(0, 0x03.toByte)
    dbf.putInt(4, rows.length)
    dbf.putShort(8, headerSize.toShort)
    dbf.putShort(10, recordSize.toShort)
    fields.zipWithIndex.foreach { case ((name, len), i) =>
      val o = 32 + i * 32
      val nb = name.getBytes("US-ASCII").take(10)
      dbf.put(o, nb, 0, nb.length)
      dbf.put(o + 11, 'C'.toByte)
      dbf.put(o + 16, len.toByte)
    }
    dbf.put(headerSize - 1, 0x0D.toByte)
    rows.zipWithIndex.foreach { case ((_, props), r) =>
      var o = headerSize + r * recordSize
      dbf.put(o, ' '.toByte); o += 1
      fields.foreach { case (name, len) =>
        val v = props.getOrElse(name, "").getBytes("US-ASCII").take(len)
        dbf.put(o, v, 0, v.length)
        (v.length until len).foreach(j => dbf.put(o + j, ' '.toByte))
        o += len
      }
    }
    dbf.put(dbf.capacity() - 1, 0x1A.toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$stem.dbf"), dbf.array())
  }

  private def polygonRecord(g: Geometry): Array[Byte] = {
    val polys = (0 until g.getNumGeometries).map(g.getGeometryN(_).asInstanceOf[Polygon])
    val rings: Seq[Array[Coordinate]] = polys.flatMap { p =>
      val shell = p.getExteriorRing.getCoordinates
      val shellCW = if (Orientation.isCCW(shell)) shell.reverse else shell
      val holes = (0 until p.getNumInteriorRing).map { i =>
        val h = p.getInteriorRingN(i).getCoordinates
        if (Orientation.isCCW(h)) h else h.reverse
      }
      shellCW +: holes
    }
    val nPoints = rings.map(_.length).sum
    val len = 4 + 32 + 8 + 4 * rings.length + 16 * nPoints
    val b = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(5)
    val e = g.getEnvelopeInternal
    b.putDouble(e.getMinX); b.putDouble(e.getMinY)
    b.putDouble(e.getMaxX); b.putDouble(e.getMaxY)
    b.putInt(rings.length); b.putInt(nPoints)
    rings.scanLeft(0)(_ + _.length).dropRight(1).foreach(b.putInt)
    rings.foreach(_.foreach { c => b.putDouble(c.x); b.putDouble(c.y) })
    b.array()
  }
}
