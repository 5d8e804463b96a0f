package graft.queries

import graft.geo.{Affine, CellIndex, GeomCols, JtsGeo, Proj}
import graft.io.WebPages
import graft.ops.{Knn, SpatialJoins}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geospatial operator surface (SURVEY.md §2 G/J/P families) exercised over
  * points derived deterministically from `documents.doc_id` with pure integer
  * arithmetic — the same derivation is written in the DuckDB oracle, so every
  * double that crosses the compare is integer-valued (bit-exact under IEEE754
  * in both engines).
  *
  * World: [[CellIndex.Unit20]] (integer grid [0, 2^20)²).
  */
object GeoQueries {

  private val ci = CellIndex.Unit20

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic per-document point (mirrors `docPtsSql`). */
  def docPoints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      (col("doc_id") * 2654435761L % 1048576L).cast("double").as("x"),
      (col("doc_id") * 2246822519L % 1048576L).cast("double").as("y"))

  private val docPtsSql =
    """pts AS (SELECT doc_id,
        (doc_id*2654435761)%1048576 AS px,
        (doc_id*2246822519)%1048576 AS py FROM documents)"""

  private val zonesSql =
    """zs AS (SELECT range AS poly_id,
        (range*2654435761+12345)%950000 AS x0,
        ((range+1000)*2246822519+54321)%950000 AS y0,
        (range*2654435761+12345)%950000 + 20000+(range*104729)%80000 AS x1,
        ((range+1000)*2246822519+54321)%950000 + 20000+(range*7919)%80000 AS y1
        FROM range(64))"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // G12: hierarchical quadkey cell encoder as pure column arithmetic
    "q12_cell_assign" -> ((s, dir) => {
      docPoints(t(s, dir, "documents"))
        .select(col("doc_id"), ci.encodeCol(col("x"), col("y"), 12).as("cell_id"))
        .orderBy("doc_id")
    }),

    // J1a/A4: tile assignment + count per tile (the grid half of the
    // flagship PIP query)
    "q13_tile_count" -> ((s, dir) => {
      docPoints(t(s, dir, "documents"))
        .select(ci.colOfCol(col("x"), 6).as("tile_col"),
          ci.rowOfCol(col("y"), 6).as("tile_row"))
        .groupBy("tile_col", "tile_row").agg(count(lit(1)).as("cnt"))
        .orderBy("tile_col", "tile_row")
    }),

    // J1/J7: cell-grid decomposed point-in-box spatial join
    "q14_pip_join" -> ((s, dir) => {
      val pts = docPoints(t(s, dir, "documents"))
      val zones = WebPages.zones(s).drop("wkb")
      SpatialJoins.pointInBox(pts, zones, ci, 5)
        .select("doc_id", "poly_id")
        .orderBy("doc_id", "poly_id")
    }),

    // J8: exact kNN by iterative cell-ring expansion; grid level chosen
    // from point density (expected pts/cell ≈ k) so round 1 settles most
    // queries — a fixed fine level would multiply driver rounds
    "q15_knn" -> ((s, dir) => {
      val pts = docPoints(t(s, dir, "documents"))
      val q = pts.select(col("doc_id").as("qid"), col("x"), col("y"))
      val p = pts.select(col("doc_id").as("pid"), col("x"), col("y"))
      Knn.knnJoin(q, p, 3, ci)
        .select(col("qid"), col("rank").as("rnk"), col("pid"), col("dist2"))
        .orderBy("qid", "rnk")
    }),

    // P2/P3: affine world→pixel (floor) and back to pixel centre, by the
    // scalar transforms that geojson2coco and coco2geojson run
    "q16_affine" -> ((s, dir) => {
      import s.implicits._
      val aff = Affine.northUp(west = 0.0, north = 1048576.0, pixelW = 16.0, pixelH = 16.0)
      docPoints(t(s, dir, "documents")).as[(Long, Double, Double)]
        .map { case (id, x, y) =>
          val (prow, pcol) = aff.worldToPixel(x, y)
          val (cx, cy) = aff.pixelToWorld(pcol.toDouble, prow.toDouble)
          (id, pcol, prow, cx, cy)
        }
        .toDF("doc_id", "pcol", "prow", "cx", "cy")
        .orderBy("doc_id")
    }),

    // G8/G9: JTS clip of zone polygons to tile boxes (envelope output is
    // exact integer arithmetic, so the JTS path is oracle-checkable)
    "q17_clip" -> ((s, dir) => clipZonesToTiles(s)),

    // P8/P9/P10: segmentation array → shoelace area + COCO bbox, by the
    // scalar kernels that geojson2coco's clip pass runs
    "q18_shoelace" -> ((s, dir) => {
      import s.implicits._
      val d = docPoints(t(s, dir, "documents"))
        .withColumn("w", (col("doc_id") * 13 % 400 + 100).cast("double"))
        .withColumn("h", (col("doc_id") * 17 % 400 + 100).cast("double"))
        .withColumn("seg", array(
          col("x"), col("y") - col("h"), col("x") + col("w"), col("y"),
          col("x"), col("y") + col("h"), col("x") - col("w"), col("y")))
      d.select(col("doc_id"), col("seg")).as[(Long, Array[Double])]
        .map { case (id, seg) =>
          val b = GeomCols.bbox(seg)
          (id, GeomCols.shoelace(seg), b(0), b(1), b(2), b(3))
        }
        .toDF("doc_id", "area", "bx", "by", "bw", "bh")
        .orderBy("doc_id")
    }),

    // P15: marginal-bbox predicate incl. the reference's margin>0 quirk
    "q19_marginal" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("bx", (col("doc_id") * 13 % 120 - 10).cast("double"))
        .withColumn("by", (col("doc_id") * 17 % 120 - 10).cast("double"))
        .withColumn("bw", (col("doc_id") * 7 % 40).cast("double"))
        .withColumn("bh", (col("doc_id") * 11 % 40).cast("double"))
        .select(col("doc_id"),
          GeomCols.marginalCol(col("bx"), col("by"), col("bw"), col("bh"),
            lit(100.0), lit(100.0), lit(0.0)).as("marginal_m0"),
          GeomCols.marginalCol(col("bx"), col("by"), col("bw"), col("bh"),
            lit(100.0), lit(100.0), lit(5.0)).as("marginal_m5"))
        .orderBy("doc_id")
    }),

    // P1: WKT LOCAL_CS token parse, split/element_at (UDF-free)
    "q20_wkt" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("wkt", concat(lit("LOCAL_CS[\"zone_"), col("doc_id") % 7,
          lit("\",UNIT[\"m\",1]]")))
        .select(col("doc_id"), element_at(split(col("wkt"), "\""), 2).as("cs_name"))
        .orderBy("doc_id")
    }),

    // J1 + skew handling: salted variant must produce the identical join
    // (oracle shared with q14's plain inequality join)
    "q31_pip_salted" -> ((s, dir) => {
      val pts = docPoints(t(s, dir, "documents"))
      val zones = WebPages.zones(s).drop("wkb")
      SpatialJoins.pointInBoxSalted(pts, zones, ci, 5, hotThreshold = 50, saltFactor = 8)
        .select("doc_id", "poly_id")
        .orderBy("doc_id", "poly_id")
    }),

    // J1 + the north_rule's second skew tool: adaptive cell splitting (hot
    // base cells re-keyed at a finer G12 level) — identical join output,
    // oracle shared with q14. The hot threshold scales with input size
    // (4× the mean points per base cell, floor 16) so the bench measures
    // a realistic operating point — only genuinely dense cells re-key —
    // rather than the everything-hot worst case. Output identity across
    // thresholds (including everything-hot) is pinned in
    // SpatialJoinsSpec.
    "q38_pip_adaptive" -> ((s, dir) => {
      val pts = docPoints(t(s, dir, "documents"))
      val zones = WebPages.zones(s).drop("wkb")
      val baseCells = 1L << (2 * 5) // 4^level grid cells at level 5
      val hot = math.max(16L, 4L * pts.count() / baseCells)
      SpatialJoins.pointInBoxAdaptive(pts, zones, ci, level = 5, fineLevel = 7,
          hotThreshold = hot)
        .select("doc_id", "poly_id")
        .orderBy("doc_id", "poly_id")
    }),

    // P7: spherical-Mercator forward projection, by the functions the
    // EPSG:3857 hop of coco2geojson runs (Proj). Transcendental outputs
    // (ln/tan) differ between JVM and DuckDB libm in the last ulp, and
    // rounding cannot save a value straddling a rounding boundary — so the
    // gate compares (a) `mx`, Proj.mercatorX's R·((lon·π)/180), three IEEE754
    // ops in pinned association order (bit-exact in any engine), and (b) an
    // ENGINE-INTERNAL round-trip invariant: each engine computes its own
    // forward + inverse Mercator and checks
    // |invMercator(mercator(lat)) − lat| < 1e-9 (booleans hash identically).
    "q21_mercator" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") * 7 % 360 - 180).cast("double"),
          (col("doc_id") * 11 % 170 - 85).cast("double"))
        .as[(Long, Double, Double)]
        .map { case (id, lon, lat) =>
          (id, Proj.mercatorX(lon), math.abs(Proj.invMercatorLat(Proj.mercatorY(lat)) - lat) < 1e-9)
        }
        .toDF("doc_id", "mx", "rt_ok")
        .orderBy("doc_id")
    })
  )

  /** JTS clip kernel driven through the cell cover — q17 implementation. */
  private def clipZonesToTiles(s: SparkSession): DataFrame = {
    import s.implicits._
    val level = 4
    val cs = ci.cellSize(level) // 65536
    WebPages.zones(s).select(col("poly_id"), col("wkb"),
        explode(ci.cellsCoveringCol(col("xmin"), col("ymin"), col("xmax"), col("ymax"), level)))
      .as[(Long, Array[Byte], Long)]
      .flatMap { case (id, wkb, cell) =>
        val (tc, tr) = (CellIndex.colDecode(cell), CellIndex.rowDecode(cell))
        val tile = JtsGeo.box(tc * cs, tr * cs, (tc + 1) * cs, (tr + 1) * cs)
        JtsGeo.clipToBox(JtsGeo.fromWkb(wkb), tile).map { part =>
          val e = part.getEnvelopeInternal
          (id, tc, tr, e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, part.getArea)
        }
      }
      .toDF("poly_id", "tile_col", "tile_row", "ixmin", "iymin", "ixmax", "iymax", "area")
      .orderBy("poly_id", "tile_col", "tile_row")
  }

  val oracleSql: Map[String, String] = Map(
    "q12_cell_assign" ->
      s"""WITH $docPtsSql
         SELECT doc_id, ${CellIndex.packSql(12, "px>>8", "py>>8")} AS cell_id
         FROM pts ORDER BY doc_id""",
    "q13_tile_count" ->
      s"""WITH $docPtsSql
         SELECT px>>14 AS tile_col, py>>14 AS tile_row, count(*) AS cnt
         FROM pts GROUP BY 1,2 ORDER BY 1,2""",
    "q14_pip_join" ->
      s"""WITH $docPtsSql, $zonesSql
         SELECT doc_id, poly_id FROM pts JOIN zs
         ON x0 <= px AND px < x1 AND y0 <= py AND py < y1
         ORDER BY doc_id, poly_id""",
    "q31_pip_salted" ->
      s"""WITH $docPtsSql, $zonesSql
         SELECT doc_id, poly_id FROM pts JOIN zs
         ON x0 <= px AND px < x1 AND y0 <= py AND py < y1
         ORDER BY doc_id, poly_id""",
    "q38_pip_adaptive" ->
      s"""WITH $docPtsSql, $zonesSql
         SELECT doc_id, poly_id FROM pts JOIN zs
         ON x0 <= px AND px < x1 AND y0 <= py AND py < y1
         ORDER BY doc_id, poly_id""",
    "q15_knn" ->
      s"""WITH $docPtsSql,
         pairs AS (SELECT a.doc_id AS qid, b.doc_id AS pid,
             (a.px-b.px)*(a.px-b.px)+(a.py-b.py)*(a.py-b.py) AS d2
           FROM pts a JOIN pts b ON a.doc_id <> b.doc_id)
         SELECT qid, CAST(rn AS INTEGER) AS rnk, pid, CAST(d2 AS DOUBLE) AS dist2
         FROM (SELECT qid, pid, d2,
             row_number() OVER (PARTITION BY qid ORDER BY d2, pid) AS rn FROM pairs)
         WHERE rn <= 3 ORDER BY qid, rnk""",
    "q16_affine" ->
      s"""WITH $docPtsSql
         SELECT doc_id,
           CAST(floor(px/16.0) AS BIGINT) AS pcol,
           CAST(floor((1048576-py)/16.0) AS BIGINT) AS prow,
           CAST(16.0*(floor(px/16.0)+0.5) AS DOUBLE) AS cx,
           CAST(1048576 - 16.0*(floor((1048576-py)/16.0)+0.5) AS DOUBLE) AS cy
         FROM pts ORDER BY doc_id""",
    "q17_clip" ->
      s"""WITH $zonesSql,
         cover AS (SELECT poly_id, x0, y0, x1, y1, tc.range AS tile_col, tr.range AS tile_row
           FROM zs, range(16) tc, range(16) tr
           WHERE tc.range BETWEEN x0//65536 AND least(x1//65536, 15)
             AND tr.range BETWEEN y0//65536 AND least(y1//65536, 15))
         SELECT poly_id, tile_col, tile_row,
           CAST(greatest(x0, tile_col*65536) AS DOUBLE) AS ixmin,
           CAST(greatest(y0, tile_row*65536) AS DOUBLE) AS iymin,
           CAST(least(x1, (tile_col+1)*65536) AS DOUBLE) AS ixmax,
           CAST(least(y1, (tile_row+1)*65536) AS DOUBLE) AS iymax,
           CAST((least(x1, (tile_col+1)*65536) - greatest(x0, tile_col*65536)) *
                (least(y1, (tile_row+1)*65536) - greatest(y0, tile_row*65536)) AS DOUBLE) AS area
         FROM cover
         WHERE least(x1, (tile_col+1)*65536) > greatest(x0, tile_col*65536)
           AND least(y1, (tile_row+1)*65536) > greatest(y0, tile_row*65536)
         ORDER BY poly_id, tile_col, tile_row""",
    "q18_shoelace" ->
      s"""WITH $docPtsSql,
         d AS (SELECT doc_id, px, py,
             (doc_id*13)%400 + 100 AS w, (doc_id*17)%400 + 100 AS h FROM pts)
         SELECT doc_id,
           CAST(2.0*w*h AS DOUBLE) AS area,
           CAST(px - w AS DOUBLE) AS bx, CAST(py - h AS DOUBLE) AS by,
           CAST(2*w AS DOUBLE) AS bw, CAST(2*h AS DOUBLE) AS bh
         FROM d ORDER BY doc_id""",
    "q19_marginal" ->
      """SELECT doc_id,
           FALSE AS marginal_m0,
           (bx < 100 - 5.0 OR bx + bw > 100 + 5.0 OR
            by < 100 - 5.0 OR by + bh > 100 + 5.0) AS marginal_m5
         FROM (SELECT doc_id,
             CAST((doc_id*13)%120 - 10 AS DOUBLE) AS bx,
             CAST((doc_id*17)%120 - 10 AS DOUBLE) AS by,
             CAST((doc_id*7)%40 AS DOUBLE) AS bw,
             CAST((doc_id*11)%40 AS DOUBLE) AS bh
           FROM documents) ORDER BY doc_id""",
    "q20_wkt" ->
      """SELECT doc_id, string_split('LOCAL_CS["zone_' || (doc_id%7) || '",UNIT["m",1]]', '"')[2] AS cs_name
         FROM documents ORDER BY doc_id""",
    "q21_mercator" ->
      """SELECT doc_id,
           6378137.0 * ((lon * pi()) / 180.0) AS mx,
           abs(degrees(2.0 * atan(exp(
             (6378137.0 * ln(tan(pi()/4 + radians(lat)/2))) / 6378137.0))
             - pi()/2) - lat) < 1e-9 AS rt_ok
         FROM (SELECT doc_id,
             CAST((doc_id*7)%360 - 180 AS DOUBLE) AS lon,
             CAST((doc_id*11)%170 - 85 AS DOUBLE) AS lat
           FROM documents) ORDER BY doc_id"""
  )
}
