package perfbench

import java.nio.file.Path

import graft.lake.Lake
import graft.model.{Feature, RasterMeta, TileMeta}
import graft.pipeline.{BatchPipeline, CocoToGeojson, GeojsonToCoco}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's two dataflows: geojson2coco through resumable Lake stages
  * for each raster, then coco2geojson (per-class union, simplify,
  * orthogonalise) over the concatenated output.
  *
  * Features are axis-aligned rectangles (some features have two) whose
  * corners sit a quarter pixel into a pixel, in EPSG:3857 metres with 1 m
  * pixels. Then the floor law of world→pixel and the pixel-centre law of
  * pixel→world shift every vertex by exactly a quarter pixel, a piece cut
  * at a tile edge meets its neighbour exactly, and the expected counts and
  * areas follow in closed form from the rectangles. Rectangles sit in
  * separate 64-px slots (at least 4 px apart), a quarter of which are
  * centred on a tile edge, so many features straddle tiles and the
  * per-class union re-joins each rectangle into exactly one part. */
object CocoRoundTrip extends Workload {
  val name = "coco_round_trip"
  /** a pass takes ~4.5 s: one untimed pass keeps a run in budget */
  val warmPasses = 1

  /** every raster adds three Lake stages, ~30 Spark jobs and ~3 s to a
    * pass; one raster keeps a run (a cold set-up, 1 untimed and 5 timed
    * passes) in budget */
  val Rasters = 1
  val Size = 2048
  val Tile = 256
  private val Slot = 64
  private val SlotOff = 32
  /** class weights are skewed, so one reduce task of the per-class union
    * gets most of the polygons */
  val Classes: Seq[(String, Double)] =
    Seq("building" -> 0.55, "road" -> 0.25, "vegetation" -> 0.12, "water" -> 0.08)
  private val OriginX = 16800000.0
  private val OriginY = -4000000.0
  val LayerCrs = "EPSG:3857"

  val g2cParams: GeojsonToCoco.Params = GeojsonToCoco.Params(tileWidth = Tile, tileHeight = Tile)
  val c2gParams: CocoToGeojson.Params = CocoToGeojson.Params(
    simplifyTolerance = 1e-6, orthogonalise = true, layerCrs = Some(LayerCrs))
  /** relative area tolerance of the coco2geojson output: the EPSG:3857 ↔
    * lon/lat hop of simplify/orthogonalise rounds each vertex */
  val AreaRelTol = 1e-6

  def raster(i: Int): RasterMeta =
    RasterMeta(s"r$i", Size, Size, 1.0, 0.0, OriginX + i * (Size + 1024), 0.0, -1.0, OriginY, LayerCrs)

  /** one rectangle in pixel columns/rows; corners at (i + 0.25, j + 0.25) */
  final case class Rect(i0: Int, j0: Int, i1: Int, j1: Int) {
    def area: Long = (i1 - i0).toLong * (j1 - j0)
    def tiles: Long = (i1 / Tile - i0 / Tile + 1).toLong * (j1 / Tile - j0 / Tile + 1)
  }
  final case class Feat(id: Long, cls: String, rects: Seq[Rect])

  def features(seed: Long, r: Int): Seq[Feat] = {
    val rng = Rng.stream(seed, 5000L + r)
    val n = (Size - 2 * SlotOff) / Slot
    val used = Array.fill(n * n)(false)
    def rectIn(si: Int, sj: Int): Rect = {
      def span(o: Int): (Int, Int) = {
        val w = 6 + rng.below(Slot - 10)
        val a = o + 2 + rng.below(Slot - 4 - w)
        // an edge a quarter pixel past a tile edge would leave a zero-width
        // pixel piece; keep every piece at least one pixel wide
        (a, if ((a + w) % Tile == 0) a + w - 1 else a + w)
      }
      val (i0, i1) = span(SlotOff + si * Slot)
      val (j0, j1) = span(SlotOff + sj * Slot)
      Rect(i0, j0, i1, j1)
    }
    val out = Seq.newBuilder[Feat]
    var fid = 0L
    for (sj <- 0 until n; si <- 0 until n if !used(sj * n + si)) {
      if (rng.uniform() < 0.85) {
        var u = rng.uniform()
        val cls = Classes.find { case (_, w) => u -= w; u < 0 }.getOrElse(Classes.last)._1
        val two = si + 1 < n && !used(sj * n + si + 1) && rng.uniform() < 0.1
        val slots = if (two) Seq(si, si + 1) else Seq(si)
        slots.foreach(s => used(sj * n + s) = true)
        out += Feat(fid, cls, slots.map(rectIn(_, sj)))
        fid += 1
      }
    }
    out.result()
  }

  def toFeature(r: RasterMeta, f: Feat): Feature = {
    val polys = f.rects.map { q =>
      Geo.rect(r.c + q.i0 + 0.25, r.f - (q.j1 + 0.25), r.c + q.i1 + 0.25, r.f - (q.j0 + 0.25))
    }
    val g = if (polys.size == 1) polys.head else Geo.gf.createMultiPolygon(polys.toArray)
    val e = g.getEnvelopeInternal
    Feature(f.id, Geo.wkb(g), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, f.cls)
  }

  /** tile metadata for coco2geojson, named like concat's `<i>_` file prefix */
  def tiles(i: Int): Seq[TileMeta] = {
    val r = raster(i)
    for (colOff <- 0 until Size by Tile; rowOff <- 0 until Size by Tile)
      yield TileMeta(r.rasterId, s"${i}_tile_$colOff-$rowOff", colOff, rowOff, Tile, Tile,
        r.a, r.b, r.c + r.a * colOff, r.d, r.e, r.f + r.e * rowOff)
  }

  def prepare(spark: SparkSession, dir: Path, seed: Long): (Map[String, Any], Expectation) = {
    import spark.implicits._
    val feats = (0 until Rasters).map(r => features(seed, r))
    feats.zipWithIndex.foreach { case (fs, r) =>
      spark.createDataset(fs.map(toFeature(raster(r), _))).coalesce(1)
        .write.parquet(dir.resolve(s"features-$r").toString)
    }
    val all = feats.flatten
    val rects = all.flatMap(f => f.rects.map(f.cls -> _))
    val byClass = rects.groupBy(_._1)
    val area = rects.map(_._2.area).sum
    val exact = Map(
      "images" -> Rasters.toLong * (Size / Tile) * (Size / Tile),
      "annotations" -> rects.map(_._2.tiles).sum,
      "categories" -> byClass.size.toLong) ++
      byClass.map { case (c, rs) => s"parts.$c" -> rs.size.toLong }
    val approx = Map("annotation_area_px" -> ((area.toDouble, 1e-6))) ++
      byClass.map { case (c, rs) =>
        val a = rs.map(_._2.area).sum.toDouble
        s"area_m2.$c" -> ((a, a * AreaRelTol))
      }
    val props = Map(
      "rows" -> all.size, "polygons" -> rects.size, "vertices_per_ring" -> 4,
      "hole_share" -> 0.0,
      "multipart_share" -> all.count(_.rects.size > 1).toDouble / all.size,
      "straddle_share" -> rects.count(_._2.tiles > 1).toDouble / rects.size,
      "classes" -> byClass.size, "class_shares" -> byClass.map { case (c, rs) =>
        c -> rs.size.toDouble / rects.size },
      "rasters" -> Rasters, "tiles" -> exact("images"), "tile_px" -> Tile, "raster_px" -> Size)
    (props, Expectation(exact, approx))
  }

  final class Opened(spark: SparkSession, in: Prepared.Inputs, val work: Path, tr: Tracer)
      extends Runner {
    import spark.implicits._
    val pairs: Seq[(RasterMeta, Dataset[Feature])] = (0 until Rasters).map { r =>
      (raster(r), spark.read.parquet(in.dir.resolve(s"features-$r").toString).as[Feature])
    }
    val tileMeta: Dataset[TileMeta] = spark.createDataset((0 until Rasters).flatMap(tiles))
    val inputRows: Long = in.rows
    val annotationsWritten: Long = in.expect.exact("annotations")
    private val areaOf = udf((b: Array[Byte]) => Geo.fromWkb(b).getArea)
    /** (lake root, job id) of the latest pass, kept for the resume */
    var last: Option[(Path, String)] = None

    def lakeRoot(id: String): Path = work.resolve(s"lake-$id")

    def batch(id: String, lakeDir: Path): graft.io.Coco.CocoTables =
      tr.span("pipeline.batch_run") {
        BatchPipeline.run(new Lake(lakeDir.toString, spark), s"job-$id", pairs, g2cParams)
      }

    /** images, annotations (with their total pixel area) and categories of
      * the concatenated tables */
    def tableChecks(t: graft.io.Coco.CocoTables): Observed = tr.span("spark.action.coco") {
      val ann = t.annotations.agg(count(lit(1)), sum("area")).head()
      Observed(Map("images" -> t.images.count(), "annotations" -> ann.getLong(0),
        "categories" -> t.categories.count()), Map("annotation_area_px" -> ann.getDouble(1)))
    }

    def pass(id: String): Observed = {
      val root = lakeRoot(id)
      val t = batch(id, root)
      val checked = tableChecks(t)
      val out = tr.span("pipeline.c2g") { CocoToGeojson.run(t, tileMeta, c2gParams) }
      val perClass = tr.span("spark.action.c2g") {
        out.groupBy("zone_name").agg(count(lit(1)), sum(areaOf(col("wkb")))).collect()
      }
      last = Some((root, s"job-$id"))
      Observed(
        checked.exact ++ perClass.map(r => s"parts.${r.getString(0)}" -> r.getLong(1)),
        checked.approx ++ perClass.map(r => s"area_m2.${r.getString(0)}" -> r.getDouble(2)))
    }

    /** BatchPipeline.run again on the latest completed job id: every stage
      * is read back from the Lake instead of recomputed. */
    def resume(): Observed = {
      val (root, job) = last.get
      val t = tr.span("pipeline.batch_resume") {
        BatchPipeline.run(new Lake(root.toString, spark), job, pairs, g2cParams)
      }
      tableChecks(t)
    }
  }

  def open(spark: SparkSession, in: Prepared.Inputs, work: Path, tr: Tracer): Runner =
    new Opened(spark, in, work, tr)
}
