package graft.pipeline

import graft.SparkSpec
import graft.geo.JtsGeo
import graft.io.Coco
import graft.lake.Lake
import graft.model.{Feature, RasterMeta}
import graft.ops.Tiling
import org.apache.spark.JobCounter
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Golden round-trip fixtures (SURVEY.md §5.1): a tiny deterministic world —
  * one raster's metadata, hand-placed polygons (inside, tile-straddler,
  * multipart, degenerate) — with hand-computed expected COCO (ids, floored
  * pixel coords, shoelace areas, bboxes) and the expected GeoJSON-side merge
  * behavior (pixel-centre vertices, per-class union re-joining
  * tile-boundary splits into one polygon). */
class RoundTripSpec extends SparkSpec {

  /** plan traversal that descends into adaptive query stages */
  private val aqe = new AdaptiveSparkPlanHelper {}

  // raster: 100×80 px, 2 m pixels, north-up at (1000, 2000)
  val raster = RasterMeta("r", 100, 80, 2.0, 0, 1000.0, 0, -2.0, 2000.0, "local")

  def sq(x0: Double, y0: Double, x1: Double, y1: Double) = JtsGeo.box(x0, y0, x1, y1)

  def feat(id: Long, g: org.locationtech.jts.geom.Geometry, zone: String): Feature = {
    val e = g.getEnvelopeInternal
    Feature(id, JtsGeo.toWkb(g), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, zone)
  }

  lazy val features = {
    val spark2 = spark
    import spark2.implicits._
    val degenerate = JtsGeo.factory.createPolygon(Array(
      new org.locationtech.jts.geom.Coordinate(1005, 1905),
      new org.locationtech.jts.geom.Coordinate(1015, 1905),
      new org.locationtech.jts.geom.Coordinate(1010, 1905),
      new org.locationtech.jts.geom.Coordinate(1005, 1905))) // zero area
    val multi = JtsGeo.factory.createMultiPolygon(Array(
      sq(1010, 1850, 1030, 1870), sq(1040, 1850, 1070, 1880)))
    Seq(
      feat(0, sq(1010, 1930, 1050, 1970), "building"),  // inside tile_0-0
      feat(1, sq(1070, 1930, 1090, 1950), "road"),      // straddles x=1080
      feat(2, multi, "building"),                        // two parts in tile_0-40
      feat(3, degenerate, "building")                    // dropped (area 0)
    ).toDS()
  }

  lazy val tables = GeojsonToCoco.run(features, raster,
    GeojsonToCoco.Params(tileWidth = 40, tileHeight = 40))

  test("images: all 6 tiles, ids in sorted tile-name order (pinned vs glob)") {
    val imgs = tables.images.collect().sortBy(_.id)
    assert(imgs.map(_.fileName).toSeq == Seq(
      "tile_0-0.png", "tile_0-40.png", "tile_40-0.png",
      "tile_40-40.png", "tile_80-0.png", "tile_80-40.png"))
    assert(imgs.map(i => (i.width, i.height)).toSet == Set((40, 40), (20, 40)))
  }

  test("categories: first-appearance factorization in featureId order") {
    val cats = tables.categories.collect().sortBy(_.id)
    assert(cats.map(c => (c.id, c.name)).toSeq == Seq((0, "building"), (1, "road")))
  }

  test("annotations: ids, pixel coords (floor law), shoelace areas, bboxes") {
    val anns = tables.annotations.collect().sortBy(_.id)
    // degenerate dropped; F0→1, F1→2 (two tiles), F2→2 parts = 5 annotations
    assert(anns.length == 5)
    assert(anns.map(_.id).toSeq == Seq(0L, 1L, 2L, 3L, 4L))

    // ann 0: F0 in tile_0-0 → pixel square cols 5..25, rows 15..35
    val a0 = anns(0)
    assert(a0.imageId == 0 && a0.categoryId == 0)
    assert(a0.area == 400.0)
    assert(a0.bbox.toSeq == Seq(5.0, 15.0, 20.0, 20.0))
    val verts0 = a0.segmentation.grouped(2).map(p => (p(0), p(1))).toSet
    assert(verts0 == Set((5.0, 35.0), (25.0, 35.0), (25.0, 15.0), (5.0, 15.0)))
    // closing duplicate vertex is included (reference exterior.coords)
    assert(a0.segmentation.length == 5 * 2)

    // ann 1: F1 left piece in tile_0-0 → cols 35..40, rows 25..35
    val a1 = anns(1)
    assert(a1.imageId == 0 && a1.categoryId == 1)
    assert(a1.bbox.toSeq == Seq(35.0, 25.0, 5.0, 10.0))
    assert(a1.area == 50.0)

    // anns 2,3: F2 parts in tile_0-40 (areas 100 and 225 px)
    val (a2, a3) = (anns(2), anns(3))
    assert(a2.imageId == 1 && a3.imageId == 1)
    assert(Set(a2.area, a3.area) == Set(100.0, 225.0))

    // ann 4: F1 right piece in tile_40-0 → cols 0..5, rows 25..35
    val a4 = anns(4)
    assert(a4.imageId == 2 && a4.categoryId == 1)
    assert(a4.bbox.toSeq == Seq(0.0, 25.0, 5.0, 10.0))
  }

  test("round trip: per-class union re-joins the tile-boundary split (§3.2)") {
    val spark2 = spark
    import spark2.implicits._
    val tiles = Tiling.tilesFor(raster, 40, 40).toDS()
    val out = CocoToGeojson.run(tables, tiles, CocoToGeojson.Params())
      .collect()
    val byZone = out.groupBy(_.getString(1))
    // road: two pixel-centre pieces [1071,1081] and [1081,1091] merge into ONE
    val road = byZone("road")
    assert(road.length == 1, s"road parts: ${road.length}")
    val rg = JtsGeo.fromWkb(road.head.getAs[Array[Byte]](2))
    val re = rg.getEnvelopeInternal
    assert(re.getMinX == 1071.0 && re.getMaxX == 1091.0)
    assert(re.getMinY == 1929.0 && re.getMaxY == 1949.0)
    assert(rg.getArea == 20.0 * 20.0)

    // building: F0 (one part) + F2 (two disjoint parts) stay 3 parts
    val bld = byZone("building")
    assert(bld.length == 3, s"building parts: ${bld.length}")
  }

  test("COCO JSON document round-trips through write/read") {
    val doc = Coco.toJsonDocument(tables)
    assert(doc.contains("\"type\":\"instances\""))
    val tmp = java.nio.file.Files.createTempFile("coco", ".json")
    java.nio.file.Files.writeString(tmp, doc)
    val back = Coco.read(spark, tmp.toString)
    assert(back.images.count() == 6)
    assert(back.annotations.count() == 5)
    assert(back.categories.count() == 2)
    val a0 = back.annotations.collect().minBy(_.id)
    val orig = tables.annotations.collect().minBy(_.id)
    assert(a0.segmentation.toSeq == orig.segmentation.toSeq)
    assert(a0.area == orig.area && a0.bbox.toSeq == orig.bbox.toSeq)
  }

  test("envelope: license/info carried verbatim; nested segmentation round-trips") {
    // pipeline attaches the reference's MIT default license
    assert(tables.extras("license") == Coco.DefaultLicenseJson)
    val doc = Coco.toJsonDocument(tables.copy(
        extras = tables.extras + ("info" -> """{"year":2020,"description":"d"}""")),
      nestedSegmentation = true)
    // nested write: segmentation is a list of lists (batch_geojson2coco.py:436-441)
    assert(doc.contains("\"segmentation\":[["))
    val tmp = java.nio.file.Files.createTempFile("cocoNested", ".json")
    java.nio.file.Files.writeString(tmp, doc)
    val back = Coco.read(spark, tmp.toString)
    // extras preserved byte-for-byte through write → read
    assert(back.extras("license") == Coco.DefaultLicenseJson)
    assert(back.extras("info") == """{"year":2020,"description":"d"}""")
    // nested segmentation flattens back to the engine's flat ring layout
    val a0 = back.annotations.collect().minBy(_.id)
    val orig = tables.annotations.collect().minBy(_.id)
    assert(a0.segmentation.toSeq == orig.segmentation.toSeq)
    // concat carries licenses (array merge) and last-wins info
    val t1 = tables.copy(extras = Map("licenses" -> """[{"id":1}]""", "info" -> """{"v":1}"""))
    val t2 = tables.copy(extras = Map("licenses" -> """[{"id":2}]""", "info" -> """{"v":2}"""))
    val merged = graft.ops.CocoOps.concat(Seq(t1, t2)).extras
    assert(merged("licenses") == """[{"id":1},{"id":2}]""")
    assert(merged("info") == """{"v":2}""")
  }

  test("mixed per-annotation segmentation spellings parse row-by-row (RLE/null don't poison flat rows)") {
    // real COCO files mix flat rings, list-of-lists rings, RLE objects
    // (iscrowd=1) and absent segmentations in ONE file — a per-file schema
    // fallback silently nulls every flat row when any RLE row exists
    val doc =
      """{"images":[{"id":1,"file_name":"a.png","height":10,"width":10,"license":1}],
        |"annotations":[
        |{"id":1,"image_id":1,"category_id":0,"segmentation":[1.0,2.0,3.0,4.0,5.0,6.0],"bbox":[1,2,4,4],"area":8.0,"iscrowd":0},
        |{"id":2,"image_id":1,"category_id":0,"segmentation":[[7.0,8.0,9.0,10.0,11.0,12.0]],"bbox":[7,8,4,4],"area":8.0,"iscrowd":0},
        |{"id":3,"image_id":1,"category_id":0,"segmentation":{"counts":[0,100],"size":[10,10]},"bbox":[0,0,10,10],"area":100.0,"iscrowd":1},
        |{"id":4,"image_id":1,"category_id":0,"bbox":[0,0,1,1],"area":1.0,"iscrowd":1}],
        |"categories":[{"id":0,"name":"c","supercategory":""}],
        |"type":"instances"}""".stripMargin
    val tmp = java.nio.file.Files.createTempFile("cocoMixed", ".json")
    java.nio.file.Files.writeString(tmp, doc)
    val back = Coco.read(spark, tmp.toString).annotations.collect().sortBy(_.id)
    assert(back.length == 4)
    assert(back(0).segmentation.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0),
      "flat row must survive the presence of RLE rows")
    assert(back(1).segmentation.toSeq == Seq(7.0, 8.0, 9.0, 10.0, 11.0, 12.0),
      "nested row flattens")
    assert(back(2).segmentation == null, "RLE stays null (not representable as a ring)")
    assert(back(3).segmentation == null, "absent stays null")
    assert(back(2).iscrowd == 1 && back(3).iscrowd == 1)
  }

  def freshLake(): Lake = new Lake(java.nio.file.Files.createTempDirectory("lake").toString, spark)

  test("one raster: BatchPipeline.run and the coco2geojson collect start few Spark jobs") {
    val spark2 = spark
    import spark2.implicits._
    val sc = spark.sparkContext
    // the features in one partition, as a one-file read gives them
    val (t, runJobs) = JobCounter.count(sc)(BatchPipeline.run(freshLake(), "job",
      Seq(raster -> features.coalesce(1)), GeojsonToCoco.Params(tileWidth = 40, tileHeight = 40)))
    val tiles = Tiling.tilesFor(raster, 40, 40).map(m => m.copy(tileName = s"0_${m.tileName}")).toDS()
    val (out, c2gJobs) = JobCounter.count(sc)(CocoToGeojson.run(t, tiles, CocoToGeojson.Params()).collect())
    out.map(_.getString(1)).toSet shouldBe Set("building", "road")
    // run: category list, three stage writes, concat's category collect;
    // coco2geojson: the images collect for its driver-side affine map, then
    // 3 in the per-class union's query
    runJobs should be <= 5
    c2gJobs should be <= 4
    // concat remaps category ids without a join
    assert(aqe.collect(t.annotations.queryExecution.executedPlan) {
      case j: BaseJoinExec => j }.isEmpty, t.annotations.queryExecution.executedPlan)
  }

  test("features in one partition: the annotation stage has no exchange and the same rows") {
    val anns = GeojsonToCoco.run(features.coalesce(1), raster,
      GeojsonToCoco.Params(tileWidth = 40, tileHeight = 40)).annotations
    val (got, jobs) = JobCounter.count(spark.sparkContext)(anns.collect())
    jobs shouldBe 1
    val plan = anns.queryExecution.executedPlan
    assert(aqe.collect(plan) { case e: Exchange => e }.isEmpty, plan)
    // the fixture's 4 partitions take the range exchange: the same rows
    def rows(a: Array[graft.model.CocoAnnotation]) = a.sortBy(_.id).toSeq.map(x =>
      (x.id, x.imageId, x.categoryId, x.segmentation.toSeq, x.bbox.toSeq, x.area))
    rows(got) shouldBe rows(tables.annotations.collect())
    got.length shouldBe 5
  }

  test("BatchPipeline over 3 rasters: a resume on the same job id returns the one-shot tables") {
    // three rasters of unequal feature counts and different first classes
    val pairs = Seq(
      raster.copy(rasterId = "r0") -> features,
      raster.copy(rasterId = "r1") -> features.filter(_.featureId == 1),
      raster.copy(rasterId = "r2") -> features.filter(_.featureId != 1))
    val params = GeojsonToCoco.Params(tileWidth = 40, tileHeight = 40)
    val lake = freshLake()
    def rows(t: Coco.CocoTables) = (
      t.images.collect().map(i => (i.id, i.fileName)).sorted.toSeq,
      t.annotations.collect().map(a => (a.id, a.imageId, a.categoryId, a.segmentation.toSeq,
        a.area)).sortBy(_._1).toSeq,
      t.categories.collect().map(c => (c.id, c.name)).sorted.toSeq)
    val oneShot = rows(BatchPipeline.run(lake, "job", pairs, params))
    val resumed = rows(BatchPipeline.run(lake, "job", pairs, params))
    resumed shouldBe oneShot
    oneShot._1.map(_._1) shouldBe (0L until 18L)
    oneShot._2.map(_._1) shouldBe (0L until 10L)
    oneShot._3 shouldBe Seq((0, "building"), (1, "road"))
    // r1 holds only the road feature: its local category 0 maps to "road"
    oneShot._2.filter(a => a._2 >= 6 && a._2 < 12).map(_._3).toSet shouldBe Set(1)
  }
}
