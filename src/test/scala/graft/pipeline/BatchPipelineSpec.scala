package graft.pipeline

import graft.SparkSpec
import graft.geo.JtsGeo
import graft.lake.Lake
import graft.model.{Feature, RasterMeta}
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._

class BatchPipelineSpec extends SparkSpec {

  def raster(id: String, west: Double): RasterMeta =
    RasterMeta(id, 80, 80, 2.0, 0, west, 0, -2.0, 2000.0, "local")

  def features(west: Double) = {
    val spark2 = spark
    import spark2.implicits._
    val g = JtsGeo.box(west + 10, 1900, west + 50, 1950)
    val e = g.getEnvelopeInternal
    Seq(Feature(0, JtsGeo.toWkb(g), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, "building"))
      .toDS()
  }

  test("batch run concats pairs with global ids; rerun resumes from checkpoints") {
    val lake = new Lake(java.nio.file.Files.createTempDirectory("bp").toString, spark)
    val pairs = Seq(
      (raster("rA", 1000.0), features(1000.0)),
      (raster("rB", 5000.0), features(5000.0)))
    val p = GeojsonToCoco.Params(tileWidth = 80, tileHeight = 80)

    val out = BatchPipeline.run(lake, "job", pairs, p)
    val imgs = out.images.collect().sortBy(_.id)
    assert(imgs.length == 2)
    assert(imgs.map(_.fileName).toSeq == Seq("0_tile_0-0.png", "1_tile_0-0.png"))
    assert(out.annotations.collect().map(_.id).sorted.toSeq == Seq(0L, 1L))
    assert(out.categories.count() == 1) // "building" deduped by name

    // one stage per raster checkpointed; rerun must read back, not recompute
    assert(Seq("rA", "rB").forall(r => lake.snapshotIds(s"job/${r}_annotations").nonEmpty))
    val out2 = BatchPipeline.run(lake, "job", pairs, p)
    assert(out2.annotations.collect().map(a => (a.id, a.imageId, a.area)).toSet ==
      out.annotations.collect().map(a => (a.id, a.imageId, a.area)).toSet)

    // lineage captured rows for each stage
    assert(lake.lineage().where(col("jobId") === "job").count() >= 2)
  }

  def freshLake(): Lake = new Lake(java.nio.file.Files.createTempDirectory("bp").toString, spark)
  val p = GeojsonToCoco.Params(tileWidth = 80, tileHeight = 80)

  test("a raster id that appears twice in one batch is refused, naming the id") {
    val pairs = Seq((raster("rA", 1000.0), features(1000.0)),
      (raster("rB", 5000.0), features(5000.0)), (raster("rA", 9000.0), features(9000.0)))
    val lake = freshLake()
    val e = intercept[IllegalArgumentException](BatchPipeline.run(lake, "job", pairs, p))
    e.getMessage should include("rA")
    Seq("rA", "rB").map(r => lake.snapshotIds(s"job/${r}_annotations")) shouldBe Seq(Nil, Nil)
  }

  test("every job of the concurrent stages carries the caller's job group") {
    // 4 rasters: 4 stages on a pool of at most 4 threads
    val pairs = (0 until 4).map { i => val west = 1000.0 + 4000 * i
      (raster(s"r$i", west), features(west)) }
    val lake = freshLake()
    // 16 tiles per raster; the feature straddles 4 of them
    val small = GeojsonToCoco.Params(tileWidth = 20, tileHeight = 20)
    val (out, inGroup, all) =
      JobCounter.countAll(spark.sparkContext)(BatchPipeline.run(lake, "job", pairs, small))
    assert((0 until 4).forall(i => lake.snapshotIds(s"job/r${i}_annotations").nonEmpty))
    inGroup should be >= 8 // at least the 4 category lists and the 4 annotation writes
    inGroup shouldBe all
    out.annotations.count() shouldBe 16
    // the images and categories ride in the manifests: no part file holds them
    lake.lineage().where(!col("stage").endsWith("_annotations")).count() shouldBe 0
    out.images.count() shouldBe 64
  }

  test("a failed stage is rethrown only after the other stages have committed") {
    // malformed WKB: the category list reads no geometry, so the raster
    // fails in its annotation write, before its manifest commits anything
    val bad = {
      val spark2 = spark
      import spark2.implicits._
      Seq(Feature(0, Array[Byte](1, 2, 3), 1010, 1900, 1050, 1950, "building")).toDS()
    }
    val lake = freshLake()
    intercept[org.apache.spark.SparkException](BatchPipeline.run(lake, "job",
      Seq((raster("bad", 1000.0), bad), (raster("good", 5000.0), features(5000.0))), p))
    lake.snapshotIds("job/good_annotations") should not be empty
    lake.snapshotIds("job/bad_annotations") shouldBe empty
  }

  test("a stage committed without images and categories is refused on resume, naming it") {
    val lake = freshLake()
    lake.writeSnapshot(spark.range(0, 1).toDF("id"), "job/rA_annotations")
    val e = intercept[IllegalArgumentException](
      BatchPipeline.run(lake, "job", Seq((raster("rA", 1000.0), features(1000.0))), p))
    e.getMessage should include("job/rA_annotations")
  }

  test("a raster whose features all lie outside it commits zero annotations with its images and categories") {
    val lake = freshLake()
    val pairs = Seq((raster("out", 1000.0), features(9000.0)))
    def rows(t: graft.io.Coco.CocoTables) =
      (t.images.collect().toSeq, t.annotations.collect().length, t.categories.collect().toSeq)
    val fresh = rows(BatchPipeline.run(lake, "job", pairs, p))
    fresh._1.map(_.fileName) shouldBe Seq("0_tile_0-0.png")
    fresh._2 shouldBe 0
    fresh._3.map(_.name) shouldBe Seq("building")
    lake.manifest("job/out_annotations", 0).get("rows").asLong shouldBe 0
    rows(BatchPipeline.run(lake, "job", pairs, p)) shouldBe fresh
  }
}
