package graft.pipeline

import graft.io.Coco
import graft.io.Coco.CocoTables
import graft.lake.Lake
import graft.model._
import graft.ops.CocoOps
import org.apache.spark.sql.Dataset

/** Batch orchestration (reference scripts/batch_geojson2coco.py:307-519,
  * SURVEY.md §3.3): the reference loops (raster, vector) pairs through
  * subprocesses with a resume() directory scan and a final concatenation
  * with global id re-indexing — its `--no-workers > 1` path raises
  * NotImplementedError. Here the work list is data: each pair runs as
  * Lake stages, each one write published by one manifest (a stage with a
  * committed manifest is read back, not recomputed — kill/resume
  * equivalence); the manifests carry each stage's per-partition rows and
  * bytes ([[Lake.lineage]]), and the concat is [[CocoOps.concat]]'s
  * shift-based re-indexing (no count of the last part, categories merged
  * on the driver): one raster runs six Spark jobs.
  */
object BatchPipeline {

  /** Run geojson2coco for every (raster, features) pair, resumably; returns
    * the concatenated dataset. `jobId` keys the stage namespace. */
  def run(lake: Lake, jobId: String,
          pairs: Seq[(RasterMeta, Dataset[Feature])],
          params: GeojsonToCoco.Params): CocoTables = {
    require(pairs.nonEmpty)
    val spark = pairs.head._2.sparkSession
    import spark.implicits._

    val perPair = pairs.map { case (raster, feats) =>
      val rid = raster.rasterId
      // stages are idempotent: a completed pair is read back, not recomputed
      lazy val tables = GeojsonToCoco.run(feats, raster, params)
      val imgs = lake.runStage(jobId, s"${rid}_images")(tables.images.toDF())
      val anns = lake.runStage(jobId, s"${rid}_annotations")(tables.annotations.toDF())
      val cats = lake.runStage(jobId, s"${rid}_categories")(tables.categories.toDF())
      CocoTables(imgs.as[CocoImage], anns.as[CocoAnnotation], cats.as[CocoCategory])
    }
    CocoOps.concat(perPair)
  }
}
