package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.io.Coco.CocoTables
import graft.lake.Lake
import graft.model._
import graft.ops.CocoOps
import org.apache.spark.sql.Dataset

/** Batch orchestration (reference scripts/batch_geojson2coco.py:307-519,
  * SURVEY.md §3.3): the reference loops (raster, vector) pairs through
  * subprocesses with a resume() directory scan and a final concatenation
  * with global id re-indexing — its `--no-workers > 1` path raises
  * NotImplementedError. Here the work list is data: each pair runs as one
  * Lake stage, `<raster>_annotations`. Its manifest is the raster's commit
  * point: besides the annotation table's data directory, rows, bytes,
  * per-partition rows and bytes ([[Lake.lineage]]), schema and wall time,
  * its `meta` holds the raster's COCO images and categories rows, so one
  * rename commits all three tables of a raster or none of them. A raster
  * with a committed manifest is read back, not recomputed (kill/resume
  * equivalence); one committed without images and categories in its `meta`
  * is refused, not recomputed. A fresh run reads back what it committed, as
  * a resume does: the annotations from the Lake, the images and categories
  * decoded from the manifest into local Datasets, which no Spark job writes
  * or scans. The concat is [[CocoOps.concat]]'s shift-based re-indexing (no count of the
  * last part, categories merged on the driver).
  *
  * Concurrency: the rasters run at once, on a pool of min(pairs,
  * defaultParallelism) threads that each call creates from the calling
  * thread, so every stage job carries the caller's Spark local properties
  * (job group, description, scheduler pool) and active session. `run`
  * returns or throws only after every raster has finished; the first
  * failure in raster order is rethrown, the others are attached to it as
  * suppressed. The tables and the concat order are those of a sequential
  * run. One raster whose features are one partition runs two Spark jobs:
  * the category list and the annotation write; features in several
  * partitions add the annotation ids' range sample and exchange, and a
  * count when adaptive execution leaves more than one partition. Its resume
  * runs none.
  */
object BatchPipeline {

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Run geojson2coco for every (raster, features) pair, resumably; returns
    * the concatenated dataset. `jobId` keys the stage namespace and each
    * raster id its stage table, so raster ids must be distinct. */
  def run(lake: Lake, jobId: String,
          pairs: Seq[(RasterMeta, Dataset[Feature])],
          params: GeojsonToCoco.Params): CocoTables = {
    require(pairs.nonEmpty)
    val ids = pairs.map(_._1.rasterId)
    val dup = ids.diff(ids.distinct)
    require(dup.isEmpty, s"raster id ${dup.head} appears more than once in one batch")
    val spark = pairs.head._2.sparkSession
    import spark.implicits._

    def commit(raster: RasterMeta, feats: Dataset[Feature]): Callable[CocoTables] = () => {
      val stage = s"${raster.rasterId}_annotations"
      // the body and the meta share one geojson2coco run; neither runs on a resume
      lazy val tables = GeojsonToCoco.run(feats, raster, params)
      val anns = lake.runStage(jobId, stage, json.valueToTree[JsonNode](Map(
        "images" -> tables.images.collect(), "categories" -> tables.categories.collect())))(
        tables.annotations.toDF())
      val table = s"$jobId/$stage"
      val dims = lake.manifest(table, lake.snapshotIds(table).last).path("meta")
      require(dims.has("images") && dims.has("categories"),
        s"stage $table is committed without its images and categories; run the batch under a new job id")
      CocoTables(spark.createDataset(json.treeToValue(dims.get("images"), classOf[Array[CocoImage]]).toSeq),
        anns.as[CocoAnnotation],
        spark.createDataset(json.treeToValue(dims.get("categories"), classOf[Array[CocoCategory]]).toSeq))
    }
    val rasters = pairs.map { case (raster, feats) => commit(raster, feats) }
    // submit creates the threads on this thread, so they inherit its local
    // properties; the threads of a shared pool would carry stale ones
    val threads = math.min(rasters.size, spark.sparkContext.defaultParallelism)
    val pool = Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r, s"batch-$jobId"); t.setDaemon(true); t })
    // wait for every started raster, also when interrupted: a stage still
    // writing after run ends would race a resume of the same table
    val futures = try rasters.map(pool.submit(_)) finally {
      pool.shutdown()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(1, TimeUnit.MINUTES)
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
    val failures = futures.flatMap { f =>
      try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    CocoOps.concat(futures.map(_.get()))
  }
}
