package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import graft.io.Coco.CocoTables
import graft.lake.Lake
import graft.model._
import graft.ops.CocoOps
import org.apache.spark.sql.{DataFrame, Dataset}

/** Batch orchestration (reference scripts/batch_geojson2coco.py:307-519,
  * SURVEY.md §3.3): the reference loops (raster, vector) pairs through
  * subprocesses with a resume() directory scan and a final concatenation
  * with global id re-indexing — its `--no-workers > 1` path raises
  * NotImplementedError. Here the work list is data: each pair runs as
  * three Lake stages (images, annotations, categories), each one write
  * published by one manifest (a stage with a committed manifest is read
  * back, not recomputed — kill/resume equivalence); the manifests carry
  * each stage's per-partition rows and bytes ([[Lake.lineage]]), and the
  * concat is [[CocoOps.concat]]'s shift-based re-indexing (no count of the
  * last part, categories merged on the driver).
  *
  * Concurrency: the stages of all pairs run at once, on a pool of
  * min(3 × pairs, defaultParallelism) threads that each call creates from
  * the calling thread, so every stage job carries the caller's Spark local
  * properties (job group, description, scheduler pool) and active session.
  * `run` returns or throws only after every stage has finished; the first
  * failure in (pair, stage) order is rethrown, the others are attached to
  * it as suppressed. The stage tables and the concat order are those of a
  * sequential run. One raster runs six Spark jobs.
  */
object BatchPipeline {

  /** Run geojson2coco for every (raster, features) pair, resumably; returns
    * the concatenated dataset. `jobId` keys the stage namespace and each
    * raster id its stage tables, so raster ids must be distinct. */
  def run(lake: Lake, jobId: String,
          pairs: Seq[(RasterMeta, Dataset[Feature])],
          params: GeojsonToCoco.Params): CocoTables = {
    require(pairs.nonEmpty)
    val ids = pairs.map(_._1.rasterId)
    val dup = ids.diff(ids.distinct)
    require(dup.isEmpty, s"raster id ${dup.head} appears more than once in one batch")
    val spark = pairs.head._2.sparkSession
    import spark.implicits._

    val stages = pairs.flatMap { case (raster, feats) =>
      // stages are idempotent: a completed pair is read back, not recomputed;
      // the first stage that needs the tables computes them, the others wait
      lazy val tables = GeojsonToCoco.run(feats, raster, params)
      def stage(name: String)(body: => DataFrame): Callable[DataFrame] =
        () => lake.runStage(jobId, s"${raster.rasterId}_$name")(body)
      Seq(stage("images")(tables.images.toDF()), stage("annotations")(tables.annotations.toDF()),
        stage("categories")(tables.categories.toDF()))
    }
    // submit creates the threads on this thread, so they inherit its local
    // properties; the threads of a shared pool would carry stale ones
    val threads = math.min(stages.size, spark.sparkContext.defaultParallelism)
    val pool = Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r, s"batch-$jobId"); t.setDaemon(true); t })
    // wait for every started stage, also when interrupted: a stage still
    // writing after run ends would race a resume of the same table
    val futures = try stages.map(pool.submit(_)) finally {
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
    CocoOps.concat(futures.map(_.get()).grouped(3).map { case Seq(imgs, anns, cats) =>
      CocoTables(imgs.as[CocoImage], anns.as[CocoAnnotation], cats.as[CocoCategory])
    }.toSeq)
  }
}
