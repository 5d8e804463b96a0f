package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense global id assignment without a single-partition window
  * (SURVEY.md §4.5, A11). The reference uses in-memory sequence positions
  * (coordinates.py:246, batch re-index batch_geojson2coco.py:399-450);
  * `row_number() over (order by …)` reproduces that but collapses to one
  * partition. This operator keeps the same output with a scalable plan:
  *
  * 1. range-repartition + in-partition sort by the order columns,
  * 2. one cheap count-per-partition job (none for one partition: offset 0),
  * 3. per-partition prefix-sum offsets broadcast, ids = offset + local rank.
  *
  * Exactness requires the order key to be a total order (unique); ties
  * would make the id assignment partition-dependent — same caveat as
  * `row_number` with a non-unique key.
  */
object Ids {

  /** Plan-stats size (bytes) below which [[denseId]] range-partitions to
    * ONE partition: RangePartitioner skips its reservoir-sample pass
    * entirely at numPartitions == 1 (rangeBounds is empty), removing one
    * full execution of the input subtree per call — a whole job for every
    * vocab/dense-id build on a dim-sized input (round 6; measured on
    * q08/q10/q27/q44). Same auto-select idiom as
    * [[Similarity.BroadcastVecBytes]]: the decision comes from Catalyst's
    * size estimate, so corpus-scale inputs keep the full partition count —
    * this is a size threshold, not a local-core-count tune (an under-estimate
    * puts the whole input into one sorted partition). Override per session
    * with `graft.ids.singlePartitionBytes`. */
  val SinglePartitionBytes: Long = 64L << 20

  def denseId(df: DataFrame, idName: String, orderCols: Seq[String],
              numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val threshold = spark.conf
      .get("graft.ids.singlePartitionBytes", SinglePartitionBytes.toString).toLong
    val parts = if (numPartitions > 0) numPartitions
      else if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)) 1
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cols = orderCols.map(col)
    // RangePartitioner samples with a per-RDD seed, so two separately
    // planned executions of the same Dataset can land rows on different
    // partitions in the count pass vs the emit pass. Dropping to ONE RDD
    // instance pins one partitioning for both passes (the sample job runs
    // once, the exchange's shuffle files are written once and re-read by
    // both jobs as skipped stages) WITHOUT persisting anything — the
    // previous MEMORY_AND_DISK persist here pinned a cached copy per call
    // until LRU eviction (GeoJson/Shapefile/vocab each call this once per
    // read; long sessions accumulated storage).
    val sorted = df.repartitionByRange(parts, cols: _*).sortWithinPartitions(cols: _*)
    val rdd = sorted.rdd

    // pass 1, only with several partitions (one partition's offset is 0):
    // rows per partition, collected in partition order → prefix sums
    val offsets = if (parts == 1) Array(0L)
      else rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)

    // pass 2: emit offset + local ordinal over the SAME RDD instance
    val outSchema = sorted.schema.add(idName, LongType, nullable = false)
    val out = rdd.mapPartitionsWithIndex { (p, it) =>
      var i = bc.value(p)
      it.map { r => val o = Row.fromSeq(r.toSeq :+ i); i += 1; o }
    }
    spark.createDataFrame(out, outSchema)
  }
}
