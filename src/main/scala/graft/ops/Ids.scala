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
  * 2. with one partition, `monotonically_increasing_id`: in partition 0 it
  *    is the row position, and the call plans without running a job;
  * 3. with several, Spark's own `RDD.zipWithIndex`: one job counts
  *    partitions 0..n−2, and each row's id is its partition's prefix-sum
  *    offset + its local rank. Taking the RDD runs the sample and the
  *    exchange inside the call.
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
    val sorted = df.repartitionByRange(parts, cols: _*).sortWithinPartitions(cols: _*)
    if (parts == 1) sorted.withColumn(idName, monotonically_increasing_id())
    else {
      // RangePartitioner samples with a per-RDD seed, so two separately
      // planned executions of the same Dataset can land rows on different
      // partitions in the count pass vs the emit pass. zipWithIndex counts
      // and emits over ONE RDD instance, which pins one partitioning for both
      // passes (the sample job runs once, the exchange's shuffle files are
      // written once and re-read by both jobs as skipped stages) without
      // persisting anything.
      val out = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
      spark.createDataFrame(out, sorted.schema.add(idName, LongType, nullable = false))
    }
  }
}
