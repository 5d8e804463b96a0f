package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense global id assignment without a single-partition window
  * (SURVEY.md §4.5, A11). The reference uses in-memory sequence positions
  * (coordinates.py:246, batch re-index batch_geojson2coco.py:399-450);
  * `row_number() over (order by …)` reproduces that but collapses to one
  * partition. This operator keeps the same output with a scalable plan:
  *
  * 1. with one output partition, `monotonically_increasing_id` over the
  *    input sorted in that partition: in partition 0 it is the row
  *    position, and the call plans without running a job.
  *    - An input that is already one partition is sorted where it is
  *      (`coalesce(1)`, no exchange), so the consumer's action is the only
  *      job. "Already one partition" is read off the input's physical plan
  *      without running it: a plan with no exchange and no subquery whose
  *      RDD has one partition (a one-file scan, a one-partition local
  *      relation, and the narrow work over them).
  *    - Any other input goes through `repartitionByRange(1, …)`, so the work
  *      upstream of the exchange keeps its own tasks. Coalescing it instead
  *      would run that work in one task: near the size threshold on 4 cores
  *      that was 15 % slower for an 8-file `GeoJson.read` (61.7 MiB
  *      estimate) and 2.0× slower for a 300k-feature tile clip over 8
  *      parquet files (README).
  * 2. with several, range-repartition + in-partition sort, then Spark's own
  *    `RDD.zipWithIndex`: one job counts partitions 0..n−2, and each row's
  *    id is its partition's prefix-sum offset + its local rank. Taking the
  *    RDD runs the sample and the exchange inside the call.
  *
  * Exactness requires the order key to be a total order (unique); ties
  * would make the id assignment partition-dependent — same caveat as
  * `row_number` with a non-unique key.
  */
object Ids {

  /** Plan-stats size (bytes) below which [[denseId]] sorts in ONE
    * partition: no reservoir sample and no count, and for an input that is
    * already one partition no exchange either, so no sample job and no
    * re-plan between the exchange and its consumer — for every
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
    if (parts == 1) {
      val one = if (isOnePartition(df)) df.coalesce(1) else df.repartitionByRange(1, cols: _*)
      one.sortWithinPartitions(cols: _*).withColumn(idName, monotonically_increasing_id())
    } else {
      val sorted = df.repartitionByRange(parts, cols: _*).sortWithinPartitions(cols: _*)
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

  /** Whether `df` is one partition, known without running a job: its
    * physical plan has no exchange (adaptive execution wraps every plan that
    * has one), no cached relation (whose buffers come from a plan of their
    * own) and no subquery, so building its RDD plans file splits and local
    * slices on the driver and starts nothing. */
  private def isOnePartition(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    val runsJobs = plan.exists {
      case _: Exchange | _: AdaptiveSparkPlanExec | _: InMemoryTableScanExec => true
      case p => p.subqueries.nonEmpty
    }
    !runsJobs && plan.execute().getNumPartitions == 1
  }
}
