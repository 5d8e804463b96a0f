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
  * partition. This operator keeps the same output with a scalable plan. It
  * decides from the partitions it sees, never from a size estimate, in two
  * arms:
  *
  * 1. An input that is already one partition is sorted where it is
  *    (`coalesce(1)`, no exchange) and numbered with
  *    `monotonically_increasing_id`, which in partition 0 is the row
  *    position: the call runs no job, and the consumer's action is the only
  *    one. "Already one partition" is read off the input's physical plan
  *    without running it: a plan with no exchange and no subquery whose RDD
  *    has one partition (a one-file scan, a one-partition local relation,
  *    and the narrow work over them).
  * 2. Any other input is range-repartitioned with no partition count, so
  *    adaptive execution sizes the partitions from the bytes the exchange
  *    actually wrote (coalescing them to one for a small input), then
  *    sorted in each partition and numbered by Spark's `RDD.zipWithIndex`:
  *    each row's id is its partition's prefix-sum offset + its local rank.
  *    Taking the RDD runs the sample job and the exchange inside the call;
  *    when more than one partition is left, one more job counts partitions
  *    0..n−2. An input whose rows outgrow its plan (a clip that emits k
  *    annotations per feature) is numbered by as many tasks as its bytes
  *    need, however small its estimate.
  *
  * Exactness requires the order key to be a total order (unique); ties
  * would make the id assignment partition-dependent — same caveat as
  * `row_number` with a non-unique key.
  */
object Ids {

  def denseId(df: DataFrame, idName: String, orderCols: Seq[String]): DataFrame = {
    val cols = orderCols.map(col)
    if (isOnePartition(df)) {
      df.coalesce(1).sortWithinPartitions(cols: _*).withColumn(idName, monotonically_increasing_id())
    } else {
      val sorted = df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
      // RangePartitioner samples with a per-RDD seed, so two separately
      // planned executions of the same Dataset can land rows on different
      // partitions in the count pass vs the emit pass. zipWithIndex counts
      // and emits over ONE RDD instance, which pins one partitioning for both
      // passes (the sample job runs once, the exchange's shuffle files are
      // written once and re-read by both jobs as skipped stages) without
      // persisting anything.
      val out = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
      df.sparkSession.createDataFrame(out, sorted.schema.add(idName, LongType, nullable = false))
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
