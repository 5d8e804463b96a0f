package graft.ops

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class IdsSpec extends SparkSpec {

  test("denseId matches row_number over the same order, distributed") {
    val df = spark.range(0, 10000, 1, 16).toDF("k")
      .withColumn("k", pmod(col("k") * 2654435761L, lit(99991L))) // shuffled-ish unique keys
      .distinct()
    val viaWindow = df.withColumn("id", row_number().over(Window.orderBy("k")).cast("long") - 1)
      .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPrefix = Ids.denseId(df, "id", Seq("k"), numPartitions = 8)
      .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefix == viaWindow)
  }

  test("denseId ids are dense 0..n-1 and follow the sort order") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("c", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val got = Ids.denseId(df, "nid", Seq("k"), numPartitions = 2)
      .select("k", "nid").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("stats-adaptive single-partition arm assigns identical ids (round 6)") {
    // distinct keys over 8 input partitions, no shuffle before denseId's own
    val df = spark.range(0, 5000, 1, 8).toDF("k")
      .withColumn("k", pmod(col("k") * 48271L, lit(99991L)))
    val sc = spark.sparkContext
    // (ids, jobs of the denseId call, jobs of the collect); adaptive
    // execution runs the range exchange when the multi-partition arm takes
    // the RDD, and at the collect for the one-partition arm
    def run(thresholdBytes: Long): (Set[(Long, Long)], Int, Int) = {
      spark.conf.set("graft.ids.singlePartitionBytes", thresholdBytes.toString)
      try {
        val (out, callJobs) = JobCounter.count(sc)(Ids.denseId(df, "id", Seq("k")))
        val (ids, collectJobs) = JobCounter.count(sc)(
          out.select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
        (ids, callJobs, collectJobs)
      } finally spark.conf.unset("graft.ids.singlePartitionBytes")
    }
    // force the single-partition arm vs the multi-partition arm: same ids
    val (one, oneCall, oneCollect) = run(Long.MaxValue)
    val (multi, multiCall, multiCollect) = run(0L)
    one shouldBe multi
    one.map(_._2) shouldBe (0L until 5000L).toSet
    // one partition: nothing in the call; the collect runs the exchange,
    // then the emit pass; no sample, no count
    (oneCall, oneCollect) shouldBe ((0, 2))
    // several partitions: sample, exchange and count, then the emit pass
    (multiCall, multiCollect) shouldBe ((3, 1))
  }
}
