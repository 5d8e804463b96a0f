package graft.ops

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class IdsSpec extends SparkSpec {

  private val noCoalesce = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  test("denseId matches row_number over the same order, distributed") {
    val df = spark.range(0, 10000, 1, 16).toDF("k")
      .withColumn("k", pmod(col("k") * 2654435761L, lit(99991L))) // shuffled-ish unique keys
      .distinct()
    val viaWindow = df.withColumn("id", row_number().over(Window.orderBy("k")).cast("long") - 1)
      .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withConf("spark.sql.shuffle.partitions" -> "8", noCoalesce) {
      val out = Ids.denseId(df, "id", Seq("k"))
      out.rdd.getNumPartitions shouldBe 8
      out.select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe viaWindow
    }
  }

  test("denseId ids are dense 0..n-1 and follow the sort order") {
    val spark2 = spark
    import spark2.implicits._
    // three input partitions, no exchange: the range arm, in two partitions
    val df = rddBacked(Seq(("c", 1), ("a", 2), ("b", 3)).toDF("k", "v"))
    withConf("spark.sql.shuffle.partitions" -> "2", noCoalesce) {
      val out = Ids.denseId(df, "nid", Seq("k"))
      out.rdd.getNumPartitions shouldBe 2
      out.select("k", "nid").collect().map(r => (r.getString(0), r.getLong(1))).toMap shouldBe
        Map("a" -> 0L, "b" -> 1L, "c" -> 2L)
    }
  }

  private def pairs(df: DataFrame, idCol: String): Set[(Option[Long], Long)] =
    df.select("k", idCol).collect().map { case Row(k, id: Long) => (Option(k).map(_.asInstanceOf[Long]), id) }.toSet

  test("both arms give row_number − 1 with AQE coalescing on and off; jobs per arm") {
    // distinct keys, no shuffle before denseId's own
    def keys(partitions: Int) = spark.range(0, 5000, 1, partitions).toDF("k")
      .withColumn("k", pmod(col("k") * 48271L, lit(99991L)))
    def withNullKey(df: DataFrame) = df.withColumn("k", when(col("k") === 48271L, lit(null)).otherwise(col("k")))
    val inputs = Seq(
      "one partition" -> keys(1), "8 partitions" -> keys(8),
      "empty, one partition" -> keys(1).where(col("k") < 0), "empty, 8 partitions" -> keys(8).where(col("k") < 0),
      "null key, one partition" -> withNullKey(keys(1)), "null key, 8 partitions" -> withNullKey(keys(8)))
    val sc = spark.sparkContext
    // (coalescing, input) → (jobs of the denseId call, jobs of the collect)
    val jobs = (for (coalesce <- Seq(true, false); (name, df) <- inputs) yield {
      val expected = pairs(df.withColumn("id", row_number().over(Window.orderBy("k")).cast("long") - 1), "id")
      withConf("spark.sql.adaptive.coalescePartitions.enabled" -> coalesce.toString) {
        val (out, callJobs) = JobCounter.count(sc)(Ids.denseId(df, "id", Seq("k")))
        val (got, collectJobs) = JobCounter.count(sc)(pairs(out, "id"))
        withClue(s"$name, coalescing $coalesce: ")(got shouldBe expected)
        (coalesce, name) -> ((callJobs, collectJobs))
      }
    }).toMap
    // one input partition is sorted where it is: nothing in the call, and
    // the collect is the only job (no sample, no exchange, no count)
    jobs((true, "one partition")) shouldBe ((0, 1))
    jobs((false, "one partition")) shouldBe ((0, 1))
    // 8 small partitions: the call runs the sample and the exchange, AQE
    // coalesces them to one partition, so no count job; then the emit pass
    jobs((true, "8 partitions")) shouldBe ((2, 1))
    // without coalescing, 4 partitions: sample, exchange and count
    jobs((false, "8 partitions")) shouldBe ((3, 1))
  }

  test("rows a flatMap multiplies past a small estimate are numbered in several partitions") {
    val spark2 = spark
    import spark2.implicits._
    // 200 rows (estimated at a few KiB) → 1,000,000 distinct keys
    val rows = spark.range(0, 200, 1, 4).as[Long]
      .flatMap(i => (0L until 5000L).map(j => (i * 5000L + j) * 48271L % 1000003L)).toDF("k")
    rows.queryExecution.optimizedPlan.stats.sizeInBytes should be < BigInt(1L << 20)
    val out = Ids.denseId(rows, "id", Seq("k"))
    out.rdd.getNumPartitions should be > 1
    val rn = out.withColumn("rn", row_number().over(Window.orderBy("k")).cast("long") - 1)
    rn.agg(count(lit(1)), sum(when(col("id") =!= col("rn"), 1).otherwise(0))).head() shouldBe Row(1000000L, 0L)
  }
}
