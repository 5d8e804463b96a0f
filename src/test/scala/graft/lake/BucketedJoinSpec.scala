package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The co-located-join layout: two tables bucketed identically on the join
  * key must sort-merge-join with NO shuffle exchange — the property that
  * makes repeated fact⋈fact joins affordable at 100 TB (each join saves a
  * full shuffle of both sides). With one file per bucket (a compacted
  * layout) the per-side sorts disappear too. Auto-broadcast is disabled
  * inside the tests so the assertion is about bucketing, not about the
  * dim-table arm. Assertions read the physical plan string, the same
  * technique as PlanSpec (AQE's AdaptiveSparkPlanExec hides children from
  * collect()). */
class BucketedJoinSpec extends SparkSpec {

  private def nExchanges(df: DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  private def nSorts(df: DataFrame): Int =
    "- Sort \\[".r.findAllIn(df.queryExecution.executedPlan.toString).size

  private def noBroadcast[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("identically bucketed tables join with no exchange and no sort") {
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val left = docs.select($"doc_id", $"lang")
    val right = docs.select($"doc_id", $"n_chars")
    // coalesce(1): one writer task → one file per bucket → the scan's
    // declared output ordering lets SMJ skip the per-side sorts as well
    Lake.writeBucketed(left.coalesce(1), "bspec_left", 8, "doc_id")
    Lake.writeBucketed(right.coalesce(1), "bspec_right", 8, "doc_id")
    // sorted-bucket scan ordering sits behind a legacy flag because a
    // bucket split across files concatenates unsorted — sound here since
    // the compacted layout guarantees one file per bucket
    try withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      val j = spark.table("bspec_left").join(spark.table("bspec_right"), "doc_id")
      val planStr = j.queryExecution.executedPlan.toString
      withClue(planStr) {
        planStr should include("SortMergeJoin")
        planStr should include("Bucketed: true")
        nExchanges(j) shouldBe 0
        nSorts(j) shouldBe 0
      }
      // and the co-located join returns exactly the plain join's rows
      val expected = left.join(right, "doc_id")
      j.count() shouldBe expected.count()
      j.orderBy("doc_id").collect().map(_.toSeq) shouldBe
        expected.orderBy("doc_id").collect().map(_.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bspec_left")
      spark.sql("DROP TABLE IF EXISTS bspec_right")
    }
  }

  test("mismatched bucket counts fall back to a shuffle (guard the guard)") {
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    Lake.writeBucketed(docs.select($"doc_id", $"lang"), "bspec_a", 8, "doc_id")
    Lake.writeBucketed(docs.select($"doc_id", $"n_chars"), "bspec_b", 3, "doc_id")
    try noBroadcast {
      val j = spark.table("bspec_a").join(spark.table("bspec_b"), "doc_id")
      withClue(j.queryExecution.executedPlan.toString) {
        nExchanges(j) should be > 0
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bspec_a")
      spark.sql("DROP TABLE IF EXISTS bspec_b")
    }
  }
}
