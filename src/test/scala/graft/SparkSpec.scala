package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `df` backed by an RDD. The optimizer evaluates a projection or filter
    * straight over a local Seq while planning (ConvertToLocalRelation),
    * through `eval`, so generated code would never run on it. */
  def rddBacked(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  /** Runs `f` with the session settings `kvs` and restores each after. */
  def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `f` on the interpreted expression path: `factoryMode=NO_CODEGEN`
    * makes projections and predicates call each expression's `eval`, and
    * `wholeStage=false` keeps whole-stage codegen out. Switching
    * `wholeStage` off alone still compiles every expression. */
  def withInterpretedEval[T](f: => T): T =
    withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")(f)
}
