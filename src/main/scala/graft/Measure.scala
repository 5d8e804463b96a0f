package graft

import org.apache.spark.sql.SparkSession

/** What the measurement mains ([[BenchExtra]], [[PlanDump]],
  * [[ScalingBench]]) share: one local session builder and one
  * locale-proof number format. */
object Measure {

  /** session on `master` with `partitions` shuffle partitions, UTC, no UI */
  def session(master: String, partitions: Int): SparkSession = SparkSession.builder()
    .master(master)
    .config("spark.sql.shuffle.partitions", partitions.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .getOrCreate()

  /** session on `local[SPARK_GRAFT_CPUS]` (default 32) */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    session(s"local[$cpus]", cpus)
  }

  /** three decimals, locale-proof (the f-interpolator uses the default
    * locale; comma-decimal locales would corrupt the parsed JSON) */
  def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
