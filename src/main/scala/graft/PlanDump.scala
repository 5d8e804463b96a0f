package graft

import java.nio.file.{Files, Paths}

/** Round-6 optimization evidence tool (guide §1.1/§7.2): runs the named
  * queries (or every non-streaming query) and dumps each one's final
  * adaptive plan, `.explain("formatted")` after `collect()`, to
  * `<outDir>/<name>_<tag>.txt`. Runs OUTSIDE the frozen
  * bench/verify harness — purely a plan-inspection aid for
  * plans/r06/<query>_{before,after}.txt.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val wanted: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else Set.empty
    val spark = Measure.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
      // streaming gates execute a full protocol and end at a memory-sink
      // table scan — their "plan" carries no optimizable structure
      .filterNot { case (n, _) => wanted.isEmpty && n.contains("stream") }
    qs.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // run the query first: the adaptive plan is final (and carries its
        // WholeStageCodegen `*(n)` markers) only after an action on `df`
        df.collect()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        println(s"[plandump] wrote $name ($tag)")
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
