package graft

/** Round-6 focused benchmark (guide §1.4) — NOT part of the frozen driver
  * harness ([[Bench]] is unchanged): measures a NAMED SUBSET of the
  * declared queries with more repeats than the sweep's best-of-2, so
  * per-query before/after deltas stand out from session noise. The action
  * is the same `.count()` the frozen sweep times (comparability); pass
  * `noop` as the action to isolate computation from the count's column
  * pruning via the no-op sink (`df.write.format("noop")`).
  *
  * Usage: runMain graft.BenchExtra <sfDir> <repeats> <count|noop> [q1,q2,…]
  * Prints one JSON line: {"mode":"benchextra","queries":{name:[s,…],…}};
  * a failed repeat is `null`, never a time.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeats = args(1).toInt
    val action = args(2)
    val wanted: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else Set.empty
    val spark = Measure.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    // same session warmup as the sweep
    Seq("lineitem", "documents", "embeddings", "orders", "events").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => }
    }
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
    val out = qs.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      val secs = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        val ok = try {
          val df = fn(spark, sfDir)
          if (action == "noop") df.write.format("noop").mode("overwrite").save()
          else df.count()
          true
        } catch { case e: Throwable =>
          // LOUD failure marker — a silently-timed crash reads as a
          // miraculous speed-up (learned the hard way in round 6)
          println(s"""{"mode":"benchextra","FAILED":"$name","err":"${
            e.toString.take(120).replace('"', '\'')}"}""")
          false
        }
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        if (ok) Some(s) else None
      }
      name -> secs
    }
    val qJson = out.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(_.fold("null")(Measure.fmt)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""{"mode":"benchextra","action":"$action","queries":$qJson}""")
    spark.stop()
  }
}
