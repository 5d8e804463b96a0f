package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The benchmark's JVM side. One closed-loop client: passes run back to
  * back in this JVM on `local[nproc]`. Launched by `perfbench/run.py`,
  * which passes the launch time, the heap and the git commit and prints the
  * two lines this writes to `--out`: a report and the result. */
object Main {

  val Workloads: Seq[Workload] = Seq(PipBroadcast, PipPartitioned, CocoRoundTrip)
  /** a run times at least this many passes, even past `--seconds`: the
    * median of 5 is robust to two slow passes */
  val MinPasses = 5
  /** the full GC of `retained_heap_mb` follows this many timed passes */
  val HeapAfterPasses = 3
  val PassTimeoutS = 60.0

  /** `stopAtMs`: no pass starts after this time, so the run ends in its budget */
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, t0Ms: Long, stopAtMs: Long, out: Path, nproc: Int,
                        fingerprint: Map[String, Any], forge: Boolean, prepareOnly: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = Paths.get(m.getOrElse("root", ".")).toAbsolutePath.normalize
    m.get("gen-key").foreach(Prepared.genKey = _)
    val nproc = m.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val t0Ms = m.get("t0-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    Args(m("workload"), m("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", root, t0Ms,
      m.get("stop-at-ms").map(_.toLong).getOrElse(t0Ms + 150000L),
      Paths.get(m.getOrElse("out", root.resolve(".bench_build/result.txt").toString)),
      nproc,
      Map("nproc" -> nproc, "mem_total_kb" -> m.getOrElse("mem-total-kb", ""),
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "heap" -> m.getOrElse("heap", ""), "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "git_commit" -> m.getOrElse("git", ""), "source_sha256" -> m.getOrElse("source-sha256", ""),
        "seed" -> m("seed").toLong,
        "shuffle_partitions" -> 2 * nproc),
      m.getOrElse("forge", "0") == "1", m.getOrElse("prepare-only", "0") == "1")
  }

  /** `ansi = false` only for the generators, whose hash arithmetic wraps */
  def session(a: Args, ansi: Boolean = true): SparkSession = {
    val work = workDir(a)
    SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 2 * a.nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.ansi.enabled", ansi)
      .getOrCreate()
  }

  def dataRoot(a: Args): Path = a.root.resolve(".bench_build/data")
  /** scratch space of this JVM (Lake roots, Spark local dirs), deleted at exit */
  def workDir(a: Args): Path = a.root.resolve(s".bench_build/work/${ProcessHandle.current().pid()}")

  def now: Double = System.nanoTime() / 1e9

  /** a pass's seconds; None when it failed */
  final case class PassResult(id: String, seconds: Option[Double])

  /** Runs passes in their own thread under a job group, with a timeout;
    * a pass that throws, times out or mismatches becomes a failure record
    * and never a time. */
  final class Client(a: Args, val expect: Expectation) {
    val failures = ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    private val pool = Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "perfbench-pass"); t.setDaemon(true); t
    })
    private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

    def run(spark: SparkSession, tr: Tracer, id: String, check: Expectation = expect)
           (body: => Observed): PassResult = {
      attempted += 1
      tr.pass = id
      val f = Future {
        spark.sparkContext.setJobGroup(id, id, interruptOnCancel = true)
        try {
          val t0 = System.nanoTime()
          val o = body
          ((System.nanoTime() - t0) / 1e9, o)
        } finally spark.sparkContext.clearJobGroup()
      }
      def fail(cls: String, detail: String): PassResult = {
        failures += Map("workload" -> a.workload, "seed" -> a.seed, "pass" -> id,
          "error_class" -> cls, "detail" -> detail.take(2000))
        PassResult(id, None)
      }
      try {
        val (s, o) = Await.result(f, Duration(PassTimeoutS, TimeUnit.SECONDS))
        val bad = check.mismatches(o)
        if (bad.isEmpty) PassResult(id, Some(s)) else fail("Mismatch", bad.mkString("; "))
      } catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(id)
          fail("Timeout", s"no result after $PassTimeoutS s")
        case e: Throwable =>
          val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
          fail(root.getClass.getName, String.valueOf(root.getMessage))
      }
    }

    def shutdown(): Unit = pool.shutdownNow()
  }

  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    lazy val w = Workloads.find(_.name == a.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    Files.createDirectories(workDir(a))
    val (report, result) =
      if (a.prepareOnly) {
        // the separate prepare step: its own JVM, so that set-up time and
        // JIT state of the measured JVM do not depend on the cache
        val ws = a.workload.split(",").toSeq.map(n => Workloads.find(_.name == n).get)
        val todo = ws.filterNot(Prepared.ready(dataRoot(a), _, a.seed))
        val secs = if (todo.isEmpty) Map.empty[String, Double] else {
          val spark = session(a, ansi = false)
          spark.sparkContext.setLogLevel("ERROR")
          val r = todo.map(x => x.name -> Prepared.prepare(spark, dataRoot(a), x, a.seed)).toMap
          spark.stop()
          r
        }
        (Map[String, Any]("seed" -> a.seed, "prepare_s" -> secs,
          "input_properties" -> ws.map(x => x.name -> Prepared.load(dataRoot(a), x, a.seed).props).toMap),
          Map[String, Any]())
      } else if (a.trace) Profile.run(a, w)
      else timed(a, w)
    Files2.deleteTree(workDir(a))
    Files2.write(a.out, Json(Map("report" -> report)) + "\n" + Json(result) + "\n")
    System.exit(0)
  }

  /** The untraced run: set-up from JVM launch, untimed warm passes, the
    * closed loop, then the end-to-end metrics. */
  def timed(a: Args, w: Workload): (Map[String, Any], Map[String, Any]) = {
    val tr = new Tracer(false)
    // set-up: JVM launch → session → inputs and expectation → one warmup pass
    val marks = scala.collection.mutable.LinkedHashMap("main" -> sinceLaunch(a))
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    marks("session") = sinceLaunch(a)
    val in = Prepared.load(dataRoot(a), w, a.seed)
    val client = new Client(a, if (a.forge) in.expect.forged else in.expect)
    val runner = w.open(spark, in, workDir(a), tr)
    marks("open") = sinceLaunch(a)
    client.run(spark, tr, "setup")(runner.pass("setup"))
    val setup = sinceLaunch(a)
    marks("warmup") = setup
    cleanLake(runner, keepLast = false)
    val warm = (0 until w.warmPasses).filterNot(_ => pastStop(a)).flatMap { k =>
      val r = client.run(spark, tr, s"warm-$k")(runner.pass(s"warm-$k"))
      cleanLake(runner, keepLast = false)
      r.seconds
    }
    marks("warm_end") = sinceLaunch(a)

    val times = ArrayBuffer.empty[Double]
    val stored = ArrayBuffer.empty[Double]
    var loop0 = now
    var i = 0
    var heap = Double.NaN
    while ((i < MinPasses || now - loop0 < a.seconds) && !pastStop(a)) {
      val r = client.run(spark, tr, s"pass-$i")(runner.pass(s"pass-$i"))
      r.seconds.foreach(times += _)
      storedBytesPerRow(runner).foreach(stored += _)
      cleanLake(runner, keepLast = true)
      i += 1
      // retained heap after a fixed number of passes: state that grows per
      // pass must not read higher on a run that fit more passes
      if (i == HeapAfterPasses) {
        val g0 = now
        heap = heapAfterGcMb()
        loop0 += now - g0
      }
    }
    val extra = runner match {
      case c: CocoRoundTrip.Opened if c.last.isDefined =>
        val tables = Set("images", "annotations", "categories", "annotation_area_px")
        val r = client.run(spark, tr, "resume", client.expect.only(tables))(c.resume())
        Map("resume_s" -> r.seconds, "stored_bytes_per_row" -> stored.lastOption)
      case _ => Map.empty[String, Any]
    }
    marks("loop_end") = sinceLaunch(a)
    cleanLake(runner, keepLast = false)
    client.shutdown()

    val p50 = if (times.isEmpty) None else Some(Stats.median(times.toSeq))
    val report = Map(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> 0,
      "fingerprint" -> a.fingerprint, "input_properties" -> in.props,
      "setup_marks_s" -> marks, "warm_pass_s" -> warm,
      "passes" -> times.size, "pass_s" -> times.toSeq,
      "pass_s_min" -> times.minOption, "pass_s_max" -> times.maxOption,
      "failed_frac" -> client.failures.size.toDouble / client.attempted,
      "failures" -> client.failures.toSeq,
      "client" -> s"closed loop, 1 client, local[${a.nproc}]") ++ extra
    val result = Map(
      "correct" -> client.failures.isEmpty, "attempted" -> client.attempted,
      "failed" -> client.failures.size,
      "metrics" -> Map(
        "pass_s_p50" -> p50.map(metric(_, "s")),
        "input_rows_per_s" -> p50.map(p => metric(runner.inputRows / p, "rows/s")),
        "setup_s" -> metric(setup, "s"),
        "retained_heap_mb" -> metric(heap, "MB")))
    spark.stop()
    (report, result)
  }

  def sinceLaunch(a: Args): Double = (System.currentTimeMillis() - a.t0Ms) / 1e3
  def pastStop(a: Args): Boolean = System.currentTimeMillis() > a.stopAtMs

  /** bytes under the latest pass's Lake root ÷ annotation rows written */
  def storedBytesPerRow(r: Runner): Option[Double] = r match {
    case c: CocoRoundTrip.Opened => c.last.map { case (root, _) =>
      Files2.du(root)._1.toDouble / c.annotationsWritten }
    case _ => None
  }

  /** Lake roots of earlier passes are deleted outside the timed region. */
  def cleanLake(r: Runner, keepLast: Boolean): Unit = r match {
    case c: CocoRoundTrip.Opened =>
      val keep = if (keepLast) c.last.map(_._1) else None
      val s = Files.list(c.work)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(p => p.getFileName.toString.startsWith("lake-") && !keep.contains(p))
        .foreach(Files2.deleteTree)
      finally s.close()
      if (!keepLast) c.last = None
    case _ =>
  }
}
