package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One timed region around a call into the engine. */
final case class Span(name: String, start: Long, end: Long, parent: String, pass: String) {
  def json: String = Json(Map("name" -> name, "start_ns" -> start, "end_ns" -> end,
    "parent" -> parent, "pass" -> pass))
}

/** In-memory span recorder. Disabled, `span` is a plain call; enabled, it
  * keeps (name, start, end, parent, pass) and the file is written once, at
  * the end of the run. */
final class Tracer(var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil
  var pass: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans.synchronized(spans += Span(name, t0, System.nanoTime(), parent, pass))
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Per job group (one pass or one probe) totals from the listener bus. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRows, outBytes = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  val jobStartMs = scala.collection.mutable.Map.empty[Int, Long]
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  /** max over stages with ≥ 2 tasks of (max task time ÷ median task time). */
  def taskSkew: Double = {
    val r = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(med, 1.0)
    }
    if (r.isEmpty) 1.0 else r.max
  }

  /** wall time inside [t0, t1] (epoch ms) not covered by any running job. */
  def uncoveredMs(t0: Long, t1: Long): Long = {
    val iv = jobSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (t1 - t0) - covered
  }
}

/** SparkListener keyed by job group id: the benchmark sets one job group
  * per pass or probe, so every job, stage and task is attributed to it. */
final class Recorder extends SparkListener {
  private val groups = scala.collection.mutable.Map.empty[String, GroupStats]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private val jobGroup = scala.collection.mutable.Map.empty[Int, String]

  def stats(group: String): GroupStats = synchronized(groups.getOrElseUpdate(group, new GroupStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val s = stats(g)
    s.jobs += 1
    s.jobStartMs(e.jobId) = e.time
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val s = stats(g)
      s.jobStartMs.remove(e.jobId).foreach(t0 => s.jobSpans += ((t0, e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => stats(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      s.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
