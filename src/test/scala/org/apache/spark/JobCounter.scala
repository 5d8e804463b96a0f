package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spec helper: the number of Spark jobs a block starts on the calling
  * thread. It sits in the `org.apache.spark` namespace because draining the
  * listener bus (`waitUntilEmpty`) is package-private. */
object JobCounter {
  def count[T](sc: SparkContext)(f: => T): (T, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try { val r = f; sc.listenerBus.waitUntilEmpty(); (r, jobs.get) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}
