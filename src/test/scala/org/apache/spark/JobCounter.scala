package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spec helper: the number of Spark jobs a block starts under a job group
  * set on the calling thread (threads the block creates inherit it). It
  * sits in the `org.apache.spark` namespace because draining the listener
  * bus (`waitUntilEmpty`) is package-private. */
object JobCounter {
  def count[T](sc: SparkContext)(f: => T): (T, Int) = {
    val (r, inGroup, _) = countAll(sc)(f)
    (r, inGroup)
  }

  /** (result, jobs in the calling thread's group, all jobs started meanwhile) */
  def countAll[T](sc: SparkContext)(f: => T): (T, Int, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val (inGroup, all) = (new AtomicInteger, new AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          inGroup.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try { val r = f; sc.listenerBus.waitUntilEmpty(); (r, inGroup.get, all.get) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}
