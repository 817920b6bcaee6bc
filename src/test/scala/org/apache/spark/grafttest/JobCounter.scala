package org.apache.spark.grafttest

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}

/** Counts the Spark jobs that a block launches. Jobs are matched by a job
  * group unique to the call, so suites sharing the context cannot leak
  * into the count, and the listener bus is drained before the counter is
  * read, so every job-start event of the block has arrived (no sleep, no
  * race). `listenerBus` is `private[spark]`, hence the package.
  */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, jobs, _) = withStages(sc)(body)
    (out, jobs)
  }

  /** [[apply]] that also returns the stages the block submitted. A stage
    * whose shuffle output an earlier job already wrote is skipped, not
    * submitted, so it is not listed again.
    */
  def withStages[T](sc: SparkContext)(body: => T): (T, Int, Seq[StageInfo]) = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    def ours(props: java.util.Properties): Boolean =
      Option(props).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[StageInfo]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get, stages.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
