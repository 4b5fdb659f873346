package org.apache.spark.scheduler

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Test probe: the Spark jobs a block of code runs, each as the task
  * counts of its stages. Lives in Spark's package for
  * `listenerBus.waitUntilEmpty`, so that every event of the block has
  * been delivered before the count is read. */
object JobShape {
  def of(sc: SparkContext)(body: => Unit): Seq[Seq[Int]] = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new ConcurrentLinkedQueue[Seq[Int]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.numTasks))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}
