package org.apache.spark.scheduler

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Test probe: the Spark jobs a block of code runs, each as the task
  * counts of its stages. Lives in Spark's package for
  * `listenerBus.waitUntilEmpty`, so that every event of the block has
  * been delivered before the count is read. */
object JobShape {

  /** One job: its call site (`parquet at ExtractMain.scala:160`, the
    * name of its result stage), whether it ran inside an SQL execution
    * (work done while a plan is built, such as a parquet
    * footer-inference read, runs outside any), and the task count of
    * each of its stages. */
  final case class Job(site: String, inSqlExecution: Boolean, tasks: Seq[Int])

  def jobs(sc: SparkContext)(body: => Unit): Seq[Job] = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new ConcurrentLinkedQueue[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        jobs.add(Job(e.stageInfos.maxBy(_.stageId).name, execution.nonEmpty,
          e.stageInfos.map(_.numTasks)))
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  def of(sc: SparkContext)(body: => Unit): Seq[Seq[Int]] = jobs(sc)(body).map(_.tasks)
}
