package org.apache.spark.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. `span` is the benchmark span
  * that was open when the job started (its job description); `site` is
  * the call site of the job's result stage, e.g.
  * `parquet at ExtractMain.scala:121`. */
final class JobRec(val id: Int, val span: String, val site: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var recordsIn = 0L
  var bytesIn = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesOut = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** Source file of the call site (`ExtractMain.scala`), or "" when the
    * site is not a `<method> at <File>:<line>` form. */
  def siteFile: String = {
    val at = site.lastIndexOf(" at ")
    if (at < 0) "" else site.substring(at + 4).takeWhile(_ != ':')
  }
  def siteMethod: String = site.takeWhile(_ != ' ')
}

/** A benchmark span: a named interval around one call into a layer. */
final case class SpanRec(name: String, parent: String, startMs: Long, endMs: Long, wallNs: Long)

/** Collects per-job task metrics and the benchmark's own spans. Spans
  * are recorded around calls made from the benchmark into the
  * program's public functions; jobs started inside a span carry the
  * span's name as their job description. Everything stays in memory
  * until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var open: List[String] = Nil

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new JobRec(e.jobId, desc, site, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.recordsIn += m.inputMetrics.recordsRead
        j.bytesIn += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Run `body` as span `name`; jobs it starts are tagged with `name`. */
  def span[A](name: String)(body: => A): A = {
    val parent = open.headOption.getOrElse("")
    open = name :: open
    sc.setJobDescription(name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - n0
      spans += SpanRec(name, parent, t0, System.currentTimeMillis(), wall)
      open = open.tail
      sc.setJobDescription(open.headOption.orNull)
    }
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  def jobsIn(spanName: String): Seq[JobRec] = synchronized {
    jobs.values.filter(_.span == spanName).toVector
  }

  /** The most recent recording of span `name`. */
  def last(name: String): SpanRec = spans.filter(_.name == name).last

  /** Jobs of the most recent recording of span `name`. */
  def jobsOfLast(name: String): Seq[JobRec] = {
    val s = last(name)
    jobsIn(name).filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.values.toVector)
}

object Trace {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Length in seconds of the union of job intervals clipped to [lo, hi]. */
  def unionS(jobs: Seq[JobRec], lo: Long, hi: Long): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, lo), math.min(if (j.endMs < 0) hi else j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }

  /** Largest task duration ÷ median task duration (1.0 with no tasks). */
  def maxOverMedianTask(jobs: Seq[JobRec]): Double = {
    val d = jobs.flatMap(_.taskMs).map(_.toDouble)
    if (d.isEmpty) 1.0 else d.max / math.max(median(d), 1.0)
  }

  /** Seconds during which at least one of the jobs ran. */
  def jobsWallS(jobs: Seq[JobRec]): Double = unionS(jobs, Long.MinValue, Long.MaxValue)

  /** Process CPU seconds (utime + stime) from /proc/self/stat. */
  def processCpuS(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "US-ASCII")
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    // fields 14 and 15 of proc(5); f(0) is field 3
    (f(11).toLong + f(12).toLong) / ClockTicks
  }

  /** USER_HZ; 100 on every Linux ABI the JVM runs on. */
  val ClockTicks = 100.0

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double = {
    val kb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    kb / 1024.0
  }

  /** Seconds for a fixed kernel that does not depend on the program:
    * each of `threads` threads sorts 2^20 pseudo-random longs and counts
    * their low bits in a boxed hash map. On a shared host the CPU's speed
    * drifts by up to 2x over minutes without showing as steal time; this
    * time tracks that drift so a run can be placed on it. */
  def calibS(threads: Int): Double = {
    val ts = (0 until threads).map(i => new Thread(() => calibKernel(i)))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  @volatile private var calibSink = 0L

  private def calibKernel(seed: Int): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    val a = Array.fill(1 << 20)(rnd.nextLong())
    java.util.Arrays.sort(a)
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    a.foreach(x => counts.merge(x & 0xFFFF, 1L, (p: java.lang.Long, q: java.lang.Long) => p + q))
    calibSink += counts.size
  }
}
