package org.apache.spark.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark driver for one workload run, launched by `perfbench/run.py`.
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <buildDir> <resultJson>
  *
  * The run builds a `local[4]` session with the settings `ExtractMain`
  * uses, generates (or reuses) the seeded inputs under `<buildDir>/data`,
  * sets up several times (fresh session + warm-up pass on a small
  * slice), then repeats the workload's job until `seconds` have passed.
  * With trace 1 it alternates untraced and traced repetitions of the
  * job and then times each layer's public functions one by one. Every
  * run ends with the workload's correctness gate. The result (metrics,
  * verdict, host record, spans) goes to `resultJson`.
  */
object PerfBench {

  val Cores = 4
  val SetupReps = 3
  val MinReps = 5
  val UntimedReps = 2
  val LayerReps = 3

  def session(cores: Int, build: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$build/spark-local")
      .config("spark.sql.warehouse.dir", s"$build/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(wName, seedS, secondsS, traceS, build, resultPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val w: Workload = wName match {
      case "extract-skewed" => new ExtractWorkload(8000, 4)
      case "ingest-mixed" => new IngestWorkload(4000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val dataDir = s"$build/data/$wName-seed$seed-n${w.size}"
    Fs.pruneCache(s"$build/data", s"$wName-seed", keep = dataDir)
    val workDir = s"$build/work/$wName"
    Fs.delete(workDir)

    var spark = session(Cores, build)
    w.bind(dataDir, workDir, seed)
    // inputs are cached per (workload, seed, size); the full-size input
    // is generated after the first warm-up so that it runs on warm code
    def generate(full: Boolean): Double = {
      val marker = s"$dataDir/_READY_${if (full) "full" else "slice"}"
      if (Fs.exists(marker)) 0.0
      else { val t = timeS(w.generate(spark, full)); Fs.touch(marker); t }
    }
    val genSliceS = generate(full = false)
    val setups = mutable.ArrayBuffer.empty[Double]
    w.warm(spark)
    setups += java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - genSliceS
    val genS = genSliceS + generate(full = true)
    while (setups.length < SetupReps) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(Cores, build)
      w.warm(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val record = mutable.LinkedHashMap.empty[String, Any]
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val jits = mutable.ArrayBuffer.empty[Double]
    // JIT compilation keeps running for 15+ jobs of this size and is
    // not settled within a run: it is taken out of the job's CPU and
    // reported on its own (jvm.jit_s) so that cpu_s stays steady
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def rep(body: => Unit): Unit = {
      w.reset(spark)
      val c0 = Trace.processCpuS()
      val j0 = jit.getTotalCompilationTime
      val t0 = System.nanoTime()
      body
      walls += (System.nanoTime() - t0) / 1e9
      jits += (jit.getTotalCompilationTime - j0) / 1e3
      cpus += Trace.processCpuS() - c0 - jits.last
    }
    // untimed jobs at full size: the JIT compiles what the small slice
    // did not reach, so the timed jobs run warm
    (1 to UntimedReps).foreach(_ => rep(w.job(spark)))
    walls.clear(); cpus.clear(); jits.clear()
    // host speed, measured next to every timed job
    val calibs = mutable.ArrayBuffer.empty[Double]
    Trace.calibS(Cores)
    def calibrate(): Unit = calibs += Trace.calibS(Cores)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong

    if (!traced) {
      while (walls.length < MinReps || System.nanoTime() < deadline) {
        calibrate()
        rep(w.job(spark))
      }
      metrics("setup_s") = Trace.median(setups.toSeq)
      metrics("docs_per_s") = w.size / Trace.median(walls.toSeq)
      metrics("cpu_s") = Trace.median(cpus.toSeq)
      metrics("peak_rss_mb") = Trace.peakRssMb()
    } else {
      val tracer = new Tracer(spark.sparkContext)
      val untraced = mutable.ArrayBuffer.empty[Double]
      val tracedWalls = mutable.ArrayBuffer.empty[Double]
      val tracedJits = mutable.ArrayBuffer.empty[Double]
      while (tracedWalls.length < 2 || System.nanoTime() < deadline) {
        calibrate()
        rep(w.job(spark))
        untraced += walls.last
        spark.sparkContext.addSparkListener(tracer)
        rep(tracer.span("job")(w.job(spark)))
        tracer.drain()
        spark.sparkContext.removeSparkListener(tracer)
        tracedWalls += walls.last
        tracedJits += jits.last
      }
      spark.sparkContext.addSparkListener(tracer)
      metrics ++= PerLayer.main(tracer)
      metrics ++= w.layers(spark, tracer)
      tracer.drain()
      val medUn = Trace.median(untraced.toSeq)
      metrics("trace.overhead_frac") = (Trace.median(tracedWalls.toSeq) - medUn) / medUn
      metrics("jvm.jit_s") = Trace.median(tracedJits.toSeq)
      metrics("host.calib_s") = Trace.median(calibs.toSeq)
      record("sites") = PerLayer.sites(tracer)
      record("spans") = tracer.spans.map(s => Map("name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallNs / 1e9)).toSeq
    }

    var verdict: Verdict = null
    record("verify_s") = timeS { verdict = w.verify(spark) }
    if (!traced) metrics("ok_frac") =
      (verdict.attempted - verdict.errorRows).toDouble / verdict.attempted
    record("gen_s") = genS
    record("setups_s") = setups.toSeq
    record("job_walls_s") = walls.toSeq
    record("job_cpu_s") = cpus.toSeq
    record("job_jit_s") = jits.toSeq
    record("calib_s") = calibs.toSeq
    record("nproc") = Runtime.getRuntime.availableProcessors()
    record("jvm_args") = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    record("spark_conf") = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("spark.app.")).toMap
    record("verdict") = Map("correct" -> verdict.correct, "attempted" -> verdict.attempted,
      "error_rows" -> verdict.errorRows, "failed" -> verdict.failed, "detail" -> verdict.detail)
    if (traced && verdict.correct) metrics ++= w.singleThread(spark, build, metrics.toMap)
    SparkSession.getActiveSession.foreach(_.stop())

    val out = Map(
      "correct" -> verdict.correct,
      "attempted" -> verdict.attempted,
      "failed" -> verdict.failed,
      "metrics" -> metrics.toMap,
      "record" -> record.toMap)
    Files.createDirectories(Paths.get(resultPath).getParent)
    Files.writeString(Paths.get(resultPath), Json.write(out))
  }
}

final case class Verdict(attempted: Long, errorRows: Long, failed: Long, correct: Boolean,
    detail: String)

/** One benchmark workload: seeded inputs, a warm-up pass on a small
  * slice, the timed job, per-layer calls and a correctness gate. */
trait Workload {
  /** Operations (documents or files) one job completes. */
  def size: Int
  /** Points the workload at its inputs under `dir` and at `work` for
    * its outputs. */
  def bind(dir: String, work: String, seed: Long): Unit
  /** Generates the full-size input, or the warm-up slice, from the seed. */
  def generate(spark: SparkSession, full: Boolean): Unit
  def warm(spark: SparkSession): Unit
  /** Restores the job's starting state; runs outside the timed region. */
  def reset(spark: SparkSession): Unit
  def job(spark: SparkSession): Unit
  def layers(spark: SparkSession, tracer: Tracer): Map[String, Double]
  def verify(spark: SparkSession): Verdict
  def singleThread(spark: SparkSession, build: String,
      traced: Map[String, Double]): Map[String, Double] = Map.empty
}

/** Per-layer metrics read from the traced repetition of the job. */
object PerLayer {

  /** Every per-layer metric; a layer a workload bypasses reads 0. */
  val Names: Seq[String] = Seq(
    "run.ExtractMain.scan_amplification",
    "run.ExtractMain.partition_write.wall_s",
    "run.ExtractMain.partition_write.exec_cpu_s",
    "run.ExtractMain.partition_jobs",
    "run.ExtractMain.driver_gap_s",
    "sql.ProcessSpans.wall_s",
    "sql.ProcessSpans.exec_cpu_s",
    "sql.ProcessSpans.us_per_doc_1t",
    "sql.ProcessSpans.max_over_median_task",
    "sql.ProcessSpans.scaling_eff_1to4",
    "run.IngestAny.readFiles.wall_s",
    "run.IngestAny.readFiles.scan_passes",
    "run.IngestAny.parseDocs.exec_cpu_s",
    "parse.OcrXmlParser.us_per_doc",
    "parse.HtmlExtract.us_per_doc",
    "parse.PdfExtract.us_per_doc",
    "parse.failures",
    "stages.report.read_amplification",
    "stages.Extraction.report.wall_s",
    "stages.Extraction.writeReport.wall_s",
    "stages.Extraction.writeWtr.wall_s",
    "stages.Extraction.corpusReplStats.wall_s",
    "io.SnapshotStore.commit.wall_s",
    "io.SnapshotStore.commits",
    "io.SnapshotStore.read.wall_s",
    "io.Checkpoint.commit.wall_s",
    "io.bytes_written_mb",
    "spark.gc_s",
    "spark.tasks",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.max_over_median_task",
    "jvm.jit_s",
    "trace.overhead_frac",
    "trace.unattributed_s")

  /** Wall of the last traced job repetition that no Spark job covers:
    * driver-side work. */
  def driverGapS(t: Tracer): Double = {
    val s = t.last("job")
    s.wallNs / 1e9 - Trace.unionS(t.jobsOfLast("job"), s.startMs, s.endMs)
  }

  /** Metrics of the last traced job repetition, over all its Spark jobs. */
  def main(t: Tracer): Map[String, Double] = {
    val jobs = t.jobsOfLast("job")
    Names.map(_ -> 0.0).toMap ++ Map(
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / 1e6,
      "spark.spill_mb" -> jobs.map(_.spill).sum / 1e6,
      "spark.max_over_median_task" -> Trace.maxOverMedianTask(jobs),
      "io.bytes_written_mb" -> jobs.map(_.bytesOut).sum / 1e6,
      "trace.unattributed_s" -> driverGapS(t))
  }

  /** Per call-site totals of every traced job, for the run record. */
  def sites(t: Tracer): Seq[Map[String, Any]] =
    t.allJobs.groupBy(j => (j.span, j.site)).toSeq.sortBy(_._1).map { case ((span, site), js) =>
      Map("span" -> span, "site" -> site, "jobs" -> js.length, "tasks" -> js.map(_.tasks).sum,
        "wall_s" -> Trace.jobsWallS(js), "exec_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "gc_s" -> js.map(_.gcMs).sum / 1e3, "max_over_median_task" -> Trace.maxOverMedianTask(js),
        "records_in" -> js.map(_.recordsIn).sum, "bytes_in" -> js.map(_.bytesIn).sum,
        "shuffle_read" -> js.map(_.shuffleRead).sum, "shuffle_write" -> js.map(_.shuffleWrite).sum,
        "spill" -> js.map(_.spill).sum, "bytes_out" -> js.map(_.bytesOut).sum)
    }

  /** Median over `reps` recordings of span `name`: (wall s, executor
    * CPU s, max/median task duration) of the median-wall recording. */
  def timed(t: Tracer, name: String, reps: Int)(body: => Unit): (Double, Double, Double) = {
    val rs = (1 to reps).map { _ =>
      t.span(name)(body)
      t.drain()
      val js = t.jobsOfLast(name)
      (t.last(name).wallNs / 1e9, js.map(_.cpuNs).sum / 1e9, Trace.maxOverMedianTask(js))
    }.sortBy(_._1)
    rs(rs.length / 2)
  }
}

object Fs {
  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root).iterator().asScala.toVector
      all.reverseIterator.foreach(Files.deleteIfExists(_))
    }
  }

  /** Deletes the cached inputs under `dir` whose names start with
    * `prefix`, except `keep` and the two most recently written. */
  def pruneCache(dir: String, prefix: String, keep: String): Unit =
    if (Files.isDirectory(Paths.get(dir)))
      Files.list(Paths.get(dir)).iterator().asScala.toVector
        .filter(p => p.getFileName.toString.startsWith(prefix) && p != Paths.get(keep))
        .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
        .drop(2).foreach(p => delete(p.toString))

  def touch(p: String): Unit = Files.writeString(Paths.get(p), "")
  def exists(p: String): Boolean = Files.exists(Paths.get(p))
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case (a, b) => write(Seq(a, b))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
