package org.apache.spark.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.CorpusGen
import graft.io.{Checkpoint, SnapshotStore}
import graft.model.{Doc, EstimationReport, Span}
import graft.parse.{AltoWriter, HtmlExtract, OcrXmlParser, ParserPool, PdfExtract, PdfWriter}
import graft.run.{ExtractMain, IngestAny, IngestXml}
import graft.stages.{Extraction, ProcessedDoc}

/** extract-skewed: `ExtractMain.run` with `nParts` partitions into an
  * empty out root, over a CorpusGen `skewed` span table (1 in 1000 docs
  * is a ~28k-span mega-doc). */
final class ExtractWorkload(val size: Int, nParts: Int) extends Workload {

  private val MegaSpans = 50000
  // the warm-up slice: the same job on a quarter of the docs
  private val warmDocs = size / 4
  private var seed = 0L
  private var input, warmInput, out, warmOut, probe = ""

  def bind(dir: String, work: String, seed: Long): Unit = {
    this.seed = seed
    input = s"$dir/input"; warmInput = s"$dir/warm-input"
    out = s"$work/out"; warmOut = s"$work/warm-out"; probe = s"$work/probe"
  }

  def generate(spark: SparkSession, full: Boolean): Unit = {
    val (in, n, s) = if (full) (input, size, seed) else (warmInput, warmDocs, seed + 1)
    Fs.delete(in)
    CorpusGen.docs(spark, n, "skewed", s, MegaSpans).write.parquet(in)
  }

  def warm(spark: SparkSession): Unit = {
    Fs.delete(warmOut)
    ExtractMain.run(spark, warmInput, warmOut, nParts)
  }

  def reset(spark: SparkSession): Unit = Fs.delete(out)

  def job(spark: SparkSession): Unit = ExtractMain.run(spark, input, out, nParts)

  def layers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    import spark.implicits._
    val jobs = t.jobsOfLast("job")
    // the partition writes: the ExtractMain parquet jobs that write data
    // (the other one infers the input schema)
    val writes = jobs.filter(j =>
      j.siteFile == "ExtractMain.scala" && j.siteMethod == "parquet" && j.bytesOut > 0)
    val loopEnd = writes.map(_.endMs).max
    // report phase: every job after the partition loop but the commit
    // protocol's (report, detail, .wtr, replacement stats, lineage);
    // AQE runs most of them from its own threads, so their call sites
    // name no program file
    val reportJobs = jobs.filter(j => j.startMs >= loopEnd &&
      !Set("SnapshotStore.scala", "Checkpoint.scala").contains(j.siteFile))
    val m = Map(
      "run.ExtractMain.scan_amplification" -> writes.map(_.recordsIn).sum.toDouble / size,
      "run.ExtractMain.partition_write.wall_s" -> Trace.jobsWallS(writes),
      "run.ExtractMain.partition_write.exec_cpu_s" -> writes.map(_.cpuNs).sum / 1e9,
      "run.ExtractMain.partition_jobs" -> writes.length.toDouble,
      "run.ExtractMain.driver_gap_s" -> PerLayer.driverGapS(t),
      "stages.report.read_amplification" -> reportJobs.map(_.recordsIn).sum.toDouble / size,
      "io.SnapshotStore.commits" -> new SnapshotStore(spark, out).currentVersion().getOrElse(0L).toDouble)

    val docs = spark.read.parquet(input)
    val (sqlWall, sqlCpu, sqlSkew) = PerLayer.timed(t, "sql.ProcessSpans", PerfBench.LayerReps) {
      PerfBench.noop(Extraction.pipeline(docs).toDF())
    }
    val snap = new SnapshotStore(spark, out)
    val all = snap.read().as[ProcessedDoc]
    def wall(name: String)(body: => Unit): (String, Double) =
      name -> PerLayer.timed(t, name, PerfBench.LayerReps)(body)._1
    val stageWalls = Seq(
      wall("stages.Extraction.report.wall_s")(Extraction.report(all)),
      wall("stages.Extraction.writeReport.wall_s")(Extraction.writeReport(all, s"$probe/report")),
      wall("stages.Extraction.writeWtr.wall_s")(Extraction.writeWtr(all, s"$probe/corpus.wtr")),
      wall("stages.Extraction.corpusReplStats.wall_s")(Extraction.corpusReplStats(all).collect()),
      wall("io.SnapshotStore.read.wall_s")(PerfBench.noop(snap.read())))
    // commit probes on their own roots, pointing at committed data
    val committed = snap.entries().values.head
    val store = new SnapshotStore(spark, s"$probe/store")
    val ckpt = new Checkpoint(spark, s"$probe/ckpt")
    var p = 0
    val commitWalls = Seq(
      wall("io.SnapshotStore.commit.wall_s") {
        store.commit(p, committed.path, committed.nDocs, committed.nSpans, 0L); p += 1
      },
      wall("io.Checkpoint.commit.wall_s") { ckpt.commit(p, 1L, 1L, 0L); p += 1 })
    m ++ stageWalls ++ commitWalls ++ Map(
      "sql.ProcessSpans.exec_cpu_s" -> sqlCpu,
      "sql.ProcessSpans.max_over_median_task" -> sqlSkew,
      "sql.ProcessSpans.wall_s" -> sqlWall)
  }

  /** The production codegen path on `local[1]`: per-doc cost and the
    * 1→4 core scaling of `Extraction.pipeline` forced to noop. */
  override def singleThread(spark: SparkSession, build: String,
      traced: Map[String, Double]): Map[String, Double] = {
    spark.stop()
    val one = PerfBench.session(1, build)
    PerfBench.noop(Extraction.pipeline(one.read.parquet(warmInput)).toDF())
    val docs = one.read.parquet(input)
    val wall1 = Trace.median((1 to PerfBench.LayerReps).map(_ =>
      PerfBench.timeS(PerfBench.noop(Extraction.pipeline(docs).toDF()))))
    Map(
      "sql.ProcessSpans.us_per_doc_1t" -> wall1 / size * 1e6,
      "sql.ProcessSpans.scaling_eff_1to4" -> wall1 / (PerfBench.Cores * traced("sql.ProcessSpans.wall_s")))
  }

  /** Every committed doc equals the HOF twin `Extraction.pipelineHof`
    * on the same input, exactly once; the written report summary
    * equals `Extraction.report` over the twin. Rows are compared by a
    * 64-bit hash of every field, joined on doc_id. */
  def verify(spark: SparkSession): Verdict = {
    import spark.implicits._
    val fields = Encoders.product[ProcessedDoc].schema.fieldNames.toSeq
    def hashed(ds: Dataset[ProcessedDoc], h: String) = ds.toDF()
      .withColumn("repl_stats", array_sort(map_entries(col("repl_stats"))))
      .select(col("doc_id"), xxhash64(fields.map(col): _*).as(h))
    val got = new SnapshotStore(spark, out).read().as[ProcessedDoc]
    val want = Extraction.pipelineHof(spark.read.parquet(input))
    val cmp = hashed(got, "g").groupBy("doc_id").agg(count(lit(1)).as("n"), first("g").as("g"))
      .join(hashed(want, "w"), Seq("doc_id"), "full_outer")
      .agg(
        count(when(col("n").isNotNull, 1)).as("ids"),
        coalesce(sum(col("n")), lit(0L)).as("rows"),
        count(when(col("n").isNull || col("w").isNull || col("n") =!= 1 || col("g") =!= col("w"), 1))
          .as("bad"))
      .head()
    val (ids, rows, bad) = (cmp.getLong(0), cmp.getLong(1), cmp.getLong(2))
    val errorRows = got.filter(exists(col("spans"), s => s.getField("kind") === IngestXml.KindError)).count()
    val written = spark.read.parquet(s"$out/report/summary").as[EstimationReport].collect().toSeq
    val reportOk = written == Seq(Extraction.report(want))
    val ok = rows == size && ids == size && bad == 0 && reportOk
    Verdict(size, errorRows, bad, ok, s"rows=$rows ids=$ids mismatched=$bad report_ok=$reportOk")
  }
}

/** `IngestAny.readFiles` → `parseDocs` → span-table parquet over a
  * tree of small files rendered from CorpusGen `interleaved` docs:
  * ~60% ALTO (every tenth with a UTF-8 BOM), ~20% HTML, ~20% PDF, and
  * exactly 1% malformed (junk bytes or a truncated ALTO file). */
final class IngestWorkload(val size: Int) extends Workload {

  private val warmFiles = size / 4
  private val Subdirs = 32
  private var seed = 0L
  private var input, warmInput, out, warmOut = ""

  private sealed trait Kind
  private case object Alto extends Kind
  private case object Html extends Kind
  private case object Pdf extends Kind
  private case object Junk extends Kind
  private case object Truncated extends Kind

  private def kindOf(id: Long): Kind =
    if (id % 100 == 99) { if ((id / 100) % 2 == 0) Junk else Truncated }
    else Math.floorMod(CorpusGen.mix64(seed * 1000003L + id), 10L) match {
      case r if r < 6 => Alto
      case r if r < 8 => Html
      case _ => Pdf
    }

  private def doc(id: Long): Doc = CorpusGen.genDoc(id, "interleaved", seed, 0)
  private def textsOf(d: Doc): Seq[String] = d.spans.filter(_.kind == Span.KindText).map(_.text)
  private def ext(k: Kind): String = k match {
    case Html => "html"
    case Pdf => "pdf"
    case _ => "xml"
  }

  private def lines(d: Doc): Seq[Seq[String]] = {
    val b = Vector.newBuilder[Vector[String]]
    var cur = Vector.empty[String]
    var key: String = null
    d.spans.filter(_.kind == Span.KindText).foreach { s =>
      if (s.media_ref != key && cur.nonEmpty) { b += cur; cur = Vector.empty }
      key = s.media_ref
      cur :+= s.text
    }
    if (cur.nonEmpty) b += cur
    b.result()
  }

  /** q32's page template: boilerplate nav and footer around one
    * paragraph per text line and one image. */
  private def html(d: Doc): String =
    "<html><body><nav><a href='/'>home</a> <a href='/a'>about</a> <a href='/c'>contact</a></nav>" +
      "<article>" + lines(d).map(l => s"<p>${l.mkString(" ")}</p>").mkString +
      "<img src='pic.png'/></article><footer>copyright junk imprint</footer></body></html>"

  /** PDF text is Latin-1: characters outside it are written as '?'. */
  private def latin1(t: String): String = t.map(c => if (c > 0xFF) '?' else c)

  private def render(id: Long): Array[Byte] = {
    val d = doc(id)
    kindOf(id) match {
      case Alto =>
        val x = AltoWriter.render(d)
        if (id % 10 == 3) Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ x else x
      case Html => html(d).getBytes(UTF_8)
      case Pdf => PdfWriter.render(Seq(PdfWriter.layoutTokens(textsOf(d).map(latin1))),
        flate = true, withImage = true)
      case Junk => "\t\t\tnot a document".getBytes(UTF_8)
      case Truncated =>
        val x = AltoWriter.render(d)
        x.take(x.length / 2)
    }
  }

  private def path(dir: String, id: Long) =
    Paths.get(f"$dir/d${id % Subdirs}%02d/doc_$id%012d.${ext(kindOf(id))}")

  private def writeTree(dir: String, n: Int): Unit =
    (0L until n).foreach { id =>
      val p = path(dir, id)
      Files.createDirectories(p.getParent)
      Files.write(p, render(id))
    }

  def bind(dir: String, work: String, seed: Long): Unit = {
    this.seed = seed
    input = s"$dir/files"; warmInput = s"$dir/warm-files"
    out = s"$work/out"; warmOut = s"$work/warm-out"
  }

  def generate(spark: SparkSession, full: Boolean): Unit = {
    val (dir, n) = if (full) (input, size) else (warmInput, warmFiles)
    Fs.delete(dir)
    writeTree(dir, n)
  }

  private def ingest(spark: SparkSession, in: String, o: String): Unit =
    IngestAny.parseDocs(IngestAny.readFiles(spark, Seq(in)))
      .write.mode("overwrite").parquet(o)

  def warm(spark: SparkSession): Unit = ingest(spark, warmInput, warmOut)

  def reset(spark: SparkSession): Unit = Fs.delete(out)

  def job(spark: SparkSession): Unit = ingest(spark, input, out)

  def layers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val (readWall, readCpu, _) = PerLayer.timed(t, "run.IngestAny.readFiles", PerfBench.LayerReps) {
      PerfBench.noop(IngestAny.readFiles(spark, Seq(input)).toDF())
    }
    val readRecords = t.jobsOfLast("run.IngestAny.readFiles").map(_.recordsIn).sum
    val (_, parseCpu, _) = PerLayer.timed(t, "run.IngestAny.parseDocs", PerfBench.LayerReps) {
      PerfBench.noop(IngestAny.parseDocs(IngestAny.readFiles(spark, Seq(input))).toDF())
    }
    // single-thread parser cost per document, outside Spark
    val files = (0L until size).map(id => kindOf(id) -> Files.readAllBytes(path(input, id)))
    def perDoc(k: Kind)(parse: Array[Byte] => Any): Double = {
      val bs = files.filter(_._1 == k).map(_._2)
      Trace.median((1 to PerfBench.LayerReps).map { _ =>
        PerfBench.timeS(bs.foreach(parse))
      }) / bs.length * 1e6
    }
    val parser = ParserPool.get()
    Map(
      "run.IngestAny.readFiles.wall_s" -> readWall,
      "run.IngestAny.readFiles.scan_passes" -> readRecords.toDouble / size,
      "run.IngestAny.parseDocs.exec_cpu_s" -> math.max(0.0, parseCpu - readCpu),
      "parse.OcrXmlParser.us_per_doc" -> perDoc(Alto) { b =>
        val off = IngestAny.bomOffset(b)
        OcrXmlParser.toSpans("d", parser.parse(new String(b, off, b.length - off, UTF_8)))
      },
      "parse.HtmlExtract.us_per_doc" -> perDoc(Html)(b => HtmlExtract.extract(new String(b, UTF_8), "d")),
      "parse.PdfExtract.us_per_doc" -> perDoc(Pdf)(b => PdfExtract.extract(b, "d")),
      "parse.failures" -> spark.read.parquet(out)
        .filter(exists(col("spans"), s => s.getField("kind") === IngestXml.KindError)).count().toDouble)
  }

  /** ALTO: `parse ∘ render == id` on the span sequence. HTML: the q32
    * invariant (paragraphs of ≥ 3 words kept, nav/footer dropped, one
    * media span). PDF: the q57 invariant (every token in order, one
    * media span). The error rows are exactly the malformed files. */
  def verify(spark: SparkSession): Verdict = {
    import spark.implicits._
    val got = spark.read.parquet(out).as[Doc].collect()
    val byId = got.groupBy(_.doc_id)
    def quad(ss: Seq[Span]) = ss.map(s => (s.kind, s.text, s.media_ref, s.offset))
    val bad = (0L until size).filterNot { id =>
      val d = doc(id)
      byId.get(d.doc_id) match {
        case Some(Array(g)) =>
          def media = g.spans.count(_.kind == Span.KindMedia)
          kindOf(id) match {
            case Alto => quad(g.spans) == quad(d.spans)
            case Html => textsOf(g) == lines(d).filter(_.length >= 3).flatten && media == 1
            case Pdf => textsOf(g) == textsOf(d).map(latin1) && media == 1
            case Junk | Truncated => g.spans.map(_.kind) == Seq(IngestXml.KindError)
          }
        case _ => false
      }
    }
    val errorRows = got.count(_.spans.exists(_.kind == IngestXml.KindError)).toLong
    val ok = bad.isEmpty && got.length == size
    Verdict(size, errorRows, bad.length.toLong + math.abs(got.length - size), ok,
      s"rows=${got.length} mismatched=${bad.take(5).mkString(",")}${if (bad.length > 5) "…" else ""}" +
        s" n_mismatched=${bad.length}")
  }
}
