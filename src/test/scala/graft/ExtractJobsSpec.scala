package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.JobShape
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, transform}

import graft.io.SnapshotStore
import graft.model.EstimationReport
import graft.run.ExtractMain
import graft.stages.{Extraction, ProcessedDoc}

/** What `ExtractMain.run` asks of Spark, and what it reads: the jobs of
  * a run on a fresh root, the input's schema check and the by-name read
  * of the span struct. */
class ExtractJobsSpec extends SparkSpecBase {

  private def run(in: String, out: String, nParts: Int): Unit =
    Console.withOut(new java.io.ByteArrayOutputStream())(ExtractMain.run(spark, in, out, nParts))

  /** The span table with its span struct's fields in another order. */
  private def reordered(df: DataFrame): DataFrame =
    df.select(col("doc_id"), transform(col("spans"), s => struct(s("text").as("text"),
      s("offset").as("offset"), s("kind").as("kind"), s("media_ref").as("media_ref"))).as("spans"))

  private def files(dir: String, suffix: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(suffix)).toSeq.sortBy(_.getFileName.toString)

  test("a run on a fresh root: four jobs, no footer-inference read, one detail part") {
    val tmp = Files.createTempDirectory("graft-xjobs").toString
    // two input files, so the extraction job is not itself a 1-task job
    graft.gen.CorpusGen.docs(spark, 400, "skewed", seed = 11, megaSpans = 3000)
      .repartition(2).write.parquet(s"$tmp/in")
    val jobs = JobShape.jobs(spark.sparkContext)(run(s"$tmp/in", s"$tmp/out", nParts = 4))
    val shown = jobs.mkString("\n")
    // a parquet footer-inference read runs while a read's plan is built,
    // outside any SQL execution: the input's and the snapshot's are gone
    assert(!jobs.exists(j => j.site.startsWith("parquet at") && !j.inSqlExecution), shown)
    // the extraction write, the report summary, the detail CSV (one
    // task, which sorts the one detail partition and caches it) and the
    // `.wtr` stream of that cached partition
    assert(jobs.length == 4, shown)
    assert(files(s"$tmp/out/report/detail", ".csv").length == 1)
  }

  test("detail partitions: one per RowsPerDetailPart valid rows, at least one") {
    val cap = Extraction.RowsPerDetailPart
    assert(Extraction.detailParts(0) == 1)
    assert(Extraction.detailParts(1) == 1)
    assert(Extraction.detailParts(cap) == 1)
    assert(Extraction.detailParts(cap + 1) == 2)
  }

  test("a reordered span struct extracts exactly like the canonical one") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-xreorder").toString
    val docs = graft.gen.CorpusGen.docs(spark, 200, "edge", seed = 9).toDF()
    docs.write.parquet(s"$tmp/canon")
    reordered(docs).write.parquet(s"$tmp/reordered")
    run(s"$tmp/canon", s"$tmp/out_canon", nParts = 3)
    run(s"$tmp/reordered", s"$tmp/out_reordered", nParts = 3)
    def rows(out: String) = new SnapshotStore(spark, out).read().as[ProcessedDoc]
      .collect().sortBy(_.doc_id).toSeq
    def summary(out: String) =
      spark.read.parquet(s"$out/report/summary").as[EstimationReport].collect().toSeq
    def detail(out: String) = files(s"$out/report/detail", ".csv")
      .flatMap(f => Files.readAllLines(f).asScala.drop(1))
    def wtr(out: String) = files(s"$out/report", ".wtr").map(f => Files.readAllBytes(f).toSeq)
    val canon = rows(s"$tmp/out_canon")
    assert(canon.length == 200 && canon.exists(_.hit_ratio >= 0))
    assert(rows(s"$tmp/out_reordered") == canon)
    assert(summary(s"$tmp/out_reordered") == summary(s"$tmp/out_canon"))
    assert(detail(s"$tmp/out_reordered") == detail(s"$tmp/out_canon"))
    assert(wtr(s"$tmp/out_reordered") == wtr(s"$tmp/out_canon"))
  }

  test("pipeline refuses a reordered span struct, naming the field") {
    val docs = reordered(graft.gen.CorpusGen.docs(spark, 3, "edge").toDF())
    val err = intercept[IllegalArgumentException](Extraction.pipeline(docs))
    assert(err.getMessage.contains("spans element field 0 is `text string`, want `kind string`"),
      err.getMessage)
  }

  test("an input that is not a span table fails before any Spark job, naming the column") {
    val tmp = Files.createTempDirectory("graft-xschema").toString
    val docs = graft.gen.CorpusGen.docs(spark, 20, "edge").toDF()
    docs.select("doc_id").write.parquet(s"$tmp/no_spans")
    docs.select(col("doc_id"), transform(col("spans"), s => struct(s("kind").as("kind"),
      s("text").as("text"), s("media_ref").as("media_ref"), s("offset").cast("long").as("offset")))
      .as("spans")).write.parquet(s"$tmp/long_offset")
    Seq("no_spans" -> "no column spans",
      "long_offset" -> "spans.offset has type bigint, want int").foreach { case (in, want) =>
      var err: Throwable = null
      val jobs = JobShape.jobs(spark.sparkContext) {
        err = intercept[IllegalArgumentException](run(s"$tmp/$in", s"$tmp/out_$in", nParts = 2))
      }
      assert(err.getMessage.contains(want), err.getMessage)
      assert(jobs.isEmpty, jobs.mkString("\n"))
      assert(!Files.exists(Paths.get(s"$tmp/out_$in")))
    }
  }
}
