package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.JobShape
import org.apache.spark.sql.Dataset

import graft.model.EstimationReport
import graft.stages.{Extraction, ProcessedDoc}

/** `Extraction.writeReport` writes its three outputs (summary, detail
  * CSV, `.wtr`) concurrently: a failing output ends the call cleanly,
  * and the range-partitioned detail, above `RowsPerDetailPart` valid
  * rows, is in order across its parts. */
class WriteReportSpec extends SparkSpecBase {

  /** `n` processed docs with empty spans, unique `doc_id`s in scrambled
    * order (`n` prime to 7919) and ratios `k / 50` for k in [0, 5000),
    * so about n / 5000 docs share each ratio and the `doc_id` breaks the
    * ties. */
  private def docs(n: Long): Dataset[ProcessedDoc] = {
    import spark.implicits._
    spark.range(n).as[Long].map { i =>
      val id = f"d${i * 7919 % n}%06d"
      ProcessedDoc(id, Seq.empty, s"p$id", id, id, i * 7 % 5000 / 50.0,
        (i % 97).toInt, (i % 13).toInt, (i % 11).toInt, (i % 3).toInt, (i % 5).toInt, (i % 7).toInt)
    }
  }

  private def files(dir: String, suffix: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(suffix)).toSeq.sortBy(_.getFileName.toString)

  /** The detail's data rows, parts concatenated in order, headers dropped. */
  private def detail(dir: String): Seq[String] =
    files(dir, ".csv").flatMap(f => Files.readAllLines(f).asScala.drop(1))

  test("a failing output: writeReport waits for the others, throws it and unpersists the rows") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-report-fail").toString
    // the `.wtr`'s parent is a regular file, so its create fails while
    // the summary and detail jobs run
    Files.write(Paths.get(s"$tmp/blocker"), Array[Byte](1))
    val in = docs(4000).repartition(4)
    var err: Throwable = null
    val jobs = JobShape.jobs(spark.sparkContext) {
      err = intercept[java.io.IOException](
        Extraction.writeReport(in, s"$tmp/report", wtrPath = Some(s"$tmp/blocker/corpus.wtr")))
      // the outputs that succeed are complete when the call returns
      Seq("summary", "detail").foreach(d => assert(Files.exists(Paths.get(s"$tmp/report/$d/_SUCCESS"))))
    }
    assert(err.getMessage.contains(s"$tmp/blocker"), err.getMessage)
    // every listener event of the call is delivered: none of its jobs runs on
    assert(jobs.nonEmpty && spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.read.parquet(s"$tmp/report/summary").as[EstimationReport].collect().toSeq ==
      Seq(Extraction.report(in)))
    assert(detail(s"$tmp/report/detail").length == 4000)
  }

  test("above RowsPerDetailPart valid rows: two range parts in order, the .wtr as writeWtr's") {
    val n = Extraction.RowsPerDetailPart + 1
    val tmp = Files.createTempDirectory("graft-report-range").toString
    val in = docs(n)
    Extraction.writeReport(in, s"$tmp/report", wtrPath = Some(s"$tmp/report.wtr"))
    Extraction.writeWtr(in, s"$tmp/alone.wtr")
    val wtr = Files.readAllBytes(Paths.get(s"$tmp/report.wtr"))
    assert(wtr.toSeq == Files.readAllBytes(Paths.get(s"$tmp/alone.wtr")).toSeq)
    assert(new String(wtr, "UTF-8").count(_ == '\n') == n + 2)
    assert(files(s"$tmp/report/detail", ".csv").length == 2)
    val keys = detail(s"$tmp/report/detail").map { l =>
      val c = l.split(",", -1)
      (c(1).toDouble, c(0))
    }
    assert(keys.length == n)
    assert(keys == keys.sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)))
  }
}
