package graft.run

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.SnapshotStore
import graft.stages.{ExtractConfig, Extraction, ReportParts}

/** Checkpointed extraction job over a span table — the engine twin of
  * `python ocr_pipeline.py <data_path>` (ocr_pipeline.py:445-538).
  *
  * Usage: ExtractMain <spansParquet> <outRoot> [nParts]
  *
  * The corpus is bucketed into `nParts` logical partitions by doc_id
  * hash (the analog of the reference's directory partitions), and the
  * partition stays the unit of commit and resume: each one is committed
  * once, as one snapshot-manifest entry carrying its lineage metrics,
  * and a rerun processes only the partitions the current manifest does
  * not list (SnapshotStore). This is the engine's only incremental
  * path. Its limit: rows appended to the input after every partition
  * has committed are never extracted (their partitions are done); a
  * rerun that finds nothing pending but an input count unlike the
  * manifest's prints a WARNING line with both numbers.
  *
  * All pending partitions go through ONE Spark job: one scan of the
  * input, one pass of the codegen'd span stages, one write partitioned
  * by `part` into a staging dir, with the per-partition lineage and
  * report statistics observed in the same pass. The driver then moves
  * each partition's output into a fresh attempt dir and commits them
  * all as ONE manifest version per run (`SnapshotStore.commitAll`; the
  * schema fingerprint comes from the written DataFrame, no footer is
  * read). The trade: a run killed during that write or before the
  * commit commits nothing from that run, where a per-partition job
  * would have kept the partitions finished before the kill. A killed
  * run's staging dir is an unreferenced data dir, which
  * [[graft.io.SnapshotStore.expire]] collects like any orphan attempt.
  * After the commit come the corpus report (S11), the `.wtr` file and
  * the replacement statistics of the current snapshot. The report and
  * the statistics are merged on the driver from the manifest entries'
  * summaries, with no scan; the detail CSV and the `.wtr` share one
  * sort of the snapshot's rows.
  *
  * The current manifest is the only output-root layout read: a root in
  * the pre-manifest marker layout (`state/p_N`, no manifest), or one
  * whose manifest has an entry without a decodable report summary,
  * fails before any Spark job and is left as it was.
  */
object ExtractMain {

  def main(args: Array[String]): Unit = {
    val inPath = args(0)
    val outRoot = args(1)
    val nParts = if (args.length > 2) args(2).toInt else 8
    val backup = sys.env.get("SPARK_GRAFT_BACKUP").contains("1")
    // E1: an ini pipeline definition (the reference's own config file
    // format) drives the stage chain when provided
    val cfg = sys.env.get("SPARK_GRAFT_CONFIG").map { p =>
      PipelineConfig.toExtractConfig(PipelineConfig.steps(
        PipelineConfig.parseIni(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p)))))
    }.getOrElse(ExtractConfig())
    val spark = graft.Session("graft-extract")
    run(spark, inPath, outRoot, nParts, backup, cfg)
    spark.stop()
  }

  /** The current manifest's entries, once `outRoot` is checked to be in
    * the one layout read; file metadata only, so no Spark job runs. */
  private def requireManifestLayout(spark: SparkSession, outRoot: String,
      snap: SnapshotStore): Map[Int, snap.Entry] = {
    val fs = new Path(outRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = snap.currentVersion()
    if (version.isEmpty && fs.exists(new Path(outRoot, "state")))
      throw new IllegalStateException(s"$outRoot holds the pre-manifest marker " +
        "layout (state/p_N markers, no snapshots/v<N>.manifest), which is not " +
        "read any more: extract into a new out root")
    val committed = snap.entries(version)
    val unsummarised = committed.values.filter(e => ReportParts.decode(e.summary).isEmpty)
      .map(_.part).toSeq.sorted
    if (unsummarised.nonEmpty)
      throw new IllegalStateException(s"$outRoot: snapshot v${version.get} lists " +
        s"part(s) ${unsummarised.mkString(",")} without a report summary (a manifest " +
        "written before entries carried one): extract into a new out root")
    committed
  }

  /** Logical partition of a row, from its doc_id: the input bucketing
    * and the output's staging subdirs must agree on it. */
  private def partOf(nParts: Int): Column =
    pmod(xxhash64(col("doc_id")), lit(nParts)).cast("int")

  def run(spark: SparkSession, inPath: String, outRoot: String, nParts: Int,
      backup: Boolean = false, cfg: ExtractConfig = ExtractConfig()): Unit = {
    import spark.implicits._
    // the snapshot manifest is the only commit and lineage record
    // (MERGE-style overwrite-partition + snapshot isolation; see
    // SnapshotStore)
    val snap = new SnapshotStore(spark, outRoot)
    val committed = requireManifestLayout(spark, outRoot, snap)
    val docs = spark.read.parquet(inPath).withColumn("part", partOf(nParts))

    // J1: resume is an in-driver set difference over partition
    // metadata, O(#partitions) — never a per-doc anti-join
    val todo = (0 until nParts).filterNot(committed.contains)
    println(s"[extract] partitions total=$nParts pending=${todo.size}")
    // the resume unit is the partition, so rows appended to the input
    // after every partition committed are never extracted: say so
    // instead of finishing silently (one count, only when idle)
    if (todo.isEmpty) {
      val nIn = docs.count()
      val nCommitted = committed.values.map(_.nDocs).sum
      if (nIn != nCommitted)
        println(s"[extract] WARNING: input holds $nIn docs, the committed " +
          s"snapshot $nCommitted; every partition is done, so rows added " +
          "since are not extracted (a new out root extracts them)")
    }

    // S7: backup only when the config can actually modify content —
    // the reference's `if self._replacements and self.must_backup()`
    // gate (lib/ocr_step.py:230-232)
    if (backup && (cfg.replaceDict.nonEmpty || cfg.regexRule.nonEmpty))
      todo.foreach { p =>
        docs.filter($"part" === p).drop("part")
          .write.mode(SaveMode.Overwrite).parquet(s"$outRoot/backup/p_$p")
      }

    if (todo.nonEmpty) {
      // the pipeline keeps only its own columns: `part` is re-derived
      // from doc_id and names each row's staging subdir
      val rows = Extraction.pipeline(docs.filter($"part".isin(todo: _*)), cfg)
        .toDF().withColumn("part", partOf(nParts))
      val (observed, lineage) = Extraction.withLineage(rows, nParts)
      val staging = new Path(s"$outRoot/data/_staging/a_${System.nanoTime()}")
      observed.write.partitionBy("part").parquet(staging.toString)
      val counts = lineage()
      val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val schemaHash = SnapshotStore.schemaHash(rows.drop("part").schema)
      val entries = todo.map { p =>
        // every attempt is a FRESH dir of parquet files plus `_SUCCESS`;
        // commits replace metadata, never files
        val attempt = new Path(snap.newDataPath(p))
        val written = new Path(staging, s"part=$p")
        if (fs.exists(written)) {
          fs.mkdirs(attempt.getParent)
          if (!fs.rename(written, attempt))
            throw new java.io.IOException(s"cannot move $written to $attempt")
          fs.create(new Path(attempt, "_SUCCESS")).close()
        } else {
          // no rows hashed here: a schema-only file, no scan
          rows.drop("part").limit(0).write.parquet(attempt.toString)
        }
        val (nDocs, nSpans, nUnest, parts) = counts(p)
        snap.Entry(p, attempt.toString, nDocs, nSpans, nUnest, "", schemaHash, parts.encode)
      }
      val v = snap.commitAll(entries)
      entries.foreach { e =>
        println(s"[extract] committed part=${e.part} snapshot=v$v docs=${e.nDocs} " +
          s"spans=${e.nSpans} unestimated=${e.nFailures}")
      }
      fs.delete(staging, true)
      if (fs.listStatus(staging.getParent).isEmpty) fs.delete(staging.getParent, false)
    }

    // corpus report over the CURRENT SNAPSHOT (consistent view;
    // ocr_pipeline.py:233-269): summary (mean + bins + totals) and
    // ratio-sorted detail (S11 .wtr). The summary and the replacement
    // statistics merge the entries' summaries, O(#partitions) on the
    // driver
    val committedNow = snap.entries()
    val merged = ReportParts.merge(committedNow.values.map(e => e.part -> e.summary))
    val all = snap.read().as[graft.stages.ProcessedDoc]
    val rep = merged.toReport
    // exact-layout `.wtr` compatibility file for downstream parsers,
    // written from the detail's sorted rows. Over the driver-streamed
    // cap the run must NOT die at its last step: skip the compat file
    // (the distributed report is the corpus-scale surface) and keep
    // going with maintenance
    val wtrPath = if (rep.n_total > Extraction.WtrMaxRows) None else {
      val stamp = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd_HH-mm").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      Some(s"$outRoot/report/corpus_$stamp.wtr")
    }
    Extraction.writeReport(all, s"$outRoot/report", Some(rep), wtrPath)
    println(s"[extract] report: mean=${rep.mean} bins=[${rep.b1},${rep.b2},${rep.b3},${rep.b4},${rep.b5}] " +
      s"total=${rep.n_total} invalid=${rep.n_invalid}")
    wtrPath match {
      case Some(p) => println(s"[extract] wtr: $p")
      case None => println(s"[extract] wtr skipped: ${rep.n_total} rows exceed the " +
        s"driver-streamed cap ${Extraction.WtrMaxRows}; use the distributed report")
    }
    // optional snapshot maintenance: SPARK_GRAFT_EXPIRE=<keepLast>
    // drops manifest history and GCs orphaned attempt dirs
    sys.env.get("SPARK_GRAFT_EXPIRE").map(_.toInt).foreach { keep =>
      val (m, d) = snap.expire(keep)
      println(s"[extract] expired $m snapshots, removed $d orphan dirs (keepLast=$keep)")
    }
    // A1/A2 corpus replacement statistics, reference `ſ:392` format
    // (ocr_pipeline.py:402-411) — O(#distinct keys) driver-side
    val stats = merged.replStatsSorted
    println(s"[extract] replacement stats: ${stats.map { case (k, n) => s"$k:$n" }.mkString(", ")}")
    // lineage from the manifest, driver-side (the n_failures field
    // holds the unestimated-doc count; see SnapshotStore.Entry)
    committedNow.values.toSeq.sortBy(_.part).foreach { e =>
      println(s"[extract] lineage part=${e.part} docs=${e.nDocs} " +
        s"spans=${e.nSpans} unestimated=${e.nFailures} committed_at=${e.committedAt}")
    }
  }
}
