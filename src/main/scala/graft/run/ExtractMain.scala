package graft.run

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Checkpoint
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
  * summaries when every entry has one, else computed by a scan; the
  * detail CSV and the `.wtr` share one sort of the snapshot's rows.
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

  /** Legacy-layout migration: an output root written by the
    * marker-only release has committed `state/p_N` markers and data
    * parquet directly under `data/p_N` (no attempt dirs, no
    * manifests). Resume keyed solely on the snapshot store would
    * silently reprocess everything and strand the old files as
    * orphans the manifest GC can't see. On startup, if markers exist
    * but no manifest does, each completed legacy partition's loose
    * files are MOVED into a synthetic `a_legacy` attempt dir and that
    * dir is committed (lineage carried from the marker). Referencing
    * `data/p_N` itself would be wrong: it is the PARENT of all future
    * attempt dirs, so a later recommit would nest new files inside a
    * path older manifests still list recursively — double-reads under
    * time travel. Markers without completed data get an explicit
    * full-reprocess warning instead of a silent one. */
  def backfillLegacy(spark: SparkSession, outRoot: String,
      ckpt: Checkpoint, snap: graft.io.SnapshotStore): Unit = {
    if (snap.currentVersion().isDefined) return
    val legacy = ckpt.lineage().collect()
    if (legacy.isEmpty) return
    val fs = new org.apache.hadoop.fs.Path(outRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    legacy.foreach { r =>
      val p = r.getAs[Int]("part")
      val dataDir = new org.apache.hadoop.fs.Path(s"$outRoot/data/p_$p")
      if (fs.exists(new org.apache.hadoop.fs.Path(dataDir, "_SUCCESS"))) {
        val legacyAttempt = new org.apache.hadoop.fs.Path(dataDir, "a_legacy")
        fs.mkdirs(legacyAttempt)
        fs.listStatus(dataDir).filter(_.isFile).foreach { f =>
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(
            legacyAttempt, f.getPath.getName))
        }
        val v = snap.commit(p, legacyAttempt.toString, r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_spans"), r.getAs[Long]("n_failures"))
        println(s"[extract] backfilled legacy part=$p into snapshot v$v")
      } else {
        println(s"[extract] WARNING: legacy marker for part=$p has no " +
          s"completed data at $dataDir — the partition WILL be reprocessed")
      }
    }
  }

  /** Logical partition of a row, from its doc_id: the input bucketing
    * and the output's staging subdirs must agree on it. */
  private def partOf(nParts: Int): Column =
    pmod(xxhash64(col("doc_id")), lit(nParts)).cast("int")

  def run(spark: SparkSession, inPath: String, outRoot: String, nParts: Int,
      backup: Boolean = false, cfg: ExtractConfig = ExtractConfig()): Unit = {
    import spark.implicits._
    val ckpt = new Checkpoint(spark, outRoot)
    // the snapshot manifest is the only commit and lineage record
    // (MERGE-style overwrite-partition + snapshot isolation; see
    // SnapshotStore); Checkpoint is read only to migrate legacy roots
    // and names the S7 backup location
    val snap = new graft.io.SnapshotStore(spark, outRoot)
    val docs = spark.read.parquet(inPath).withColumn("part", partOf(nParts))

    backfillLegacy(spark, outRoot, ckpt, snap)
    // J1: resume is an in-driver set difference over partition
    // metadata, O(#partitions) — never a per-doc anti-join
    val committed = snap.entries()
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
          .write.mode(SaveMode.Overwrite).parquet(ckpt.backupPath(p))
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
      val schemaHash = graft.io.SnapshotStore.schemaHash(rows.drop("part").schema)
      val entries = todo.map { p =>
        // every attempt is a FRESH dir of parquet files plus `_SUCCESS`
        // (backfillLegacy recognises completed data by that marker);
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
    // driver; an entry without one (legacy backfill, bare commit,
    // older manifest) makes both scan the snapshot instead
    val committedNow = snap.entries()
    val merged = ReportParts.merge(committedNow.values.map(_.summary))
    val all = snap.read().as[graft.stages.ProcessedDoc]
    val rep = merged.map(_.toReport).getOrElse(Extraction.report(all))
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
    val stats = merged.map(_.replStatsSorted).getOrElse(
      Extraction.corpusReplStats(all).collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    println(s"[extract] replacement stats: ${stats.map { case (k, n) => s"$k:$n" }.mkString(", ")}")
    // lineage from the manifest, driver-side (the n_failures field
    // holds the unestimated-doc count; see SnapshotStore.Entry)
    committedNow.values.toSeq.sortBy(_.part).foreach { e =>
      println(s"[extract] lineage part=${e.part} docs=${e.nDocs} " +
        s"spans=${e.nSpans} unestimated=${e.nFailures} committed_at=${e.committedAt}")
    }
  }
}
