package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.io.SnapshotStore
import graft.model.EstimationReport
import graft.run.{ExtractMain, PipelineConfig}
import graft.stages.{ExtractConfig, Extraction, ProcessedDoc, ReportParts}

/** The post-write phase of `ExtractMain` from metadata: the report and
  * the replacement statistics merged from the manifest entries'
  * summaries equal the scans over the snapshot, one run publishes one
  * manifest version, and the one-sort detail/`.wtr` writer gives
  * `writeWtr`'s bytes. */
class ManifestReportSpec extends SparkSpecBase {

  private def doc(id: String, ratio: Double, stats: Map[String, Int] = Map.empty) =
    ProcessedDoc(id, Nil, s"p$id", id, id, ratio, 10, 1, 3, 0, 1, 2, stats)

  /** Runs `ExtractMain` and returns its `[extract]` lines. */
  private def extract(in: String, out: String, nParts: Int,
      cfg: ExtractConfig = ExtractConfig()): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(ExtractMain.run(spark, in, out, nParts, cfg = cfg))
    buf.toString("UTF-8").linesIterator.filter(_.startsWith("[extract]")).toSeq
  }

  private def statsLine(all: org.apache.spark.sql.Dataset[ProcessedDoc]): String =
    "[extract] replacement stats: " + Extraction.corpusReplStats(all).collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(", ")

  /** The run's written summary and printed statistics equal
    * `report` / `corpusReplStats` over the snapshot; `fromManifest`
    * says whether every entry carried a summary, so that the run
    * merged instead of scanning. */
  private def assertParity(out: String, lines: Seq[String], fromManifest: Boolean): Unit = {
    import spark.implicits._
    val snap = new SnapshotStore(spark, out)
    val all = snap.read().as[ProcessedDoc]
    val want = Extraction.report(all)
    val written = spark.read.parquet(s"$out/report/summary").as[EstimationReport].collect().toSeq
    assert(written == Seq(want))
    assert(lines.contains(statsLine(all)), lines.mkString("\n"))
    val merged = ReportParts.merge(snap.entries().values.map(_.summary))
    assert(merged.isDefined == fromManifest)
    merged.foreach { m =>
      assert(m.toReport == want)
      assert(m.replStatsSorted == Extraction.corpusReplStats(all).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq)
    }
  }

  test("report parity: a fresh edge corpus, from the manifest") {
    val tmp = Files.createTempDirectory("graft-mrep-edge").toString
    graft.gen.CorpusGen.docs(spark, 300, "edge", seed = 8).write.parquet(s"$tmp/in")
    val lines = extract(s"$tmp/in", s"$tmp/out", nParts = 4)
    assertParity(s"$tmp/out", lines, fromManifest = true)
    import spark.implicits._
    val all = new SnapshotStore(spark, s"$tmp/out").read().as[ProcessedDoc].collect()
    assert(all.exists(_.hit_ratio == -1.0), "corpus has no unestimated doc")
    assert(all.exists(_.hit_ratio == 100.0) && all.exists(_.hit_ratio == 0.0))
    // the one sort orders by doc_id and names `.wtr` lines by
    // file_name: on pipeline rows the two are the same string
    assert(all.forall(d => d.file_name == d.doc_id))
  }

  test("report parity: the E1 ini with a regex rule (match=>replacement keys)") {
    val tmp = Files.createTempDirectory("graft-mrep-e1").toString
    graft.gen.CorpusGen.docs(spark, 200, "edge", seed = 3).write.parquet(s"$tmp/in")
    val cfg = PipelineConfig.toExtractConfig(PipelineConfig.steps(
      PipelineConfig.parseIni(PipelineConfigSpec.OrderedStepsIni)))
    assert(cfg.regexRule.nonEmpty)
    // a corpus whose texts the regex rule matches, next to the edge docs
    import spark.implicits._
    Seq(graft.model.Doc("regex_doc", Seq(
      graft.model.Span(graft.model.Span.KindText, "da3\" und li3:\"", "line://b/l0", 0),
      graft.model.Span(graft.model.Span.KindText, "wort", "line://b/l0", 1))))
      .toDF().write.mode(SaveMode.Append).parquet(s"$tmp/in")
    val lines = extract(s"$tmp/in", s"$tmp/out", nParts = 3, cfg)
    assertParity(s"$tmp/out", lines, fromManifest = true)
    assert(lines.exists(l => l.startsWith("[extract] replacement stats:") && l.contains("=>")),
      lines.mkString("\n"))
  }

  test("report parity: a partial snapshot left by per-partition commits, resumed") {
    val tmp = Files.createTempDirectory("graft-mrep-resume").toString
    graft.gen.CorpusGen.docs(spark, 120, "edge", seed = 5).write.parquet(s"$tmp/in")
    val out = s"$tmp/out"
    extract(s"$tmp/in", out, nParts = 4)
    val snap = new SnapshotStore(spark, out)
    val run1 = snap.entries().values.toSeq.sortBy(_.part)
    new java.io.File(s"$out/snapshots/v1.manifest").delete()
    // an older release's two commits carry no summary: the rerun scans
    run1.take(2).foreach(e => snap.commit(e.part, e.path, e.nDocs, e.nSpans, e.nFailures))
    assertParity(out, extract(s"$tmp/in", out, nParts = 4), fromManifest = false)
    // the same partial state committed with the summaries merges
    new java.io.File(out, "snapshots").listFiles().foreach(_.delete())
    run1.take(2).foreach(e => snap.commit(e.part, e.path, e.nDocs, e.nSpans, e.nFailures, e.summary))
    assertParity(out, extract(s"$tmp/in", out, nParts = 4), fromManifest = true)
    assert(snap.currentVersion().contains(3L))
  }

  test("report parity: a backfilled legacy root falls back to the scans") {
    val tmp = Files.createTempDirectory("graft-mrep-legacy").toString
    graft.gen.CorpusGen.docs(spark, 80, "edge", seed = 6).write.parquet(s"$tmp/in")
    val out = s"$tmp/out"
    extract(s"$tmp/in", out, nParts = 2)
    // the marker-only layout (see CheckpointSpec's legacy case)
    val snap = new SnapshotStore(spark, out)
    val ckpt = new graft.io.Checkpoint(spark, out)
    snap.entries().values.foreach(e => ckpt.commit(e.part, e.nDocs, e.nSpans, e.nFailures))
    new java.io.File(s"$out/snapshots").listFiles().foreach(_.delete())
    (0 until 2).foreach { p =>
      val pDir = new java.io.File(s"$out/data/p_$p")
      val attempt = pDir.listFiles().filter(_.isDirectory).head
      attempt.listFiles().foreach(f => Files.move(f.toPath, new java.io.File(pDir, f.getName).toPath))
      attempt.delete()
    }
    val lines = extract(s"$tmp/in", out, nParts = 2)
    assert(snap.entries().values.forall(_.path.endsWith("a_legacy")))
    assertParity(out, lines, fromManifest = false)
  }

  test("report parity: after compact, the summary is carried forward") {
    val tmp = Files.createTempDirectory("graft-mrep-compact").toString
    graft.gen.CorpusGen.docs(spark, 100, "edge", seed = 7).write.parquet(s"$tmp/in")
    val out = s"$tmp/out"
    extract(s"$tmp/in", out, nParts = 2)
    val snap = new SnapshotStore(spark, out)
    val before = snap.entries()(1)
    snap.compact(1)
    assert(snap.entries()(1).summary == before.summary && before.summary.nonEmpty)
    assertParity(out, extract(s"$tmp/in", out, nParts = 2), fromManifest = true)
  }

  test("lineage parts equal the report per partition, ratios on the bin edges") {
    import spark.implicits._
    val ratios = Seq(0.0, 15.0, 30.0, 45.0, 60.0, 100.0, 14.999, 59.9995, 79.211,
      -1.0, 33.333, 12.3456789, 0.001, 99.9999, -1.0, 45.0)
    // equal hit counts tie-break on the key in UTF-8 byte order, which
    // puts U+FF21 before U+1F600 (UTF-16 order would not)
    val keys = Seq("b", "a", "é", "Ａ", "😀", "x=>y", "q\"uote,;:=%+")
    val ds = ratios.zipWithIndex.map { case (r, i) =>
      doc(f"d$i%02d", r, if (i % 2 == 0) keys.map(_ -> 1).toMap else Map("b" -> 2))
    }.toDS()
    val nParts = 3
    val part = pmod(xxhash64(col("doc_id")), lit(nParts)).cast("int")
    val (observed, lineage) = Extraction.withLineage(ds.toDF().withColumn("part", part), nParts)
    observed.write.format("noop").mode("overwrite").save()
    val got = lineage()
    (0 until nParts).foreach { p =>
      val rows = ds.filter(part === p)
      assert(got(p)._4.toReport == Extraction.report(rows), s"part $p")
      assert(got(p)._1 == rows.count())
    }
    val merged = got.map(_._4).reduce(_ + _)
    assert(merged.toReport == Extraction.report(ds))
    val want = Extraction.corpusReplStats(ds).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(merged.replStatsSorted == want)
    assert(want.map(_._1) == Seq("b", "a", "q\"uote,;:=%+", "x=>y", "é", "Ａ", "😀"))
  }

  test("summary encoding round-trips any stat key, also through the manifest") {
    val keys = Seq("", " ", "a\"b", "x=>y", "k;v", "k,v", "k:v", "k=v", "100%", "a+b",
      "back\\slash", "ſ", "日本", "😀", "tab\tnew\nline", "\u0001")
    val parts = ReportParts(7, 2, 5, new java.math.BigDecimal("123.4560000000"),
      Seq(1L, 0L, 2L, 1L, 1L), keys.zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap)
    val enc = parts.encode
    assert(ReportParts.decode(enc).contains(parts))
    assert(ReportParts.decode("").isEmpty && ReportParts.decode("garbage").isEmpty)
    val tmp = Files.createTempDirectory("graft-mrep-enc").toString
    val snap = new SnapshotStore(spark, tmp)
    val path = snap.newDataPath(0)
    spark.range(1).write.parquet(path)
    // the store carries any summary string unread: JSON-hostile ones too
    val raw = "{\"k\":\"a\\\\b\"}\n\u0001" + keys.mkString("|")
    snap.commit(0, path, 1, 1, 0, raw)
    assert(snap.entries()(0).summary == raw)
    snap.commit(0, path, 1, 1, 0, enc)
    assert(ReportParts.merge(snap.entries().values.map(_.summary)).contains(parts))
    // a bare commit stores none, and the merge says so
    snap.commit(1, path, 1, 1, 0)
    assert(snap.entries()(1).summary.isEmpty)
    assert(ReportParts.merge(snap.entries().values.map(_.summary)).isEmpty)
  }

  test("commitAll: one version per run, all or nothing, footer-free schema hash") {
    val tmp = Files.createTempDirectory("graft-commitall").toString
    graft.gen.CorpusGen.docs(spark, 60, "interleaved").write.parquet(s"$tmp/in")
    val lines = extract(s"$tmp/in", s"$tmp/out", nParts = 4)
    val snap = new SnapshotStore(spark, s"$tmp/out")
    assert(snap.currentVersion().contains(1L))
    val es = snap.entries().values.toSeq.sortBy(_.part)
    assert(es.map(_.part) == (0 until 4))
    assert(es.map(_.committedAt).toSet.size == 1)
    assert(lines.count(_.startsWith("[extract] committed part=")) == 4)
    assert(lines.filter(_.startsWith("[extract] committed")).forall(_.contains("snapshot=v1 ")))

    // the hash commitAll stored equals the one commit gets by a footer read
    val probe = new SnapshotStore(spark, s"$tmp/probe")
    es.foreach { e =>
      probe.commit(e.part, e.path, e.nDocs, e.nSpans, e.nFailures)
      assert(probe.entries()(e.part).schemaHash == e.schemaHash)
    }

    // a missing path publishes nothing
    def tmpFiles = new java.io.File(s"$tmp/out/snapshots").list().count(_.startsWith("_tmp."))
    val tmpBefore = tmpFiles
    val missing = s"$tmp/out/data/p_9/a_never_written"
    val err = intercept[java.io.IOException](snap.commitAll(Seq(
      es.head.copy(part = 8), snap.Entry(9, missing, 1, 1, 0, "", es.head.schemaHash))))
    assert(err.getMessage.contains(missing))
    assert(snap.currentVersion().contains(1L) && snap.done() == Set(0, 1, 2, 3))
    assert(tmpFiles == tmpBefore)
  }

  test(".wtr from the one sort equals writeWtr byte for byte; the detail keeps ids exactly") {
    import spark.implicits._
    val ids = Seq(" lead", "trail ", "a,b", "say \"hi\"", "back\\slash", "ünïcödé",
      "日本語", "  both  ")
    // ties: many docs on one ratio, ids arriving out of order
    val ties = (0 until 40).map(i => f"tie${(i * 17) % 40}%02d")
    // the `.wtr` names a row by file_name, the detail by doc_id
    val renamed = doc("renamed_doc", 50.0).copy(file_name = "renamed_file")
    val docs = (ids.zipWithIndex.map { case (id, i) => doc(id, Seq(50.0, 12.3445, 79.211)(i % 3)) } ++
      ties.map(doc(_, 50.0)) ++ Seq(doc("bad", -1.0), doc("top", 100.0), renamed))
      .toDS().repartition(4)
    val tmp = Files.createTempDirectory("graft-onesort").toString
    val one = s"$tmp/one.wtr"
    val rep = Extraction.writeReport(docs, s"$tmp/report", wtrPath = Some(one))
    Extraction.writeWtr(docs, s"$tmp/ref.wtr")
    assert(Files.readAllBytes(Paths.get(one)).sameElements(Files.readAllBytes(Paths.get(s"$tmp/ref.wtr"))))
    val wtrLines = new String(Files.readAllBytes(Paths.get(one)), "UTF-8").split("\n").toSeq
    assert(wtrLines.exists(_.startsWith("renamed_file,")) && !wtrLines.exists(_.startsWith("renamed_doc")))
    assert(rep == Extraction.report(docs))

    val back = spark.read.option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false").option("ignoreTrailingWhiteSpace", "false")
      .csv(s"$tmp/report/detail").select("doc_id").as[String].collect().sorted.toSeq
    assert(back == (ids ++ ties :+ "top" :+ "renamed_doc").sorted)
  }
}
