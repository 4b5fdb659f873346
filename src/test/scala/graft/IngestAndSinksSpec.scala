package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.model.{Doc, Span}
import graft.parse.OcrXmlParser
import graft.run.{ExtractMain, IngestAny}

/** S3 multi-directory scan, C9 geometry carry-through, and the S7
  * pre-image backup sink. */
class IngestAndSinksSpec extends SparkSpecBase {

  private val resDir = Paths.get("/root/reference/tests/resources")

  /** Minimal hand-written ALTO v4 doc (synthesized, not copied). */
  private def altoXml(id: String, word: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<alto xmlns="http://www.loc.gov/standards/alto/ns-v4#">
       |<Layout><Page ID="$id"><PrintSpace>
       |<TextBlock ID="b1">
       |<TextLine ID="l1" HPOS="10" VPOS="20" WIDTH="100" HEIGHT="30">
       |<String ID="s1" CONTENT="$word"/><String ID="s2" CONTENT="Welt"/>
       |</TextLine></TextBlock>
       |</PrintSpace></Page></Layout></alto>""".stripMargin

  test("S3: comma-separated multi-directory scan reads all roots") {
    val base = Files.createTempDirectory("graft-multi")
    val d1 = Files.createDirectories(base.resolve("a/nested"))
    val d2 = Files.createDirectories(base.resolve("b"))
    Files.writeString(d1.resolve("doc_one.xml"), altoXml("p1", "Eins"))
    Files.writeString(d2.resolve("doc_two.xml"), altoXml("p2", "Zwei"))
    Files.writeString(d2.resolve("ignored.txt"), "not xml")
    val raw = IngestAny.readFiles(spark,
      Seq(base.resolve("a").toString, base.resolve("b").toString), "*.xml")
    val docs = IngestAny.parseDocs(raw).collect().sortBy(_.doc_id)
    assert(docs.map(_.doc_id).toSeq == Seq("doc_one", "doc_two"))
    assert(docs.forall(_.spans.length == 2))
    assert(docs.head.spans.map(_.text) == Seq("Eins", "Welt"))
  }

  test("C9: ALTO line geometry carried as the reference's rect corners") {
    assume(Files.isReadable(resDir.resolve("500_gray00003.xml")))
    val xml = new String(Files.readAllBytes(resDir.resolve("500_gray00003.xml")),
      java.nio.charset.StandardCharsets.UTF_8)
    val shapes = OcrXmlParser.lineShapes(new graft.parse.OcrXmlParser().parse(xml))
    val byRef = shapes.toMap
    // line_0: HPOS=475 VPOS=2849 WIDTH=43 HEIGHT=1013 (fixture attrs)
    assert(byRef.keys.exists(_.endsWith("/line_0")))
    val l0 = shapes.find(_._1.endsWith("/line_0")).get._2
    assert(l0 == Vector((475, 2849), (518, 2849), (518, 3862), (475, 3862)))
    assert(shapes.forall(_._2.length == 4)) // ALTO: always 4 corners
  }

  test("C9: PAGE line geometry carried as the Coords polygon") {
    assume(Files.isReadable(resDir.resolve("ram110.xml")))
    val xml = new String(Files.readAllBytes(resDir.resolve("ram110.xml")),
      java.nio.charset.StandardCharsets.UTF_8)
    val shapes = OcrXmlParser.lineShapes(new graft.parse.OcrXmlParser().parse(xml))
    assert(shapes.nonEmpty)
    assert(shapes.forall(_._2.nonEmpty))
  }

  test("C9: parseShapes emits the distributed geometry side table") {
    import spark.implicits._
    val xml = altoXml("p1", "Hallo").getBytes("UTF-8")
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    val raw = Seq(("d1", xml), ("d2", bom ++ xml)).toDS()
    val rows = IngestAny.parseShapes(raw).collect().sortBy(_._1)
    // the BOM-prefixed copy yields the same shapes
    val corners = Seq((10, 20), (110, 20), (110, 50), (10, 50))
    assert(rows.toSeq == Seq(("d1", "line://b1/l1", corners),
      ("d2", "line://b1/l1", corners)))
  }

  test("E1: the reference's own ini config drives ExtractMain end-to-end") {
    import spark.implicits._
    import graft.run.PipelineConfig
    val iniPath = Paths.get("/root/reference/tests/resources/ocr_config_full.ini")
    assume(Files.isReadable(iniPath))
    val cfg = PipelineConfig.toExtractConfig(PipelineConfig.steps(
      PipelineConfig.parseIni(Files.readString(iniPath))))
    assert(cfg.replaceDict.nonEmpty && cfg.regexRule.nonEmpty)
    val tmp = Files.createTempDirectory("graft-ini").toString
    val docs = Seq(Doc("d1", Seq(
      Span(Span.KindText, "das s<öne", "line://b/l0", 0),
      Span(Span.KindText, "ic)", "line://b/l0", 1))))
    docs.toDF().write.mode("overwrite").parquet(s"$tmp/in")
    ExtractMain.run(spark, s"$tmp/in", s"$tmp/out", nParts = 1, backup = false, cfg = cfg)
    val out = new graft.io.SnapshotStore(spark, s"$tmp/out").read()
      .as[graft.stages.ProcessedDoc].collect().head
    // the ini's ordered dict (ic)→ich, s<→sc, <→c after entity decode)
    assert(out.spans.map(_.text) == Seq("das scöne", "ich"))
    assert(out.repl_stats.keySet == Set("ic)", "s<"))
  }

  test("E1: an inline ini config drives ExtractMain like Extraction.pipeline") {
    import spark.implicits._
    import graft.run.PipelineConfig
    import graft.stages.{Extraction, ProcessedDoc}
    val cfg = PipelineConfig.toExtractConfig(PipelineConfig.steps(
      PipelineConfig.parseIni(PipelineConfigSpec.OrderedStepsIni)))
    assert(cfg.regexRule.nonEmpty && cfg.pagePrefix == "")
    val tmp = Files.createTempDirectory("graft-ini-inline").toString
    graft.gen.CorpusGen.docs(spark, 40, "interleaved").write.parquet(s"$tmp/in")
    ExtractMain.run(spark, s"$tmp/in", s"$tmp/out", nParts = 2, cfg = cfg)
    val got = new graft.io.SnapshotStore(spark, s"$tmp/out").read()
      .as[ProcessedDoc].collect().sortBy(_.doc_id).toSeq
    val want = Extraction.pipeline(spark.read.parquet(s"$tmp/in"), cfg)
      .collect().sortBy(_.doc_id).toSeq
    assert(got.size == 40)
    assert(got == want)
    // the ini's regex step fired (its stats keys are `match=>replacement`)
    val keys = got.flatMap(_.repl_stats.keys).toSet
    assert(keys.exists(_.contains("=>")), keys)
  }

  test("S7: backup sink preserves the pre-image of each partition") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-backup").toString
    val docs = (0 until 12).map(i => Doc(s"doc$i",
      Seq(Span(Span.KindText, s"wort$i ſ", "line://b/l0", 0))))
    docs.toDF().write.mode("overwrite").parquet(s"$tmp/in")

    ExtractMain.run(spark, s"$tmp/in", s"$tmp/out", nParts = 2, backup = true)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/out/backup/p_0")))
    val backedUp = spark.read.parquet(s"$tmp/out/backup/p_*").as[Doc].collect()
    assert(backedUp.length == 12)
    // pre-image: the ORIGINAL text, before the ſ→s style replacements
    assert(backedUp.forall(_.spans.head.text.endsWith("ſ")))

    // without the flag no backup is written
    ExtractMain.run(spark, s"$tmp/in", s"$tmp/out2", nParts = 2, backup = false)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/out2/backup")))
  }
}
