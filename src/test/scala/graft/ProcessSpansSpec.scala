package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.model.Doc
import graft.parse.OcrXmlParser
import graft.sql.ProcessSpans
import graft.stages.{ExtractConfig, Extraction, ProcessedDoc, RegexRule}

/** The row-kernel hot path must be row-for-row identical to the pure
  * typed twin — on the real fixtures, on all generator profiles
  * (including edge cases) and on hostile span rows. */
class ProcessSpansSpec extends SparkSpecBase {

  private def equivalent(docs: Seq[Doc], cfg: ExtractConfig): Unit = {
    import spark.implicits._
    equivalent(docs.toDF(), cfg)
  }

  /** Asserts both twins agree on every field of every row of `df`;
    * returns the kernel's rows by doc_id. */
  private def equivalent(df: DataFrame, cfg: ExtractConfig): Map[String, ProcessedDoc] = {
    val fast = Extraction.pipeline(df, cfg).collect()
      .map(p => p.doc_id -> p).toMap
    val ref = Extraction.pipelineHof(df, cfg).collect()
    assert(ref.length == fast.size)
    ref.foreach { r =>
      val f = fast(r.doc_id)
      assert(f.spans == r.spans, s"spans of ${r.doc_id}")
      assert((f.hit_ratio, f.n_words, f.n_errs, f.n_lines_in, f.n_wraps,
        f.n_shorts, f.n_lines_out) ==
        ((r.hit_ratio, r.n_words, r.n_errs, r.n_lines_in, r.n_wraps,
          r.n_shorts, r.n_lines_out)), s"estimation of ${r.doc_id}")
      assert(f.repl_stats == r.repl_stats, s"repl stats of ${r.doc_id}")
      assert((f.page_id, f.file_identifier, f.file_name) == ((r.page_id, r.file_identifier, r.file_name)))
    }
    fast
  }

  test("expression path == HOF path on generated profiles") {
    val docs = (0L until 120L).map { i =>
      val profile = Seq("uniform", "interleaved", "skewed", "edge")((i % 4).toInt)
      graft.gen.CorpusGen.genDoc(i, profile, 7L, 2000)
    }
    equivalent(docs, ExtractConfig())
    equivalent(docs, ExtractConfig(
      regexRule = Some(RegexRule("([aeioubcglnt]3[:-]*\")", "3", "s")),
      pagePrefix = ""))
  }

  test("RTL reorder configs run the expression hot path and match the HOF twin") {
    val resDir = Paths.get("/root/reference/tests/resources")
    assume(Files.isReadable(resDir.resolve("Lubab_alAlbab.pdf_000003.xml")))
    val parser = new OcrXmlParser
    val xml = new String(Files.readAllBytes(
      resDir.resolve("Lubab_alAlbab.pdf_000003.xml")),
      java.nio.charset.StandardCharsets.UTF_8)
    val arabic = Doc("Lubab_alAlbab.pdf_000003",
      OcrXmlParser.toSpans("Lubab_alAlbab.pdf_000003", parser.parse(xml)))
    val generated = (0L until 40L).map(i =>
      graft.gen.CorpusGen.genDoc(i, "interleaved", 11L, 1500))
    val cfg = ExtractConfig(reorderRtl = true)
    equivalent(arabic +: generated, cfg)
    // the hot path must actually be taken (no HOF fallback): the
    // analyzed plan contains the custom expression (the EXECUTED plan
    // of a local Seq is pre-evaluated by ConvertToLocalRelation)
    import spark.implicits._
    val plan = Extraction.pipeline(Seq(arabic).toDF(), cfg)
      .queryExecution.analyzed.toString.toLowerCase
    assert(plan.contains("processspans"),
      s"RTL config fell off the expression path:\n$plan")
  }

  test("negative offsets sort in signed order (stable)") {
    import spark.implicits._
    import graft.model.Span
    val doc = Doc("neg", Seq(
      Span("text", "c", "line://b/l0", 1),
      Span("text", "a", "line://b/l0", -2),
      Span("text", "b", "line://b/l0", -1),
      Span("text", "z", "line://b/l0", 0)))
    val out = Extraction.pipeline(Seq(doc).toDF(), ExtractConfig()).collect().head
    assert(out.spans.map(_.text) == Seq("a", "b", "z", "c"))
  }

  test("expression path == HOF path on reference fixtures") {
    val resDir = Paths.get("/root/reference/tests/resources")
    assume(Files.isReadable(resDir.resolve("500_gray00003.xml")))
    val parser = new OcrXmlParser
    val docs = Seq("500_gray00003.xml", "16331001.xml", "16331011.xml",
      "0041.xml", "1667524704_J_0173_0173.xml").map { name =>
      val xml = new String(Files.readAllBytes(resDir.resolve(name)),
        java.nio.charset.StandardCharsets.UTF_8)
      Doc(name.stripSuffix(".xml"),
        OcrXmlParser.toSpans(name.stripSuffix(".xml"), parser.parse(xml)))
    }
    equivalent(docs, ExtractConfig(replaceDict = graft.text.TextRules.FixtureReplaceDict))
  }

  // Hostile span rows, built from Rows because a case class cannot
  // hold a null offset, element or array. Each doc has one word line
  // ("Haus Garten", both no error under the lexicon) next to its
  // hostile part; the pinned spans are (kind, text, media_ref, offset)
  // of the kernel's output, whose estimate is then 2 words at 100.0.
  private val word = Row("text", "Haus", "line://b/l0", 0)
  private val word2 = Row("text", "Garten", "line://b/l0", 1)
  private val wordSpans = Seq(("text", "Haus", "line://b/l0", 0), ("text", "Garten", "line://b/l0", 1))
  private val hostile: Seq[(String, Seq[Row], Seq[(String, String, String, Int)])] = Seq(
    ("tab_only", Seq(word, Row("text", "\t", "line://b/l1", 2), word2), wordSpans),
    ("newline_only", Seq(word, Row("text", "\n", "line://b/l1", 2), word2), wordSpans),
    ("media_null_text", Seq(word, word2, Row("media", null, "media://d/0", 2)),
      wordSpans :+ (("media", "", "media://d/0", 2))),
    ("null_kind", Seq(word, word2, Row(null, "Hof", "line://b/l0", 2)),
      wordSpans :+ ((null, "Hof", "line://b/l0", 2))),
    ("null_offset", Seq(Row("text", "Haus", "line://b/l0", 5), Row("text", "Garten", "line://b/l0", null)),
      Seq(("text", "Garten", "line://b/l0", 0), ("text", "Haus", "line://b/l0", 5))),
    ("null_element", Seq(word, null, word2), wordSpans),
    ("null_spans", null, Nil))

  private val hostileCfgs = Seq("default" -> ExtractConfig(), "fixture regex" -> DumpGolden.config)

  hostile.foreach { case (name, spans, want) =>
    test(s"hostile span row '$name': both twins agree, kernel values pinned") {
      val schema = StructType(Seq(StructField("doc_id", StringType),
        StructField("spans", ArrayType(ProcessSpans.spanType))))
      val df = spark.createDataFrame(
        java.util.List.of(Row(name, spans), Row("plain", Seq(word, word2))), schema)
      hostileCfgs.foreach { case (cfgName, cfg) =>
        val got = equivalent(df, cfg)(name)
        assert(got.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)) == want, cfgName)
        val estimate = (got.hit_ratio, got.n_words, got.n_errs, got.n_lines_in, got.n_wraps,
          got.n_shorts, got.n_lines_out)
        if (spans == null) assert(estimate == ((-1.0, 0, 0, 0, 0, 0, 0)), cfgName)
        else assert(estimate == ((100.0, 2, 0, 1, 0, 0, 1)), cfgName)
        assert(got.repl_stats.isEmpty, cfgName)
      }
    }
  }
}
