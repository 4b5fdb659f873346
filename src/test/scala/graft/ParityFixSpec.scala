package graft

import graft.model.{Doc, Span}
import graft.parse.{OcrXmlParser, ParseError}
import graft.stages.{Extraction, ExtractConfig}
import graft.text.TextRules

/** Regression pins for the round-3 reference-parity review findings —
  * corners no fixture exercises, each checked against the reference
  * semantics in lib/ocr_model.py / lib/ocr_step.py. */
class ParityFixSpec extends SparkSpecBase {

  private val parser = new OcrXmlParser

  private def pageDoc(body: String): String =
    s"""<?xml version="1.0"?>
       |<PcGts xmlns="http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15">
       |<Page><TextRegion id="r1">$body</TextRegion></Page></PcGts>""".stripMargin

  test("a Glyph's Coords never overrides the Word's own centroid (lxml direct-child find)") {
    // word w1 centered at x=15 but its Glyph at x=105; word w2 at x=50:
    // reference sorts by the WORD coords -> w1 before w2
    val xml = pageDoc(
      """<TextLine id="l1"><Coords points="0,0 200,10"/>
        |<TextEquiv><Unicode>zwei eins</Unicode></TextEquiv>
        |<Word id="w1"><Coords points="10,0 20,0"/>
        |  <Glyph id="g1"><Coords points="100,0 110,0"/></Glyph>
        |  <TextEquiv><Unicode>eins</Unicode></TextEquiv></Word>
        |<Word id="w2"><Coords points="45,0 55,0"/>
        |  <TextEquiv><Unicode>zwei</Unicode></TextEquiv></Word>
        |</TextLine>""".stripMargin)
    val lines = ReferenceLines.getLines(parser.parse(xml))
    assert(lines.map(_.words) == Vector(Vector("eins", "zwei")))
  }

  test("Word without any Unicode descendant skips the line (reference findall check)") {
    // reference get_page_lines: text_equiv.text empty AND
    // findall('Word/TextEquiv/Unicode') empty -> line silently dropped
    val xml = pageDoc(
      """<TextLine id="l1"><Coords points="0,0 10,10"/>
        |<TextEquiv><Unicode></Unicode></TextEquiv>
        |<Word id="w1"><Coords points="1,1 2,2"/></Word>
        |</TextLine>""".stripMargin)
    assert(ReferenceLines.getLines(parser.parse(xml)).isEmpty)
    // but a Word WITH a Unicode descendant still raises "just words"
    val xml2 = pageDoc(
      """<TextLine id="l1"><Coords points="0,0 10,10"/>
        |<TextEquiv><Unicode></Unicode></TextEquiv>
        |<Word id="w1"><Coords points="1,1 2,2"/>
        |  <TextEquiv><Unicode>wort</Unicode></TextEquiv></Word>
        |</TextLine>""".stripMargin)
    intercept[ParseError](ReferenceLines.getLines(parser.parse(xml2)))
  }

  test("malformed Coords on a line the reference never evaluates does not fail the doc") {
    val xml = pageDoc(
      """<TextLine id="short"><Coords points="x,y"/>
        |<TextEquiv><Unicode>a</Unicode></TextEquiv></TextLine>
        |<TextLine id="kept"><Coords points="0,0 10,10"/>
        |<TextEquiv><Unicode>echter inhalt</Unicode></TextEquiv></TextLine>"""
        .stripMargin)
    val lines = ReferenceLines.getLines(parser.parse(xml)) // must not throw
    assert(lines.map(_.content) == Vector("echter inhalt"))
  }

  test("splitWs matches Python str.split on Unicode whitespace") {
    // the literals below contain U+00A0 NBSP, U+2007 figure space,
    // U+2028 line separator and U+0085 NEL — whitespace for Python
    // str.split() but NOT for Java regex \s
    assert(TextRules.splitWs("Wort zwei").toSeq == Seq("Wort", "zwei"))
    assert(TextRules.splitWs("a b cd \t\n e").toSeq ==
      Seq("a", "b", "c", "d", "e"))
    assert(TextRules.splitWs("   ").isEmpty)
    assert(TextRules.splitWs("  plain  ascii  ").toSeq == Seq("plain", "ascii"))
    assert(TextRules.splitWs("").isEmpty)
  }

  test("binIndex mirrors Python negative list indexing (sentinel -1 -> last bin)") {
    assert(TextRules.binIndex(-1.0) == 4) // bin_counts[-1]
    assert(TextRules.binIndex(-20.0) == 3) // floor(-20/15) = -2 -> bins-2
    assert(TextRules.binIndex(0.0) == 0)
    assert(TextRules.binIndex(100.0) == 4)
  }

  test("sparkTokens == actual Spark split(trim(x), \\s+) on hostile edges") {
    import org.apache.spark.sql.functions.{col, split, trim}
    import spark.implicits._
    // NBSP and NEL are NOT \s for Spark; trailing tab survives trim;
    // empty text yields [""] — the oracle-paired expressions must see
    // exactly what the DuckDB/Spark SQL side sees
    val texts = Seq("Wort\u00a0zwei drei", "x\t", "", "   ", "  a  b  ",
      "a\u0085b", "\tfront", "end\n")
    val viaSpark = texts.toDF("t")
      .select(split(trim(col("t")), "\\s+").as("tk"))
      .as[Seq[String]].collect().toSeq
    val viaHelper = texts.map(t => graft.text.TextRules.sparkTokens(t).toSeq)
    assert(viaSpark == viaHelper)
  }

  test("null media_ref spans form a line in BOTH pipeline twins") {
    import spark.implicits._
    val doc = Doc("d1", Seq(
      Span(Span.KindText, "abcd", null, 0),
      Span(Span.KindText, "efgh", null, 1)))
    val viaExpr = Extraction.pipeline(Seq(doc).toDS().toDF()).collect().head
    val viaHof = Extraction.pipelineHof(Seq(doc).toDS().toDF()).collect().head
    assert(viaExpr.n_lines_in == 1 && viaHof.n_lines_in == viaExpr.n_lines_in)
    assert(viaHof.hit_ratio == viaExpr.hit_ratio)
    assert(viaExpr.hit_ratio != graft.model.Estimation.MissingRatio)
  }
}
