package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Span
import graft.parse.{OcrXmlParser, ParseError}
import graft.text.TextRules

/** Parity against the reference's own golden fixtures
  * (XML files under /root/reference/tests/resources, read at test runtime —
  * public untrusted content, used as *data* only). Pins the exact
  * counts from /root/reference/tests/test_steps.py and
  * tests/test_ocr_model.py.
  */
class FixtureParitySpec extends AnyFunSuite {

  private val resDir = Paths.get("/root/reference/tests/resources")
  private def fixture(name: String): Path = resDir.resolve(name)
  private def readXml(name: String): String =
    new String(Files.readAllBytes(fixture(name)), java.nio.charset.StandardCharsets.UTF_8)
  private def available(name: String): Boolean = Files.isReadable(fixture(name))
  private val parser = new OcrXmlParser

  private def withFixture(name: String)(body: String => Unit): Unit = {
    assume(available(name), s"reference fixture $name not present")
    body(readXml(name))
  }

  // test_ocr_model.py:16-39 — format matrix line counts (min_len=2)
  val formatMatrix = Seq(
    ("1667522809_J_0073_0512.xml", "alto3", 510),
    ("288652.xml", "page2013", 33),
    ("OCR-RESULT_0001.xml", "page2019", 35),
    ("ram110.xml", "page2013", 24),
    ("Lubab_alAlbab.pdf_000003.xml", "alto4", 23))

  formatMatrix.foreach { case (name, dialect, expected) =>
    test(s"format matrix: $name → $expected lines ($dialect)") {
      withFixture(name) { xml =>
        val parsed = parser.parse(xml)
        assert(parsed.dialect == dialect)
        val lines = ReferenceLines.getLines(parsed, minLen = 2)
        assert(lines.size == expected)
      }
    }
  }

  // test_ocr_model.py:42-54 — min_len=32 on the newspaper page
  test("min_len=32 keeps 225 lines of 1667522809_J_0073_0512") {
    withFixture("1667522809_J_0073_0512.xml") { xml =>
      val lines = ReferenceLines.getLines(parser.parse(xml), minLen = 32)
      assert(lines.size == 225)
    }
  }

  // test_ocr_model.py:57-71 — PAGE line with words but empty line text
  test("1123596.xml raises 'just words for line'") {
    withFixture("1123596.xml") { xml =>
      val parsed = parser.parse(xml)
      val err = intercept[ParseError](ReferenceLines.getLines(parsed))
      assert(err.getMessage.contains("just words for line"))
    }
  }

  // test_steps.py:460-472 — 360 lines in, 346 dense lines out
  test("500_gray00003: textlines2data 360 → 346") {
    withFixture("500_gray00003.xml") { xml =>
      val lines = ReferenceLines.getLines(parser.parse(xml))
      assert(lines.size == 360)
      val (_, nIn, _, _, nOut) =
        TextRules.textlinesToData(lines.map(_.content))
      assert(nIn == 360)
      assert(nOut == 346)
    }
  }

  // test_steps.py:233-252, :425-438 — empty ALTO file behavior
  test("0041.xml (empty PrintSpace): no lines, no stats, empty word string") {
    withFixture("0041.xml") { xml =>
      val lines = ReferenceLines.getLines(parser.parse(xml))
      assert(lines.isEmpty)
    }
  }

  // test_steps.py:547-569 — sparse junk sanitized to nothing
  test("1667524704_J_0173_0173.xml: all content sanitized away") {
    withFixture("1667524704_J_0173_0173.xml") { xml =>
      val lines = ReferenceLines.getLines(parser.parse(xml))
      val (wordString, _, _, _, _) =
        TextRules.textlinesToData(lines.map(_.content))
      assert(wordString.isEmpty)
    }
  }

  // test_steps.py:294-307 — replacement statistics over raw file lines
  test("500_gray00003 raw-line replace stats: ſ:392, ic):6") {
    withFixture("500_gray00003.xml") { _ =>
      val lines = Files.readAllLines(fixture("500_gray00003.xml")).asScala
      val stats = mutable.LinkedHashMap.empty[String, Int]
      lines.foreach { l =>
        val (_, hits) = TextRules.replaceChars(l, TextRules.FixtureReplaceDict)
        hits.foreach(k => stats.update(k, stats.getOrElse(k, 0) + 1))
      }
      val rendered = stats.map { case (k, v) => s"$k:$v" }.toSeq
      assert(rendered == Seq("ſ:392", "ic):6"))
    }
  }

  // test_steps.py:310-341 — regex replacement statistics (ordered)
  test("500_gray00003 regex stats: 10 ordered match=>replacement pairs") {
    withFixture("500_gray00003.xml") { _ =>
      val lines = Files.readAllLines(fixture("500_gray00003.xml")).asScala
      val stats = mutable.LinkedHashMap.empty[String, Int]
      lines.foreach { l =>
        val (out, hit) = TextRules.regexGroupReplace(l, TextRules.FixtureRegex, "3", "s")
        assert(!out.contains("u3\""), s"trailing 3 in $out")
        hit.foreach(k => stats.update(k, stats.getOrElse(k, 0) + 1))
      }
      val rendered = stats.map { case (k, v) => s"$k:$v" }.toSeq
      assert(rendered == Seq(
        "a3\"=>as\":5", "u3\"=>us\":1", "l3\"=>ls\":2", "e3\"=>es\":4",
        "t3\"=>ts\":4", "c3\"=>cs\":1", "b3\"=>bs\":1", "i3\"=>is\":2",
        "g3\"=>gs\":1", "n3\"=>ns\":1"))
    }
  }

  // test_steps.py:572-607 — empty-content cascade (span level)
  test("16331011: 275 strings → 254 after blank-span drop") {
    withFixture("16331011.xml") { xml =>
      val parsed = parser.parse(xml)
      val spans = OcrXmlParser.toSpans("16331011", parsed)
      val textSpans = spans.filter(_.kind == Span.KindText)
      assert(textSpans.size == 275)
      val kept = textSpans.filterNot(_.text.trim.isEmpty)
      assert(kept.size == 254)
    }
  }

  // test_steps.py:610-638 — SP-separated blanks; whole line_2 dropped
  test("16331001: 1854 strings → 1673; line_2 fully dropped") {
    withFixture("16331001.xml") { xml =>
      val parsed = parser.parse(xml)
      val spans = OcrXmlParser.toSpans("16331001", parsed)
      val textSpans = spans.filter(_.kind == Span.KindText)
      assert(textSpans.size == 1854)
      val kept = textSpans.filterNot(_.text.trim.isEmpty)
      assert(kept.size == 1673)
      assert(kept.forall(s => !Span.lineKey(s.media_ref).endsWith("/line_2")))
      // the original document did have line_2 spans
      assert(textSpans.exists(s => Span.lineKey(s.media_ref).endsWith("/line_2")))
    }
  }

  // lib/ocr_model.py:143-145 + :190-200 — vertical text sorts words by
  // the CENTROID Y (to_center_coords returns center[1] when vertical).
  // The reference plumbs the flag but never sets it (TextLine.vertical
  // = False at :44, no config path); here it is a real per-job flag,
  // so pin both orderings on a synthetic vertical-text PAGE fixture:
  // x-centers say (rechts, mitte, links), y-centers say (oben, mitte,
  // unten).
  test("vertical PAGE fixture: words ordered by y-center when vertical") {
    val xml =
      """<?xml version="1.0"?>
        |<PcGts xmlns="http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15">
        |<Page><TextRegion id="r1">
        |<TextLine id="l1"><Coords points="0,0 100,300"/>
        |<TextEquiv><Unicode>oben mitte unten</Unicode></TextEquiv>
        |<Word id="w_unten"><Coords points="10,200 30,220"/>
        |  <TextEquiv><Unicode>unten</Unicode></TextEquiv></Word>
        |<Word id="w_oben"><Coords points="80,10 100,30"/>
        |  <TextEquiv><Unicode>oben</Unicode></TextEquiv></Word>
        |<Word id="w_mitte"><Coords points="40,100 60,120"/>
        |  <TextEquiv><Unicode>mitte</Unicode></TextEquiv></Word>
        |</TextLine></TextRegion></Page></PcGts>""".stripMargin
    val parsed = parser.parse(xml)
    // horizontal (default): truncated x-centers 20 < 50 < 90
    assert(ReferenceLines.getLines(parsed).map(_.words) ==
      Vector(Vector("unten", "mitte", "oben")))
    // vertical: truncated y-centers 20 < 110 < 210
    assert(ReferenceLines.getLines(parsed, vertical = true).map(_.words) ==
      Vector(Vector("oben", "mitte", "unten")))
    // the span flattening agrees with the line model on both paths
    def spanTexts(vertical: Boolean) =
      OcrXmlParser.toSpans("vtx", parsed, vertical)
        .filter(_.kind == Span.KindText).map(_.text)
    assert(spanTexts(vertical = false) == Vector("unten", "mitte", "oben"))
    assert(spanTexts(vertical = true) == Vector("oben", "mitte", "unten"))
  }
}
