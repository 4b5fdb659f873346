package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.model.Doc
import graft.parse.OcrXmlParser
import graft.stages.{ExtractConfig, Extraction, RegexRule}
import graft.text.TextRules

/** One-shot generator for the stored golden span sequences
  * (FIXTURES.md §3): derives the expected post-pipeline sequence for
  * the reference fixtures from the pure chain `Extraction.cleanSpans`
  * (TextRules; not the `ProcessSpans` row kernel) and stores
  * it under src/test/resources/golden/ as TSV
  * `kind<TAB>text<TAB>media_ref<TAB>offset`.
  *
  * Run: sbt "Test/runMain graft.DumpGolden"
  */
object DumpGolden {

  val fixtures = Seq("500_gray00003", "16331011", "16331001", "ram110",
    "OCR-RESULT_0001", "288652", "Lubab_alAlbab.pdf_000003",
    "1667522809_J_0073_0512", "urn+nbn+de+gbv+3+1-121915-p0159-6_ger",
    "1667524704_J_0173_0173", "0041", "1123596")

  /** The fixture config the goldens are derived under: the test-pinned
    * dictionary and regex rule (tests/test_steps.py:212,
    * tests/resources/ocr_config_full.ini:27). */
  val config: ExtractConfig = ExtractConfig(
    replaceDict = TextRules.FixtureReplaceDict,
    regexRule = Some(RegexRule(TextRules.FixtureRegex.pattern, "3", "s")))

  def main(args: Array[String]): Unit = {
    val resDir = Paths.get("/root/reference/tests/resources")
    val outDir = Paths.get("src/test/resources/golden")
    Files.createDirectories(outDir)
    val parser = new OcrXmlParser
    fixtures.foreach { name =>
      val xml = new String(Files.readAllBytes(resDir.resolve(s"$name.xml")),
        java.nio.charset.StandardCharsets.UTF_8)
      val doc = Doc(name, OcrXmlParser.toSpans(name, parser.parse(xml)))
      val lines = Extraction.cleanSpans(doc.spans, config)._1.map { s =>
        val esc = s.text.replace("\\", "\\\\").replace("\t", "\\t")
          .replace("\n", "\\n").replace("\r", "\\r")
        s"${s.kind}\t$esc\t${s.media_ref}\t${s.offset}"
      }
      Files.write(outDir.resolve(s"$name.tsv"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      println(s"golden $name: ${lines.size} spans")
    }
  }
}
