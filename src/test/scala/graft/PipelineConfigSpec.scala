package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.run.PipelineConfig
import graft.run.PipelineConfig.TesseractCmd
import graft.text.TextRules

/** Ports of the reference's config/cmd-assembly tests
  * (tests/test_steps.py:62-186, tests/test_pipeline.py:28-135). */
class PipelineConfigSpec extends AnyFunSuite {

  private def cmdOf(params: (String, Option[String])*)(pathIn: String): TesseractCmd = {
    val c = new TesseractCmd(params)
    c.pathIn = pathIn
    c
  }

  // test_steps.py:63-74
  test("tesseract list-langs flag") {
    val c = cmdOf("--list-langs" -> None)("/data/MAX/001.tif")
    assert(c.cmd.contains(" --list-langs"))
  }

  // test_steps.py:77-88, :91-135
  test("tesseract output path and input change") {
    val c = cmdOf("-l" -> Some("deu"), "alto" -> None)("/data/MAX/001.tif")
    assert(c.pathNext.endsWith("001.xml"))
    assert(c.cmd.contains("MAX/001.tif "))
    assert(!c.cmd.contains("MAX/001.xml "))
    assert(c.cmd.contains("MAX/001 "))
    c.pathIn = "/data/MAX/002.tif"
    assert(!c.cmd.contains("MAX/001.tif "))
    assert(c.cmd.contains("MAX/002.tif "))
    assert(c.cmd.contains("MAX/002 "))
  }

  // test_steps.py:152-170
  test("tesseract full args exact cmd") {
    val c = cmdOf("--dpi" -> Some("470"), "-l" -> Some("ulbfrk"), "alto" -> None)(
      "/data/MAX/001.tif")
    assert(c.cmd == "tesseract /data/MAX/001.tif /data/MAX/001 --dpi 470 -l ulbfrk alto")
    assert(c.pathNext.endsWith("001.xml"))
  }

  // test_steps.py:173-185
  test("tesseract multiple output configs, sorted+deduped, appended last") {
    val c = cmdOf("-l" -> Some("frk_ulbzd1"), "alto" -> None, "txt" -> None)(
      "/data/MAX/001.tif")
    assert(c.cmd == "tesseract /data/MAX/001.tif /data/MAX/001 -l frk_ulbzd1 alto txt")
  }

  test("tesseract model_configs and tesseract_bin and extra") {
    val c = cmdOf("type" -> Some("StepTesseract"), "tesseract_bin" -> Some("/usr/bin/tess"),
      "model_configs" -> Some("frk+deu"), "output_configs" -> Some("alto"),
      "extra" -> Some("--psm 1"))("/in/0001.tif")
    assert(c.cmd == "/usr/bin/tess /in/0001.tif /in/0001 --psm 1 -l frk+deu alto")
  }

  // lib/ocr_step.py:197-207 — lenient dict parse
  test("parseDict leniency") {
    assert(PipelineConfig.parseDict("{'ſ': 's', 'ic)': 'ich'}") ==
      Seq("ſ" -> "s", "ic)" -> "ich"))
    assert(PipelineConfig.parseDict("{a:b, c:d}") == Seq("a" -> "b", "c" -> "d"))
    assert(PipelineConfig.parseDict("justone") == Seq.empty)
    assert(PipelineConfig.parseDict("") == Seq.empty)
    // 'key:' has an EMPTY value (Python split keeps trailing empties);
    // only a genuinely colon-less token is the reference's IndexError
    assert(PipelineConfig.parseDict("{a:, b:c}") == Seq("a" -> "", "b" -> "c"))
    intercept[IllegalArgumentException](PipelineConfig.parseDict("{a, b:c}"))
  }

  // lib/ocr_step.py:49-55
  test("dict2line") {
    assert(PipelineConfig.dict2line(
      Seq("-l" -> Some("deu"), "alto" -> None), " ") == "-l deu alto")
    assert(PipelineConfig.dict2line(Seq("--list-langs" -> None), " ") == "--list-langs")
  }

  // lib/ocr_step.py:41-46
  test("splitPath takes basename minus first dot") {
    assert(PipelineConfig.splitPath("/a/b/Lubab.pdf_0003.xml") == (("/a/b", "Lubab")))
    assert(PipelineConfig.splitPath("file.tif") == (("", "file")))
  }

  // ocr_pipeline.py:101-118 — ordered step construction from ini
  test("ini steps are ordered by numeric suffix and fold into config") {
    val ini = PipelineConfig.parseIni(PipelineConfigSpec.OrderedStepsIni)
    val steps = PipelineConfig.steps(ini)
    assert(steps.map(_.section) == Seq("step_1", "step_02", "step_03", "step_10"))
    val cfg = PipelineConfig.toExtractConfig(steps)
    assert(cfg.replaceDict == TextRules.DefaultReplaceDict)
    assert(cfg.pagePrefix == "")
    assert(cfg.regexRule.map(_.pattern).contains("([aeioubcglnt]3[:-]*\")"))
    assert(cfg.regexRule.map(_.old).contains("3"))
  }

  test("unknown step type raises") {
    val ini = PipelineConfig.parseIni("[step_01]\ntype = StepBogus\n")
    intercept[IllegalArgumentException] {
      PipelineConfig.toExtractConfig(PipelineConfig.steps(ini))
    }
  }
}

object PipelineConfigSpec {
  /** Out-of-order `step_NN` sections with a dict step and a regex step. */
  val OrderedStepsIni: String =
    """|[pipeline]
       |executors = 8
       |[step_02]
       |type = StepPostprocessALTO
       |page_prefix =
       |[step_1]
       |type = StepPostReplaceChars
       |dict_chars = {'ic)': 'ich', 's<': 'sc', '<': 'c'}
       |[step_10]
       |type = StepEstimateOCR
       |language = de-DE
       |[step_03]
       |type = StepPostReplaceCharsRegex
       |pattern = r'([aeioubcglnt]3[:-]*")'
       |old = '3'
       |new = 's'
       |""".stripMargin
}
