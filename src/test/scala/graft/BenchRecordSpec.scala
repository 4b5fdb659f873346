package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's JSON line ([[Bench.record]]): a failed query is visible
  * in the record instead of silently missing from `total`. */
class BenchRecordSpec extends AnyFunSuite {

  private def line(secs: Seq[(String, Seq[Double])]) =
    Bench.record(secs, "/sf", subset = false, extractSec = 2.0, nDocs = 20000L,
      pdfSynthSec = -1.0)

  test("a -1.0 entry is counted in n_failed, named in failed and left out of total") {
    val json = line(Seq("q01_a" -> Seq(1.5), "q02_b" -> Seq(-1.0), "q03_c" -> Seq(0.25)))
    assert(json.startsWith("""{"metric":"total","value":3.750,"unit":"sec","""), json)
    assert(json.contains(""""queries":{"q01_a":1.500,"q02_b":-1.000,"q03_c":0.250}"""), json)
    assert(json.contains(""""n_queries":3,"subset":false,"""), json)
    assert(json.contains(""""extract_docs_per_sec":10000.0,"extract_docs":20000,"extract_sec":2.000,"pdf_synth_sec":-1.000"""), json)
    assert(json.endsWith(""""n_failed":1,"failed":["q02_b"]}"""), json)
  }

  test("one rep per query: no reps key, nothing failed") {
    val json = line(Seq("q01_a" -> Seq(1.0)))
    assert(!json.contains("\"reps\""), json)
    assert(json.endsWith(""""n_failed":0,"failed":[]}"""), json)
  }

  test("several reps: queries hold the median, reps every rep, a failed rep fails the query") {
    val json = line(Seq("q01_a" -> Seq(3.0, 1.0, 2.0), "q02_b" -> Seq(1.0, 4.0),
      "q03_c" -> Seq(1.0, -1.0)))
    assert(json.contains(""""queries":{"q01_a":2.000,"q02_b":2.500,"q03_c":-1.000}"""), json)
    assert(json.startsWith("""{"metric":"total","value":6.500,"""), json)
    assert(json.contains(""""failed":["q03_c"]"""), json)
    assert(json.endsWith(
      """"reps":{"q01_a":[3.000,1.000,2.000],"q02_b":[1.000,4.000],"q03_c":[1.000,-1.000]}}"""), json)
  }
}
