package graft

import org.apache.spark.sql.functions._

import graft.sql.ProcessSpans

/** Guard against CollapseProject re-evaluating the ProcessSpans
  * expression once per extracted struct field: extracting all 8 fields
  * must not cost materially more than extracting one (subexpression
  * elimination must hold on the executed plan). */
class CseCheckSpec extends SparkSpecBase {

  test("struct field extraction does not re-run ProcessSpans per field") {
    import spark.implicits._
    val docs = graft.gen.CorpusGen.docs(spark, 4000, "interleaved").toDF().cache()
    docs.count()
    val cfg = graft.stages.ExtractConfig()
    def run(nFields: Int): Double = {
      val p = ProcessSpans.process(col("spans"), cfg).as("p")
      val base = docs.select(col("doc_id"), p)
      val fields = Seq("p.hit_ratio", "p.n_words", "p.n_errs", "p.n_lines_in",
        "p.n_wraps", "p.n_shorts", "p.n_lines_out", "p.spans").take(nFields)
      val sel = base.select(col("doc_id") +: fields.map(col): _*)
      // warm
      sel.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      sel.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val one = math.min(run(1), run(1))
    val all = math.min(run(8), run(8))
    docs.unpersist()
    // allow 2.5x slack for noise + the cost of serializing the spans
    // field itself; an 8x blowup means CSE is broken
    assert(all < one * 2.5 + 0.5, f"1 field: $one%.3fs, 8 fields: $all%.3fs")
  }
}
