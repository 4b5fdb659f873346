package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The two Catalyst column helpers of the report and the contract
  * queries, both compositions of built-in, codegen'd expressions:
  * [[binId]] (the histogram bins of the report, q10 and q18) and
  * [[sanitizeCharsCol]] (q15's charset sanitize). The per-span chain
  * itself is the [[ProcessSpans]] row kernel.
  */
object SpanOps {

  /** C4 — charset sanitize as a pure Catalyst chain (the column twin
    * of TextRules.sanitizeChars): strip, delete bad chars, ſ→s, keep
    * tokens len>1, single-space join (lib/ocr_step.py:497-514). Usable
    * on any string column (e.g. a whole document text). */
  def sanitizeCharsCol(text: Column): Column = {
    // translate with a shorter `to` string deletes the unmatched tail,
    // so one pass deletes BadChars and maps the leading ſ→s
    val mapped = translate(trim(text), "ſ" + graft.text.TextRules.BadChars, "s")
    val toks = filter(split(mapped, "\\s+"), t => length(t) > 1)
    array_join(toks, " ")
  }

  /** A5 — histogram bin id: floor(ratio / step) clamped to bins-1
    * (lib/ocr_step.py:441-443). */
  def binId(ratio: Column, bins: Int = 5, step: Int = 15): Column =
    least(floor(ratio / step), lit(bins - 1)).cast("int")
}
