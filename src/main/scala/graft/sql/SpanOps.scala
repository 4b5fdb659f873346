package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.Span.KindText

/** Catalyst column-level operators over the span array
  * `array<struct<kind,text,media_ref,offset>>`.
  *
  * All of these are higher-order-function compositions of built-in,
  * codegen'd expressions — per SURVEY.md §4 no custom strategy is
  * needed; the per-span transforms stay inside whole-stage codegen
  * and are narrow (zero shuffle).
  */
object SpanOps {

  private def rebuildSpan(kind: Column, text: Column, mediaRef: Column, offset: Column): Column =
    struct(kind.as("kind"), text.as("text"), mediaRef.as("media_ref"), offset.as("offset"))

  /** Map only the text field of text-kind spans. */
  def mapText(spans: Column)(f: Column => Column): Column =
    transform(spans, s => {
      val kind = s.getField("kind")
      rebuildSpan(
        kind,
        when(kind === KindText, f(s.getField("text"))).otherwise(s.getField("text")),
        s.getField("media_ref"),
        s.getField("offset"))
    })

  /** C1 — ordered literal multi-replace over text spans
    * (lib/ocr_step.py:245-251). Chain order = dict order, so earlier
    * replacements feed later keys. */
  def replaceChars(spans: Column, dict: Seq[(String, String)]): Column =
    mapText(spans)(t => dict.foldLeft(t) { case (acc, (k, v)) =>
      replace(acc, lit(k), lit(v))
    })

  /** F6 — empty-content cascade at span level: drop text spans whose
    * content is blank (lib/ocr_step.py:581-602; the line/block levels
    * of the cascade are implicit in the flat span model — a line whose
    * tokens are all blank loses all its spans). Media spans pass. */
  def dropBlank(spans: Column): Column =
    filter(spans, s =>
      s.getField("kind") =!= KindText || trim(s.getField("text")) =!= "")

  /** S8/W1 — canonical ordering: re-sort the span array by `offset`
    * (north_rule: output "re-sorted by offset"). Narrow, in-row sort. */
  def sortByOffset(spans: Column): Column =
    array_sort(spans, (l, r) =>
      when(l.getField("offset") < r.getField("offset"), lit(-1))
        .when(l.getField("offset") > r.getField("offset"), lit(1))
        .otherwise(lit(0)))

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
