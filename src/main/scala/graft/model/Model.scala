package graft.model

/** Core data model of the extraction engine.
  *
  * The engine operates over an Iceberg-shaped table of interleaved
  * text + media documents (BASELINE.json `input_hint`):
  *
  * {{{
  * docs(doc_id: string,
  *      spans : array<struct<kind:string, text:string, media_ref:string, offset:int>>)
  * }}}
  *
  * Conventions (fixed by this engine, mirrored by the deterministic
  * corpus generator in [[graft.gen.CorpusGen]]):
  *
  *  - `kind == "text"`: one word token (≈ one ALTO `String@CONTENT`,
  *    cf. reference lib/ocr_model.py:89-91, or one PAGE
  *    `Word/TextEquiv/Unicode`, lib/ocr_model.py:146-150).
  *    `media_ref` carries a structural reference to the token's parent
  *    layout node as `line://<blockId>/<lineId>` — the information the
  *    reference keeps as the XML element hierarchy (needed by the
  *    empty-cascade drop, lib/ocr_step.py:581-602, and by the
  *    line-model fold, lib/ocr_step.py:472-494).
  *  - `kind == "media"`: a non-text region (illustration/graphic);
  *    `text` is empty and `media_ref` is an opaque placeholder such as
  *    `media://<doc>/<n>` (BASELINE.json north_rule: "media spans
  *    resolved to media_ref placeholders").
  *  - `offset` is the document-order position; the emitted span
  *    sequence is always re-sorted by `offset` so equality is defined
  *    on `(kind, text, media_ref, order)`.
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

object Span {
  val KindText = "text"
  val KindMedia = "media"
  val LineRefPrefix = "line://"

  def media(ref: String, offset: Int): Span =
    Span(KindMedia, "", ref, offset)

  /** `line://<block>/<line>` → `<block>/<line>`; identity otherwise. */
  def lineKey(mediaRef: String): String =
    if (mediaRef != null && mediaRef.startsWith(LineRefPrefix))
      mediaRef.substring(LineRefPrefix.length)
    else mediaRef
}

/** One document row. */
case class Doc(doc_id: String, spans: Seq[Span])

/** A text line reconstructed from consecutive text spans that share a
  * `line://` parent ref — the engine equivalent of the reference's
  * `TextLine` (lib/ocr_model.py:32-73).
  *
  * @param id      line identifier (e.g. `line_2`)
  * @param words   ordered word tokens
  * @param reorder RTL reorder flag (lib/ocr_model.py:60-69)
  */
case class Line(id: String, words: Seq[String], reorder: Boolean = false) {
  /** Joined line content; RTL lines are emitted in reversed token
    * order, matching `TextLine.get_textline_content`
    * (lib/ocr_model.py:60-69). */
  def content: String =
    if (reorder && words.nonEmpty) words.reverse.mkString(" ")
    else words.mkString(" ")
}

/** Per-document quality estimation record — the engine equivalent of
  * the reference's 7-tuple statistics (lib/ocr_step.py:414-424),
  * prefixed with the document id (ocr_pipeline.py:408).
  */
case class Estimation(
    doc_id: String,
    hit_ratio: Double,
    n_words: Int,
    n_errs: Int,
    n_lines_in: Int,
    n_wraps: Int,
    n_shorts: Int,
    n_lines_out: Int)

object Estimation {
  /** `MARK_MISSING_ESTM` (ocr_pipeline.py:35). */
  val MissingRatio: Double = -1.0
}

/** Corpus-level aggregate over valid estimations — mean hit ratio plus
  * five 15-point histogram bins (lib/ocr_step.py:426-446) and the
  * valid/invalid split (ocr_pipeline.py:236-259). */
case class EstimationReport(
    mean: Double,
    b1: Long, b2: Long, b3: Long, b4: Long, b5: Long,
    n_total: Long,
    n_invalid: Long)
