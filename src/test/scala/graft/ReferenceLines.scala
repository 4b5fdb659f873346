package graft

import graft.model.Line
import graft.parse.{ParseError, ParsedDoc, RawLine, RawWord}
import graft.text.TextRules

/** The reference's strict line model over a parsed document
  * (lib/ocr_model.py): the twin the parity specs compare the span
  * flattening ([[graft.parse.OcrXmlParser.toSpans]]) against. Unlike
  * ingest it raises on the documents the reference crashes on. */
object ReferenceLines {

  /** get_lines (lib/ocr_model.py:203-214): dialect-dispatched line
    * extraction with min-length filtering and validity handling.
    * `vertical` selects the y-center word ordering for vertical-text
    * PAGE documents (to_center_coords, lib/ocr_model.py:190-200 —
    * plumbed but never enabled in the reference, where
    * TextLine.vertical is initialised False with no config path;
    * here it is a real flag). */
  def getLines(doc: ParsedDoc, minLen: Int = 2, reorder: Boolean = false,
      vertical: Boolean = false): Vector[Line] =
    if (doc.dialect.startsWith("alto")) altoLines(doc, minLen)
    else pageLines(doc, minLen, reorder, vertical)

  /** ALTO line model (lib/ocr_model.py:217-223): keep TextLines whose
    * space-joined `String@CONTENT` length ≥ minLen; tokens kept as-is
    * (blanks included). */
  def altoLines(doc: ParsedDoc, minLen: Int): Vector[Line] =
    doc.lines.flatMap { l =>
      val contents = l.words.map(_.text.getOrElse(""))
      if (contents.mkString(" ").length >= minLen) Some(Line(l.id, contents))
      else None
    }

  /** PAGE line model (lib/ocr_model.py:101-157, :226-245):
    *  - line kept iff its direct `TextEquiv/Unicode` text is non-empty
    *    after strip and ≥ minLen;
    *  - a line with empty text but Words present is a hard parse error
    *    ("just words for line ...", lib/ocr_model.py:238-244);
    *  - Words are the preferred token source, sorted by truncated
    *    centroid-x (centroid-y if vertical); Word with invalid coords
    *    is a parse error (lib/ocr_model.py:126-129);
    *  - a wordless line with invalid coords is skipped (valid=False,
    *    lib/ocr_model.py:134-140);
    *  - directional marks stripped from tokens (lib/ocr_model.py:153-157).
    */
  def pageLines(doc: ParsedDoc, minLen: Int, reorder: Boolean,
      vertical: Boolean = false): Vector[Line] = {
    doc.lines.flatMap { l =>
      if (!l.hasLineUnicode)
        throw ParseError(s"no TextEquiv/Unicode for line '${l.id}'")
      l.lineText match {
        case Some(raw) =>
          val stripped = raw.trim
          if (stripped.nonEmpty && stripped.length >= minLen) {
            buildPageLine(l, reorder, vertical)
          } else None
        case None =>
          // reference raises only when Word/TextEquiv/Unicode
          // DESCENDANTS exist (findall length check,
          // lib/ocr_model.py:238-244) — a Word without any Unicode is
          // silently skipped with the line
          if (l.words.exists(_.hasUnicode))
            throw ParseError(s"just words for line '${l.id}'")
          None
      }
    }
  }

  private def buildPageLine(l: RawLine, reorder: Boolean, vertical: Boolean): Option[Line] = {
    def center(w: RawWord): Option[Double] = if (vertical) w.centerY else w.centerX
    if (l.words.nonEmpty) {
      l.words.foreach { w =>
        if (center(w).isEmpty)
          throw ParseError(s"Invalid Coords of Word '${w.id}' in '${l.id}'!")
      }
      val sorted = l.words.sortBy(w => center(w).get.toInt) // stable, int-truncated key
      sorted.foreach { w =>
        if (!w.hasUnicode)
          throw ParseError(s"no Unicode for Word '${w.id}' in '${l.id}'")
      }
      val toks = sorted.flatMap(_.text).map(t => TextRules.stripMarks(t.trim))
      Some(Line(l.id, toks, reorder))
    } else {
      val lc = if (vertical) l.lineCenterY else l.lineCenterX
      if (lc.isEmpty) None // invalid coords → line skipped (valid=False)
      else {
        val toks = l.lineText.toVector.map(t => TextRules.stripMarks(t.trim))
        Some(Line(l.id, toks, reorder))
      }
    }
  }
}
