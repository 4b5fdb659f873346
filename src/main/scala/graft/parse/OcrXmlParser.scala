package graft.parse

import java.io.StringReader

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

import graft.model.Span
import graft.text.TextRules

/** Parse failure with reference-compatible message semantics
  * (lib/ocr_model.py:126-129, :242-244). In the engine a parse failure
  * becomes a failure row, never a job abort. */
final case class ParseError(message: String) extends RuntimeException(message)

object Dialect {
  val Alto3 = "alto3"
  val Alto4 = "alto4"
  val Page2013 = "page2013"
  val Page2019 = "page2019"

  /** Root-namespace → dialect map (lib/ocr_model.py:16-20). */
  val byNamespace: Map[String, String] = Map(
    "http://www.loc.gov/standards/alto/ns-v3#" -> Alto3,
    "http://www.loc.gov/standards/alto/ns-v4#" -> Alto4,
    "http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15" -> Page2013,
    "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15" -> Page2019)
}

/** One parsed word token. `text` is `None` when the first `Unicode`
  * element has no text (Python/lxml `None`); `hasUnicode` is false when
  * the word has no `Unicode` descendant at all (the reference crashes
  * on `u.text` then — engine: parse error). */
final case class RawWord(id: String, text: Option[String], centerX: Option[Double],
    centerY: Option[Double], hasUnicode: Boolean = true)

/** One parsed text line with its layout context. `hasLineUnicode` is
  * false when a PAGE line has no direct `TextEquiv/Unicode` (reference:
  * AttributeError crash — engine: parse error). `shape` carries the
  * line geometry (C9, lib/ocr_model.py:93-98 + :160-173): ALTO lines
  * get the 4 rect corners derived from HPOS/VPOS/WIDTH/HEIGHT, PAGE
  * lines the Coords polygon as-is; empty when absent/unparseable. */
final case class RawLine(
    id: String,
    blockId: String,
    words: Vector[RawWord],
    lineText: Option[String],
    lineCenterX: Option[Double],
    lineCenterY: Option[Double],
    hasLineUnicode: Boolean = true,
    seq: Int = 0, // document-order event index (interleaving with media)
    shape: Vector[(Int, Int)] = Vector.empty)

/** One parsed non-text region (ALTO `Illustration`/`GraphicalElement`). */
final case class RawMedia(id: String, kind: String, seq: Int = 0)

/** Structured parse result of one OCR document. */
final case class ParsedDoc(dialect: String, lines: Vector[RawLine], media: Vector[RawMedia])

/** Streaming (StAX) parser for the four OCR dialects the reference
  * supports (ALTO v3/v4, PAGE 2013/2019 — lib/ocr_model.py:16-20).
  *
  * One instance is created *per partition* (never per row) and reused
  * across all documents of that partition — see [[ParserPool]]. The
  * reference pays a DOM parse per file (lib/ocr_step.py:365, :536);
  * the engine replaces that with a pooled pull-parser, the one
  * physical pattern the target mandates.
  */
final class OcrXmlParser {

  private val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  /** Parse one document's XML payload into the structured line/media
    * model. Dialect is sniffed from the root element namespace
    * (lib/ocr_model.py:176-178). */
  def parse(xml: String): ParsedDoc = {
    val r = factory.createXMLStreamReader(new StringReader(xml))
    try parseStream(r)
    finally r.close()
  }

  private def parseStream(r: XMLStreamReader): ParsedDoc = {
    var dialect: String = null
    val lines = Vector.newBuilder[RawLine]
    val media = Vector.newBuilder[RawMedia]

    // per-line state
    var eventSeq = 0 // document-order counter for line/media interleaving
    var lineSeq = 0
    var inLine = false
    var lineId: String = ""
    var lineBlock: String = ""
    var lineWords = Vector.newBuilder[RawWord]
    var lineText: Option[String] = None
    var lineUnicodeSeen = false // first line-level Unicode wins (lxml find)
    var lineCenter: Option[(Double, Double)] = None
    var lineShape: Vector[(Int, Int)] = Vector.empty

    // nesting trackers
    var blockStack: List[String] = Nil
    var depth = 0 // element nesting depth (direct-child tests)
    var lineDepth = -1
    var wordDepth = -1
    var inWord = false
    var wordId = ""
    var wordText: Option[String] = None
    var wordUnicodeSeen = false // first descendant Unicode wins (lxml find)
    var wordCenter: Option[(Double, Double)] = None
    var inTextEquiv = false   // direct child of TextLine
    var inWordTextEquiv = false
    var unicodeDepth = 0      // >0 while inside a Unicode element
    val textBuf = new java.lang.StringBuilder

    def attr(name: String): String = {
      var i = 0
      var v: String = null
      while (i < r.getAttributeCount && v == null) {
        if (r.getAttributeLocalName(i) == name) v = r.getAttributeValue(i)
        i += 1
      }
      v
    }

    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          val local = r.getLocalName
          if (dialect == null) {
            val ns = Option(r.getNamespaceURI).getOrElse("")
            dialect = Dialect.byNamespace.getOrElse(ns,
              throw ParseError(s"unknown root namespace '$ns'"))
          }
          local match {
            case "TextBlock" | "TextRegion" | "ComposedBlock" =>
              blockStack = Option(attr("ID")).orElse(Option(attr("id"))).getOrElse("") :: blockStack
            case "TextLine" =>
              inLine = true
              lineDepth = depth
              lineSeq = eventSeq; eventSeq += 1
              lineId = Option(attr("ID")).orElse(Option(attr("id"))).getOrElse("")
              lineBlock = blockStack.headOption.getOrElse("")
              lineWords = Vector.newBuilder[RawWord]
              lineText = None
              lineUnicodeSeen = false
              lineCenter = None
              // ALTO rect → 4 corners (lib/ocr_model.py:93-98)
              lineShape = altoRect(attr("HPOS"), attr("VPOS"),
                attr("WIDTH"), attr("HEIGHT"))
            case "String" if inLine =>
              // ALTO word token: CONTENT attribute (lib/ocr_model.py:89-91)
              val content = attr("CONTENT")
              lineWords += RawWord(Option(attr("ID")).getOrElse(""),
                Option(content), None, None)
            case "Word" if inLine =>
              inWord = true
              wordDepth = depth
              wordId = Option(attr("id")).getOrElse("")
              wordText = None
              wordUnicodeSeen = false
              wordCenter = None
            case "TextEquiv" if inLine =>
              if (inWord) inWordTextEquiv = true
              else inTextEquiv = true
            case "Unicode" if inTextEquiv || inWordTextEquiv =>
              unicodeDepth += 1
              textBuf.setLength(0)
            case "Coords" if inLine =>
              // lxml `find('ns:Coords')` matches the FIRST DIRECT child
              // only (lib/ocr_model.py:121-145, :160-173) — a nested
              // Glyph's Coords must not override the Word's own, and a
              // Word's must not leak into the line's
              val directWord = inWord && depth == wordDepth + 1
              val directLine = !inWord && depth == lineDepth + 1
              if (directWord || directLine) {
                val pairs = parsePoints(attr("points"))
                val center = centerOf(pairs)
                if (directWord) {
                  if (wordCenter.isEmpty) wordCenter = center
                } else {
                  if (lineCenter.isEmpty) lineCenter = center
                  // PAGE polygon carried as-is (lib/ocr_model.py:160-173)
                  if (lineShape.isEmpty) lineShape = pairs
                }
              }
            case "Illustration" =>
              media += RawMedia(Option(attr("ID")).getOrElse(""), "Illustration", eventSeq)
              eventSeq += 1
            case "GraphicalElement" =>
              media += RawMedia(Option(attr("ID")).getOrElse(""), "GraphicalElement", eventSeq)
              eventSeq += 1
            case _ =>
          }

        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (unicodeDepth > 0) textBuf.append(r.getText)

        case XMLStreamConstants.END_ELEMENT =>
          depth -= 1
          r.getLocalName match {
            case "Unicode" if unicodeDepth > 0 =>
              unicodeDepth -= 1
              val t = textBuf.toString
              // lxml semantics: absent/empty text node → None
              val opt = if (t.isEmpty) None else Some(t)
              if (inWordTextEquiv) {
                if (!wordUnicodeSeen) { wordText = opt; wordUnicodeSeen = true }
              } else if (inTextEquiv) {
                if (!lineUnicodeSeen) { lineText = opt; lineUnicodeSeen = true }
              }
            case "TextEquiv" =>
              if (inWordTextEquiv) inWordTextEquiv = false
              else inTextEquiv = false
            case "Word" if inWord =>
              inWord = false
              lineWords += RawWord(wordId, wordText,
                wordCenter.map(_._1), wordCenter.map(_._2), wordUnicodeSeen)
            case "TextLine" if inLine =>
              inLine = false
              lines += RawLine(lineId, lineBlock, lineWords.result(), lineText,
                lineCenter.map(_._1), lineCenter.map(_._2),
                lineUnicodeSeen, lineSeq, lineShape)
            case "TextBlock" | "TextRegion" | "ComposedBlock" =>
              if (blockStack.nonEmpty) blockStack = blockStack.tail
            case _ =>
          }

        case _ =>
      }
    }
    if (dialect == null) throw ParseError("empty document")
    ParsedDoc(dialect, lines.result(), media.result())
  }

  /** PAGE `Coords@points` → point pairs (lib/ocr_model.py:169-173's
    * group-clustering idiom). Malformed numbers yield an EMPTY shape
    * (→ no center) rather than failing the whole parse: the reference
    * only ever evaluates coords of lines that survive the min-length
    * filter, so an eager strict parse here would fail documents the
    * reference processes fine. A word or line without a center is
    * what the spec-side reference line model (`ReferenceLines`)
    * raises "Invalid Coords" on, the reference's int() ValueError
    * analog; documented divergence: a malformed wordless KEPT line is
    * skipped where the reference would fail the doc. */
  private def parsePoints(points: String): Vector[(Int, Int)] = {
    if (points == null) return Vector.empty
    val toks = TextRules.splitWs(points)
    if (toks.isEmpty) return Vector.empty
    val vals = mutable.ArrayBuffer.empty[Int]
    try {
      toks.foreach { t =>
        t.split(",").foreach { n =>
          val s = n.trim
          if (s.nonEmpty) vals += java.lang.Integer.parseInt(s)
        }
      }
    } catch { case _: NumberFormatException => return Vector.empty }
    val nPairs = vals.length / 2
    Vector.tabulate(nPairs)(i => (vals(2 * i), vals(2 * i + 1)))
  }

  /** Centroid of a point list (lib/ocr_model.py:181-187). */
  private def centerOf(pairs: Vector[(Int, Int)]): Option[(Double, Double)] = {
    if (pairs.isEmpty) return None
    var sx = 0L
    var sy = 0L
    pairs.foreach { case (x, y) => sx += x; sy += y }
    Some((sx.toDouble / pairs.length, sy.toDouble / pairs.length))
  }

  /** ALTO rect attrs → the reference's 4 corner points
    * (lib/ocr_model.py:93-98); empty when absent or unparseable. */
  private def altoRect(hpos: String, vpos: String,
      width: String, height: String): Vector[(Int, Int)] = {
    if (hpos == null || vpos == null || width == null || height == null)
      return Vector.empty
    try {
      val x1 = java.lang.Integer.parseInt(hpos.trim)
      val y1 = java.lang.Integer.parseInt(vpos.trim)
      val x2 = x1 + java.lang.Integer.parseInt(width.trim)
      val y2 = y1 + java.lang.Integer.parseInt(height.trim)
      Vector((x1, y1), (x2, y1), (x2, y2), (x1, y2))
    } catch { case _: NumberFormatException => Vector.empty }
  }
}

object OcrXmlParser {

  /** C9 — line geometry carried through as a side table: one row per
    * line with a parsed shape, keyed by the same `line://` ref the
    * spans carry (joinable on (doc_id, line_ref)). ALTO shapes are the
    * reference's 4 rect corners (lib/ocr_model.py:93-98), PAGE shapes
    * the Coords polygon (lib/ocr_model.py:160-173). */
  def lineShapes(doc: ParsedDoc): Vector[(String, Vector[(Int, Int)])] =
    doc.lines.filter(_.shape.nonEmpty)
      .map(l => (Span.LineRefPrefix + l.blockId + "/" + l.id, l.shape))

  /** Flatten a parsed document into the engine's span sequence:
    * every token (blank ones included — the cleanup stage drops them,
    * lib/ocr_step.py:581-602) plus media placeholders, in document
    * order.
    *
    * PAGE dialects get the reference's word treatment
    * (lib/ocr_model.py:143-157): words sorted by truncated centroid-x
    * (stable), token text trimmed and directional marks stripped —
    * the same treatment as the reference line model the parity specs
    * compare against (`ReferenceLines` in the test sources), so the
    * span table and the line model agree. Divergence (documented):
    * where the reference CRASHES the file on a word with invalid
    * Coords (lib/ocr_model.py:126-129), ingest keeps that word and
    * does not fail the document — the span flattening stays tolerant
    * and keeps document order. Only the spec-side line model raises on
    * it (F4/F5). */
  def toSpans(docId: String, doc: ParsedDoc,
      vertical: Boolean = false): Vector[Span] = {
    val isPage = doc.dialect.startsWith("page")
    def center(w: RawWord): Option[Double] =
      if (vertical) w.centerY else w.centerX
    val out = Vector.newBuilder[Span]
    var off = 0
    def emitLine(l: RawLine): Unit = {
      val ref = Span.LineRefPrefix + l.blockId + "/" + l.id
      if (l.words.nonEmpty) {
        val ws =
          if (isPage && l.words.forall(center(_).isDefined))
            l.words.sortBy(center(_).get.toInt) // stable, int-truncated key
          else l.words
        ws.foreach { w =>
          val raw = w.text.getOrElse("")
          val t = if (isPage) TextRules.stripMarks(raw.trim) else raw
          out += Span(Span.KindText, t, ref, off)
          off += 1
        }
      } else l.lineText.foreach { t =>
        // PAGE line without Words: the line's own text is the single
        // token (lib/ocr_model.py:132-141)
        out += Span(Span.KindText,
          if (isPage) TextRules.stripMarks(t.trim) else t, ref, off)
        off += 1
      }
    }
    def emitMedia(m: RawMedia): Unit = {
      // placeholder resolution is idempotent: an ID that is already a
      // full ref is kept verbatim (round-trips through AltoWriter)
      val ref = if (m.id.startsWith("media://")) m.id else s"media://$docId/${m.id}"
      out += Span.media(ref, off)
      off += 1
    }
    // interleave lines and media in document order (event seq)
    var li = 0; var mi = 0
    val ls = doc.lines; val ms = doc.media
    while (li < ls.length || mi < ms.length) {
      if (mi >= ms.length || (li < ls.length && ls(li).seq <= ms(mi).seq)) {
        emitLine(ls(li)); li += 1
      } else { emitMedia(ms(mi)); mi += 1 }
    }
    out.result()
  }
}

/** Per-partition parser pool. Inside `mapPartitions` call
  * `ParserPool.get()` once per partition-task thread; the instance is
  * reused for every row the task processes (north_star: "no per-row
  * parser instantiation"). */
object ParserPool {
  private val tl = new ThreadLocal[OcrXmlParser] {
    override def initialValue(): OcrXmlParser = new OcrXmlParser
  }
  def get(): OcrXmlParser = tl.get()
}
