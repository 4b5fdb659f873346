package graft.parse

import scala.collection.mutable

import graft.model.Span

/** Main-content extraction from PDF (north_rule: "PDF/layout parse") —
  * a from-scratch, zero-dependency reader of the text layer of a PDF
  * file (ISO 32000 subset), emitting the engine's interleaved span
  * model with reading-order line grouping:
  *
  *  1. object scan — `N G obj … endobj` pairs located lexically (more
  *     robust than trusting the xref table, which is routinely broken
  *     in the wild);
  *  2. page content streams — `/Type /Page` objects' `/Contents`
  *     (single ref or array), streams inflated when `/FlateDecode`
  *     (JDK Inflater; no codec dependency) or taken raw;
  *  3. content-stream interpretation — a small text-state machine over
  *     `BT/ET, Td, TD, TD, Tm, T*, TL, Tf, Tj, ', ", TJ` tracking the
  *     text-line translation; literal `(…)` strings with all escape
  *     forms, `<…>` hex strings, and `TJ` arrays with kerning numbers;
  *  4. layout → lines — positioned strings grouped by baseline y
  *     (0.5 pt tolerance), lines ordered top-down, tokens within a
  *     line left-to-right: the same geometry-driven ordering the ALTO
  *     path applies (W1/O4);
  *  5. media — `Do` XObject invocations become `media` spans with
  *     `media_ref` placeholders, interleaved at their position in the
  *     stream (the interleaved text+media contract of the span table).
  *
  * Boundary (documented, not hidden): literal/hex string bytes are
  * decoded as Latin-1 — custom font encodings and CID-keyed fonts
  * would need the font program; out of scope for a no-deps extractor,
  * and irrelevant for the round-trip fixtures this engine generates.
  */
object PdfExtract {

  private final case class Positioned(x: Double, y: Double, text: String, order: Int)
  private final case class PageOut(texts: Vector[Positioned], media: Vector[(String, Int)])

  /** Extract one PDF's spans (text + media placeholders). */
  def extract(bytes: Array[Byte], docId: String): Vector[Span] = {
    val objs = scanObjects(bytes)
    val pages = pageOrder(objs).map(n => objs(n))
    val spans = Vector.newBuilder[Span]
    var off = 0
    pages.zipWithIndex.foreach { case ((dict, _), pIdx) =>
      val content = contentsOf(dict, objs)
      val page = interpret(content)
      // reading order: baseline y descending (PDF origin is bottom-left),
      // x ascending within a line; 0.5 pt baseline tolerance
      val lines = page.texts.groupBy(p => math.round(p.y * 2)).toSeq
        .sortBy(-_._1)
        .map { case (_, ps) => ps.sortBy(p => (p.x, p.order)) }
      var lineIdx = 0
      // media keep their relative stream position vs text via `order`
      val mediaByOrder = page.media.sortBy(_._2).iterator.buffered
      lines.foreach { line =>
        val ref = s"${Span.LineRefPrefix}pdf/p$pIdx/l$lineIdx"
        line.foreach { p =>
          while (mediaByOrder.hasNext && mediaByOrder.head._2 < p.order) {
            spans += Span.media(s"media://$docId/p$pIdx/${mediaByOrder.next()._1}", off)
            off += 1
          }
          p.text.split("\\s+").filter(_.nonEmpty).foreach { tok =>
            spans += Span(Span.KindText, tok, ref, off)
            off += 1
          }
        }
        lineIdx += 1
      }
      while (mediaByOrder.hasNext) {
        spans += Span.media(s"media://$docId/p$pIdx/${mediaByOrder.next()._1}", off)
        off += 1
      }
    }
    spans.result()
  }

  // ----------------------------------------------------------------
  // file structure
  // ----------------------------------------------------------------

  /** objNum → (dictionary source, stream payload or null). */
  private def scanObjects(b: Array[Byte]): Map[Int, (String, Array[Byte])] = {
    val s = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    val objPat = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+obj\\b")
    val m = objPat.matcher(s)
    val out = mutable.Map.empty[Int, (String, Array[Byte])]
    while (m.find()) {
      val num = m.group(1).toInt
      val bodyStart = m.end()
      val end = s.indexOf("endobj", bodyStart)
      val bodyEnd = if (end < 0) s.length else end
      val streamKw = s.indexOf("stream", bodyStart)
      if (streamKw >= 0 && streamKw < bodyEnd) {
        val dict = s.substring(bodyStart, streamKw)
        // stream data starts after the keyword's EOL (CRLF or LF)
        var dataStart = streamKw + "stream".length
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        val dataEnd = s.indexOf("endstream", dataStart) match {
          case -1 => bodyEnd
          case e  => e
        }
        out(num) = (dict, java.util.Arrays.copyOfRange(b, dataStart, dataEnd))
      } else {
        out(num) = (s.substring(bodyStart, bodyEnd), null)
      }
    }
    // PDF 1.5 compressed object streams (/Type/ObjStm, ISO 32000
    // §7.5.7): modern writers put the PAGE DICTS there, invisible to
    // the top-level lexical scan — decode each and merge its embedded
    // objects (dict-only by spec). A top-level object with the same
    // number wins (it is the incremental-update convention).
    out.toSeq.collect {
      case (_, (dict, data)) if data != null && ObjStmPat.matcher(dict).find() =>
        parseObjStm(dict, data)
    }.flatten.foreach { case (num, body) =>
      if (!out.contains(num)) out(num) = (body, null)
    }
    out.toMap
  }

  private val ObjStmPat = java.util.regex.Pattern.compile("/Type\\s*/ObjStm")

  /** Embedded (objNum, body-source) pairs of one object stream: the
    * decoded payload starts with N "objnum offset" pairs; bodies sit
    * at /First + offset. */
  private def parseObjStm(dict: String, data: Array[Byte]): Seq[(Int, String)] = {
    val decoded = decodeStream(dict, data)
    if (decoded.isEmpty) return Nil
    val s = new String(decoded, java.nio.charset.StandardCharsets.ISO_8859_1)
    def intKey(key: String): Int = {
      val m = java.util.regex.Pattern.compile(key + "\\s+(\\d+)").matcher(dict)
      if (m.find()) m.group(1).toInt else -1
    }
    val n = intKey("/N")
    val first = intKey("/First")
    if (n <= 0 || first < 0 || first > s.length) return Nil
    val pairs = mutable.ArrayBuffer.empty[(Int, Int)]
    val m = java.util.regex.Pattern.compile("(\\d+)\\s+(\\d+)")
      .matcher(s.substring(0, first))
    while (m.find() && pairs.length < n)
      pairs += ((m.group(1).toInt, m.group(2).toInt))
    pairs.zipWithIndex.map { case ((num, off), idx) =>
      val start = math.min(first + off, s.length)
      val end = math.min(
        if (idx + 1 < pairs.length) first + pairs(idx + 1)._2 else s.length,
        s.length)
      (num, s.substring(start, math.max(end, start)))
    }.toSeq
  }

  // `/Type/Page` with NO separator is legal per ISO 32000 (a name ends
  // at any delimiter, and `/` is one) and common in the wild. The name
  // must END there: any further REGULAR character (digits, `_`, `.` …
  // are all legal name chars, not just letters) makes it a different
  // name — /Pages, /Page2, /Catalog_x must not match.
  private val NameEnd = "(?![^\\s()<>\\[\\]{}/%])"
  private val PagePat =
    java.util.regex.Pattern.compile("/Type\\s*/Page" + NameEnd)

  private def isPage(dict: String): Boolean = PagePat.matcher(dict).find()

  private val CatalogPat =
    java.util.regex.Pattern.compile("/Type\\s*/Catalog" + NameEnd)

  /** First `N G R` indirect reference after `key` in a dictionary. */
  private def refAfter(dict: String, key: String): Option[Int] = {
    val i = dict.indexOf(key)
    if (i < 0) None
    else {
      val m = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+R")
        .matcher(dict.substring(i + key.length))
      if (m.find()) Some(m.group(1).toInt) else None
    }
  }

  /** Refs inside the `[ … ]` array after /Kids. */
  private def kidsOf(dict: String): Seq[Int] = {
    val i = dict.indexOf("/Kids")
    if (i < 0) return Nil
    val tail = dict.substring(i + "/Kids".length)
    val open = tail.indexOf('[')
    if (open < 0) return Nil
    val close = tail.indexOf(']', open)
    val body = tail.substring(open, if (close < 0) tail.length else close)
    val m = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+R").matcher(body)
    val out = mutable.ArrayBuffer.empty[Int]
    while (m.find()) out += m.group(1).toInt
    out.toSeq
  }

  /** Document page order: walk the page tree from the catalog's /Pages
    * root, DFS through /Kids (the authoritative reading order per ISO
    * 32000 §7.7.3 — object numbers carry NO ordering meaning). Pages
    * the walk misses (broken/absent tree — this parser deliberately
    * survives files the xref model has given up on) are appended in
    * object-number order as a fallback. */
  private def pageOrder(objs: Map[Int, (String, Array[Byte])]): Seq[Int] = {
    val pages = objs.collect { case (n, (d, _)) if isPage(d) => n }.toSet
    // match the catalog by its actual /Type (a dict merely CONTAINING
    // the substring "/Catalog" — e.g. a name value — must not win) and,
    // when incremental updates left several catalog objects, prefer the
    // highest object number carrying a /Pages ref: the update winner,
    // the same precedence scanObjects applies to same-numbered objects
    val root = objs.toSeq
      .collect { case (n, (d, _)) if CatalogPat.matcher(d).find() =>
        (n, refAfter(d, "/Pages")) }
      .sortBy(-_._1)
      .collectFirst { case (_, Some(r)) => r }
    val ordered = mutable.ArrayBuffer.empty[Int]
    val seen = mutable.Set.empty[Int] // cycle guard: tag soup exists in PDFs too
    def walk(n: Int): Unit = if (seen.add(n)) objs.get(n).foreach { case (d, _) =>
      if (pages.contains(n)) ordered += n else kidsOf(d).foreach(walk)
    }
    root.foreach(walk)
    val hit = ordered.toSet
    ordered.toSeq ++ pages.toSeq.filterNot(hit).sorted
  }

  /** Resolve /Contents (ref or array of refs) and concatenate the
    * decoded streams in order. */
  private def contentsOf(dict: String,
      objs: Map[Int, (String, Array[Byte])]): Array[Byte] = {
    val cIdx = dict.indexOf("/Contents")
    if (cIdx < 0) return Array.emptyByteArray
    val tail = dict.substring(cIdx + "/Contents".length)
    val refPat = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+R")
    val refs = mutable.ArrayBuffer.empty[Int]
    val arrStart = tail.indexWhere(!_.isWhitespace)
    if (arrStart >= 0 && tail.charAt(arrStart) == '[') {
      val arrEnd = tail.indexOf(']', arrStart)
      val m = refPat.matcher(tail.substring(arrStart, if (arrEnd < 0) tail.length else arrEnd))
      while (m.find()) refs += m.group(1).toInt
    } else {
      val m = refPat.matcher(tail)
      if (m.find() && m.start() == arrStart) refs += m.group(1).toInt
    }
    val bos = new java.io.ByteArrayOutputStream()
    refs.foreach { r =>
      objs.get(r).foreach { case (sDict, data) =>
        if (data != null) {
          bos.write(decodeStream(sDict, data))
          bos.write('\n')
        }
      }
    }
    bos.toByteArray
  }

  private def decodeStream(dict: String, data: Array[Byte]): Array[Byte] = {
    val flate = dict.contains("/FlateDecode")
    if (!flate) data
    else {
      val inf = new java.util.zip.Inflater()
      inf.setInput(data)
      val bos = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      try {
        while (!inf.finished() && !inf.needsInput()) {
          val n = inf.inflate(buf)
          if (n > 0) bos.write(buf, 0, n)
          else if (n == 0 && inf.needsDictionary()) return Array.emptyByteArray
        }
        bos.toByteArray
      } catch {
        case _: java.util.zip.DataFormatException => Array.emptyByteArray
      } finally inf.end()
    }
  }

  // ----------------------------------------------------------------
  // content-stream text interpreter
  // ----------------------------------------------------------------

  private def interpret(content: Array[Byte]): PageOut = {
    val s = new String(content, java.nio.charset.StandardCharsets.ISO_8859_1)
    val texts = Vector.newBuilder[Positioned]
    val media = Vector.newBuilder[(String, Int)]
    var order = 0
    // text state: line-start translation (lx, ly), current (cx, cy), leading
    var lx = 0.0; var ly = 0.0
    var cx = 0.0; var cy = 0.0
    var leading = 0.0
    val operands = mutable.ArrayBuffer.empty[String] // numbers/names as source
    val strings = mutable.ArrayBuffer.empty[String]  // decoded string operands

    def num(i: Int): Double =
      if (i < operands.length)
        try operands(i).toDouble catch { case _: NumberFormatException => 0.0 }
      else 0.0

    def emit(t: String): Unit = {
      if (t.nonEmpty) { texts += Positioned(cx, cy, t, order); order += 1 }
    }
    def nextLine(tx: Double, ty: Double): Unit = {
      lx += tx; ly += ty; cx = lx; cy = ly
    }

    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) { i += 1 }
      else if (c == '%') { while (i < n && s.charAt(i) != '\n') i += 1 }
      else if (c == '(') {
        val (str, ni) = literalString(s, i)
        strings += str; i = ni
      } else if (c == '<' && i + 1 < n && s.charAt(i + 1) != '<') {
        val end = s.indexOf('>', i + 1)
        val hex = s.substring(i + 1, if (end < 0) n else end).filterNot(_.isWhitespace)
        val padded = if (hex.length % 2 == 1) hex + "0" else hex
        val sb = new java.lang.StringBuilder
        padded.grouped(2).foreach { h =>
          try sb.append(Integer.parseInt(h, 16).toChar)
          catch { case _: NumberFormatException => }
        }
        strings += sb.toString
        i = if (end < 0) n else end + 1
      } else if (c == '<') { i += 2 } // dict open inside stream (BDC props)
      else if (c == '>' || c == '[' || c == ']' || c == '{' || c == '}') { i += 1 }
      else if (c == '/') {
        val start = i + 1
        i += 1
        while (i < n && !s.charAt(i).isWhitespace &&
          !"()<>[]{}/%".contains(s.charAt(i))) i += 1
        operands += "/" + s.substring(start, i)
      } else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
        val start = i
        i += 1
        while (i < n && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
        operands += s.substring(start, i)
      } else {
        // operator token
        val start = i
        while (i < n && !s.charAt(i).isWhitespace &&
          !"()<>[]{}/%".contains(s.charAt(i))) i += 1
        val op = s.substring(start, i)
        op match {
          case "BT" => lx = 0; ly = 0; cx = 0; cy = 0
          case "ET" =>
          case "Td" => nextLine(num(operands.length - 2), num(operands.length - 1))
          case "TD" =>
            leading = -num(operands.length - 1)
            nextLine(num(operands.length - 2), num(operands.length - 1))
          case "Tm" =>
            // full text matrix: keep the translation (e, f)
            lx = num(operands.length - 2); ly = num(operands.length - 1)
            cx = lx; cy = ly
          case "T*" => nextLine(0, -leading)
          case "TL" => leading = num(operands.length - 1)
          case "Tj" => if (strings.nonEmpty) emit(strings.last)
          case "'" =>
            nextLine(0, -leading); if (strings.nonEmpty) emit(strings.last)
          case "\"" =>
            nextLine(0, -leading); if (strings.nonEmpty) emit(strings.last)
          case "TJ" =>
            // array of strings and kerning numbers: the adjustments
            // kern WITHIN the shown text, so the fragments concatenate
            if (strings.nonEmpty) emit(strings.mkString)
          case "Do" =>
            operands.lastOption.filter(_.startsWith("/")).foreach { name =>
              media += ((name.stripPrefix("/"), order)); order += 1
            }
          case _ => // graphics/color/etc: ignored
        }
        if (op.nonEmpty) { operands.clear(); strings.clear() }
      }
    }
    PageOut(texts.result(), media.result())
  }

  /** PDF literal string: balanced parens, backslash escapes incl.
    * octal and line continuations. Returns (decoded, indexAfter). */
  private def literalString(s: String, open: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var depth = 1
    var i = open + 1
    val n = s.length
    while (i < n && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' =>
            i += 2; if (i < n && s.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var j = i + 1
            var v = 0
            while (j < n && j < i + 4 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
              v = v * 8 + (s.charAt(j) - '0'); j += 1
            }
            sb.append(v.toChar); i = j
          case other => sb.append(other); i += 2
        }
      } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) sb.append(c)
        i += 1
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, i)
  }
}
