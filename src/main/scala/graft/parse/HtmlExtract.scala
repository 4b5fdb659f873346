package graft.parse

import scala.collection.mutable

import graft.model.Span
import graft.text.TextRules

/** Main-content extraction from HTML: tag-soup tokenizer + DOM-drop
  * heuristics + densitometric boilerplate strip (link-density rule in
  * the spirit of the published boilerpipe/Arc90 heuristics), emitting
  * the engine's interleaved span model — text blocks become `text`
  * spans grouped per block, `<img>` elements become `media` spans with
  * `media_ref` placeholders.
  *
  * The tokenizer is hand-rolled (zero dependencies), tolerant of
  * malformed markup, and skips raw-text elements (`script`, `style`)
  * wholesale. Pure and allocation-conscious: safe inside
  * `mapPartitions` at full corpus scale (one pass, O(len)).
  */
object HtmlExtract {

  /** Elements whose entire subtree is boilerplate by construction. */
  private val DropSubtree = Set(
    "script", "style", "noscript", "nav", "footer", "header", "aside",
    "form", "iframe", "svg", "button", "select", "template")

  /** Raw-text elements: content is not markup. */
  private val RawText = Set("script", "style", "template")

  /** Block-level boundaries that close a text block. */
  private val BlockTags = Set(
    "p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "tr", "table", "article", "section", "main", "blockquote",
    "pre", "br", "hr", "figure", "figcaption", "body", "html", "title")

  private val entities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "#39" -> "'", "#34" -> "\"")

  private def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 8) {
          val name = s.substring(i + 1, semi)
          entities.get(name.toLowerCase(java.util.Locale.ROOT)) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None if name.startsWith("#") =>
              // decimal (&#8217;) AND hex (&#x2019;) character refs
              val digits = name.substring(1)
              val code =
                try {
                  if (digits.length > 1 &&
                    (digits.charAt(0) == 'x' || digits.charAt(0) == 'X'))
                    Integer.parseInt(digits.substring(1), 16)
                  else Integer.parseInt(digits)
                } catch { case _: Exception => -1 }
              if (code >= 0) { sb.appendCodePoint(code); i = semi + 1 }
              else { sb.append(c); i += 1 }
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Case-insensitive substring search without copying/lowercasing the
    * haystack (a full-document toLowerCase per raw-text element would
    * be O(n²) and, worse, can CHANGE the string length — U+0130
    * lowercases to two chars — misaligning every returned index). */
  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    var i = math.max(from, 0)
    val last = hay.length - needle.length
    while (i <= last) {
      if (hay.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  private final case class Block(
      text: String, nWords: Int, nLinkWords: Int, images: Seq[String])

  /** Boilerplate rule (densitometric classification): a block keeps
    * its text when it has at least `MinWords` words and a link density
    * (link words / words) of at most `MaxLinkDensity`. q32's oracle
    * encodes both values. */
  private val MinWords = 3
  private val MaxLinkDensity = 0.49

  /** The document's spans: kept text blocks as `text` spans, every
    * `<img>` as a `media` span, in document order. */
  def extract(html: String, docId: String): Vector[Span] = {
    val blocks = tokenize(html)
    val spans = Vector.newBuilder[Span]
    var off = 0
    var blockIdx = 0
    var mediaIdx = 0
    blocks.foreach { b =>
      val keepText = b.nWords >= MinWords &&
        (b.nWords == 0 || b.nLinkWords.toDouble / b.nWords <= MaxLinkDensity)
      if (keepText) {
        val ref = s"${Span.LineRefPrefix}html/b$blockIdx"
        TextRules.splitWs(b.text).foreach { tok =>
          spans += Span(Span.KindText, tok, ref, off)
          off += 1
        }
      }
      b.images.foreach { src =>
        spans += Span.media(s"media://$docId/img$mediaIdx#$src", off)
        off += 1; mediaIdx += 1
      }
      blockIdx += 1
    }
    spans.result()
  }

  /** Tag-soup pass: returns text blocks with word/link-word counts and
    * the images encountered inside each block. */
  private def tokenize(html: String): Vector[Block] = {
    val blocks = Vector.newBuilder[Block]
    val text = new java.lang.StringBuilder
    var nLinkWords = 0
    var linkDepth = 0
    // stack of OPEN boilerplate elements: a close tag pops up to and
    // including its match anywhere on the stack (mis-nested inner
    // elements were implicitly closed — tag-soup recovery), while a
    // close for a name never opened (e.g. a stray </script> left over
    // from a raw-text skip) is ignored and cannot un-drop an
    // UNRELATED enclosing subtree
    var dropStack: List[String] = Nil
    def dropDepth: Int = dropStack.length
    val images = mutable.ArrayBuffer.empty[String]

    def flush(): Unit = {
      val t = decodeEntities(text.toString).trim
      val words = TextRules.splitWs(t)
      if (words.nonEmpty || images.nonEmpty) {
        blocks += Block(words.mkString(" "), words.length,
          math.min(nLinkWords, words.length), images.toVector)
      }
      text.setLength(0); nLinkWords = 0; images.clear()
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        // comment?
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val close = html.indexOf('>', i + 1)
          if (close < 0) { i = n } // truncated tag: stop
          else {
            val inner = html.substring(i + 1, close)
            val isEnd = inner.startsWith("/")
            val selfClosing = !isEnd && inner.endsWith("/")
            val body = if (isEnd) inner.substring(1) else inner
            val name = body.takeWhile(ch => ch.isLetterOrDigit)
              .toLowerCase(java.util.Locale.ROOT)
            if (name.nonEmpty) {
              if (!isEnd && !selfClosing && RawText.contains(name)) {
                // skip raw content to the matching close tag
                // (case-insensitive scan, no document copy)
                val endTag = s"</$name"
                val idx = indexOfIgnoreCase(html, endTag, close + 1)
                val after = if (idx < 0) n else html.indexOf('>', idx) match {
                  case -1 => n
                  case e  => e + 1
                }
                i = after
              } else {
                if (DropSubtree.contains(name)) {
                  // a self-closing boilerplate element (<iframe/>) has
                  // an empty subtree: flush the block, push nothing
                  if (!isEnd && !selfClosing) { flush(); dropStack = name :: dropStack }
                  else if (!isEnd && selfClosing) flush()
                  else if (dropStack.contains(name))
                    // tag-soup recovery: a close for a NON-innermost
                    // open drop element (<nav><aside>x</nav>) implies
                    // the inner ones were never closed — pop up to and
                    // including the match, so the rest of the document
                    // isn't silently swallowed by the stale entry.
                    // Closes for names not on the stack still no-op.
                    dropStack = dropStack.dropWhile(_ != name).tail
                } else if (dropDepth == 0) {
                  name match {
                    case "a" =>
                      if (isEnd) { if (linkDepth > 0) linkDepth -= 1 }
                      else linkDepth += 1
                    case "img" if !isEnd =>
                      val src = attr(body, "src").getOrElse("")
                      images += src
                    case bn if BlockTags.contains(bn) => flush()
                    case _ =>
                  }
                }
                i = close + 1
              }
            } else i = close + 1
          }
        }
      } else {
        if (dropDepth == 0) {
          // same whitespace class as the word counter (splitWs) —
          // a plain isWhitespace here would undercount link words on
          // NBSP-joined anchor text and skew the density gate
          if (TextRules.isPyWhitespace(c)) {
            if (text.length() > 0 && text.charAt(text.length() - 1) != ' ')
              text.append(' ')
          } else {
            // count words entering via links
            if (linkDepth > 0 &&
              (text.length() == 0 || text.charAt(text.length() - 1) == ' '))
              nLinkWords += 1
            text.append(c)
          }
        }
        i += 1
      }
    }
    flush()
    blocks.result()
  }

  /** Scan the tag body's attribute list properly: a name match must
    * start a token (substring matches like `data-src` vs `src`, or a
    * match inside another attribute's quoted value, don't count). */
  private def attr(tagBody: String, name: String): Option[String] = {
    var i = 0
    val n = tagBody.length
    // skip the element name
    while (i < n && !tagBody.charAt(i).isWhitespace) i += 1
    while (i < n) {
      while (i < n && (tagBody.charAt(i).isWhitespace || tagBody.charAt(i) == '/')) i += 1
      val nameStart = i
      while (i < n && tagBody.charAt(i) != '=' && !tagBody.charAt(i).isWhitespace) i += 1
      if (i <= nameStart) return None
      val attrName = tagBody.substring(nameStart, i).toLowerCase
      // value part (if any)
      var value: Option[String] = None
      if (i < n && tagBody.charAt(i) == '=') {
        i += 1
        if (i < n) tagBody.charAt(i) match {
          case q @ ('"' | '\'') =>
            val end = tagBody.indexOf(q, i + 1)
            if (end < 0) { value = Some(tagBody.substring(i + 1)); i = n }
            else { value = Some(tagBody.substring(i + 1, end)); i = end + 1 }
          case _ =>
            val vStart = i
            while (i < n && !tagBody.charAt(i).isWhitespace) i += 1
            var v = tagBody.substring(vStart, i)
            // `<img src=pic.jpg/>`: the trailing self-closing slash is
            // tag syntax, not part of the unquoted value (URLs keep
            // their interior slashes)
            if (i == n && v.endsWith("/")) v = v.substring(0, v.length - 1)
            value = Some(v)
        }
      }
      if (attrName == name) return value
    }
    None
  }
}
