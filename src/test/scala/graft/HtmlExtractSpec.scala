package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Span
import graft.parse.HtmlExtract

/** Main-content extraction heuristics over HTML (north_rule: "HTML
  * boilerplate strip … DOM heuristics"). */
class HtmlExtractSpec extends AnyFunSuite {

  val page =
    """<html><head><title>T</title><style>.x{color:red}</style>
      |<script>var a = "<p>not content</p>";</script></head>
      |<body>
      |<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
      |<header>Site Header Junk Words Here</header>
      |<article>
      |<h1>Die &amp; Verſammlung</h1>
      |<p>Dies ist der erste Absatz des Hauptinhalts mit genug Worten.</p>
      |<p>Zweiter Absatz <a href="x">mit einem Link</a> und weiterem Text danach.</p>
      |<figure><img src="bild.png" alt="x"/><figcaption>Eine Abbildung dazu</figcaption></figure>
      |<p><a href="1">nur</a> <a href="2">Links</a> <a href="3">hier</a> <a href="4">drin</a></p>
      |</article>
      |<footer>Copyright Junk 2026 Impressum Datenschutz</footer>
      |</body></html>""".stripMargin

  test("boilerplate subtrees (nav/header/footer/script/style) are dropped") {
    val out = HtmlExtract.extract(page, "d1")
    val texts = out.filter(_.kind == Span.KindText).map(_.text)
    assert(!texts.contains("Home"))
    assert(!texts.contains("Copyright"))
    assert(!texts.contains("Site"))
    assert(!texts.exists(_.contains("color")))
    assert(!texts.exists(_.contains("var")))
  }

  test("main content survives, entities decode, images become media spans") {
    val out = HtmlExtract.extract(page, "d1")
    val texts = out.filter(_.kind == Span.KindText).map(_.text)
    assert(texts.containsSlice(Seq("Dies", "ist", "der", "erste")))
    assert(texts.contains("&")) // &amp; decoded in the kept h1 block
    assert(texts.contains("Verſammlung"))
    val media = out.filter(_.kind == Span.KindMedia)
    assert(media.map(_.media_ref) == Seq("media://d1/img0#bild.png"))
  }

  test("link-dense block is stripped, mixed block kept") {
    val out = HtmlExtract.extract(page, "d1")
    val texts = out.filter(_.kind == Span.KindText).map(_.text)
    assert(!texts.contains("nur")) // 4/4 link words
    assert(texts.contains("Link")) // 3/9 link words → kept
  }

  test("offsets are dense and ordered; blocks group spans") {
    val out = HtmlExtract.extract(page, "d1")
    assert(out.map(_.offset) == out.indices.map(identity))
    val refs = out.filter(_.kind == Span.KindText).map(_.media_ref).distinct
    assert(refs.size >= 3) // h1, p1, p2+figcaption blocks
  }

  test("img src is matched as a whole attribute (data-src does not shadow it)") {
    val html = "<body><p>eins zwei drei vier</p>" +
      "<img data-src='lazy.png' src='real.png'/>" +
      "<img alt='src=fake.png inside a value' src=\"plain.png\"></body>"
    val media = HtmlExtract.extract(html, "d").filter(_.kind == Span.KindMedia)
    assert(media.map(_.media_ref) ==
      Vector("media://d/img0#real.png", "media://d/img1#plain.png"))
  }

  test("malformed and truncated markup does not crash") {
    assert(HtmlExtract.extract("<p>ok<div<span>broken</spa", "x").nonEmpty ||
      true)
    assert(HtmlExtract.extract("", "x").isEmpty)
    assert(HtmlExtract.extract("<script>never closed", "x").isEmpty)
    assert(HtmlExtract.extract("plain words only here", "x").size == 4)
  }

  test("tag-soup robustness: stray closes, self-closing drops, hex entities, slash values") {
    def texts(html: String) =
      HtmlExtract.extract(html, "x")
        .filter(_.kind == graft.model.Span.KindText).map(_.text)

    // a stray </script> inside <nav> must NOT un-drop the nav subtree
    assert(texts("<nav>menu stuff here</script>junk leak words</nav>" +
      "<p>echter inhalt mit worten</p>") ==
      Vector("echter", "inhalt", "mit", "worten"))

    // a self-closing boilerplate element has an empty subtree — it must
    // not swallow the rest of the document
    assert(texts("<p>davor text hier</p><iframe/><p>danach text auch</p>") ==
      Vector("davor", "text", "hier", "danach", "text", "auch"))

    // mis-nested boilerplate (tag soup): a close for a NON-innermost
    // open drop element pops through the stale inner entries instead of
    // silently dropping the rest of the document
    assert(texts("<nav><aside>menü</nav></aside><p>echter inhalt bleibt da</p>") ==
      Vector("echter", "inhalt", "bleibt", "da"))
    // a close for a drop name never opened still no-ops
    assert(texts("</nav><p>inhalt ohne kontext hier</p>") ==
      Vector("inhalt", "ohne", "kontext", "hier"))

    // hexadecimal character references decode like decimal ones
    assert(texts("<p>it&#x2019;s done &#8217;too&#x2019;</p>") ==
      Vector("it’s", "done", "’too’"))

    // uppercase tags are recognized (Locale.ROOT lowercasing) and the
    // raw-text skip is case-insensitive
    assert(texts("<SCRIPT>var x=1;</SCRIPT><P>grossbuchstaben tags gehen</P>") ==
      Vector("grossbuchstaben", "tags", "gehen"))

    // unquoted src keeps interior slashes, drops only the self-closing one
    val m = HtmlExtract.extract("<p>bild folgt jetzt</p><img src=http://h/p.jpg/>", "d")
      .filter(_.kind == graft.model.Span.KindMedia)
    assert(m.map(_.media_ref) == Vector("media://d/img0#http://h/p.jpg"))
  }

  test("extraction pipeline consumes HTML-derived spans end-to-end") {
    // spans from HTML run through the same downstream stage chain
    val doc = graft.model.Doc("h1", HtmlExtract.extract(page, "h1"))
    val p = graft.stages.Extraction.estimateDoc(doc, graft.stages.ExtractConfig())
    assert(p.n_lines_in > 0)
    assert(p.n_words > 0)
  }
}
