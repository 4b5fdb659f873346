package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.model.Span
import graft.parse.{PdfExtract, PdfWriter}

/** PDF layout parse (north_rule): round-trips through the minimal
  * writer plus handcrafted content streams for the syntax corners
  * (escapes, hex strings, TJ arrays, Tm, multi-object content). */
class PdfExtractSpec extends SparkSpecBase {

  private def texts(spans: Seq[Span]) =
    spans.filter(_.kind == Span.KindText).map(_.text)

  test("single page round-trip: tokens, line grouping, reading order") {
    val pdf = PdfWriter.render(Seq(Seq(
      (72.0, 700.0, "Erste Zeile oben"),
      (300.0, 700.0, "rechts daneben"),
      (72.0, 680.0, "zweite Zeile"))))
    val spans = PdfExtract.extract(pdf, "d1")
    assert(texts(spans) ==
      Seq("Erste", "Zeile", "oben", "rechts", "daneben", "zweite", "Zeile"))
    // same baseline → same line ref; next baseline → next line ref
    val refs = spans.map(_.media_ref).distinct
    assert(refs == Seq("line://pdf/p0/l0", "line://pdf/p0/l1"))
    // offsets are the total order
    assert(spans.map(_.offset) == spans.indices.toVector)
  }

  test("reading order is geometric (top-down), not stream order") {
    // place the BOTTOM line first in the stream via Tm jumps
    val content = "BT /F1 12 Tf 1 0 0 1 72 100 Tm (unten) Tj " +
      "1 0 0 1 72 700 Tm (oben) Tj ET"
    val pdf = handPdf(content)
    assert(texts(PdfExtract.extract(pdf, "d")) == Seq("oben", "unten"))
  }

  test("FlateDecode content stream == plain content stream") {
    val pages = Seq(Seq((72.0, 700.0, "compressed content here")))
    val plain = PdfExtract.extract(PdfWriter.render(pages, flate = false), "d")
    val flate = PdfExtract.extract(PdfWriter.render(pages, flate = true), "d")
    assert(plain == flate)
    assert(texts(plain) == Seq("compressed", "content", "here"))
  }

  test("multi-page: page order and per-page refs") {
    val pdf = PdfWriter.render(Seq(
      Seq((72.0, 700.0, "page one")),
      Seq((72.0, 700.0, "page two"))))
    val spans = PdfExtract.extract(pdf, "d")
    assert(texts(spans) == Seq("page", "one", "page", "two"))
    assert(spans.map(_.media_ref).distinct ==
      Seq("line://pdf/p0/l0", "line://pdf/p1/l0"))
  }

  test("string syntax corners: escapes, octal, hex, TJ arrays, quote ops") {
    val content = "BT /F1 12 Tf 72 700 Td " +
      "[(Kern) -120 (ed)] TJ " +                 // TJ: strings concatenate
      "(\\(paren\\) \\\\back) Tj " +             // escaped parens + backslash
      "(\\101\\102) Tj " +                       // octal AB
      "<486921> Tj " +                           // hex "Hi!"
      "0 -20 Td (next) Tj " +
      "14 TL (line3) ' ET"                       // ' = T* then show
    val spans = PdfExtract.extract(handPdf(content), "d")
    assert(texts(spans) ==
      Seq("Kerned", "(paren)", "\\back", "AB", "Hi!", "next", "line3"))
    // ' moved one leading (14) below "next" → third line
    assert(spans.map(_.media_ref).distinct.length == 3)
  }

  test("image XObjects become interleaved media spans") {
    val pdf = PdfWriter.render(Seq(Seq((72.0, 700.0, "text then image"))),
      withImage = true)
    val spans = PdfExtract.extract(pdf, "d9")
    assert(texts(spans) == Seq("text", "then", "image"))
    val media = spans.filter(_.kind == Span.KindMedia)
    assert(media.length == 1)
    assert(media.head.media_ref == "media://d9/p0/Im0")
    // Do comes after ET in the writer's stream → media span last
    assert(media.head.offset == spans.length - 1)
  }

  test("contents arrays (multiple streams) concatenate in order") {
    // handcraft: /Contents [A B]
    val c1 = "BT /F1 12 Tf 72 700 Td (erster) Tj ET"
    val c2 = "BT /F1 12 Tf 72 680 Td (zweiter) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [ 3 0 R ] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents [ 4 0 R 5 0 R ] >> endobj\n" +
      s"4 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream endobj\n" +
      s"5 0 obj << /Length ${c2.length} >>\nstream\n$c2\nendstream endobj\n" +
      "%%EOF\n").getBytes(ISO_8859_1)
    assert(texts(PdfExtract.extract(pdf, "d")) == Seq("erster", "zweiter"))
  }

  test("compact /Type/Page (no separator) is a page; /Kids order beats object numbers") {
    // legal per ISO 32000 (names end at any delimiter) and common in
    // the wild; pages stored with object numbers REVERSED vs the /Kids
    // reading order — the tree walk, not the objnum sort, must win
    val c1 = "BT 72 700 Td (erste) Tj ET"
    val c2 = "BT 72 700 Td (zweite) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type/Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type/Pages /Kids [ 5 0 R 4 0 R ] /Count 2 >> endobj\n" +
      "4 0 obj << /Type/Page /Parent 2 0 R /Contents 7 0 R >> endobj\n" +
      "5 0 obj << /Type/Page /Parent 2 0 R /Contents 6 0 R >> endobj\n" +
      s"6 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream endobj\n" +
      s"7 0 obj << /Length ${c2.length} >>\nstream\n$c2\nendstream endobj\n" +
      // NOT a page: /Page2 is a different name (digits are regular
      // name chars) — the objnum fallback must not re-extract via it
      "8 0 obj << /Type/Page2 /Contents 6 0 R >> endobj\n" +
      "%%EOF\n").getBytes(ISO_8859_1)
    assert(texts(PdfExtract.extract(pdf, "d")) == Seq("erste", "zweite"))
  }

  test("incremental-update catalogs: highest-objnum /Type/Catalog wins; substring decoys don't") {
    // an appended update adds a SECOND catalog (object 8) whose /Pages
    // tree reverses the reading order — the update winner must drive
    // the walk. Object 9 merely CONTAINS the string "/Catalog" as a
    // name value; objects 12/13 carry /Type names that merely START
    // with "/Catalog" (digits and underscores are legal PDF name
    // characters, so /Catalog2 is a DIFFERENT name) — none may be
    // selected even though 12/13 outrank object 8 by number.
    val c1 = "BT 72 700 Td (eins) Tj ET"
    val c2 = "BT 72 700 Td (zwei) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type/Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type/Pages /Kids [ 4 0 R 5 0 R ] /Count 2 >> endobj\n" +
      "4 0 obj << /Type/Page /Parent 2 0 R /Contents 6 0 R >> endobj\n" +
      "5 0 obj << /Type/Page /Parent 2 0 R /Contents 7 0 R >> endobj\n" +
      s"6 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream endobj\n" +
      s"7 0 obj << /Length ${c2.length} >>\nstream\n$c2\nendstream endobj\n" +
      "8 0 obj << /Type/Catalog /Pages 10 0 R >> endobj\n" +
      "10 0 obj << /Type/Pages /Kids [ 5 0 R 4 0 R ] /Count 2 >> endobj\n" +
      "9 0 obj << /SomeName /CatalogLike /Pages 11 0 R >> endobj\n" +
      "11 0 obj << /Type/Pages /Kids [ 4 0 R ] /Count 1 >> endobj\n" +
      "12 0 obj << /Type/Catalog2 /Pages 11 0 R >> endobj\n" +
      "13 0 obj << /Type/Catalog_x /Pages 11 0 R >> endobj\n" +
      "%%EOF\n").getBytes(ISO_8859_1)
    assert(texts(PdfExtract.extract(pdf, "d")) == Seq("zwei", "eins"))
  }

  test("pages outside a broken /Kids tree are still extracted (objnum fallback)") {
    val c1 = "BT 72 700 Td (verwaist) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      // no catalog at all — the fallback must still find the page
      "3 0 obj << /Type/Page /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream endobj\n" +
      "%%EOF\n").getBytes(ISO_8859_1)
    assert(texts(PdfExtract.extract(pdf, "d")) == Seq("verwaist"))
  }

  test("PDF 1.5 object streams: page dicts inside /Type/ObjStm are found") {
    // writer round-trip in objStm mode: catalog/pages/font/page dicts
    // exist ONLY inside the FlateDecode'd object stream
    val pdf = PdfWriter.render(Seq(
      Seq((72.0, 700.0, "erste seite inhalt"), (72.0, 686.0, "zweite zeile")),
      Seq((72.0, 700.0, "seite zwei"))),
      flate = true, withImage = true, objStm = true)
    assert(!new String(pdf, ISO_8859_1).contains("/Catalog"),
      "dict objects leaked to the top level — objStm mode not exercised")
    val spans = PdfExtract.extract(pdf, "d")
    assert(texts(spans) ==
      Seq("erste", "seite", "inhalt", "zweite", "zeile", "seite", "zwei"))
    assert(spans.count(_.kind == graft.model.Span.KindMedia) == 2)

    // handcrafted UNCOMPRESSED object stream (no /Filter), embedded
    // objects referencing a top-level content stream
    val dicts = Seq(
      1 -> "<< /Type/Catalog /Pages 2 0 R >>",
      2 -> "<< /Type/Pages /Kids [ 3 0 R ] /Count 1 >>",
      3 -> "<< /Type/Page /Parent 2 0 R /Contents 4 0 R >>")
    val hdr = new StringBuilder
    val bod = new StringBuilder
    dicts.foreach { case (n, d) =>
      hdr.append(n).append(' ').append(bod.length).append(' ')
      bod.append(d).append(' ')
    }
    val payload = hdr.toString + bod
    val c1 = "BT 72 700 Td (eingebettet) Tj ET"
    val raw = ("%PDF-1.5\n" +
      s"5 0 obj << /Type /ObjStm /N 3 /First ${hdr.length} " +
      s"/Length ${payload.length} >>\nstream\n$payload\nendstream endobj\n" +
      s"4 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream endobj\n" +
      "%%EOF\n").getBytes(ISO_8859_1)
    assert(texts(PdfExtract.extract(raw, "d")) == Seq("eingebettet"))
  }

  test("distributed extraction over Spark (mapPartitions path)") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      (s"doc$i", PdfWriter.render(Seq(Seq(
        (72.0, 700.0, s"inhalt nummer $i"),
        (72.0, 680.0, s"seite von doc$i"))), flate = i % 2 == 0))
    }
    val out = graft.run.IngestAny.parseDocs(rows.toDS()).collect()
    assert(out.length == 40)
    out.foreach { doc =>
      val i = doc.doc_id.stripPrefix("doc")
      assert(texts(doc.spans) == Seq("inhalt", "nummer", i, "seite", "von", s"doc$i"))
    }
  }

  /** Wrap a raw content stream into a one-page PDF. */
  private def handPdf(content: String): Array[Byte] =
    ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [ 3 0 R ] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream endobj\n" +
      "%%EOF\n").getBytes(ISO_8859_1)
}
