package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.JobShape

import graft.model.{Doc, Span}
import graft.parse.{AltoWriter, PdfWriter}
import graft.run.IngestAny

/** Mixed-format corpus ingestion: one scan, magic-byte dispatch to the
  * ALTO/PAGE, HTML and PDF parsers, one canonical span table out. */
class IngestAnySpec extends SparkSpecBase {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  /** Two roots that each hold the same 2,000 one-byte files
    * `n0000.xml` … `n1999.xml`: every basename collides once. */
  private lazy val collidingRoots: Seq[String] = {
    val tmp = Files.createTempDirectory("graft-2k")
    Seq("r1", "r2").map { r =>
      val root = Files.createDirectories(tmp.resolve(r))
      (0 until 2000).foreach(i => Files.write(root.resolve(f"n$i%04d.xml"), Array[Byte](9)))
      root.toString
    }
  }

  test("sniff: magic bytes beat extensions") {
    assert(IngestAny.sniff("%PDF-1.4\n…".getBytes("ISO-8859-1")) == IngestAny.FmtPdf)
    assert(IngestAny.sniff("<?xml version='1.0'?><alto>".getBytes("UTF-8")) == IngestAny.FmtXml)
    assert(IngestAny.sniff("<!DOCTYPE html><html>".getBytes("UTF-8")) == IngestAny.FmtHtml)
    assert(IngestAny.sniff("  <html lang='de'>".getBytes("UTF-8")) == IngestAny.FmtHtml)
    assert(IngestAny.sniff(Array[Byte](0, 1, 2, 3)) == IngestAny.FmtUnknown)
  }

  test("mixed directory: xml + html + pdf + junk through one scan") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-any").toString

    // an ALTO file rendered from a generated doc (same tokens back)
    val doc = graft.gen.CorpusGen.docs(spark, 1, "interleaved").collect().head
    Files.write(Paths.get(s"$tmp/alto_doc.xml"), AltoWriter.render(doc))

    // an HTML page: nav is boilerplate, article is content, one image
    Files.write(Paths.get(s"$tmp/web_doc.html"),
      ("<html><body><nav><a href='/'>home</a> <a href='/a'>about</a>" +
        " <a href='/c'>impressum</a></nav>" +
        "<article><p>echter inhalt mit genug worten hier</p>" +
        "<img src='bild.png'/></article></body></html>").getBytes("UTF-8"))

    // a compressed PDF
    Files.write(Paths.get(s"$tmp/print_doc.pdf"), PdfWriter.render(
      Seq(Seq((72.0, 700.0, "gedruckter inhalt"), (72.0, 686.0, "zweite zeile"))),
      flate = true))

    // junk that matches the glob but no format → failure row, not a crash
    Files.write(Paths.get(s"$tmp/broken.xml"), Array[Byte](9, 9, 9))

    val out = IngestAny.parseDocs(IngestAny.readFiles(spark, Seq(tmp)))
      .collect().map(d => d.doc_id -> d).toMap
    assert(out.keySet == Set("alto_doc", "web_doc", "print_doc", "broken"))

    def texts(d: Doc) = d.spans.filter(_.kind == Span.KindText).map(_.text)

    // ALTO round-trip: the generated doc's text tokens come back
    assert(texts(out("alto_doc")) ==
      doc.spans.filter(_.kind == Span.KindText).map(_.text))

    // HTML: nav dropped (link density), article kept, image → media span
    assert(texts(out("web_doc")) ==
      Seq("echter", "inhalt", "mit", "genug", "worten", "hier"))
    assert(out("web_doc").spans.count(_.kind == Span.KindMedia) == 1)

    // PDF: tokens in reading order
    assert(texts(out("print_doc")) ==
      Seq("gedruckter", "inhalt", "zweite", "zeile"))

    // junk: one error row
    assert(out("broken").spans.map(_.kind) == Seq(graft.run.IngestXml.KindError))
  }

  test("basename collisions across subtrees get distinct doc_ids; BOM'd XML parses") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    Files.createDirectories(Paths.get(s"$tmp/a"))
    Files.createDirectories(Paths.get(s"$tmp/b"))
    val doc = graft.gen.CorpusGen.docs(spark, 1, "interleaved").collect().head
    val xml = AltoWriter.render(doc)
    Files.write(Paths.get(s"$tmp/a/0001.xml"), xml)
    // same basename, different subtree, BOM-prefixed payload
    Files.write(Paths.get(s"$tmp/b/0001.xml"),
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ xml)
    Files.write(Paths.get(s"$tmp/a/unique.xml"), xml)

    val out = IngestAny.parseDocs(IngestAny.readFiles(spark, Seq(tmp))).collect()
    assert(out.length == 3)
    val ids = out.map(_.doc_id).toSet
    assert(ids.size == 3, s"conflated ids: $ids")
    assert(ids.contains("unique"), "non-colliding basename stays unsuffixed")
    assert(ids.count(_.startsWith("0001#")) == 2, s"colliders unsuffixed: $ids")
    // the BOM'd copy parsed as XML (no error spans anywhere)
    assert(out.forall(_.spans.forall(_.kind != graft.run.IngestXml.KindError)))
  }

  test("BOM bytes are stripped before decode: XML parses, HTML first word is clean") {
    // the decoded U+FEFF is a StAX prolog error on a plain JDK factory
    // and would otherwise glue onto the first HTML word — both paths
    // must decode from AFTER the BOM, not just sniff past it
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    val tmp = Files.createTempDirectory("graft-bom").toString
    val doc = graft.gen.CorpusGen.docs(spark, 1, "interleaved").collect().head
    Files.write(Paths.get(s"$tmp/bom_doc.xml"), bom ++ AltoWriter.render(doc))
    Files.write(Paths.get(s"$tmp/bom_page.html"), bom ++
      "<html><body><p>klares erstes wort hier</p></body></html>".getBytes("UTF-8"))

    val out = IngestAny.parseDocs(IngestAny.readFiles(spark, Seq(tmp)))
      .collect().map(d => d.doc_id -> d).toMap
    assert(out("bom_doc").spans.forall(_.kind != graft.run.IngestXml.KindError))
    assert(out("bom_doc").spans.filter(_.kind == Span.KindText).map(_.text) ==
      doc.spans.filter(_.kind == Span.KindText).map(_.text))
    val toks = out("bom_page").spans.filter(_.kind == Span.KindText).map(_.text)
    assert(toks == Seq("klares", "erstes", "wort", "hier"), s"got $toks")
    assert(toks.head.head != '\uFEFF')
  }

  test("collider ids: basename + '#' + md5 of the path column; a unique basename stays bare") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-ids")
    val roots = Seq("r1", "r2").map(r => Files.createDirectories(tmp.resolve(r)).toString)
    // each file's content is its own name, to pair scan rows by content
    for (r <- roots; name <- Seq("a b.xml", "h#x.xml"))
      Files.write(Paths.get(r, name), s"$r/$name".getBytes(UTF_8))
    Files.write(Paths.get(roots.head, "solo.xml"), "solo".getBytes(UTF_8))

    def byContent(rows: Array[(String, Array[Byte])]) =
      rows.map { case (k, c) => new String(c, UTF_8) -> k }.toMap
    val pathOf = byContent(spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(roots: _*)
      .select("path", "content").as[(String, Array[Byte])].collect())
    val idOf = byContent(IngestAny.readFiles(spark, roots).collect())
    assert(idOf.keySet == pathOf.keySet && idOf.size == 5, idOf)
    for (r <- roots; name <- Seq("a b", "h#x")) {
      val path = pathOf(s"$r/$name.xml")
      // the column holds the plain name, not the URI form `a%20b.xml`
      assert(path.endsWith(s"/$name.xml"), path)
      assert(idOf(s"$r/$name.xml") == s"$name#" + md5Hex(path).take(8))
    }
    assert(idOf("solo") == "solo")
  }

  test("2,000 basenames that each collide once: 4,000 distinct ids, no name inlined in the plan") {
    import spark.implicits._
    val raw = IngestAny.readFiles(spark, collidingRoots)
    val ids = raw.map(_._1).collect()
    assert(ids.length == 4000 && ids.distinct.length == 4000)
    assert(ids.forall(_.matches("n\\d{4}#[0-9a-f]{8}")), ids.take(5).toSeq)
    val plan = raw.queryExecution.executedPlan.toString
    assert(!plan.contains("n1234"), "the collider set is a literal in the plan")
  }

  test("scanTasks: one task per 32 MB of input, at least one per core") {
    val cores = spark.sparkContext.defaultParallelism
    val mb32 = 32L << 20
    assert(IngestAny.scanTasks(spark, 0L) == cores)
    assert(IngestAny.scanTasks(spark, cores * mb32) == cores)
    assert(IngestAny.scanTasks(spark, (cores + 1) * mb32) == cores + 1)
    assert(IngestAny.scanTasks(spark, (cores + 1) * mb32 + 1) == cores + 2)
    assert(IngestAny.scanTasks(spark, 1L << 40) == (1 << 15), "no cap on a large input")
  }

  test("collider set counts only files the scan reads: an empty twin leaves the id bare") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-skip")
    val Seq(r1, r2) = Seq("r1", "r2").map(r => Files.createDirectories(tmp.resolve(r)))
    Files.write(r1.resolve("x.xml"), Array.emptyByteArray)
    Files.write(r2.resolve("x.xml"), "x".getBytes(UTF_8))
    // listed by Spark, but skipped by the scan as a metadata file
    Files.write(r1.resolve("_metadata.xml"), "m".getBytes(UTF_8))
    Files.write(r2.resolve("_metadata.xml"), "m".getBytes(UTF_8))
    val rows = IngestAny.readFiles(spark, Seq(r1.toString, r2.toString)).collect()
    assert(rows.map { case (k, c) => k -> new String(c, UTF_8) }.toSeq == Seq("x" -> "x"))
  }

  test("readFiles runs one job of at most scanTasks tasks") {
    val cap = IngestAny.scanTasks(spark, 4000L)
    val own = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
      .load(collidingRoots: _*).rdd.getNumPartitions
    assert(own > cap, s"Spark's own split ($own tasks) is under the cap ($cap): nothing to test")
    val jobs = JobShape.of(spark.sparkContext) {
      IngestAny.readFiles(spark, collidingRoots).write.format("noop").mode("overwrite").save()
    }
    assert(jobs.length == 1, s"jobs (task counts per stage): $jobs")
    val tasks = jobs.head.sum
    assert(tasks >= 1 && tasks <= cap, s"$tasks scan tasks, cap $cap")
  }

  test("a file with a non-ASCII name is listed and parsed") {
    assert(System.getProperty("sun.jnu.encoding").equalsIgnoreCase("UTF-8"),
      "file names decode as " + System.getProperty("sun.jnu.encoding") +
        "; run the JVM under a UTF-8 locale (LANG=C.UTF-8)")
    val tmp = Files.createTempDirectory("graft-utf8")
    val doc = graft.gen.CorpusGen.docs(spark, 1, "interleaved").collect().head
    Files.write(tmp.resolve("zeitung_ü.xml"), AltoWriter.render(doc))
    val out = IngestAny.parseDocs(IngestAny.readFiles(spark, Seq(tmp.toString))).collect()
    assert(out.map(_.doc_id).toSeq == Seq("zeitung_ü"))
    assert(out.head.spans.filter(_.kind == Span.KindText).map(_.text) ==
      doc.spans.filter(_.kind == Span.KindText).map(_.text))
  }
}
