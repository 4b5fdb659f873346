package graft.run

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Doc, Span}
import graft.parse.{HtmlExtract, OcrXmlParser, ParserPool, PdfExtract}

/** Unified multi-format ingestion: one distributed scan over a corpus
  * mixing ALTO/PAGE XML, HTML and PDF documents, dispatched per row by
  * MAGIC BYTES (the X1 namespace-sniff generalized across container
  * formats — extensions lie on web corpora) to the matching pooled
  * parser, all emitting the same canonical span table. Files are read
  * with the `binaryFile` source (one row per file, content as bytes —
  * works for text and binary payloads alike); parse failures become
  * `kind='error'` rows and tick the failure accumulator, never
  * aborting the job. This is the engine's analog of the reference's
  * scan + parse front end (ocr_pipeline.py:271-336 +
  * lib/ocr_step.py:365): parsers are pooled per task, never built per
  * row.
  *
  * Usage: IngestAny <dir[,dir…]> <outParquet> [shapesOut]
  * (`shapesOut` also writes the C9 line-geometry side table).
  */
object IngestAny {

  sealed trait Format
  case object FmtXml extends Format
  case object FmtHtml extends Format
  case object FmtPdf extends Format
  case object FmtUnknown extends Format

  /** Byte offset of the content after an optional UTF-8 BOM. Both the
    * sniff AND the decode must skip it: StAX rejects a decoded U+FEFF
    * before the prolog ("Content is not allowed in prolog"), and the
    * HTML tokenizer would glue it onto the first word. */
  def bomOffset(bytes: Array[Byte]): Int =
    if (bytes.length >= 3 && bytes(0) == 0xEF.toByte &&
      bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte) 3 else 0

  /** Magic-byte / prologue sniff on the first bytes of the payload.
    * A UTF-8 BOM is stripped at the BYTE level (after an ISO-8859-1
    * decode it would read as three junk chars, not U+FEFF, and push
    * BOM-prefixed XML to FmtUnknown). */
  def sniff(bytes: Array[Byte]): Format = {
    val off = bomOffset(bytes)
    if (bytes.length - off >= 4 && bytes(off) == '%' && bytes(off + 1) == 'P' &&
      bytes(off + 2) == 'D' && bytes(off + 3) == 'F') return FmtPdf
    val head = new String(bytes, off, math.min(bytes.length - off, 512),
      java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase
    val t = head.dropWhile(_.isWhitespace)
    if (t.startsWith("<!doctype html") || t.startsWith("<html")) FmtHtml
    else if (t.startsWith("<?xml") || t.startsWith("<alto") || t.startsWith("<pcgts"))
      FmtXml
    else if (t.contains("<html") || t.contains("<body")) FmtHtml
    else FmtUnknown
  }

  /** The payload as UTF-8 text, decoded from AFTER the BOM like the
    * sniff reads it (a kept U+FEFF is a StAX prolog error / a glued
    * first HTML word). */
  private def text(bytes: Array[Byte]): String = {
    val off = bomOffset(bytes)
    new String(bytes, off, bytes.length - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Distributed dispatch-parse of (doc_id, content) rows. Row-level
    * failures become failure rows and tick the accumulators (docs
    * parsed, spans emitted, parse failures). `vertical` selects
    * y-center word ordering for vertical-text PAGE corpora
    * (lib/ocr_model.py:190-200; the reference plumbs but never enables
    * it — here it is a per-job flag, `SPARK_GRAFT_VERTICAL=1` on the
    * CLI mains). */
  def parseDocs(raw: Dataset[(String, Array[Byte])],
      vertical: Boolean = false): Dataset[Doc] = {
    val sc = raw.sparkSession.sparkContext
    val docsParsed = sc.longAccumulator("graft.docs_parsed")
    val spansEmitted = sc.longAccumulator("graft.spans_emitted")
    val parseFailures = sc.longAccumulator("graft.parse_failures")
    import raw.sparkSession.implicits._
    raw.mapPartitions { it =>
      val xmlParser = ParserPool.get() // pooled per task, never per row
      it.map { case (docId, bytes) =>
        try {
          val spans = sniff(bytes) match {
            case FmtPdf => PdfExtract.extract(bytes, docId)
            case FmtHtml => HtmlExtract.extract(text(bytes), docId).spans
            case FmtXml =>
              OcrXmlParser.toSpans(docId, xmlParser.parse(text(bytes)), vertical)
            case FmtUnknown =>
              throw new IllegalArgumentException("unrecognized format")
          }
          docsParsed.add(1)
          spansEmitted.add(spans.length)
          Doc(docId, spans)
        } catch {
          case e: Exception =>
            parseFailures.add(1)
            Doc(docId, Vector(Span(IngestXml.KindError,
              Option(e.getMessage).getOrElse(""), "", 0)))
        }
      }
    }
  }

  /** Distributed parse of (doc_id, content) rows into the C9 geometry
    * side table: one row per line with a shape, joinable to the span
    * table on (doc_id, line_ref). Only rows that sniff as XML are
    * parsed; parse failures contribute no rows here — they already
    * surface as failure rows in [[parseDocs]].
    *
    * Scale note: the shapes output is OPT-IN and runs as a second scan
    * over the raw input (two independent sinks need two actions
    * without a cache); a corpus-scale run that wants both should
    * persist the raw rows or derive geometry in the same job via its
    * own pipeline. */
  def parseShapes(raw: Dataset[(String, Array[Byte])])
      : Dataset[(String, String, Seq[(Int, Int)])] = {
    import raw.sparkSession.implicits._
    raw.mapPartitions { it =>
      val parser = ParserPool.get()
      it.flatMap { case (docId, bytes) =>
        if (sniff(bytes) != FmtXml) Nil
        else try OcrXmlParser.lineShapes(parser.parse(text(bytes)))
          .map { case (ref, corners) => (docId, ref, corners) }
        catch { case _: Exception => Nil }
      }
    }
  }

  /** Multi-root recursive binary scan (S1/S2/S3 over mixed formats).
    * doc_id is the file basename; when several files across the
    * roots/subtrees share a basename, the colliders get a short path
    * hash suffix so distinct documents never conflate under one id.
    * The collision probe is a metadata-only pass (binaryFile prunes
    * the content column), and the collider set is broadcast. */
  def readFiles(spark: SparkSession, paths: Seq[String],
      glob: String = "*.{xml,html,htm,pdf}"): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    def load() = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(paths: _*)
    val base = regexp_extract(col("path"), "([^/]+?)(\\.[A-Za-z0-9]+)?$", 1)
    val colliders = load().select(base.as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).select(col("b"))
    load()
      .join(broadcast(colliders), base === col("b"), "left")
      .select(
        when(col("b").isNotNull,
          concat(base, lit("#"), substring(md5(col("path")), 1, 8)))
          .otherwise(base).as("doc_id"),
        col("content"))
      .as[(String, Array[Byte])]
  }

  def main(args: Array[String]): Unit = {
    val Array(inDirs, outPath) = args.take(2)
    val shapesPath = args.lift(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ingest-any")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val raw = readFiles(spark,
      inDirs.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty))
    val docs = parseDocs(raw,
      vertical = sys.env.get("SPARK_GRAFT_VERTICAL").contains("1"))
    docs.write.mode("overwrite").parquet(outPath)
    shapesPath.foreach { sp =>
      parseShapes(raw).toDF("doc_id", "line_ref", "corners")
        .write.mode("overwrite").parquet(sp)
    }

    // summary from the WRITTEN parquet — a second pass over the raw
    // corpus would re-run the whole parse (and double-count the
    // accumulators) just to print counts
    spark.read.parquet(outPath)
      .select(col("doc_id"), size(col("spans")).as("n_spans"),
        size(filter(col("spans"), s => s.getField("kind") === Span.KindText)).as("n_text"),
        size(filter(col("spans"), s => s.getField("kind") === Span.KindMedia)).as("n_media"),
        size(filter(col("spans"), s => s.getField("kind") === IngestXml.KindError)).as("n_err"))
      .orderBy("doc_id")
      .show(100, truncate = false)
    spark.stop()
  }
}
