package graft.run

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
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
  * `kind='error'` rows, never aborting the job. This is the engine's
  * analog of the reference's scan + parse front end
  * (ocr_pipeline.py:271-336 + lib/ocr_step.py:365): the tree is listed
  * and scanned once, in one task per core (more only above 32 MB per
  * core), and parsers are pooled per task, never built per row.
  *
  * File names are decoded with the JVM's `sun.jnu.encoding`, which
  * follows the locale: without a UTF-8 locale (`LANG=C.UTF-8`) a file
  * with a non-ASCII name is missing from the listing, and
  * [[readFiles]] prints a warning.
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

  /** Distributed dispatch-parse of (doc_id, content) rows. A row that
    * fails to parse becomes one `kind='error'` span carrying the
    * message, so the error rows are the failure count. `vertical` selects
    * y-center word ordering for vertical-text PAGE corpora
    * (lib/ocr_model.py:190-200; the reference plumbs but never enables
    * it — here it is a per-job flag, `SPARK_GRAFT_VERTICAL=1` on the
    * CLI mains). */
  def parseDocs(raw: Dataset[(String, Array[Byte])],
      vertical: Boolean = false): Dataset[Doc] = {
    import raw.sparkSession.implicits._
    raw.mapPartitions { it =>
      val xmlParser = ParserPool.get() // pooled per task, never per row
      it.map { case (docId, bytes) =>
        try {
          val spans = sniff(bytes) match {
            case FmtPdf => PdfExtract.extract(bytes, docId)
            case FmtHtml => HtmlExtract.extract(text(bytes), docId)
            case FmtXml =>
              OcrXmlParser.toSpans(docId, xmlParser.parse(text(bytes)), vertical)
            case FmtUnknown =>
              throw new IllegalArgumentException("unrecognized format")
          }
          Doc(docId, spans)
        } catch {
          case e: Exception =>
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

  /** Input bytes per scan task. Spark's own split holds at most
    * `spark.sql.files.maxPartitionBytes` (128 MB by default) per task, so
    * one task per 32 MB never coalesces a large input of large files
    * below Spark's split. Only the one-task-per-core branch
    * of [[scanTasks]] is measured (`ingest-mixed`, 8.6 MB on 4 cores);
    * above cores × 32 MB the rule is unmeasured. */
  private val TaskBytes = 32L << 20

  /** Task count for a scan of `bytes`: one task per `TaskBytes`, and at
    * least one per core, so a small corpus runs one task per core.
    * [[readFiles]] coalesces the scan to it, which never raises Spark's
    * own split count. The core count is read when the plan is built; on
    * a cluster whose executors have not registered yet it may read low,
    * which shrinks only the task count of a corpus under cores × 32 MB. */
  private[graft] def scanTasks(spark: SparkSession, bytes: Long): Int =
    math.max(spark.sparkContext.defaultParallelism.toLong,
      (bytes + TaskBytes - 1) / TaskBytes).toInt

  /** doc_id's basename rule, over the last `/` segment of the
    * `binaryFile` `path` string (a match never crosses a `/`, so it
    * gives what the whole path would, at a fraction of the cost). */
  private val BaseName = "([^/]+?)(\\.[A-Za-z0-9]+)?$"

  /** The files the scan reads, from its file index: the glob-filtered
    * listing without zero-length files and names Spark skips as
    * metadata (`_metadata.xml`). Their `getPath.toString` is the string
    * the `path` column holds; `Dataset.inputFiles` is URI-encoded
    * (`a%20b.xml`) and is not. */
  private def scannedFiles(scan: DataFrame): Seq[FileStatus] =
    scan.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation =>
        h.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus)) }
      .getOrElse(throw new IllegalStateException("binaryFile scan without a file listing"))

  /** Multi-root recursive binary scan (S1/S2/S3 over mixed formats):
    * one listing, one scan, one job. doc_id is the file basename; when
    * several files across the roots/subtrees share a basename, the
    * colliders get `#` + the first 8 hex chars of `md5(path)` so
    * distinct documents never conflate under one id. The collider set
    * comes from the driver's listing of the files the scan reads and
    * reaches the tasks as a broadcast; the scan is coalesced to
    * [[scanTasks]] of their bytes. */
  def readFiles(spark: SparkSession, paths: Seq[String],
      glob: String = "*.{xml,html,htm,pdf}"): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    val enc = System.getProperty("sun.jnu.encoding", "")
    if (!enc.equalsIgnoreCase("UTF-8"))
      System.err.println(s"[ingest] WARNING: file names are decoded as $enc, not " +
        "UTF-8; files with non-ASCII names are missing from the listing (set LANG=C.UTF-8)")
    val scan = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(paths: _*)
    val files = scannedFiles(scan)
    val nameRe = BaseName.r
    val colliders = files
      .flatMap { f =>
        val p = f.getPath.toString
        nameRe.findFirstMatchIn(p.substring(p.lastIndexOf('/') + 1)).map(_.group(1))
      }
      .groupBy(identity).collect { case (b, bs) if bs.size > 1 => b }.toSet
    val shared = spark.sparkContext.broadcast(colliders)
    val collides = udf((b: String) => shared.value.contains(b))
    val base = regexp_extract(substring_index(col("path"), "/", -1), BaseName, 1)
    scan.coalesce(scanTasks(spark, files.map(_.getLen).sum))
      .select(
        when(collides(base), concat(base, lit("#"), substring(md5(col("path")), 1, 8)))
          .otherwise(base).as("doc_id"),
        col("content"))
      .as[(String, Array[Byte])]
  }

  def main(args: Array[String]): Unit = {
    val Array(inDirs, outPath) = args.take(2)
    val shapesPath = args.lift(2)
    val spark = graft.Session("graft-ingest-any")
    import spark.implicits._

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
    // corpus would re-run the whole parse just to print counts
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
