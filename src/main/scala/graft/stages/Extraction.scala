package graft.stages

import java.util.regex.Pattern

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Observation, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{Doc, Estimation, EstimationReport, Line, Span}
import graft.sql.{ProcessSpans, SpanOps}
import graft.text.TextRules

/** One regex replacement rule (C2, lib/ocr_step.py:273-292). */
final case class RegexRule(pattern: String, old: String, nw: String) {
  @transient lazy val compiled: Pattern = Pattern.compile(pattern)
}

/** Configuration of the extraction pipeline — the engine twin of the
  * reference's ordered `step_NN` ini sections (ocr_pipeline.py:101-118).
  */
final case class ExtractConfig(
    replaceDict: Seq[(String, String)] = TextRules.DefaultReplaceDict,
    regexRule: Option[RegexRule] = None,
    reorderRtl: Boolean = false,
    pagePrefix: String = "p") { // StepPostprocessALTO page_prefix (lib/ocr_step.py:552)
  // hot-loop views for ProcessSpans: Seq.apply on a List-backed dict
  // would be O(i) per access (O(k²) per span) and the tuple
  // destructure allocates
  @transient lazy val dictKeys: Array[String] = replaceDict.map(_._1).toArray
  @transient lazy val dictVals: Array[String] = replaceDict.map(_._2).toArray
  /** Dict keys pre-encoded for the stats map (built once per task). */
  @transient lazy val keysUtf8: Array[UTF8String] = dictKeys.map(UTF8String.fromString)
}

/** A document row after the full stage chain: cleaned spans plus the
  * per-document estimation record and the replacement statistics
  * (A1/A2, lib/ocr_step.py:255-268 — keys that occurred mapped to
  * their per-span hit counts; regex stats keyed `match=>replacement`).
  */
final case class ProcessedDoc(
    doc_id: String,
    spans: Seq[Span],
    page_id: String,
    file_identifier: String,
    file_name: String,
    hit_ratio: Double,
    n_words: Int,
    n_errs: Int,
    n_lines_in: Int,
    n_wraps: Int,
    n_shorts: Int,
    n_lines_out: Int,
    repl_stats: Map[String, Int] = Map.empty)

/** The merge-exact parts of [[Extraction.report]] over a set of rows,
  * plus their summed replacement statistics: counts, the exact decimal
  * sum of the valid ratios and the five bins all add up across
  * partitions, so the report of a snapshot is the sum of its
  * partitions' parts, with no scan. [[toReport]] is the one finish step
  * (the Python rounding of the mean) for both ways of getting here.
  * [[encode]] is the form `ExtractMain` stores in each manifest entry's
  * `summary`. */
final case class ReportParts(nTotal: Long, nInvalid: Long, nValid: Long,
    ratioSum: java.math.BigDecimal, bins: Seq[Long], replStats: Map[String, Long]) {

  def +(o: ReportParts): ReportParts = ReportParts(
    nTotal + o.nTotal, nInvalid + o.nInvalid, nValid + o.nValid,
    ratioSum.add(o.ratioSum), bins.zip(o.bins).map { case (a, b) => a + b },
    ReportParts.addStats(replStats, o.replStats))

  /** Mean of the valid ratios (Python-rounded to 3 places), bins and
    * totals. */
  def toReport: EstimationReport = {
    val mean =
      if (nValid == 0) 0.0
      else TextRules.pyRound(ratioSum.doubleValue() / nValid, 3)
    EstimationReport(mean, bins(0), bins(1), bins(2), bins(3), bins(4), nTotal, nInvalid)
  }

  /** The replacement statistics in [[Extraction.corpusReplStats]]'
    * order: hits descending, then key in Spark's (UTF-8 byte) order. */
  def replStatsSorted: Seq[(String, Long)] =
    replStats.toSeq.sortWith { case ((ka, na), (kb, nb)) =>
      na > nb || (na == nb && UTF8String.fromString(ka).binaryCompare(UTF8String.fromString(kb)) < 0)
    }

  /** `t=<n>;i=<invalid>;v=<valid>;s=<sum>;b=<b1>,…,<b5>;r=<key>:<hits>,…`
    * with every key URL-encoded (UTF-8), so no key can break the
    * separators or the manifest's JSON. */
  def encode: String = {
    def enc(k: String) = java.net.URLEncoder.encode(k, "UTF-8")
    s"t=$nTotal;i=$nInvalid;v=$nValid;s=${ratioSum.toPlainString};b=${bins.mkString(",")};" +
      "r=" + replStats.toSeq.sortBy(_._1).map { case (k, n) => s"${enc(k)}:$n" }.mkString(",")
  }
}

object ReportParts {

  val Empty: ReportParts =
    ReportParts(0, 0, 0, java.math.BigDecimal.ZERO, Seq.fill(5)(0L), Map.empty)

  /** `m` with every key's hits in `more` added. */
  def addStats(m: Map[String, Long], more: IterableOnce[(String, Long)]): Map[String, Long] =
    more.iterator.foldLeft(m) { case (acc, (k, n)) => acc.updated(k, acc.getOrElse(k, 0L) + n) }

  /** Inverse of [[ReportParts.encode]]; None for anything else,
    * including the empty summary of an entry that has none. */
  def decode(s: String): Option[ReportParts] = scala.util.Try {
    val f = s.split(";", -1).map { kv =>
      val eq = kv.indexOf('='); kv.substring(0, eq) -> kv.substring(eq + 1)
    }.toMap
    def list(k: String) = if (f(k).isEmpty) Seq.empty[String] else f(k).split(",", -1).toSeq
    val bins = list("b").map(_.toLong)
    require(bins.size == 5)
    ReportParts(f("t").toLong, f("i").toLong, f("v").toLong,
      new java.math.BigDecimal(f("s")), bins,
      list("r").map { e =>
        val c = e.lastIndexOf(':')
        java.net.URLDecoder.decode(e.substring(0, c), "UTF-8") -> e.substring(c + 1).toLong
      }.toMap)
  }.toOption

  /** The sum of every partition's summary, given as `part -> summary`;
    * one that does not decode throws, naming its partition. */
  def merge(summaries: Iterable[(Int, String)]): ReportParts =
    summaries.foldLeft(Empty) { case (acc, (p, s)) =>
      acc + decode(s).getOrElse(throw new IllegalArgumentException(
        s"part $p: no report summary in '${s.take(80)}'"))
    }
}

/** [[Extraction.withLineage]]'s buffer: per logical partition
  * `[docs, spans, unestimated, valid, b1..b5]` (flattened, 9 longs
  * each), the decimal sum of the valid ratios and the summed
  * replacement statistics. */
private[stages] final case class LineageBuf(counts: Array[Long],
    sums: Array[java.math.BigDecimal], stats: Array[Map[String, Long]])

/** The extraction pipeline: the reference's per-document step chain
  * (ocr_pipeline.py:379-441 with conf/ocr_config.ini:15-37) over a span
  * table, written twice. [[pipeline]] is the product path: one
  * [[graft.sql.ProcessSpans]] row kernel per document. [[pipelineHof]]
  * is its cross-check: a typed map over the pure chain
  * ([[cleanSpans]], then [[estimateDoc]]) on the same
  * [[graft.text.TextRules]] (the name stays: perfbench's verify calls
  * it).
  *
  * Execution shape (100 TB story): the chain is per-row (per-doc) —
  * there is NO shuffle anywhere in it; Catalyst fuses the kernel call
  * and the output projection into one whole-stage-codegen pass. After
  * the chain, the report's detail sort coalesces up to
  * [[RowsPerDetailPart]] valid rows into one partition, with no
  * shuffle, and above that shuffles them into one range partition per
  * that many rows; then it sorts each partition: one sort for the
  * detail CSV and the `.wtr`. The corpus
  * report itself is either one tiny aggregate ([[report]])
  * or, in `ExtractMain`, a driver-side merge of the per-partition
  * [[ReportParts]] observed in the write pass. Nothing
  * repartitions before the chain: the tasks are the input's scan
  * splits, so a 10^5-span mega-doc is one row of whichever split reads
  * it and its cost lands on that one task. A task therefore holds at
  * most one split's rows, never a hot key's worth; the resulting task
  * imbalance is what perfbench's `sql.ProcessSpans.max_over_median_task`
  * measures.
  */
object Extraction {

  /** Default row cap for the driver-streamed [[writeWtr]] compat sink
    * (~10M lines ≈ a few hundred MB of text — the most one driver
    * writer should ever be asked to stream). */
  val WtrMaxRows: Long = 10L * 1000 * 1000

  /** Valid rows per partition of the report detail; up to it the
    * detail is one partition. On 4 cores one partition wrote the detail
    * and `.wtr` faster than 2 or 4 up to 60k valid rows, as fast at
    * 100k, and slower from 150k on, so this is where one sort task stops
    * paying for the sampling job it saves. */
  private[graft] val RowsPerDetailPart: Long = 100L * 1000

  /** Partitions of the report detail over `nValid` valid rows: one per
    * [[RowsPerDetailPart]] rows, at least one. */
  private[graft] def detailParts(nValid: Long): Int =
    math.min(Int.MaxValue.toLong,
      math.max(1L, (nValid + RowsPerDetailPart - 1) / RowsPerDetailPart)).toInt

  /** The span table: what `IngestAny` writes and [[pipeline]] reads. */
  val SpanTableSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("spans", ArrayType(ProcessSpans.spanType))))

  /** What keeps a file of `schema` from being read with
    * [[SpanTableSchema]], one entry per column, named by its path
    * (`spans.offset has type bigint, want int`); empty when nothing
    * does. Span fields match by name, as Spark's parquet reader maps
    * struct fields, so a span struct in another field order reads. */
  private[graft] def spanTableProblems(schema: StructType): Seq[String] = {
    def check(prefix: String, have: StructType, want: StructType): Seq[String] =
      want.fields.toSeq.flatMap { w =>
        val name = prefix + w.name
        (have.fields.find(_.name == w.name).map(_.dataType), w.dataType) match {
          case (None, _) => Seq(s"no column $name")
          case (Some(ArrayType(h: StructType, _)), ArrayType(ws: StructType, _)) =>
            check(name + ".", h, ws)
          case (Some(t), wt) if t == wt => Nil
          case (Some(t), wt) => Seq(s"$name has type ${t.simpleString}, want ${wt.simpleString}")
        }
      }
    check("", schema, SpanTableSchema)
  }

  /** [[pipeline]]'s kernel reads span fields by position, so the
    * `spans` element must list [[ProcessSpans.spanType]]'s fields in its
    * order; anything else throws, naming the first field that differs. */
  private def requireCanonicalSpans(schema: StructType): Unit = {
    def fields(s: StructType) = s.fields.toSeq.map(f => s"${f.name} ${f.dataType.simpleString}")
    val have = schema.find(_.name == "spans").map(_.dataType) match {
      case Some(ArrayType(s: StructType, _)) => fields(s)
      case other => throw new IllegalArgumentException("spans must be an array of span " +
        s"structs, is ${other.map(_.simpleString).getOrElse("missing")}")
    }
    have.zipAll(fields(ProcessSpans.spanType), "nothing", "nothing").zipWithIndex
      .find { case ((h, w), _) => h != w }
      .foreach { case ((h, w), i) =>
        throw new IllegalArgumentException(s"spans element field $i is `$h`, want `$w`: " +
          s"the kernel reads a span as ${ProcessSpans.spanType.simpleString} by position")
      }
  }

  /** The pure chain C1 → C2 → F6 → S8 over one document's spans:
    * ordered literal replace, regex group replace, drop of the text
    * spans that are blank under `String.trim` (F6), stable sort by
    * offset. Returns the cleaned spans and, from the same pass, the
    * A1/A2 replacement statistics (lib/ocr_step.py:255-268; each key
    * counts once per text span in which it occurred, blank or not;
    * regex keys are `match=>replacement`). */
  def cleanSpans(spans: Seq[Span], cfg: ExtractConfig): (Seq[Span], Map[String, Int]) = {
    val stats = scala.collection.mutable.Map.empty[String, Int]
    def hit(k: String): Unit = stats.update(k, stats.getOrElse(k, 0) + 1)
    val cleaned = spans.map { s =>
      if (s.kind != Span.KindText) s
      else {
        val (t1, hits) = TextRules.replaceChars(s.text, cfg.replaceDict)
        hits.foreach(hit)
        val t2 = cfg.regexRule.fold(t1) { r =>
          val (t, stat) = TextRules.regexGroupReplace(t1, r.compiled, r.old, r.nw)
          stat.foreach(hit)
          t
        }
        s.copy(text = t2)
      }
    }
    (cleaned.filter(s => s.kind != Span.KindText || s.text.trim.nonEmpty).sortBy(_.offset),
      stats.toMap)
  }

  /** Group consecutive cleaned text spans into lines by their
    * `line://` parent ref, preserving order — the engine's `get_lines`
    * (lib/ocr_model.py:203-214). Media/error spans are skipped. */
  def toLines(spans: Seq[Span], minLineLen: Int, reorder: Boolean): Vector[Line] = {
    val lines = Vector.newBuilder[Line]
    var curKey: String = null
    var started = false // a null line key still forms a group (the
    // ProcessSpans codegen twin groups null keys too — using null as
    // the 'no group yet' sentinel here silently dropped those spans)
    var curWords = Vector.newBuilder[String]
    def flush(): Unit = if (started) {
      val words = curWords.result()
      if (words.mkString(" ").length >= minLineLen)
        lines += Line(curKey, words, reorder)
    }
    spans.foreach { s =>
      if (s.kind == Span.KindText) {
        val key = Span.lineKey(s.media_ref)
        if (!started || key != curKey) {
          flush(); curKey = key; curWords = Vector.newBuilder[String]; started = true
        }
        curWords += s.text
      }
    }
    flush()
    lines.result()
  }

  /** Per-document estimation (StepEstimateOCR, lib/ocr_step.py:337-424):
    * line model → wrap merge → sanitize → dense filter → word/error
    * counts → hit ratio. `errorOracle` is the deterministic stand-in
    * for the LanguageTool service (E2): the words of the word string
    * → raw error count.
    */
  def estimateDoc(doc: Doc, cfg: ExtractConfig,
      errorOracle: Array[String] => Int = TextRules.countErrors): ProcessedDoc = {
    val est = TextRules.estimate(
      toLines(doc.spans, TextRules.MinLineLen, cfg.reorderRtl).map(_.content), errorOracle)
    // X4 metadata enrichment (lib/ocr_step.py:539-549): identifier =
    // id up to the first dot (split_path semantics), name = full id
    // substring_index semantics, matching the codegen twin exactly:
    // split("\\.")(0) drops trailing empties and would throw on a
    // doc_id of only dots where the twin returns ""
    val fileId = {
      val dot = doc.doc_id.indexOf('.')
      if (dot < 0) doc.doc_id else doc.doc_id.substring(0, dot)
    }
    ProcessedDoc(doc.doc_id, doc.spans, cfg.pagePrefix + fileId,
      fileId, doc.doc_id, est.hitRatio, est.nWords, est.nErrs, est.nLinesIn,
      est.nWraps, est.nShorts, est.nLinesOut)
  }

  /** Full pipeline over a span table. Input: DataFrame with columns
    * (doc_id, spans). Output: Dataset[ProcessedDoc].
    *
    * Hot path: ONE row kernel ([[graft.sql.ProcessSpans]]) does the
    * whole per-doc chain over raw ArrayData — no interpreted HOF
    * chain, no encoder round-trip. RTL-reorder configs (W2) run on
    * the same path via `cfg.reorderRtl`. A null `spans` is an empty
    * document (the kernel's own null input gives a null row). A `spans`
    * element that is not the span struct `(kind, text, media_ref,
    * offset)` in that order throws before anything runs. */
  def pipeline(docs: DataFrame, cfg: ExtractConfig = ExtractConfig()): Dataset[ProcessedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    requireCanonicalSpans(docs.schema)
    val spans = coalesce(col("spans"), array().cast(docs.schema("spans").dataType))
    docs
      .select(col("doc_id"), graft.sql.ProcessSpans.process(spans, cfg).as("p"))
      .select(col("doc_id"), col("p.spans").as("spans"),
        concat(lit(cfg.pagePrefix), substring_index(col("doc_id"), ".", 1)).as("page_id"),
        substring_index(col("doc_id"), ".", 1).as("file_identifier"),
        col("doc_id").as("file_name"),
        col("p.hit_ratio"), col("p.n_words"), col("p.n_errs"),
        col("p.n_lines_in"), col("p.n_wraps"), col("p.n_shorts"),
        col("p.n_lines_out"), col("p.repl_stats"))
      .as[ProcessedDoc]
  }

  /** The cross-check of [[pipeline]]: the same spec by another
    * mechanism, a typed map of the pure chain ([[cleanSpans]], then
    * [[estimateDoc]]) over each row. Spans decode null-safely with the
    * kernel's rules: a null `spans` is an empty document, a null
    * element is dropped, a null `text` reads `""` and a null `offset`
    * reads 0. */
  def pipelineHof(docs: DataFrame, cfg: ExtractConfig = ExtractConfig()): Dataset[ProcessedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("spans")).map { r =>
      val spans = Option(r.getSeq[Row](1)).getOrElse(Nil).filter(_ != null).map { s =>
        Span(s.getString(0), Option(s.getString(1)).getOrElse(""), s.getString(2),
          if (s.isNullAt(3)) 0 else s.getInt(3))
      }
      val (cleaned, stats) = cleanSpans(spans, cfg)
      estimateDoc(Doc(r.getString(0), cleaned), cfg).copy(repl_stats = stats)
    }
  }

  /** Corpus-level replacement statistics (the reference logs these per
    * file at ocr_pipeline.py:402-411; here one tiny aggregate over the
    * per-doc maps): key → total hits, descending. */
  def corpusReplStats(processed: Dataset[ProcessedDoc]): DataFrame =
    processed.select(explode(col("repl_stats")).as(Seq("key", "hits")))
      .groupBy(col("key"))
      .agg(sum(col("hits")).as("n"))
      .orderBy(desc("n"), col("key"))

  /** E4 lineage of a processed stream, collected during its one action:
    * per logical partition (`rows` carries an int `part` in
    * [0, nParts)) the docs, spans emitted (`coalesce(size(spans), 0)`)
    * and unestimated docs, plus the partition's [[ReportParts]]. One
    * [[Observation]] with a single typed aggregate over a fixed-size
    * buffer per partition, so the per-row cost does not grow with the
    * partition count. The ratio enters the sum through the same
    * `cast("decimal(28,10)")` as in [[report]], so the per-row rounding
    * is Catalyst's in both. The returned function blocks until the
    * action has run and yields the lineage indexed by part. */
  def withLineage(rows: DataFrame, nParts: Int)
      : (DataFrame, () => IndexedSeq[(Long, Long, Long, ReportParts)]) = {
    val obs = Observation("graft_lineage")
    val perPart = udaf(new LineageAgg(nParts), LineageInEncoder)
    val valid = col("hit_ratio") =!= Estimation.MissingRatio
    val df = rows.observe(obs, perPart(col("part"), coalesce(size(col("spans")), lit(0)),
      col("hit_ratio") === Estimation.MissingRatio,
      when(valid, col("hit_ratio").cast("decimal(28,10)")),
      coalesce(SpanOps.binId(col("hit_ratio")), lit(-1)), col("repl_stats")).as("lineage"))
    (df, () => {
      val b = obs.get("lineage").asInstanceOf[Row]
      val counts = b.getSeq[Long](0)
      val sums = b.getSeq[java.math.BigDecimal](1)
      val stats = b.getSeq[scala.collection.Map[String, Long]](2)
      (0 until nParts).map { p =>
        val c = counts.slice(9 * p, 9 * p + 9)
        (c(0), c(1), c(2),
          ReportParts(c(0), c(2), c(3), sums(p), c.drop(4), stats(p).toMap))
      }
    })
  }

  private type LineageIn = (Int, Int, Boolean, java.math.BigDecimal, Int, Map[String, Int])

  // derived once: each is a Scala-reflection walk of its type
  private lazy val LineageInEncoder: ExpressionEncoder[LineageIn] = ExpressionEncoder[LineageIn]()
  private lazy val LineageBufEncoder: ExpressionEncoder[LineageBuf] = ExpressionEncoder[LineageBuf]()

  /** [[withLineage]]'s aggregate: input (part, spans, unestimated,
    * decimal ratio or null when invalid, bin id, replacement stats). */
  private final class LineageAgg(nParts: Int)
      extends Aggregator[LineageIn, LineageBuf, LineageBuf] {
    def zero: LineageBuf = LineageBuf(new Array[Long](9 * nParts),
      Array.fill(nParts)(java.math.BigDecimal.ZERO), Array.fill(nParts)(Map.empty))
    def reduce(b: LineageBuf, in: LineageIn): LineageBuf = {
      val (p, spans, unest, ratio, bin, stats) = in
      val o = 9 * p
      b.counts(o) += 1
      b.counts(o + 1) += spans
      if (unest) b.counts(o + 2) += 1
      if (ratio != null) {
        b.counts(o + 3) += 1
        b.sums(p) = b.sums(p).add(ratio)
      }
      // bins as in report(): 0..3 are b1..b4, 4 and above b5
      if (bin >= 0) b.counts(o + 4 + math.min(bin, 4)) += 1
      if (stats != null && stats.nonEmpty)
        b.stats(p) = ReportParts.addStats(b.stats(p), stats.iterator.map { case (k, n) => k -> n.toLong })
      b
    }
    def merge(a: LineageBuf, b: LineageBuf): LineageBuf = {
      var i = 0
      while (i < a.counts.length) { a.counts(i) += b.counts(i); i += 1 }
      (0 until nParts).foreach { p =>
        a.sums(p) = a.sums(p).add(b.sums(p))
        a.stats(p) = ReportParts.addStats(a.stats(p), b.stats(p))
      }
      a
    }
    def finish(b: LineageBuf): LineageBuf = b
    def bufferEncoder: Encoder[LineageBuf] = LineageBufEncoder
    def outputEncoder: Encoder[LineageBuf] = LineageBufEncoder
  }

  /** S11 — estimation report sink, the `.wtr` analog
    * (ocr_pipeline.py:233-269): one header row (mean + five bins +
    * totals) plus the per-doc detail sorted ascending by ratio. The
    * detail CSV keeps each `doc_id` exactly (no whitespace trimming),
    * so read it back with the same two whitespace options.
    * `precomputed` skips the report aggregate (a caller that merged it
    * from manifest summaries passes it); the report's valid count sizes
    * the detail (see [[sortedValid]]). `wtrPath` also writes the
    * `.wtr` file of [[writeWtr]] from the same sorted rows, persisted
    * until both are written, so the rows are sorted once.
    *
    * The summary parquet, the detail CSV and the `.wtr` read the same
    * input independently, so they are written [[concurrently]], each on
    * a driver thread of this call whose jobs carry the caller's local
    * properties. The call returns once all of them have ended and
    * throws the first failure, if any; the outputs that succeeded stay
    * written. */
  def writeReport(processed: Dataset[ProcessedDoc], outDir: String,
      precomputed: Option[EstimationReport] = None,
      wtrPath: Option[String] = None): EstimationReport = {
    val spark = processed.sparkSession
    import spark.implicits._
    val rep = precomputed.getOrElse(report(processed))
    wtrPath.foreach(_ => checkWtrCap(rep, WtrMaxRows))
    val sorted = sortedValid(processed, rep.n_total - rep.n_invalid)
    if (wtrPath.nonEmpty) sorted.persist()
    try concurrently(Seq(
      () => Seq(rep).toDS().coalesce(1).write.mode("overwrite").parquet(s"$outDir/summary"),
      () => sorted.drop("file_name").write.mode("overwrite").option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(s"$outDir/detail")) ++
      wtrPath.map(p => () => streamWtr(sorted, p, rep)))
    finally if (wtrPath.nonEmpty) sorted.unpersist()
    rep
  }

  /** Most driver threads one [[concurrently]] call starts. */
  private val MaxDriverThreads = 8

  /** Runs `tasks` on at most [[MaxDriverThreads]] driver threads created
    * for this call, so the Spark jobs a task starts inherit the caller's
    * local properties (job description and group). Returns the results
    * in task order. Only once every task has ended does it throw, when
    * any failed: the first failure in task order, the others added to it
    * as suppressed. */
  private[graft] def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    val results = new Array[Any](tasks.length)
    val failures = new Array[Throwable](tasks.length)
    val next = new java.util.concurrent.atomic.AtomicInteger
    val threads = Seq.tabulate(math.min(MaxDriverThreads, tasks.length)) { t =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < tasks.length) {
          try results(i) = tasks(i)() catch { case e: Throwable => failures(i) = e }
          i = next.getAndIncrement()
        }
      }, s"graft-driver-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array() => results.toSeq.asInstanceOf[Seq[A]]
      case errs =>
        errs.tail.foreach(errs.head.addSuppressed)
        throw errs.head
    }
  }

  /** The valid rows of the report detail (named by `doc_id`) and the
    * `.wtr` (named by `file_name`), ascending by (ratio, doc_id) across
    * partitions in order. `nValid`, the valid count the caller's report
    * holds, sizes the partitioning ([[detailParts]]): up to
    * [[RowsPerDetailPart]] rows the rows are coalesced into one
    * partition and sorted there, with no shuffle; above it they are
    * range-partitioned on sampled bounds, each partition holding about
    * that many rows, and each partition is sorted. */
  private def sortedValid(processed: Dataset[ProcessedDoc], nValid: Long): DataFrame = {
    val key = Seq(col("hit_ratio"), col("doc_id"))
    val valid = processed
      .filter(col("hit_ratio") =!= Estimation.MissingRatio)
      .select(col("doc_id"), col("file_name"), col("hit_ratio"), col("n_words"), col("n_errs"),
        col("n_lines_in"), col("n_wraps"), col("n_shorts"), col("n_lines_out"))
    val parts = detailParts(nValid)
    (if (parts == 1) valid.coalesce(1) else valid.repartitionByRange(parts, key: _*))
      .sortWithinPartitions(key: _*)
  }

  /** Python `str(float)` for the domain of 3-dp-rounded ratios in
    * [0, 100]: both CPython's repr and `java.lang.Double.toString`
    * print the shortest decimal that round-trips, and they agree on
    * this range (divergences are exponent-notation corner cases
    * outside it). */
  private def pyFloatStr(x: Double): String = java.lang.Double.toString(x)

  /** Python `f"{x:.3f}"`: fixed 3 decimals, correctly rounded
    * (half-even on the exact binary value — Java's `%.3f` rounds
    * HALF_UP and can differ on formatting ties). */
  private def py3f(x: Double): String =
    new java.math.BigDecimal(x)
      .setScale(3, java.math.RoundingMode.HALF_EVEN).toPlainString

  /** S11 — the exact `.wtr` byte layout (ocr_pipeline.py:233-269):
    * one header line `mean,b1,b2,b3,b4,b5,n_total,n_invalid`, then the
    * VALID per-doc rows `file_name,ratio(.3f),n_words,n_errs,
    * n_lines_in,n_wraps,n_shorts,n_lines_out` ascending by ratio, then
    * one blank line. Single UTF-8 file for downstream `.wtr` parsers —
    * a per-partition/compatibility sink streamed through the driver
    * (O(#docs in this partition)); the corpus-scale distributed report
    * sink remains [[writeReport]]. Divergence noted: the reference's
    * `sorted()` is stable on arrival order for equal ratios; arrival
    * order is undefined in a distributed engine, so ties break on
    * doc_id (the pipeline writes it as file_name too). */
  def writeWtr(processed: Dataset[ProcessedDoc], path: String,
      maxRows: Long = WtrMaxRows): EstimationReport = {
    val rep = report(processed)
    checkWtrCap(rep, maxRows)
    streamWtr(sortedValid(processed, rep.n_total - rep.n_invalid), path, rep)
    rep
  }

  /** The `.wtr` sink streams every row through ONE driver writer —
    * fine for the per-partition/compat use it exists for,
    * corpus-suicide at 10^12 docs. Fail fast (before opening the file)
    * instead of grinding: the distributed report sink is writeReport. */
  private def checkWtrCap(rep: EstimationReport, maxRows: Long): Unit =
    if (rep.n_total > maxRows)
      throw new IllegalArgumentException(
        s"writeWtr is a driver-streamed per-partition sink; refusing " +
          s"${rep.n_total} rows (cap $maxRows). Use writeReport for " +
          "corpus-scale output, or raise maxRows explicitly.")

  /** Writes the `.wtr` header from `rep`, then one line per row of
    * `rows` (as [[sortedValid]] selects them) in order, then the blank
    * line. */
  private def streamWtr(rows: DataFrame, path: String, rep: EstimationReport): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
      w.write(s"${pyFloatStr(rep.mean)},${rep.b1},${rep.b2},${rep.b3}," +
        s"${rep.b4},${rep.b5},${rep.n_total},${rep.n_invalid}\n")
      rows.drop("doc_id").as[(String, Double, Int, Int, Int, Int, Int, Int)]
        .toLocalIterator().forEachRemaining { r =>
          w.write(s"${r._1},${py3f(r._2)},${r._3},${r._4},${r._5},${r._6},${r._7},${r._8}\n")
        }
      w.write("\n")
      w.flush()
    } finally out.close()
  }

  /** Corpus-level estimation report (ocr_pipeline.py:233-269 +
    * StepEstimateOCR.analyze lib/ocr_step.py:426-446): mean of valid
    * hit ratios (Python-rounded), five 15-point bins, valid/invalid
    * split. One tiny aggregate (a one-row shuffle), finished by
    * [[ReportParts.toReport]] like the merge of manifest summaries.
    * This scan, and [[corpusReplStats]], are the references that the
    * specs and perfbench's gate check `ExtractMain`'s merge against. */
  def report(processed: Dataset[ProcessedDoc]): EstimationReport = {
    val spark = processed.sparkSession
    import spark.implicits._
    // decimal sum: exact and associative, so the mean is independent of
    // partition/merge order (a plain double sum could drift an ulp vs
    // the reference's sequential Python sum on adversarial ratios)
    val agg = processed
      .select($"hit_ratio")
      .agg(
        sum(when($"hit_ratio" =!= Estimation.MissingRatio,
          $"hit_ratio".cast("decimal(28,10)"))).as("s"),
        count(when($"hit_ratio" =!= Estimation.MissingRatio, lit(1))).as("nv"),
        count(when($"hit_ratio" === Estimation.MissingRatio, lit(1))).as("ni"),
        count(lit(1)).as("n"),
        count(when(SpanOps.binId($"hit_ratio") === 0 && $"hit_ratio" =!= -1, 1)).as("b1"),
        count(when(SpanOps.binId($"hit_ratio") === 1, 1)).as("b2"),
        count(when(SpanOps.binId($"hit_ratio") === 2, 1)).as("b3"),
        count(when(SpanOps.binId($"hit_ratio") === 3, 1)).as("b4"),
        count(when(SpanOps.binId($"hit_ratio") >= 4, 1)).as("b5"))
      .head()
    ReportParts(agg.getAs[Long]("n"), agg.getAs[Long]("ni"), agg.getAs[Long]("nv"),
      Option(agg.getAs[java.math.BigDecimal]("s")).getOrElse(java.math.BigDecimal.ZERO),
      Seq("b1", "b2", "b3", "b4", "b5").map(agg.getAs[Long]), Map.empty).toReport
  }
}
