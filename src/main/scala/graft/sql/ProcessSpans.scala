package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.stages.ExtractConfig
import graft.text.TextRules

/** The whole per-document stage chain (C1 → C2 → F6 → S8 → line model
  * → W2/W3/C4 → A1/A2/A3 estimation + stats) as ONE row kernel over
  * the span array.
  *
  * Why one kernel instead of HOF chains + a typed map: Spark's
  * higher-order functions are interpreted (non-codegen) and rebuild
  * the struct array once per stage, and a typed `map` pays the full
  * UnsafeRow → case-class → UnsafeRow encoder round-trip per document.
  * This kernel walks the Catalyst `ArrayData` directly, applies
  * the identical reference semantics (delegated to
  * [[graft.text.TextRules]]), and materializes one output struct —
  * single pass, minimal allocation, no object-graph churn. Per-doc and
  * narrow, so it scales embarrassingly at cluster size.
  *
  * Codegen: [[process]] calls [[evalArray]] through `StaticInvoke`,
  * so whole-stage generated code calls it once per row and the
  * surrounding operators stay fused (the per-document chain itself is
  * data-dependent imperative work).
  *
  * Output: struct(spans: array<span>, hit_ratio double, n_words int,
  * n_errs int, n_lines_in int, n_wraps int, n_shorts int,
  * n_lines_out int, repl_stats map<string,int>).
  *
  * `repl_stats` are the reference's per-step replacement statistics
  * (lib/ocr_step.py:255-268 `_update_replacements`/`statistics`,
  * harvested per file at ocr_pipeline.py:402-411): literal dict keys
  * count once per span in which they occurred (after earlier keys were
  * applied), regex stats are keyed `"<match>=><replacement>"` per
  * first match. The reference counts per serialized ALTO line — one
  * `String` element per line — so the per-span counts reproduce the
  * test-pinned fixture numbers (`ſ:392`, `ic):6`, test_steps.py:306).
  */
object ProcessSpans {
  private val TextKind = UTF8String.fromString("text")
  def isTextKind(k: UTF8String): Boolean = TextKind.equals(k)

  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("offset", IntegerType)))

  val statsType: MapType = MapType(StringType, IntegerType, valueContainsNull = false)

  val outputType: StructType = StructType(Seq(
    StructField("spans", ArrayType(spanType)),
    StructField("hit_ratio", DoubleType, nullable = false),
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_errs", IntegerType, nullable = false),
    StructField("n_lines_in", IntegerType, nullable = false),
    StructField("n_wraps", IntegerType, nullable = false),
    StructField("n_shorts", IntegerType, nullable = false),
    StructField("n_lines_out", IntegerType, nullable = false),
    StructField("repl_stats", statsType, nullable = false)))

  /** The whole per-document chain. Public + static so generated code
    * calls it directly (see [[process]]). */
  def evalArray(arr: ArrayData, cfg: ExtractConfig): InternalRow = {
    val n = arr.numElements()

    // 1. collect (kind-is-text, text-after-replacements, ref, offset),
    //    dropping blanks (F6) — one pass; count replacement hits (A1/A2)
    val kinds = new Array[UTF8String](n)
    val textKind = new Array[Boolean](n) // kind is "text", decided once per span
    val texts = new Array[String](n)
    val rawTexts = new Array[UTF8String](n) // non-null ⇢ text unmodified
    val refs = new Array[UTF8String](n)
    val offsets = new Array[Int](n)
    val nKeys = cfg.replaceDict.length
    val dictHits = if (nKeys == 0) null else new Array[Int](nKeys)
    var regexStats: java.util.LinkedHashMap[String, Int] = null
    var m = 0
    var i = 0
    while (i < n) {
      val row = if (arr.isNullAt(i)) null else arr.getStruct(i, 4)
      if (row != null) {
        val kind = row.getUTF8String(0)
        val isText = kind != null && ProcessSpans.isTextKind(kind)
        val raw = if (row.isNullAt(1)) null else row.getUTF8String(1)
        var text = if (raw == null) "" else raw.toString
        val before = text
        if (isText) {
          val dictKeys = cfg.dictKeys
          val dictVals = cfg.dictVals
          var di = 0
          while (di < nKeys) {
            val k = dictKeys(di)
            if (text.contains(k)) {
              text = text.replace(k, dictVals(di))
              dictHits(di) += 1
            }
            di += 1
          }
          cfg.regexRule.foreach { r =>
            val (t, stat) = TextRules.regexGroupReplace(text, r.compiled, r.old, r.nw)
            text = t
            stat.foreach { key =>
              if (regexStats == null) regexStats = new java.util.LinkedHashMap[String, Int]
              val prev = if (regexStats.containsKey(key)) regexStats.get(key) else 0
              regexStats.put(key, prev + 1)
            }
          }
        }
        val keep = !isText || text.trim.nonEmpty
        if (keep) {
          kinds(m) = kind
          textKind(m) = isText
          texts(m) = text
          rawTexts(m) = if (raw != null && (text eq before)) raw else null
          refs(m) = if (row.isNullAt(2)) null else row.getUTF8String(2)
          offsets(m) = if (row.isNullAt(3)) 0 else row.getInt(3)
          m += 1
        }
      }
      i += 1
    }

    // 2. stable sort by offset (S8): pack (offset, index) into one
    // long so a primitive Arrays.sort is stable and allocation-free.
    // The sign-extended offset keeps the high word in signed order for
    // negative offsets too; the index low word is non-negative, so
    // same-offset entries compare on it (stability).
    val packed = new Array[Long](m)
    var pi = 0
    while (pi < m) {
      packed(pi) = (offsets(pi).toLong << 32) | (pi.toLong & 0xFFFFFFFFL)
      pi += 1
    }
    java.util.Arrays.sort(packed)
    val sorted = new Array[Int](m)
    pi = 0
    while (pi < m) { sorted(pi) = (packed(pi) & 0xFFFFFFFFL).toInt; pi += 1 }

    // 3. line model: group consecutive text spans by parent ref
    // (same consecutive-key semantics as Extraction.toLines, null-safe).
    // RTL configs (W2, lib/ocr_model.py:60-69) emit each line's tokens
    // in reversed order — estimation-only, spans keep document order.
    val lineContents = Vector.newBuilder[String]
    var started = false
    var curRef: UTF8String = null
    val curToks = new java.util.ArrayList[String]
    def sameKey(a: UTF8String, b: UTF8String): Boolean =
      (a == null && b == null) || (a != null && a.equals(b))
    def flushLine(): Unit = if (started) {
      val sb = new java.lang.StringBuilder
      if (cfg.reorderRtl) {
        var t = curToks.size - 1
        while (t >= 0) {
          if (sb.length > 0) sb.append(' ')
          sb.append(curToks.get(t)); t -= 1
        }
      } else {
        var t = 0
        while (t < curToks.size) {
          if (t > 0) sb.append(' ')
          sb.append(curToks.get(t)); t += 1
        }
      }
      if (sb.length >= TextRules.MinLineLen) lineContents += sb.toString
    }
    var j = 0
    while (j < m) {
      val k = sorted(j)
      if (textKind(k)) {
        val ref = refs(k)
        if (!started || !sameKey(curRef, ref)) {
          flushLine()
          started = true; curRef = ref; curToks.clear()
        }
        curToks.add(texts(k))
      }
      j += 1
    }
    flushLine()

    // 4. estimation (W3 + C4 + A3)
    val est = TextRules.estimate(lineContents.result())

    // 5. stats map (keys that occurred only, dict order then regex
    // first-seen order — Python dict insertion-order semantics)
    var nDict = 0
    var si = 0
    while (si < nKeys) { if (dictHits(si) > 0) nDict += 1; si += 1 }
    val nRegex = if (regexStats == null) 0 else regexStats.size
    val statKeys = new Array[Any](nDict + nRegex)
    val statVals = new Array[Any](nDict + nRegex)
    var so = 0
    si = 0
    while (si < nKeys) {
      if (dictHits(si) > 0) {
        statKeys(so) = cfg.keysUtf8(si)
        statVals(so) = dictHits(si)
        so += 1
      }
      si += 1
    }
    if (regexStats != null) {
      val it = regexStats.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        statKeys(so) = UTF8String.fromString(e.getKey)
        statVals(so) = e.getValue
        so += 1
      }
    }
    val statsMap = new ArrayBasedMapData(
      new GenericArrayData(statKeys), new GenericArrayData(statVals))

    // 6. materialize output struct
    val outSpans = new Array[Any](m)
    var o = 0
    while (o < m) {
      val k = sorted(o)
      val outText = // reuse the input buffer when the text is unmodified
        if (rawTexts(k) != null) rawTexts(k) else UTF8String.fromString(texts(k))
      outSpans(o) = new GenericInternalRow(Array[Any](
        kinds(k), outText, refs(k), offsets(k)))
      o += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(outSpans), est.hitRatio, est.nWords, est.nErrs,
      est.nLinesIn, est.nWraps, est.nShorts, est.nLinesOut, statsMap))
  }

  /** Column-level entry point; `cfg` rides in the plan as an object
    * literal. A null span array gives a null row (`Extraction.pipeline`
    * passes an empty array in its place). */
  def process(spans: Column, cfg: ExtractConfig): Column =
    Bridge.invoke(this, outputType, "evalArray",
      Seq(spans, Bridge.column(Literal.fromObject(cfg))))
}
