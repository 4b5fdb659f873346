package graft.text

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.util.regex.Pattern

import scala.collection.mutable

import graft.model.Estimation

/** [[TextRules.estimate]]'s result: the per-document counters of
  * `ProcessedDoc`. */
final case class DocEstimate(hitRatio: Double, nWords: Int, nErrs: Int,
    nLinesIn: Int, nWraps: Int, nShorts: Int, nLinesOut: Int)

/** Pure (driver- and executor-safe) text transformation rules.
  *
  * Each function re-creates one observable behavior of the reference
  * pipeline (cited file:line into /root/reference/). They are written
  * fresh for the JVM; the reference is the *spec*, not the source.
  * All of them are deterministic, allocation-conscious and safe to
  * call from inside Catalyst expressions / typed map stages.
  */
object TextRules {

  /** Python-compatible `round(x, n)`: round-half-even on the exact
    * binary double value (lib/ocr_step.py:412, :432 use Python round).
    */
  def pyRound(x: Double, scale: Int): Double = {
    if (x.isNaN || x.isInfinite) x
    else new JBigDecimal(x).setScale(scale, RoundingMode.HALF_EVEN).doubleValue()
  }

  // -------------------------------------------------------------------
  // C1 — ordered literal multi-replace (lib/ocr_step.py:245-262)
  // -------------------------------------------------------------------

  /** Apply an *ordered* literal replacement map to one line.
    * Returns the new line plus the set of keys that occurred (each key
    * counts once per line regardless of occurrence count —
    * lib/ocr_step.py:247-250). Replacement is sequential in map order,
    * so earlier replacements feed later keys (dict-order sensitivity,
    * e.g. `{'ic)':'ich','s<':'sc','<':'c'}` conf/ocr_config.ini:24).
    */
  def replaceChars(line: String, dict: Seq[(String, String)]): (String, Seq[String]) = {
    var cur = line
    var hits: List[String] = Nil
    dict.foreach { case (k, v) =>
      if (cur.contains(k)) {
        cur = cur.replace(k, v)
        hits = k :: hits
      }
    }
    (cur, hits.reverse)
  }

  /** Production default replacement dictionary (conf/ocr_config.ini:24,
    * HTML entities decoded). Order matters. */
  val DefaultReplaceDict: Seq[(String, String)] =
    Seq("ic)" -> "ich", "s<" -> "sc", "<" -> "c")

  /** Test-pinned dictionary (tests/test_steps.py:212). */
  val FixtureReplaceDict: Seq[(String, String)] =
    Seq("ſ" -> "s", "ic)" -> "ich")

  // -------------------------------------------------------------------
  // C2 — regex group replace, first match per line
  // (lib/ocr_step.py:283-292)
  // -------------------------------------------------------------------

  /** First-match group-1 extraction, literal `old`→`new` inside the
    * match, then replace *all* copies of the matched literal in the
    * line. Stats key is `"<match>=><replacement>"`. */
  def regexGroupReplace(line: String, pattern: Pattern, old: String, nw: String)
      : (String, Option[String]) = {
    val m = pattern.matcher(line)
    if (m.find() && m.groupCount() >= 1 && m.group(1) != null) {
      val matched = m.group(1)
      val replacement = matched.replace(old, nw)
      (line.replace(matched, replacement), Some(matched + "=>" + replacement))
    } else (line, None)
  }

  /** Fixture regex (tests/resources/ocr_config_full.ini:27). */
  val FixtureRegex: Pattern = Pattern.compile("([aeioubcglnt]3[:-]*\")")

  // -------------------------------------------------------------------
  // C3 — directional/BOM mark strip (lib/ocr_model.py:23-29, :153-157)
  // -------------------------------------------------------------------

  val ClearMarks: String = "\u200f\u200e\ufeff\u200c\u202c"

  def stripMarks(token: String): String = {
    if (token == null) null
    else {
      var needs = false
      var i = 0
      while (i < token.length && !needs) {
        if (ClearMarks.indexOf(token.charAt(i)) >= 0) needs = true
        i += 1
      }
      if (!needs) token
      else token.filterNot(c => ClearMarks.indexOf(c) >= 0)
    }
  }

  // -------------------------------------------------------------------
  // W3 — de-hyphenation wrap merge (lib/ocr_step.py:472-494)
  // -------------------------------------------------------------------

  /** Sequential wrap-merge fold over a document's non-empty lines.
    *
    * Reference quirks replicated exactly:
    *  - line `i` ending `-` with a *non-empty* following line: first
    *    token of line `i+1` is popped and appended (minus the hyphen);
    *    line `i+1` is rewritten *in place*, affecting its own later
    *    visit (lib/ocr_step.py:488-491);
    *  - line `i` ending `-` followed by an *empty/whitespace* line is
    *    dropped entirely (the `continue` skips the append,
    *    lib/ocr_step.py:484-486) and is not counted as normalized.
    *
    * @return (normalized lines, n_normalized)
    */
  def sanitizeWraps(lines: Seq[String]): (Vector[String], Int) = {
    val buf = lines.toArray
    val out = Vector.newBuilder[String]
    var n = 0
    var i = 0
    while (i < buf.length) {
      var line = buf(i)
      var emit = true
      if (i < buf.length - 1 && line.endsWith("-")) {
        val next = buf(i + 1)
        // Python's `next_line.strip()` emptiness test ⟺ zero tokens
        // under the same Unicode-whitespace rules as split()
        val toks = splitWs(next)
        if (toks.isEmpty) {
          emit = false // dropped: no merge possible, line skipped
        } else {
          buf(i + 1) = toks.drop(1).mkString(" ")
          line = line.substring(0, line.length - 1) + toks.head
          n += 1
        }
      }
      if (emit) out += line
      i += 1
    }
    (out.result(), n)
  }

  /** Python `str.split()` — split on runs of UNICODE whitespace, no
    * empties. Python's `str.isspace()` covers Zs/Zl/Zp (including
    * U+00A0 no-break space, common in OCR text) plus the control
    * whitespace; on the JVM that is the union of
    * `Character.isWhitespace` (controls, but NOT no-break spaces) and
    * `Character.isSpaceChar` (Zs/Zl/Zp including no-break). Java's
    * `"\\s"` regex matches ASCII whitespace only and silently
    * diverges from the reference on such text. */
  /** Python `str.isspace()` for one char: Java's isWhitespace plus the
    * Zs/Zl/Zp separators (isSpaceChar, incl. U+00A0 NBSP) plus U+0085
    * NEL (in neither Java predicate). Shared by [[splitWs]] and every
    * tokenizer that must agree with it (HtmlExtract's link-density
    * word counting). */
  @inline def isPyWhitespace(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c) || c == '\u0085'

  /** EXACT `split(trim(x), "\\s+")` semantics of the Spark/DuckDB
    * engines, for the ORACLE-PAIRED row kernels (Md5MinHash,
    * SimHash16, Shingles, MinHashSig): trim strips 0x20 spaces only
    * (Spark's UTF8String.trim / DuckDB trim), the split is ASCII
    * `\s+` with limit -1 (leading/trailing empty tokens kept, `[""]`
    * on empty input). NOT interchangeable with [[splitWs]], which
    * implements PYTHON str.split() for the reference-parity chain —
    * the two differ on Unicode whitespace and edge empties, and each
    * twin must match ITS spec. */
  def sparkTokens(s: String): Array[String] = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e).split("\\s+", -1)
  }

  /** Word n-gram shingles over [[sparkTokens]], each passed to `f` as
    * one space-joined string: every n-token window in order, or, with
    * fewer than n tokens, the whole token sequence as the one shingle
    * (the rule the q23/q24/q46 DuckDB oracles share). */
  def wordShingles(s: String, n: Int)(f: String => Unit): Unit = {
    val toks = sparkTokens(s)
    val width = math.min(n, toks.length)
    val sb = new java.lang.StringBuilder(64)
    var w = 0
    while (w + width <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < width) {
        if (j > 0) sb.append(' ')
        sb.append(toks(w + j)); j += 1
      }
      f(sb.toString)
      w += 1
    }
  }

  def splitWs(s: String): Array[String] = {
    @inline def ws(c: Char) = isPyWhitespace(c)
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && ws(s.charAt(i))) i += 1
      val start = i
      while (i < n && !ws(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  // -------------------------------------------------------------------
  // C4 — charset sanitize (lib/ocr_step.py:497-514)
  // -------------------------------------------------------------------

  /** Characters deleted by the sanitize pass (lib/ocr_step.py:503). */
  val BadChars: String = "0123456789“„\"'?!*.;:-=[]()|"

  private val badCharSet: Set[Char] = BadChars.toSet

  /** Strip; delete `BadChars`; `ſ`→`s`; keep tokens of length > 1;
    * re-join with single spaces. (The reference's `'..'`→`''` branch is
    * unreachable — `.` is already deleted — and its double-space
    * collapse is subsumed by the final split/join; both preserved
    * semantically.) */
  def sanitizeChars(line: String): String = {
    val sb = new java.lang.StringBuilder(line.length)
    val t = line.trim
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (!badCharSet.contains(c)) {
        sb.append(if (c == 'ſ') 's' else c)
      }
      i += 1
    }
    val toks = splitWs(sb.toString)
    val keep = toks.filter(_.length > 1)
    keep.mkString(" ")
  }

  // -------------------------------------------------------------------
  // textlines2data (lib/ocr_step.py:449-469)
  // -------------------------------------------------------------------

  /** `get_lines` min_len: a line shorter than this is not part of the
    * line model (lib/ocr_model.py:203). */
  val MinLineLen: Int = 2

  /** `textlines2data` minlen: only lines longer than this are dense
    * (lib/ocr_step.py:449). */
  val DenseMinLen: Int = 2

  /** Line-model → flat word string + stage counters.
    *
    * @param lineContents contents of *all* parsed lines (already
    *                     reordered for RTL), in document order
    * @return (fileString, nLinesIn, nWraps, nShorts, nLinesOut)
    */
  def textlinesToData(lineContents: Seq[String]): (String, Int, Int, Int, Int) = {
    val nonEmpty = lineContents.filter(_.nonEmpty)
    val (normalized, nWraps) = sanitizeWraps(nonEmpty)
    val filtered = normalized.map(sanitizeChars)
    var nShorts = 0
    val dense = mutable.ArrayBuffer.empty[String]
    filtered.foreach { l =>
      if (l.length > DenseMinLen) dense += l else nShorts += 1
    }
    (dense.mkString(" "), lineContents.length, nWraps, nShorts, dense.length)
  }

  // -------------------------------------------------------------------
  // A3 — word/error ratio (lib/ocr_step.py:397-412)
  // -------------------------------------------------------------------

  /** `hit_ratio` from word and raw error counts: errors are clamped to
    * `n_words`; ratio 0 when nothing survives; Python `round(x, 3)`. */
  def hitRatio(nWords: Int, rawErrs: Int): (Double, Int) = {
    val errs = math.min(rawErrs, nWords)
    val ratio =
      if (nWords <= errs) 0.0
      else (nWords - errs).toDouble / nWords * 100.0
    (pyRound(ratio, 3), errs)
  }

  /** One document's estimate (W3 + C4 + A3) from its line contents:
    * [[textlinesToData]], then the words of the dense string, then
    * [[hitRatio]] over `errorOracle`'s count. A document with no word
    * left reads `MARK_MISSING_ESTM` with every counter 0. */
  def estimate(lineContents: Seq[String], errorOracle: String => Int = countErrors): DocEstimate = {
    val (wordString, in, wraps, shorts, out) = textlinesToData(lineContents)
    if (wordString.isEmpty) DocEstimate(Estimation.MissingRatio, 0, 0, 0, 0, 0, 0)
    else {
      val nWords = splitWs(wordString).length
      val (ratio, errs) = hitRatio(nWords, errorOracle(wordString))
      DocEstimate(ratio, nWords, errs, in, wraps, shorts, out)
    }
  }

  // -------------------------------------------------------------------
  // A4/A5 — corpus aggregate (lib/ocr_step.py:426-446)
  // -------------------------------------------------------------------

  /** Histogram bin for one ratio: `floor(ratio / step)` clamped to
    * `bins - 1` (lib/ocr_step.py:441-443: `round(r // step)` then
    * clamp — `round` on the floor-divided float is the identity).
    * A NEGATIVE index reproduces the reference's Python list-indexing
    * quirk: `bin_counts[-k]` wraps to `bins - k` (so the `-1.0`
    * sentinel lands in the LAST bin); below `-bins` the reference
    * raises IndexError and the Scala caller's array access throws the
    * same way. */
  def binIndex(ratio: Double, bins: Int = 5, step: Int = 15): Int = {
    val idx = math.floor(ratio / step).toInt
    if (idx >= bins) bins - 1
    else if (idx < 0) bins + idx
    else idx
  }

  /** Corpus mean + bin membership counts over (id, ratio) pairs
    * (lib/ocr_step.py:426-446). */
  def analyze(ratios: Seq[Double], bins: Int = 5, step: Int = 15)
      : Option[(Double, Vector[Long])] = {
    if (ratios.isEmpty) None
    else {
      val mean = pyRound(ratios.sum / ratios.length, 3)
      val counts = Array.fill(bins)(0L)
      ratios.foreach(r => counts(binIndex(r, bins, step)) += 1)
      Some((mean, counts.toVector))
    }
  }

  // -------------------------------------------------------------------
  // E2 — deterministic word-error oracle (replaces the LanguageTool
  // HTTP service, lib/ocr_step.py:388-395; see SURVEY.md §2.11 E2)
  // -------------------------------------------------------------------

  /** Minimal embedded German function-word lexicon used as the
    * deterministic stand-in for the external spell service. A token is
    * an "error" iff its lowercase form is absent from the lexicon and
    * it is not pure latin-letter word of length ≥ 4 with at least one
    * vowel (a crude but deterministic well-formedness heuristic). */
  val Lexicon: Set[String] = Set(
    "der", "die", "das", "und", "in", "von", "zu", "mit", "auf", "ist",
    "im", "den", "des", "dem", "ein", "eine", "einer", "als", "auch",
    "an", "es", "sich", "nach", "bei", "aus", "am", "um", "so", "wie",
    "nicht", "nur", "vor", "zum", "zur", "durch", "man", "war", "sind",
    "wird", "noch", "oder", "aber", "wenn", "sie", "er", "wir", "ich")

  private val vowels = "aeiouäöüy".toSet

  def isWordError(token: String): Boolean = {
    val lc = token.toLowerCase
    if (Lexicon.contains(lc)) false
    else {
      val lettersOnly = lc.forall(c => Character.isLetter(c))
      val hasVowel = lc.exists(c => vowels.contains(c))
      !(lettersOnly && hasVowel && lc.length >= 4)
    }
  }

  /** Count errors in a sanitized word string (whitespace tokens). */
  def countErrors(wordString: String): Int =
    splitWs(wordString).count(isWordError)
}
