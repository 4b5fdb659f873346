package graft.sql

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.TextRules

/** 16-bit SimHash over DISTINCT whitespace tokens as ONE row kernel —
  * bit-identical to the HOF composition it replaces
  * (token hash = value of the first 4 hex digits of md5(token), i.e.
  * the first two digest bytes big-endian, exactly
  * `conv(substring(md5(x),1,4),16,10)` / DuckDB
  * `CAST(CONCAT('0x', substr(md5(x),1,4)) AS BIGINT)`), so the q25
  * oracle is untouched. One tokenize + one md5 per distinct token,
  * no intermediate hash array, no persist barrier. */
object SimHash16 {

  /** Static entry point shared by interpreted eval and generated code.
    * Tokenization is [[TextRules.sparkTokens]] — the EXACT
    * `split(trim(x), "\\s+")` the DuckDB oracle computes, including
    * the `[""]` empty-text case and edge empties. */
  def compute(text: UTF8String): Long = {
    val toks = TextRules.sparkTokens(text.toString)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val votes = new Array[Int](16)
    val md = Md5MinHash.md5Pool.get()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        md.reset()
        val d = md.digest(t.getBytes(StandardCharsets.UTF_8))
        val h = ((d(0) & 0xFF) << 8) | (d(1) & 0xFF)
        var j = 0
        while (j < 16) {
          if (((h >> j) & 1) == 1) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 16) {
      if (votes(j) > 0) sim |= 1L << j
      j += 1
    }
    sim
  }

  /** Column entry point. */
  def sim(text: Column): Column = Bridge.invoke(this, LongType, "compute", Seq(text))
}
