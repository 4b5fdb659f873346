package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.TextRules

/** Distinct word n-gram shingles as ONE row kernel — the one-pass
  * twin of
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
  * slice(tokens, i, n))))` (interpreted HOFs, one pass per stage).
  * Short docs (< n tokens) yield the single whole-token-sequence
  * shingle; first-occurrence order is preserved (order-insensitive
  * consumers like q46's explode+join don't care, but determinism is
  * free). */
object Shingles {

  def compute(text: UTF8String, n: Int): GenericArrayData = {
    val seen = new java.util.LinkedHashSet[String]
    TextRules.wordShingles(text.toString, n)(seen.add)
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  def of(text: Column, n: Int): Column =
    Bridge.invoke(this, ArrayType(StringType, containsNull = false), "compute",
      Seq(text, lit(n)))
}
