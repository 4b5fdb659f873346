package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** q58's most-frequent-bigram statistics as ONE pass over the token
  * array: (max bigram count, total bigram count) per document —
  * value-identical to the explode → count → max/sum relational chain
  * it replaces (bigram key = `concat_ws(" ", tk[i], tk[i+1])`,
  * n_bg = n_tokens − 1), but with no Generate row blow-up and no
  * (doc, bigram) exchange. Returns NULL for docs with fewer than two
  * tokens — exactly the left-join miss of the relational form. */
object BigramTop {

  private val outputType = StructType(Seq(
    StructField("top_cnt", LongType, nullable = false),
    StructField("n_bg", LongType, nullable = false)))

  /** Static entry point shared by interpreted eval and generated code;
    * null for sub-2-token docs (the relational left-join miss). */
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    if (n < 2) return null
    val counts = new java.util.HashMap[String, Long](math.min(n * 2, 64))
    var top = 0L
    var i = 0
    var prev = String.valueOf(arr.getUTF8String(0))
    while (i < n - 1) {
      val next = String.valueOf(arr.getUTF8String(i + 1))
      val bg = prev + " " + next
      val c = counts.merge(bg, 1L, java.lang.Long.sum)
      if (c > top) top = c
      prev = next
      i += 1
    }
    new GenericInternalRow(Array[Any](top, n.toLong - 1L))
  }

  def of(tk: Column): Column =
    Bridge.invoke(this, outputType, "compute", Seq(tk), returnNullable = true)
}
