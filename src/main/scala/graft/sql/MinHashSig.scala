package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.TextRules

/** MinHash signature over word 3-gram shingles as ONE row kernel:
  * tokenize → shingle → k seeded xxhash64 → running minima,
  * single pass, no intermediate arrays.
  *
  * Why not the HOF composition (`transform`/`array_min` over a shingle
  * column): Spark's higher-order functions are interpreted and the
  * k=8 hash passes each rebuild per-shingle Concat rows — measured
  * 4.4 s at sf0.1 vs ~0.3 s for this kernel (same LSH banding
  * downstream). Shingle DISTINCT is deliberately skipped: the minimum
  * over a multiset equals the minimum over its set.
  *
  * The hash is engine-defined (XXH64 of the shingle's UTF-8 bytes,
  * seed = hash index), matching the role of the reference-free
  * production twin (the md5 variant exists solely for DuckDB oracle
  * parity — q23/q24).
  */
object MinHashSig {

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, k: Int): GenericArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    TextRules.wordShingles(text.toString, 3) { s =>
      val u = UTF8String.fromString(s)
      var i = 0
      while (i < k) {
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, i)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  /** Column entry point. */
  def sig(text: Column, k: Int): Column =
    Bridge.invoke(this, ArrayType(LongType, containsNull = false), "compute",
      Seq(text, lit(k)))
}
