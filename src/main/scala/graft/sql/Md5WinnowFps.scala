package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The q60 md5-winnow fingerprint set as ONE row kernel: per
  * document, md5 hex digests of every character k-gram, the
  * lexicographic minimum over each w-wide sliding window (clamped at
  * the text end), kept for window starts `i <= max(n-w+1, 1)`, then
  * deduplicated and sorted ascending — bit-identical to the
  * posexplode → window-min → collect_set/array_sort composition it
  * replaces (and to the DuckDB oracle), but a single pass per row:
  * no Generate blow-up of one row per gram, no exchange+sort for the
  * per-doc window, no exchange for the per-doc aggregate.
  *
  * Parity notes mirroring [[Md5MinHash]]:
  *  - `substr`/`substring` count CODE POINTS in both engines, so grams
  *    are sliced on UTF-8 character boundaries (byte offsets computed
  *    once per row), and md5 runs over the gram's UTF-8 bytes exactly
  *    as both engines hash their string values;
  *  - lexicographic order of lowercase-hex digests equals unsigned
  *    byte order of the raw 16-byte digests, so window minima compare
  *    raw digests and render to hex once at the end;
  *  - `collect_set` + `array_sort` = sort the kept minima and drop
  *    adjacent equals (no nulls can occur).
  */
object Md5WinnowFps {
  import Md5MinHash.{less, md5Pool, toHex}

  /** Byte width of the UTF-8 character starting with byte `b` (UTF-8
    * has no surrogates — one character per code point). */
  private def charWidth(b: Byte): Int = {
    val u = b & 0xFF
    if (u < 0x80) 1
    else if (u < 0xE0) 2 // 0xC0-0xDF (continuation bytes never START a char)
    else if (u < 0xF0) 3
    else 4
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    val bytes = text.getBytes
    // character-boundary byte offsets: offs(c) = byte start of char c
    val nChars = text.numChars()
    val offs = new Array[Int](nChars + 1)
    var c = 0
    var o = 0
    while (c < nChars) {
      offs(c) = o
      o += charWidth(bytes(o))
      c += 1
    }
    offs(nChars) = bytes.length
    val n = nChars - k + 1 // gram count; caller filters length >= k
    if (n <= 0) return new GenericArrayData(Array.empty[Any])

    // md5 of each k-gram's UTF-8 bytes
    val md = md5Pool.get()
    val hs = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      hs(i) = md.digest()
      i += 1
    }

    // window minima for starts 0..max(n-w, 0) (1-based: i <= max(n-w+1, 1)),
    // each window clamped at the gram-array end
    val last = math.max(n - w, 0)
    val kept = new Array[Array[Byte]](last + 1)
    i = 0
    while (i <= last) {
      var min = hs(i)
      var j = i + 1
      val end = math.min(i + w, n)
      while (j < end) { if (less(hs(j), min)) min = hs(j); j += 1 }
      kept(i) = min
      i += 1
    }

    // sort ascending + drop adjacent equals == array_sort(collect_set(...))
    java.util.Arrays.sort(kept, new java.util.Comparator[Array[Byte]] {
      override def compare(a: Array[Byte], b: Array[Byte]): Int =
        if (less(a, b)) -1 else if (less(b, a)) 1 else 0
    })
    val out = new java.util.ArrayList[Any](kept.length)
    i = 0
    while (i < kept.length) {
      if (i == 0 || !java.util.Arrays.equals(kept(i), kept(i - 1)))
        out.add(toHex(kept(i)))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Column entry point. */
  def fps(text: Column, k: Int, w: Int): Column =
    Bridge.invoke(this, ArrayType(StringType, containsNull = false), "compute",
      Seq(text, lit(k), lit(w)))
}
