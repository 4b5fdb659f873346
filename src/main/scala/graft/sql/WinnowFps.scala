package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints ([[graft.text.Winnow]], Schleimer et al.) as
  * a row kernel — replaces the typed `mapPartitions` path (full
  * UnsafeRow → tuple → UnsafeRow encoder round-trip per doc) with a
  * direct per-row call. */
object WinnowFps {

  def compute(text: UTF8String, k: Int, w: Int): GenericArrayData =
    new GenericArrayData(graft.text.Winnow.fingerprints(text.toString, k, w))

  def fps(text: Column, k: Int, w: Int): Column =
    Bridge.invoke(this, ArrayType(LongType, containsNull = false), "compute",
      Seq(text, lit(k), lit(w)))
}
