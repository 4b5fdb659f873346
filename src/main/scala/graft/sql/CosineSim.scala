package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DoubleType

/** Cosine similarity of two `array<double>` columns as ONE row kernel
  * inside whole-stage codegen: one fused loop over both ArrayData
  * buffers — no lambda dispatch, no boxing, no intermediate arrays.
  * This is the hot scalar of the similarity-search operators
  * (brute-force kNN / near-dup pairs), where the interpreted
  * `zip_with + aggregate` HOF chain walks each array three times with
  * per-element closures.
  *
  * Returns null when either side is null; 0.0 when either norm is 0
  * or lengths differ (defensive: mismatched embeddings are data bugs,
  * not query bugs). Callers pass array<double> (cast at the query
  * layer); the kernel applies no input coercion.
  */
object CosineSim {

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return 0.0
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  def apply(a: Column, b: Column): Column =
    Bridge.invoke(this, DoubleType, "compute", Seq(a, b))
}
