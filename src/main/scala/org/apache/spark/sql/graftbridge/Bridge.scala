package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.DataType

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (ExpressionUtils in columnNodeSupport.scala); the
  * row kernels' `StaticInvoke` columns still need them, hence this
  * in-package shim — the standard pattern for Spark extension
  * libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** Converted now, not when a Dataset plans it: [[invoke]] builds its
    * `StaticInvoke` over the converted arguments. */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** A column that calls `kernel.fn(args…)` once per row, `kernel`
    * being a Scala `object`. Generated code calls the static method
    * directly; with codegen off it is called reflectively. A null
    * argument gives null without a call; `returnNullable` says the
    * kernel itself may return null. */
  def invoke(kernel: AnyRef, dataType: DataType, fn: String, args: Seq[Column],
      returnNullable: Boolean = false): Column =
    column(StaticInvoke(kernel.getClass, dataType, fn, args.map(expression),
      returnNullable = returnNullable))

  /** The schema with every field nullable, nested ones included — what
    * a file source reports for the data it reads. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** Release the storage behind an eagerly `localCheckpoint()`ed
    * Dataset. `Dataset.unpersist()` only talks to the CacheManager,
    * which does not track checkpoint blocks — without this, iterative
    * algorithms leak one MEMORY_AND_DISK block per round until the
    * driver GC + ContextCleaner get around to it. Walks the whole
    * analyzed plan, so it also frees checkpoints buried under derived
    * projections/unions (e.g. the labels a ConnectedComponents caller
    * holds). Only RDDs that are actually locally checkpointed are
    * touched — a LogicalRDD can also back `createDataFrame(rdd)` data
    * a caller persisted intentionally, and yanking that storage from
    * under another live DataFrame would silently replay (or break) its
    * lineage. No-op for plans with no checkpoint-backed node. */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if org.apache.spark.rdd.GraftRddShim.isLocallyCheckpointed(lr.rdd) =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Rebuild a checkpoint-backed DataFrame WITHOUT its origin
    * statistics. `Dataset.localCheckpoint` produces a LogicalRDD that
    * carries the stats of the plan it truncated — and Catalyst's
    * size-in-bytes join estimate MULTIPLIES child sizes, so an
    * iterative algorithm whose round plan self-joins the previous
    * round's checkpoint k times compounds the estimate to
    * size^(k^rounds): the BigInt grows exponentially MANY DIGITS per
    * round and the driver ends up burning whole minutes inside
    * BigInteger.multiplyToomCook3 during stats estimation (observed:
    * the 2M-doc clustering bench hung the driver at 100% CPU after
    * adding a second pointer-jump join). Dropping originStats resets
    * each round to the default size estimate — plan COST is
    * unaffected (no broadcast decisions hinge on these inflated
    * numbers; they exceed every threshold either way). No-op for
    * non-checkpoint-rooted plans. */
  def dropOriginStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val clean = org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(session, None, None)
        org.apache.spark.sql.classic.Dataset.ofRows(session, clean)
      case _ => df
    }
}
