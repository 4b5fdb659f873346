package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling utilities (north_rule: "skew from mega-documents …
  * handled with salted repartitioning and AQE skew-join hints").
  *
  * Two layers:
  *  1. AQE (`spark.sql.adaptive.skewJoin.enabled`, on by Spark's
  *     default, which `SessionSpec` pins) splits skewed shuffle
  *     partitions at runtime.
  *  2. Explicit salting below, for the case AQE cannot fix:
  *     a broadcast-ineligible join against a dimension where a few
  *     keys dominate (e.g. one `media_ref` bucket of a mega newspaper
  *     appearing 10^6 times).
  */
object Skew {

  /** Skew-safe equi-join: the big (skewed) side gets a deterministic
    * salt in [0, salts); the small side is exploded `salts`× so every
    * (key, salt) pair finds its match. Use when the small side is too
    * big to broadcast but small enough to replicate `salts` times.
    *
    * @param big   skewed fact side
    * @param small dimension side (replicated)
    * @param key   join column name present on both sides
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    // the salt must be DETERMINISTIC per row: on a task retry or a
    // partial stage recompute, a row must land in the same shuffle
    // partition it did the first time, or rows get duplicated/lost in
    // the replayed exchange. Hash every natural column of the row
    // (identical rows share a salt — harmless, they carry no identity).
    val saltedBig = big.withColumn("_salt",
      pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(salts)).cast("int"))
    val explodedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(explodedSmall, Seq(key, "_salt")).drop("_salt")
  }
}
