package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.ops.ConnectedComponents

/** Type-aware driver-solve ceiling: long-keyed quotients (long, int,
  * short, byte and codec string ids) collect packed and use the full
  * ceiling; boxed string keys get 1/8 of it, so a string-keyed quotient
  * above the boxed ceiling takes the distributed loop instead of
  * materializing GBs of Rows on the driver. */
class CcSolveCeilingSpec extends SparkSpecBase {

  test("effective ceiling: full for long keys, 1/8 boxed, sub-8 disables") {
    assert(ConnectedComponents.effectiveSolveCeiling(LongType, 8000000L) == 8000000L)
    assert(ConnectedComponents.effectiveSolveCeiling(StringType, 8000000L) == 1000000L)
    assert(ConnectedComponents.effectiveSolveCeiling(StringType, 7L) == 0L)
    assert(ConnectedComponents.effectiveSolveCeiling(LongType, 7L) == 7L)
  }

  // pure-alpha ids: the numeric-suffix codec rejects them, so the
  // quotient stays STRING-keyed (the boxed collect path)
  private val chain = Seq("va" -> "vb", "vb" -> "vc", "vc" -> "vd")

  test("string quotient above the boxed ceiling takes the distributed loop") {
    import spark.implicits._
    val verts = chain.flatMap(e => Seq(e._1, e._2)).distinct.toDF("id")
    val edges = chain.toDF("s", "d")
    // solveMax=7 → boxed ceiling 0 → solve disabled → the loop
    // runs; with maxIter=0 the loop cannot converge and must THROW,
    // which proves the path taken (the solve path ignores maxIter)
    intercept[IllegalStateException] {
      ConnectedComponents.runWith(verts, "id", edges, "s", "d",
        maxIter = 0, solveMax = 7L)
    }
  }

  test("string quotient under the boxed ceiling still driver-solves") {
    import spark.implicits._
    val verts = (chain.flatMap(e => Seq(e._1, e._2)).distinct :+ "vz").toDF("id")
    val edges = chain.toDF("s", "d")
    // default-sized ceiling → boxed ceiling 1M → solve path; maxIter=0
    // is irrelevant there, so the run SUCCEEDS with correct min labels
    val out = ConnectedComponents.runWith(verts, "id", edges, "s", "d",
      maxIter = 0, solveMax = 8000000L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("va" -> "va", "vb" -> "va", "vc" -> "va",
      "vd" -> "va", "vz" -> "vz"))
  }

  test("long-keyed graph keeps the full ceiling (solves where boxed would loop)") {
    import spark.implicits._
    // int ids are widened to long keys on entry, so they collect packed
    // and solve under the same ceiling of 7 that disables boxed keys
    for (t <- Seq(LongType, IntegerType)) {
      val verts = Seq(1L, 2L, 3L, 4L, 9L).toDF("id").select(col("id").cast(t))
      val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L).toDF("s", "d")
        .select(col("s").cast(t), col("d").cast(t))
      val out = ConnectedComponents.runWith(verts, "id", edges, "s", "d",
        maxIter = 0, solveMax = 7L)
        .collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
        .toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L), t.simpleString)
    }
  }
}
