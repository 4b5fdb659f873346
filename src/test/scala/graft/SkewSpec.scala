package graft

import graft.sql.Skew

/** Salting utilities: result equivalence with a plain join and the
  * determinism the shuffle-replay path requires. */
class SkewSpec extends SparkSpecBase {

  test("saltedJoin == plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of rows share one hot key
    val big = (0 until 2000).map(i =>
      (if (i % 10 == 0) s"k$i" else "hot", s"v$i")).toDF("k", "payload")
    val small = Seq(("hot", 1), ("k10", 2), ("k20", 3), ("absent", 4))
      .toDF("k", "dim")
    val plain = big.join(small, Seq("k"))
      .select("k", "payload", "dim").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
      .select("k", "payload", "dim").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("salt is deterministic across evaluations (replay-safe)") {
    import spark.implicits._
    val big = (0 until 500).map(i => ("hot", s"v$i")).toDF("k", "payload")
    val small = Seq(("hot", 1)).toDF("k", "dim")
    def run() = Skew.saltedJoin(big, small, "k", salts = 8)
      .select("k", "payload", "dim").collect().map(_.toSeq).toSet
    assert(run() == run())
    assert(run().size == 500) // no dup/lost rows
  }
}
