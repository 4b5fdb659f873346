package graft

import graft.queries.Queries

/** Optimization-round measurement harness (guide §1.4) — NOT part of
  * the frozen driver contract ([[Bench]] is). Runs each selected query
  * `reps` times through [[Bench.run]] and prints per-rep seconds, so
  * plan-compile/JIT warmup separates from steady-state compute.
  *
  * Usage: runMain graft.BenchExtra [reps] [q01,q41,...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench-extra")

    Bench.runOrReport(spark, "warmup")(Queries.all.head.fn(spark, sfDir))
    Bench.selected(args.lift(1)).foreach { q =>
      spark.sparkContext.setJobDescription(q.name)
      val secs = (1 to reps).map(_ => Bench.runOrReport(spark, q.name)(q.fn(spark, sfDir)))
      println(s"""{"q":"${q.name}","secs":[${secs.map(s => f"$s%.3f").mkString(",")}]}""")
    }
    spark.stop()
  }
}
