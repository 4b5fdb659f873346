package graft

import java.nio.file.{Files, Paths}

/** Optimization-round helper: writes `.explain("formatted")` for each
  * (or a selected subset of) declared query to <outDir>/<name>.txt —
  * the plan evidence the round notes cite. Not part of the frozen
  * bench/verify contract.
  *
  * Usage: runMain graft.PlanDump <outDir> [q60,q62,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/tmp")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    Bench.selected(args.lift(1)).foreach { q =>
      val plan =
        try {
          val df = q.fn(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        } catch { case e: Throwable => s"ERROR: $e" }
      Files.writeString(Paths.get(outDir, q.name + ".txt"), plan)
      println(s"wrote $outDir/${q.name}.txt")
    }
    spark.stop()
  }
}
