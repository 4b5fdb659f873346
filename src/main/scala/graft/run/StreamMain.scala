package graft.run

/** Incremental extraction pass as a CLI surface (T2): one
  * `Trigger.AvailableNow` tick over whatever span files currently sit
  * under the input path, exactly-once via the streaming checkpoint —
  * re-running after new files appear processes ONLY the new files
  * (the reference's cron + marker-file incrementality).
  *
  * Usage: StreamMain <spansParquetDir> <outDir> <checkpointDir> [mode]
  * where mode = extract (default) | dedup (streaming keep-first
  * dedup: only first carriers of a content fingerprint are emitted,
  * state survives across ticks via the checkpoint).
  */
object StreamMain {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, ckptDir) = args.take(3)
    val mode = if (args.length > 3) args(3) else "extract"
    val spark = graft.Session("graft-stream-extract")
    val q = mode match {
      case "extract" =>
        graft.streaming.StreamExtract.availableNow(spark, inDir, outDir, ckptDir)
      case "dedup" =>
        graft.streaming.StreamExtract.dedupAvailableNow(spark, inDir, outDir, ckptDir)
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    }
    q.awaitTermination()
    val n = spark.read.parquet(outDir).count()
    println(s"[stream] $mode tick complete; total rows on sink: $n")
    spark.stop()
  }
}
