package graft.gen

import org.apache.spark.sql.functions._

/** Measurement tool for the r7 scaling evidence (VERDICT r6 #1):
  * derive a corpus with a CONTROLLED duplicate rate from an existing
  * spans corpus, keeping the corpus size and doc-id shape fixed so
  * only the dup structure (and hence the CC quotient) varies.
  *
  * Within every consecutive block of 100 doc ids, docs with
  * `1 <= id%100 < dupPct` have their spans replaced by the block
  * head's spans — dupPct% of docs become exact copies in families of
  * size dupPct, the corpus stays the same row count, and doc_ids are
  * untouched (codec shape preserved).
  *
  * Usage: runMain graft.gen.DupCorpus <inDir> <outDir> <dupPct> [files]
  */
object DupCorpus {
  def main(args: Array[String]): Unit = {
    val Array(in, out, dupPctS) = args.take(3)
    val dupPct = dupPctS.toInt
    // match GenCorpus's 128-file layout: ClusterBench sizes its scan
    // splits from the max FILE size, so a 16-file write would hand
    // each task 8x the rows and blow the executor heap
    val files = if (args.length > 3) args(3).toInt else 128
    require(dupPct >= 0 && dupPct <= 99, "dupPct in [0,99]")
    val spark = graft.Session("graft-dup-corpus")
    val src = spark.read.parquet(in)
    val n = substring(col("doc_id"), 5, 12).cast("long")
    val withNum = src.withColumn("_n", n)
      .withColumn("_hub", col("_n") - col("_n") % 100)
    val donors = withNum.filter(col("_n") % 100 === 0)
      .select(col("_hub").as("_dh"), col("spans").as("_hubSpans"))
    val outDf = withNum
      .join(donors, col("_hub") === col("_dh"), "left")
      .select(col("doc_id"),
        when(col("_n") % 100 >= 1 && col("_n") % 100 < dupPct
            && col("_hubSpans").isNotNull, col("_hubSpans"))
          .otherwise(col("spans")).as("spans"))
    outDf.repartition(files).write.mode("overwrite").parquet(out)
    println(s"""{"metric":"dup_corpus","in":"$in","out":"$out","dup_pct":$dupPct}""")
    spark.stop()
  }
}
