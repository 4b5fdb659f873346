package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Queries, QueryDef}

/** Per-round benchmark: runs every driver-contract query (or those
  * whose names start with one of `prefixes`) `reps` times against
  * SPARK_GRAFT_SF_DIR plus the extraction pipeline throughput, prints
  * ONE JSON line ([[record]]). Queries are forced through the noop
  * sink so column work is not pruned away (a `count()` would let
  * Catalyst drop every projection).
  *
  * Usage: runMain graft.Bench [reps] [q01,q41,...]
  * Env: SPARK_GRAFT_SF_DIR (the sf0.1 tables by default) and
  * SPARK_GRAFT_CPUS as in [[Session]]. A full run also writes the line
  * to BENCH_LAST.json; a subset run writes no file.
  */
object Bench {

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** The one timed-job runner: builds `job`'s DataFrame, forces it
    * through the noop sink and returns the seconds of both. Building
    * stays INSIDE the timed section: iterative queries (q62/q64
    * connected components, q63's BPE learn) do their dominant work
    * eagerly while the plan is built. Then, in the finally (so a job
    * that THREW after checkpointing rounds cannot leak into the rest
    * of the session), it frees the localCheckpoint blocks
    * clearCache() cannot see and drops every persisted block
    * (minhash/simhash barriers), so repeated runs neither accumulate
    * blocks nor cross-subsidize a later job's timing. */
  def run(spark: SparkSession)(job: => DataFrame): Double = {
    var df: DataFrame = null
    try time { df = job; force(df) }
    finally {
      if (df != null)
        try org.apache.spark.sql.graftbridge.Bridge.freeLocalCheckpoint(df)
        catch { case _: Throwable => }
      spark.catalog.clearCache()
    }
  }

  /** [[run]] for a named job whose failure must not end the session:
    * prints `<name>: <exception>` to stderr and returns -1.0. */
  def runOrReport(spark: SparkSession, name: String)(job: => DataFrame): Double =
    try run(spark)(job)
    catch { case e: Throwable => System.err.println(s"$name: $e"); -1.0 }

  /** The queries whose names start with one of the comma-separated
    * prefixes in `only`; all of them when `only` is None. */
  def selected(only: Option[String]): Seq[QueryDef] = only match {
    case Some(list) =>
      val prefixes = list.split(",").map(_.trim).filter(_.nonEmpty)
      Queries.all.filter(q => prefixes.exists(q.name.startsWith))
    case None => Queries.all
  }

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  /** The bench's JSON line. `secs` holds each query's seconds per rep;
    * a query with a failed rep (-1.0, see [[runOrReport]]) reports
    * -1.0, is counted in `n_failed` and named in `failed`, and adds
    * nothing to `total`. Otherwise `queries` holds the median rep, and
    * with more than one rep `reps` holds every rep. */
  def record(secs: Seq[(String, Seq[Double])], sfDir: String, subset: Boolean,
      extractSec: Double, nDocs: Long, pdfSynthSec: Double): String = {
    def str(x: String) = "\"" + x + "\""
    def num(x: Double) = f"$x%.3f"
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    val failed = secs.collect { case (q, xs) if xs.exists(_ < 0) => q }
    val medians = secs.map { case (q, xs) => q -> (if (failed.contains(q)) -1.0 else median(xs)) }
    val total = medians.map(_._2).filter(_ >= 0).sum + extractSec
    val reps =
      if (secs.forall(_._2.size <= 1)) Nil
      else Seq("reps" -> obj(secs.map { case (q, xs) => q -> xs.map(num).mkString("[", ",", "]") }))
    obj(Seq(
      "metric" -> str("total"), "value" -> num(total), "unit" -> str("sec"),
      "queries" -> obj(medians.map { case (q, v) => q -> num(v) }),
      "sf" -> str(sfDir), "n_queries" -> secs.size.toString, "subset" -> subset.toString,
      "extract_docs_per_sec" -> f"${nDocs / extractSec}%.1f", "extract_docs" -> nDocs.toString,
      "extract_sec" -> num(extractSec), "pdf_synth_sec" -> num(pdfSynthSec),
      "n_failed" -> failed.size.toString, "failed" -> failed.map(str).mkString("[", ",", "]"))
      ++ reps)
  }

  def main(args: Array[String]): Unit = {
    // the JSON line is locale-sensitive through f"%.3f" — pin ROOT so
    // a comma-decimal default locale can't break the driver's parse
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val reps = args.headOption.map(a => a.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(s"reps must be a positive integer, got '$a'")))
      .getOrElse(1)
    val only = args.lift(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench")

    // JVM/codegen warmup on a cheap query
    runOrReport(spark, "warmup")(Queries.all.head.fn(spark, sfDir))

    val queries = selected(only)

    // q57 bench honesty: production PDFs ARRIVE, they aren't
    // synthesized — pay the render once up front (reported separately
    // as pdf_synth_sec) and time only the parse stage in the query loop
    val pdfTmp = s"/tmp/graft_bench_pdf_${System.nanoTime()}"
    val pdfSynthSec =
      if (!queries.exists(_.name == "q57_pdf_extract")) -1.0
      else try {
        time(Queries.pdfRender(spark, sfDir)
          .write.mode("overwrite").parquet(pdfTmp))
      } catch { case _: Throwable => -1.0 }

    val results = queries.map { q =>
      q.name -> (1 to reps).map(_ => runOrReport(spark, q.name) {
        if (q.name == "q57_pdf_extract" && pdfSynthSec >= 0)
          Queries.pdfParse(spark, spark.read.parquet(pdfTmp))
        else q.fn(spark, sfDir)
      })
    }

    // extraction pipeline throughput (docs/sec) on a generated
    // interleaved+skewed corpus — the engine's headline metric
    val nDocs = 20000L
    val corpus = graft.gen.CorpusGen.docs(spark, nDocs, "skewed", 42L, 50000)
      .toDF().cache()
    corpus.count() // materialize so we time the pipeline, not the generator
    val extractSec = time(force(graft.stages.Extraction.pipeline(corpus).toDF()))
    corpus.unpersist()

    val json = record(results, sfDir, only.isDefined, extractSec, nDocs, pdfSynthSec)
    println(json)
    // sbt prefixes stdout with "[info] ", which broke the driver's JSON
    // parse in round 1 — always leave a machine-readable copy on disk.
    // A subset run must NOT overwrite the canonical full-run artifact.
    if (only.isEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), json + "\n")
    spark.stop()
    try { // drop the pre-materialized pdf corpus
      val root = java.nio.file.Paths.get(pdfTmp)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverseIterator
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    } catch { case _: Throwable => }
  }
}
