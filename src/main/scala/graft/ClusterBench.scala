package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Doc
import graft.queries.Queries
import graft.run.IngestAny

/** Multi-executor benchmark entry point, launched via spark-submit
  * (north_rule: "run via spark-submit on a multi-executor cluster at
  * two cluster sizes"). The master (e.g. `local-cluster[1,4,8192]` vs
  * `local-cluster[4,4,8192]` — real executor JVMs) comes from
  * spark-submit; this main just reads the pre-generated corpus, runs
  * the selected job (warmup + best-of-4), and prints one JSON line.
  *
  * Jobs ([[jobs]] plus `skewjoin`), each running the shipped entry
  * point so a scaling number measures the code that ships:
  *  - `extract` (default): `Extraction.pipeline`, the zero-shuffle
  *    per-doc path, over the span table;
  *  - `parse`: `IngestAny.parseDocs` over `GenCorpus`'s xml table;
  *  - `pdf`: `PdfExtract.extractDocs` over `GenCorpus`'s pdf table;
  *  - `dedup`, `cluster`, `curate`, `exactsubstr`: the contract
  *    queries q43, q62, q64 and q65 over the span table's
  *    `(doc_id, text)` projection (shuffle-bearing, iterative and
  *    per-token-intermediate shapes, measured apart from the narrow
  *    path);
  *  - `skewjoin`: plain vs salted join under a 50%-hot key.
  *
  * Usage: spark-submit --master local-cluster[E,C,M] \
  *          --class graft.ClusterBench <jar> <corpusParquet> <label> [job]
  */
object ClusterBench {

  /** The span table as the contract queries' `(doc_id, text)` input. */
  private def docText(spans: DataFrame): DataFrame =
    spans.select(col("doc_id"), concat_ws(" ", col("spans.text")).as("text"))

  private def bytes(spark: SparkSession, in: DataFrame): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    in.as[(String, Array[Byte])]
  }

  /** Every timed data job: name → (session, corpus table) → result. */
  val jobs: Map[String, (SparkSession, DataFrame) => DataFrame] = Map(
    "extract" -> ((_, in) => graft.stages.Extraction.pipeline(in).toDF()),
    "parse" -> ((s, in) => IngestAny.parseDocs(bytes(s, in)).toDF()),
    "pdf" -> ((s, in) => graft.parse.PdfExtract.extractDocs(bytes(s, in)).toDF()),
    "dedup" -> ((_, in) => Queries.minhashXxhashPairs(docText(in))),
    "cluster" -> ((_, in) => Queries.neardupClusters(docText(in))),
    "curate" -> ((_, in) => Queries.curationPipeline(docText(in))),
    "exactsubstr" -> ((_, in) => Queries.exactSubstrDedup(docText(in))))

  /** One run of `job` on `input` through the noop sink, then the one
    * cleanup every job gets: iterative jobs (cluster, curate) leave
    * localCheckpoint blocks clearCache() cannot see, and the LSH jobs
    * persist their signatures; freeing both keeps best-of-N runs from
    * accumulating blocks or cross-subsidizing a later run. */
  def forceJob(spark: SparkSession, job: String, input: DataFrame): Unit = {
    val out = jobs(job)(spark, input)
    try Bench.force(out)
    finally {
      org.apache.spark.sql.graftbridge.Bridge.freeLocalCheckpoint(out)
      spark.catalog.clearCache()
    }
  }

  /** Skew-join measurement: a fact table where ONE key owns ~50% of
    * all rows, joined to a non-broadcastable dimension, salted vs
    * plain. Returns (plainSec, saltedSec) for one run; the main
    * prints both so the skew-mitigation claim is measured, not just
    * unit-tested. Broadcast is disabled for the comparison — salting
    * targets exactly the broadcast-ineligible case. */
  private def skewJoinJob(spark: SparkSession, docs: DataFrame): (Double, Double) = {
    // fact: doc rows keyed so key 0 is scorching hot (~50% of rows),
    // each carrying its document text — the shuffle then moves real
    // payload weight and the hot key's bytes land on ONE task unless
    // salted (the mega-document scenario of the north_rule)
    val fact = docText(docs).select(
      when(pmod(xxhash64(col("doc_id")), lit(2)) === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("doc_id")), lit(1000))).as("k"),
      col("text").as("payload"))
    val dim = spark.range(1000).select(col("id").as("k"),
      (col("id") * 7).as("dv"))
    def agg(joined: DataFrame) =
      joined.groupBy().agg(sum(length(col("payload")) + col("dv"))).collect()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE's own skew handling off for the baseline so the comparison
    // isolates the explicit salting technique
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    // materialize the fact side first: the timed section is the
    // exchange + sort + join + aggregate, not the shared scan work
    val factP = fact.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    factP.count()
    try {
      val plain = Bench.time(agg(factP.join(dim, Seq("k"))))
      val salted = Bench.time(agg(graft.sql.Skew.saltedJoin(factP, dim, "k", salts = 16)))
      (plain, salted)
    } finally {
      factP.unpersist(blocking = true)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON f"%.3f"
    val corpusDir = args(0)
    val label = if (args.length > 1) args(1) else "run"
    val job = if (args.length > 2) args(2) else "extract"
    val spark = SparkSession.builder()
      .appName(s"graft-cluster-bench-$label")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // one scan task per generated file: the corpora are written as
    // single-row-group files, so byte-range splits below the file size
    // produce EMPTY tasks (a row group belongs to exactly one split) —
    // at 1MB this was ~2 no-op dispatches per real one, a serial driver
    // cost that lands on the larger cluster size disproportionately.
    // Sized from the ACTUAL corpus (a fixed constant silently re-splits
    // once bigger corpora push files past it); openCost = split size
    // stops FileSourceScan bin-packing two files into one task.
    // resolve the filesystem FROM the path (a qualified s3a://or hdfs://
    // corpus must not fall through to the default FS) and walk it
    // recursively (partitioned layouts nest their files)
    val corpusPath = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var maxFileBytes = 0L
    var totalFileBytes = 0L
    val it = fs.listFiles(corpusPath, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        maxFileBytes = math.max(maxFileBytes, st.getLen)
        totalFileBytes += st.getLen
      }
    }
    val splitBytes = math.max(16L * 1024 * 1024, maxFileBytes + 1024 * 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", splitBytes.toString)

    val input = spark.read.parquet(corpusDir)
    val n = input.count()

    if (job == "skewjoin") {
      // warmup then best-of-3 of each variant
      skewJoinJob(spark, input)
      val runs = (1 to 3).map(_ => skewJoinJob(spark, input))
      val plain = runs.map(_._1).min
      val salted = runs.map(_._2).min
      val cores = spark.sparkContext.defaultParallelism
      println(f"""{"metric":"skew-join","label":"$label","cores":$cores,"n_rows":$n,"plain_sec":$plain%.3f,"salted_sec":$salted%.3f,"speedup":${plain / salted}%.2f}""")
      spark.stop()
      return
    }
    require(jobs.contains(job), s"unknown job '$job'")
    // shuffle partitioning must be in place BEFORE the warmup so the
    // warmup exercises the exact plans the timed runs use (the CC loop
    // runs AQE-off, so nothing coalesces a wrong default at runtime).
    // Executors register asynchronously, so the core count is parsed
    // from the local-cluster master instead of defaultParallelism.
    val totalCores = "local-cluster\\[(\\d+),(\\d+),\\d+\\]".r
      .findFirstMatchIn(spark.sparkContext.master)
      .map(m => m.group(1).toInt * m.group(2).toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    // shuffle partitioning tracks the DATA, floored by the cluster: a
    // cores-only count puts a 16M-doc corpus into 16 shuffle tasks of
    // ~350 MB decoded rows each — every one spills, and the spill
    // traffic saturates the larger cluster size disproportionately
    // (16M 4×4 setup ran at 0.70 N→4N efficiency vs 0.95 at 8M before
    // this). Target ~64 MB of on-disk parquet per task (decoded rows
    // run ~3× that); identical at BOTH cluster sizes whenever the
    // data-derived count clears the core floor, so the two legs of a
    // scaling pair do the same work — which is also the only sizing
    // that survives a 100 TB corpus, where any per-core constant is
    // orders of magnitude too few tasks.
    // ... rounded UP to a multiple of the total cores: 24 partitions
    // on 16 cores is 1.5 waves — the second wave runs half-idle in
    // EVERY shuffle stage (measured ~5% on the 8M cluster job)
    val dataParts = (totalFileBytes / (64L * 1024 * 1024)).toInt + 1
    val floor = math.max(totalCores, 2)
    val waves = (math.max(dataParts, floor) + totalCores - 1) / totalCores
    spark.conf.set("spark.sql.shuffle.partitions",
      (waves * totalCores).toString)
    forceJob(spark, job, input) // warmup
    // executors are registered by now (post-warmup)
    val execs = spark.sparkContext.getExecutorMemoryStatus.size - 1
    val cores = spark.sparkContext.defaultParallelism
    // SPARK_GRAFT_BENCH_RUNS overrides best-of-4 for long-running
    // composite jobs (e.g. cluster = dedup + iterative components);
    // garbage or non-positive values fall back rather than crashing
    // AFTER the expensive warmup already ran
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(4)
    val sec = (1 to nRuns).map(_ => Bench.time(forceJob(spark, job, input))).min
    println(f"""{"metric":"cluster-bench","label":"$label","job":"$job","executors":$execs,"cores":$cores,"n_docs":$n,"sec":$sec%.3f,"docs_per_sec":${n / sec}%.1f}""")
    spark.stop()
  }
}

/** Deterministic corpus generator main (inputs for the cluster bench;
  * seed fixed, no external data). `format=xml` renders each doc to
  * canonical ALTO (AltoWriter) and stores its bytes as (doc_id, xml)
  * rows, `format=pdf` stores a rendered PDF as (doc_id, pdf) rows —
  * the inputs of the `parse` and `pdf` cluster-bench jobs, kept in
  * parquet so the bench stays off the small-file path (IngestAny's
  * directory scan is measured by perfbench's `ingest-mixed`).
  * Usage: GenCorpus <out> <nDocs> [profile] [files] [format] */
object GenCorpus {

  /** `docs` as the table `format` names: `spans`, `xml` or `pdf`. */
  def table(docs: Dataset[Doc], format: String): DataFrame = {
    import docs.sparkSession.implicits._
    format match {
      case "spans" => docs.toDF()
      case "xml" => docs.map(d => (d.doc_id, graft.parse.AltoWriter.render(d)))
        .toDF("doc_id", "xml")
      case "pdf" => docs.map { d =>
          val tk = d.spans.filter(_.kind == graft.model.Span.KindText).map(_.text)
          val hasMedia = d.spans.exists(_.kind == graft.model.Span.KindMedia)
          (d.doc_id, graft.parse.PdfWriter.render(
            Seq(graft.parse.PdfWriter.layoutTokens(tk)),
            flate = true, withImage = hasMedia))
        }.toDF("doc_id", "pdf")
      case other => throw new IllegalArgumentException(s"unknown format '$other'")
    }
  }

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val nDocs = args(1).toLong
    val profile = if (args.length > 2) args(2) else "skewed"
    val files = if (args.length > 3) args(3).toInt else 128
    val format = if (args.length > 4) args(4) else "spans"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-gen")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    table(graft.gen.CorpusGen.docs(spark, nDocs, profile, 42L, 50000), format)
      .repartition(files).write.mode("overwrite").parquet(out)
    println(s"""{"metric":"gen","out":"$out","n_docs":$nDocs,"files":$files,"format":"$format"}""")
    spark.stop()
  }
}
