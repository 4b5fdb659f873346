package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sql._
import graft.stages.{ExtractConfig, RegexRule}

/** Every row kernel's Column entry point gives the same rows through
  * whole-stage generated code and through the interpreted path
  * (`NO_CODEGEN`, no whole-stage codegen), where `StaticInvoke` calls
  * the kernel reflectively. The inputs are read back from parquet, so
  * no projection is evaluated on the driver over a local relation. */
class RowKernelSpec extends SparkSpecBase {

  private val interpreted = Seq(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  private def viaParquet(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-kernels").resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** The rows of `build` (sorted on column 0) with codegen on, after
    * checking that the same rows come out interpreted. */
  private def bothWays(build: => DataFrame): Seq[Row] = {
    def run(): (Seq[Row], String) = {
      val df = build
      val rows = df.collect().toSeq.sortBy(_.get(0).toString)
      (rows, df.queryExecution.executedPlan.toString)
    }
    val (gen, genPlan) = run()
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    val (interp, interpPlan) =
      try run() finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
    assert(genPlan.contains("*("), s"codegen side did not codegen:\n$genPlan")
    assert(!interpPlan.contains("*("), s"interpreted side codegen'd:\n$interpPlan")
    assert(gen.length == interp.length)
    gen.zip(interp).foreach { case (g, i) => assert(g == i, s"codegen $g vs interpreted $i") }
    gen
  }

  test("text kernels: codegen == interpreted on null, short, long and surrogate-pair texts") {
    import spark.implicits._
    val texts = Seq[String](null, "", "   ", "one", "two words", "three word text",
      "der alte Mann und das Meer der alte Mann", "  lead  and\ttrail  ",
      "\uD835\uDD04\uD835\uDD29\uD835\uDD31 \uD835\uDD10\uD835\uDD1E\uD835\uDD2B \uD83D\uDE00 ok",
      "\uD83D\uDE00", "a\uD83D\uDE00b c\uD83D\uDE00d e\uD83D\uDE00f g")
    val df = viaParquet(texts.zipWithIndex.map { case (t, i) => (f"t$i%02d", t) }
      .toDF("id", "text"))
    val rows = bothWays(df.select(col("id"),
      MinHashSig.sig(col("text"), 8).as("mh"),
      Md5MinHash.sig(col("text"), 8).as("md5mh"),
      SimHash16.sim(col("text")).as("sh"),
      Shingles.of(col("text"), 3).as("sg"),
      WinnowFps.fps(col("text"), 5, 4).as("wf"),
      Md5WinnowFps.fps(col("text"), 3, 4).as("mwf"),
      BigramTop.of(split(trim(col("text")), "\\s+")).as("bt")))
    val byId = rows.map(r => r.getString(0) -> r).toMap
    assert((1 until 8).forall(byId("t00").isNullAt), "a null text gives null everywhere")
    assert(byId("t03").isNullAt(7), "one token has no bigram")
    assert((1 until 8).forall(c => !byId("t06").isNullAt(c)))
    assert(byId("t08").getSeq[String](4) ==
      Seq("\uD835\uDD04\uD835\uDD29\uD835\uDD31 \uD835\uDD10\uD835\uDD1E\uD835\uDD2B \uD83D\uDE00",
        "\uD835\uDD10\uD835\uDD1E\uD835\uDD2B \uD83D\uDE00 ok"))
  }

  test("ProcessSpans: codegen == interpreted on edge docs, with a regex rule and RTL reorder") {
    import spark.implicits._
    val docs = (0L until 80L).map { i =>
      graft.gen.CorpusGen.genDoc(i, if (i % 4 == 0) "interleaved" else "edge", 13L, 2000)
    }.toDF()
    val nullSpans = docs.limit(1).select(lit("doc_null").as("doc_id"),
      lit(null).cast(docs.schema("spans").dataType).as("spans"))
    val df = viaParquet(docs.union(nullSpans))
    Seq(ExtractConfig(),
      ExtractConfig(regexRule = Some(RegexRule("([aeioubcglnt]3[:-]*\")", "3", "s"))),
      ExtractConfig(reorderRtl = true)).foreach { cfg =>
      val rows = bothWays(df.select(col("doc_id"), ProcessSpans.process(col("spans"), cfg).as("p")))
      assert(rows.length == 81)
      assert(rows.find(_.getString(0) == "doc_null").exists(_.isNullAt(1)))
    }
  }

  test("CosineSim: codegen == interpreted on null and zero vectors") {
    import spark.implicits._
    val df = viaParquet(Seq(
      ("a_same", Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0))),
      ("b_zero", Some(Seq(0.0, 0.0)), Some(Seq(1.0, 2.0))),
      ("c_len", Some(Seq(1.0)), Some(Seq(1.0, 2.0))),
      ("d_null", None, Some(Seq(1.0, 2.0))),
      ("e_both_null", None, None),
      ("f_any", Some(Seq(0.3, -1.5, 2.25)), Some(Seq(-0.7, 0.1, 4.0)))
    ).toDF("id", "a", "b"))
    val rows = bothWays(df.select(col("id"), CosineSim(col("a"), col("b")).as("c")))
    assert(rows.map(r => Option(r.get(1))).map(_.isEmpty) ==
      Seq(false, false, false, true, true, false))
  }
}
