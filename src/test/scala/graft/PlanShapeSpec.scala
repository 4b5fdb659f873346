package graft

import org.apache.spark.sql.functions._

import graft.stages.{ExtractConfig, Extraction}

/** Physical-plan guards — the 100 TB story in executable form.
  * These assertions fail if someone reintroduces a shuffle into the
  * narrow extraction path or breaks scan pushdown.
  */
class PlanShapeSpec extends SparkSpecBase {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("extraction pipeline is shuffle-free (no Exchange in the plan)") {
    import spark.implicits._
    val docs = graft.gen.CorpusGen.docs(spark, 100, "interleaved").toDF()
    val plan = executedPlan(Extraction.pipeline(docs, ExtractConfig()).toDF())
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("extraction projection stays inside whole-stage codegen (no fallback barrier)") {
    import spark.implicits._
    val docs = graft.gen.CorpusGen.docs(spark, 100, "interleaved").toDF()
    val df = Extraction.pipeline(docs, ExtractConfig()).toDF()
    df.collect() // finalize AQE so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"extraction projection not codegen'd:\n$plan")
  }

  test("filter and projection push down to the parquet scan") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan").toString
    spark.range(1000)
      .select($"id", ($"id" * 2).as("v"), lit("x").as("s"))
      .write.mode("overwrite").parquet(tmp)
    val q = spark.read.parquet(tmp).filter($"id" > 500).select($"id")
    val plan = executedPlan(q)
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,500)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      s"projection not pruned:\n$plan")
  }

  test("small dimension joins broadcast (no shuffle join for q03/q11)") {
    val plan = executedPlan(
      graft.queries.Queries.all.find(_.name == "q03_join_broadcast").get
        .fn(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("bucketed tables co-locate the join (no Exchange on either side)") {
    import spark.implicits._
    spark.range(10000).select($"id".as("k"), ($"id" * 2).as("a"))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bucket_left")
    spark.range(10000).select($"id".as("k"), ($"id" + 7).as("b"))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bucket_right")
    try {
      // disable broadcast so the join would otherwise need a shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bucket_left")
        .join(spark.table("graft_bucket_right"), "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_left")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_right")
    }
  }

  test("ANN queries broadcast their small sides (q38 IVF, q44 multiprobe)") {
    for (name <- Seq("q38_ann_ivf", "q44_ann_multiprobe")) {
      val df = graft.queries.Queries.all.find(_.name == name).get
        .fn(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"), s"$name: no broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$name: unexpected SMJ:\n$plan")
    }
  }

  test("q60 winnow: window exchange is REUSED by the groupBy (same key)") {
    val df = graft.queries.Queries.all.find(_.name == "q60_winnow_md5_oracle").get
      .fn(spark, "/root/testdata/sf0.001")
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    // one hash exchange on doc_id feeding window AND aggregate, plus
    // the final total-order sort's range exchange — anything more
    // means the groupBy stopped reusing the window's partitioning
    // (the O(n²)-HOF formulation this replaced is also join-free)
    val exchanges = plan.split("Exchange").length - 1
    assert(exchanges <= 2, s"q60 shuffles $exchanges times:\n$plan")
    assert(!plan.contains("Join"), s"q60 joins:\n$plan")
  }

  test("q65 exact-substr: only 8-byte hashes shuffle, one doc_id exchange") {
    val df = graft.queries.Queries.all.find(_.name == "q65_exact_substr_dedup").get
      .fn(spark, "/root/testdata/sf0.001")
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    // shuffle budget: one hash exchange on the gram hash (the count
    // window that keeps rows whose hash repeats — r7: replaces the
    // former groupBy(h)+self-join, so the gram table crosses the wire
    // ONCE and the Generate runs once), one on doc_id REUSED by both
    // windows and both aggregate pairs, one range exchange for the
    // total order; the gram STRING itself must never be a shuffle key
    // (concat_ws stays inside the Generate, only xxhash64 output moves)
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx <= 2, s"q65 hash-shuffles $hashEx times:\n$plan")
    assert(plan.contains("hashpartitioning(h#"),
      s"dup-window shuffle not keyed on the 64-bit hash:\n$plan")
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange"))
    assert(!exchangeLines.exists(_.contains("concat_ws")),
      s"gram string reached an exchange:\n$plan")
    val generates = plan.split("Generate").length - 1
    assert(generates == 1,
      s"gram table derived $generates times (expected one Generate):\n$plan")
  }

  test("whole-stage codegen wraps the relational aggregate (q01)") {
    val df = graft.queries.Queries.all.find(_.name == "q01_agg").get
      .fn(spark, "/root/testdata/sf0.001")
    df.collect() // finalize the AQE plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators carry the `*(id)` marker in the final plan
    assert(plan.contains("*("), s"no codegen spans:\n$plan")
    // map-side combine: a partial aggregate runs before the exchange
    assert(plan.contains("partial_sum"), s"no partial aggregation:\n$plan")
  }
}
