package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.Queries

/** The scaling harness runs the shipped operators: every job in
  * `ClusterBench.jobs` runs on a generated corpus, and the `cluster`
  * job's rows are exactly q62's. */
class ClusterBenchSpec extends SparkSpecBase {

  // 200 generated docs plus re-ided copies of the first 20 and
  // near-copies (middle token replaced) of the first 60; docs are
  // seeded per id, so a shorter run regenerates them. The generated
  // docs alone hold no near-dup pair. Exact copies cluster under any
  // band hash; the near-copies share only some bands, so a fork with
  // other minhash or band hashes clusters them differently.
  private lazy val docs = {
    import spark.implicits._
    def gen(n: Long) = graft.gen.CorpusGen.docs(spark, n, "skewed", 42L, 50000)
    gen(200)
      .union(gen(20).map(d => d.copy(doc_id = d.doc_id + "_copy")))
      .union(gen(60).map { d =>
        val mid = d.spans.indexWhere(_.kind == graft.model.Span.KindText,
          d.spans.length / 2)
        d.copy(doc_id = d.doc_id + "_near",
          spans = if (mid < 0) d.spans
            else d.spans.updated(mid, d.spans(mid).copy(text = "Abweichung")))
      })
  }
  private lazy val spans = GenCorpus.table(docs, "spans")

  test("every job in the job table runs to a noop sink on its GenCorpus table") {
    val inputFormat = Map("parse" -> "xml", "pdf" -> "pdf").withDefaultValue("spans")
    for (name <- ClusterBench.jobs.keys) {
      val in = if (inputFormat(name) == "spans") spans
        else GenCorpus.table(docs, inputFormat(name))
      ClusterBench.forceJob(spark, name, in)
    }
    assert(ClusterBench.jobs.keySet ==
      Set("extract", "parse", "pdf", "dedup", "cluster", "curate", "exactsubstr"))
  }

  test("the cluster job's rows are q62's over the same (doc_id, text) rows") {
    val dir = Files.createTempDirectory("graft-cb").toString
    spans.select(col("doc_id"), concat_ws(" ", col("spans.text")).as("text"))
      .write.parquet(s"$dir/documents.parquet")
    val q62 = Queries.all.find(_.name == "q62_neardup_clusters").get
    val want = q62.fn(spark, dir).collect().toSeq
    val got = ClusterBench.jobs("cluster")(spark, spans).orderBy("doc_id").collect().toSeq
    assert(got.size == 280)
    assert(got.exists(r => r.getAs[Long]("cluster_size") > 1),
      "the corpus should hold at least one near-dup cluster")
    val mismatched = got.zip(want).filter { case (g, w) => g != w }
    assert(got.size == want.size && mismatched.isEmpty,
      s"cluster job vs q62, first mismatches (got, q62): ${mismatched.take(5).mkString("; ")}")
  }
}
