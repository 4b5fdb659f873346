package graft

import org.apache.spark.sql.functions._

import graft.queries.Queries

/** Measured quality of the approximate operators — the evidence that
  * the scale paths don't silently trade correctness:
  *
  *  - minhash-LSH banding (q24 shape) finds EVERY true Jaccard≥0.5
  *    near-dup pair of the sf0.01 corpus while emitting 28 candidates
  *    out of 124,750 possible pairs;
  *  - ANN probing breadth is monotone: multi-probe (Hamming≤2, q44)
  *    never recalls fewer true neighbors than its single-bucket
  *    special case (q34).
  *
  * Hyperplane-LSH absolute recall on THIS corpus is intrinsically low
  * (uniform-ish 64-d embeddings: top-neighbor cosines ≈0.4 → 12-plane
  * collision probability (1-θ/π)^12 ≈ 0.004), so the pinned properties
  * are the structural ones (monotonicity, boundedness, zero
  * false-negative banding on genuine near-dups), not a recall number
  * the data can't support.
  */
class ApproxQualitySpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.01"

  private def q(name: String) = Queries.all.find(_.name == name).get.fn(spark, dir)

  test("minhash-LSH candidates: 100% recall of true Jaccard>=0.5 pairs, bounded set") {
    // exact ground truth, driver-side (500 docs at sf0.01)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val tk = t.trim.split("\\s+").toSeq
      if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet
      else Set(tk.mkString(" "))
    }
    val sh = docs.map { case (id, t) => (id, shingles(t)) }
    val truth = (for {
      i <- sh.indices
      j <- (i + 1) until sh.length
      inter = (sh(i)._2 & sh(j)._2).size
      if inter.toDouble / (sh(i)._2 | sh(j)._2).size >= 0.5
    } yield (math.min(sh(i)._1, sh(j)._1), math.max(sh(i)._1, sh(j)._1))).toSet
    assert(truth.size == 25, s"corpus drifted: ${truth.size} true pairs")

    val cand = q("q24_minhash_lsh_pairs")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((truth -- cand).isEmpty, s"LSH missed true near-dups: ${truth -- cand}")
    // candidate set stays ~|near-dups|, nowhere near the n^2=124,750 pairs
    assert(cand.size <= 50, s"candidate explosion: ${cand.size}")
    spark.catalog.clearCache() // release the signature persist barrier
  }

  test("ANN probing breadth is monotone: multiprobe >= single-bucket recall") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val qv = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    val brute = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .withColumn("cos", round(graft.sql.CosineSim(col("e"), col("qe")), 3))
      .orderBy(desc("cos"), col("vec_id"))
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSet

    val single = q("q34_ann_query").select("vec_id").collect().map(_.getLong(0)).toSet
    val multi = q("q44_ann_multiprobe").select("vec_id").collect().map(_.getLong(0)).toSet
    assert((multi & brute).size >= (single & brute).size,
      s"multi-probe recalled fewer true neighbors: multi=$multi single=$single brute=$brute")
    // single-bucket candidates are a subset of the Hamming<=2 probe set
    // by construction, so the result can only grow in quality
    assert(multi.size >= single.size)
  }
}
