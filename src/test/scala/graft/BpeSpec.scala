package graft

import graft.text.Bpe

/** graft.text.Bpe: Sennrich learning + GPT-2-convention apply.
  * The classic paper example is pinned exactly (cross-derived by
  * tools/ref_bpe.py, an independent implementation); corpus-scale
  * behavior is covered by invariants on a synthetic Zipf-ish corpus
  * and by the q63 contract query. */
class BpeSpec extends SparkSpecBase {

  private val classicTypes = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("classic Sennrich frequencies learn the expected merge table") {
    val merges = Bpe.learnFromTypes(classicTypes, nMerges = 10)
    // first merges are driven by newest×6 + widest×3 sharing 'est':
    // (e,s) at 9 wins round 1, then (es,t), then the sentinel fold
    assert(merges.take(3) == Seq(("e", "s"), ("es", "t"), ("est", Bpe.Eow)))
    assert(merges.contains(("l", "o")) && merges.contains(("lo", "w")))
    assert(merges.size == 10)
  }

  test("encode applies lowest-rank-first, unseen words fall back to chars") {
    val merges = Bpe.learnFromTypes(classicTypes, nMerges = 10)
    val ranks = merges.zipWithIndex.toMap
    assert(Bpe.encode("low", ranks) == Vector("low" + Bpe.Eow))
    assert(Bpe.encode("newest", ranks) == Vector("newest" + Bpe.Eow))
    // 'lower' shares the 'low' prefix but 'er</w>' never merged
    assert(Bpe.encode("lower", ranks) == Vector("low", "e", "r", Bpe.Eow))
    // unseen word: only merges that happen to apply; 'zzz' has none
    assert(Bpe.encode("zzz", ranks) == Vector("z", "z", "z", Bpe.Eow))
  }

  test("merge count monotonicity and round-trip invariants on a corpus") {
    import spark.implicits._
    val docs = (0 until 200).map { i =>
      val w = Seq("alpha", "beta", "gamma", "delta", "alphabet")(i % 5)
      (s"d$i", s"$w $w the the quick $w")
    }.toDF("doc_id", "text")
    val m0 = Bpe.learn(docs, "text", nMerges = 0)
    val m20 = Bpe.learn(docs, "text", nMerges = 20)
    assert(m0.isEmpty && m20.nonEmpty)
    val c0 = Bpe.encodeCount(docs, "doc_id", "text", m0)
      .select("doc_id", "n_bpe").as[(String, Int)].collect().toMap
    val c20 = Bpe.encodeCount(docs, "doc_id", "text", m20)
      .select("doc_id", "n_bpe").as[(String, Int)].collect().toMap
    // zero merges => chars + sentinel per word; merges only reduce
    docs.as[(String, String)].collect().foreach { case (id, text) =>
      val words = graft.text.TextRules.splitWs(text)
      assert(c0(id) == words.map(_.length + 1).sum)
      assert(c20(id) <= c0(id) && c20(id) >= words.length)
    }
    // token concatenation reproduces the word (sentinel stripped)
    val toks = Bpe.encodeTokens(docs.limit(5), "doc_id", "text", m20)
      .as[(String, Seq[String])].collect()
    toks.foreach { case (id, ts) =>
      val joined = ts.mkString("").replace(Bpe.Eow, " ").trim
      val orig = docs.filter($"doc_id" === id)
        .as[(String, String)].head()._2
      assert(joined == graft.text.TextRules.splitWs(orig).mkString(" "))
    }
  }

  test("learning is deterministic across repartitionings") {
    import spark.implicits._
    val docs = (0 until 100)
      .map(i => (s"d$i", s"pair pair word word$i common common common"))
      .toDF("doc_id", "text")
    val a = Bpe.learn(docs.repartition(1), "text", nMerges = 12)
    val b = Bpe.learn(docs.repartition(13), "text", nMerges = 12)
    assert(a == b)
  }
}
