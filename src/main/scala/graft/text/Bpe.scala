package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair encoding with a REAL learned merge table — the tokenizer
  * a training-data pipeline meters tokens with (q37's GPT-2-style
  * regex is only the pretokenizer; this adds the merge loop on top).
  *
  * Scale shape (the part that must survive 10^12 docs):
  *
  *  - '''learn''' reduces the corpus to a word-type frequency table
  *    with ONE distributed groupBy — the only corpus-sized work —
  *    then caps it to the `vocabCap` most frequent types and runs the
  *    classic Sennrich merge loop (arXiv:1508.07909 §3) driver-side
  *    on that bounded table. This mirrors how production BPE trainers
  *    work: the merge loop is O(types × merges), independent of corpus
  *    size, and a capped type table is a few MB (a bounded driver
  *    collect, never a corpus collect).
  *  - '''encodeCount''' broadcasts the merge ranks (tiny) and encodes
  *    narrowly inside `mapPartitions` — no shuffle at all; the
  *    per-word encode memoizes on a per-partition LRU-ish map because
  *    Zipfian corpora repeat words constantly.
  *
  * Determinism: ties in pair frequency break on the lexicographically
  * smallest pair; the vocab cap orders by (count DESC, word ASC); the
  * apply merges the lowest-rank pair's occurrences left-to-right
  * (GPT-2 convention). Same corpus → same merges → same counts,
  * independent of partitioning.
  */
object Bpe {

  /** End-of-word sentinel (Sennrich `</w>`): keeps merges from
    * crossing word boundaries when frequencies are aggregated over
    * word types. Chosen outside the corpus alphabet. */
  val Eow = "</w>"

  /** Learn up to `nMerges` merges. Stops early when the best pair
    * occurs fewer than `minCount` times (merging hapax pairs is
    * noise). Words are whitespace token types of `textCol`. */
  def learn(corpus: DataFrame, textCol: String, nMerges: Int,
      vocabCap: Int = 10000, minCount: Long = 2L): Seq[(String, String)] = {
    // the one corpus-scale job: word-type counts, capped. The cap is
    // what bounds the driver collect — NEVER lift it to "all types"
    // on an unbounded corpus.
    val types = corpus
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w"))
      .limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    learnFromTypes(types, nMerges, minCount)
  }

  /** The merge loop itself, exposed for tests: `types` are (word,
    * count) pairs. Pure, deterministic. */
  def learnFromTypes(types: Seq[(String, Long)], nMerges: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    // vocab: symbol-sequence -> count (chars + end-of-word sentinel)
    var vocab: Map[Vector[String], Long] = types
      .map { case (w, c) => (w.map(_.toString).toVector :+ Eow, c) }
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          j += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // max count, ties to the lexicographically smallest pair
        val best = pairCounts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        if (best._2 < minCount) done = true
        else {
          val (a, b) = best._1
          merges += ((a, b))
          vocab = vocab.map { case (syms, c) => (mergePair(syms, a, b), c) }
            .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
          i += 1
        }
      }
    }
    merges.result()
  }

  /** Replace every non-overlapping (a,b) adjacency left-to-right. */
  private def mergePair(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += (a + b); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Encode one word under the merge ranks: repeatedly merge the
    * LOWEST-rank adjacent pair present (GPT-2 apply order), all its
    * occurrences left-to-right per round. */
  def encode(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = word.map(_.toString).toVector :+ Eow
    var go = true
    while (go && syms.length > 1) {
      var best: (String, String) = null
      var bestRank = Int.MaxValue
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = (syms(j), syms(j + 1)) }
        j += 1
      }
      if (best == null) go = false
      else syms = mergePair(syms, best._1, best._2)
    }
    // the sentinel is part of the final symbol (word-final marker),
    // matching the learner's vocab representation
    syms
  }

  /** Per-doc BPE token count under `merges` — narrow, no shuffle:
    * ranks ride a broadcast; encodes memoize per word type within the
    * partition (Zipf makes the hit rate high). */
  def encodeCount(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranksB = spark.sparkContext.broadcast(
      merges.zipWithIndex.toMap)
    docs.select(col(idCol).cast("string").as("doc_id"),
        col(textCol).as("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        val ranks = ranksB.value
        val memo = new java.util.HashMap[String, Integer](1 << 12)
        it.map { case (id, text) =>
          val words = TextRules.splitWs(if (text == null) "" else text)
          var n = 0
          words.foreach { w =>
            val cached = memo.get(w)
            if (cached != null) n += cached.intValue
            else {
              val c = encode(w, ranks).length
              if (memo.size < (1 << 16)) memo.put(w, Integer.valueOf(c))
              n += c
            }
          }
          (id, n, words.length)
        }
      }
      .toDF("doc_id", "n_bpe", "n_words")
  }

  /** Encoded token strings per doc (contract/debug surface; the
    * count path is [[encodeCount]]). */
  def encodeTokens(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranksB = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    docs.select(col(idCol).cast("string").as("doc_id"),
        col(textCol).as("text"))
      .as[(String, String)]
      .map { case (id, text) =>
        val toks = TextRules.splitWs(if (text == null) "" else text)
          .flatMap(w => encode(w, ranksB.value))
        (id, toks)
      }
      .toDF("doc_id", "toks")
  }
}
