package graft

import org.apache.spark.sql.classic.GraftSessionShim

import graft.sql.GraftExtensions

/** The plain-SQL surface: every registered graft_* function is callable
  * from spark.sql and agrees with the Column API. */
class ExtensionsSpec extends SparkSpecBase {

  private lazy val s2 =
    GraftSessionShim.withExtensions(spark.sparkContext, new GraftExtensions)

  test("graft_simhash / graft_minhash / graft_md5_minhash from plain SQL") {
    val r = s2.sql(
      """SELECT graft_simhash('der alte Mann') AS sh,
                graft_minhash('a b c d e') AS mh,
                graft_md5_minhash('a b c d e') AS mm""").collect().head
    assert(r.getLong(0) == graft.sql.SimHash16.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("der alte Mann")))
    assert(r.getSeq[Long](1).length == 8)
    val mm = r.getSeq[String](2)
    assert(mm.length == 8 && mm.forall(_.matches("[0-9a-f]{32}")))
    val nulls = s2.sql(
      """SELECT graft_simhash(NULL) AS sh, graft_minhash(NULL) AS mh,
                graft_md5_minhash(NULL) AS mm""").collect().head
    assert((0 until 3).forall(nulls.isNullAt))
  }

  test("graft_cosine and graft_process_spans from plain SQL") {
    val cos = s2.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val out = s2.sql(
      """SELECT graft_process_spans(array(
           named_struct('kind', 'text', 'text', 'Wort', 'media_ref', 'line://b/l0', 'offset', 1),
           named_struct('kind', 'text', 'text', '  ',  'media_ref', 'line://b/l0', 'offset', 0)
         )) AS p""").selectExpr("p.n_words", "size(p.spans)").collect().head
    assert(out.getInt(0) == 1 && out.getInt(1) == 1) // blank span dropped
    val nulls = s2.sql(
      "SELECT graft_process_spans(NULL) AS p, graft_cosine(NULL, array(1.0d)) AS c")
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }
}
