package graft.sql

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftbridge.Bridge

import graft.stages.ExtractConfig

/** SparkSessionExtensions entry point: registers the engine's row
  * kernels as SQL functions, so the extraction chain is reachable
  * from plain `spark.sql(...)` too. Each function is built by the
  * kernel's own Column entry point, so SQL and the Column API plan the
  * same `StaticInvoke`.
  *
  * Usage:
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // or: .config("spark.sql.extensions", "graft.sql.GraftExtensions")
  * }}}
  *
  * SQL surface (each returns NULL on a NULL argument):
  *  - `graft_process_spans(spans)` → struct(spans, hit_ratio, n_words,
  *    n_errs, n_lines_in, n_wraps, n_shorts, n_lines_out, repl_stats)
  *    — the full per-document chain with the production defaults;
  *  - `graft_minhash(text)` → array<bigint> (one-pass xxhash minhash);
  *  - `graft_md5_minhash(text)` → array<string> (DuckDB-parity md5);
  *  - `graft_simhash(text)` → bigint (16-bit md5 bit-vote fingerprint);
  *  - `graft_cosine(a, b)` → double (fused cosine similarity).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def register(ext: SparkSessionExtensions, name: String, kernel: AnyRef)(
      build: Seq[Column] => Column): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(kernel.getClass.getName.stripSuffix("$"), name),
      children => Bridge.expression(build(children.map(Bridge.column)))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "graft_process_spans", ProcessSpans)(a =>
      ProcessSpans.process(a.head, ExtractConfig()))
    register(ext, "graft_minhash", MinHashSig)(a => MinHashSig.sig(a.head, 8))
    register(ext, "graft_md5_minhash", Md5MinHash)(a => Md5MinHash.sig(a.head, 8))
    register(ext, "graft_simhash", SimHash16)(a => SimHash16.sim(a.head))
    register(ext, "graft_cosine", CosineSim)(a => CosineSim(a(0), a(1)))
  }
}
