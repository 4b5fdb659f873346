package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Queries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in [[graft.queries.Queries]]; extraction pipeline in
  * [[graft.stages.Extraction]]. */
object SparkEntry {

  /** Flagship: full extraction pipeline over the span table synthesized
    * from `documents` at sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.all.find(_.name == "q29_span_pipeline").get
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.fn).toMap

  /** The DuckDB SQL producing each query's rows. */
  def oracleSql: Map[String, String] =
    Queries.all.map(q => q.name -> q.oracle).toMap
}
