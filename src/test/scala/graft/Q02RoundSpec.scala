package graft

import java.sql.Timestamp

/** Pins q02's revenue rounding to the oracle's: DuckDB's round(x, 2)
  * rounds the binary double half-up, so a product that is a hair below
  * a half cent as a double but prints as one (104541.7 × 0.95 =
  * 99314.61499999999) rounds up. Both rows are the sf0.1 lineitem rows
  * on which the oracle and Spark's own round(x, 2) disagree. */
class Q02RoundSpec extends SparkSpecBase {

  test("q02 revenue rounds like the DuckDB oracle on half-cent products") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q02round").toString
    val ship = Timestamp.valueOf("1996-06-01 00:00:00")
    Seq((1L, 1, 104541.7, 0.05, ship), (2L, 1, 104195.5, 0.05, ship))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val got = graft.queries.Queries.all
      .find(_.name == "q02_filter_sort_limit").get
      .fn(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSeq
    assert(got === Seq((1L, 1, 99314.62), (2L, 1, 98985.73)))
  }
}
