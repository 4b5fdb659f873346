package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The session factory's master/cores rule, checked on its pure parts
  * so no second SparkContext starts. */
class SessionSpec extends AnyFunSuite {

  private val noMaster = new SparkConf(false)

  test("SPARK_GRAFT_CPUS sets the local core count") {
    assert(Session.cores(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(Session.master(noMaster, Map("SPARK_GRAFT_CPUS" -> "3")) == "local[3]")
  }

  test("without SPARK_GRAFT_CPUS the core count is the available processors") {
    val n = Runtime.getRuntime.availableProcessors
    assert(Session.cores(Map.empty) == n)
    assert(Session.master(noMaster, Map.empty) == s"local[$n]")
  }

  test("a SPARK_GRAFT_CPUS that is not a positive integer fails naming the variable") {
    for (bad <- Seq("eight", "0", "-2", "4.5", "")) {
      val e = intercept[IllegalArgumentException](Session.cores(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("a master given by spark-submit is kept") {
    val given = new SparkConf(false).set("spark.master", "local-cluster[2,1,1024]")
    assert(Session.master(given, Map("SPARK_GRAFT_CPUS" -> "3")) == "local-cluster[2,1,1024]")
  }

  test("AQE and its skew-join split are on by default, so no session sets them") {
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue.contains(true))
    assert(SQLConf.SKEW_JOIN_ENABLED.defaultValue.contains(true))
  }
}
