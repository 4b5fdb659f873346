package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way a main builds its SparkSession.
  *
  * The master is `spark-submit`'s `--master` when one is given, else
  * `local[N]`; N is `SPARK_GRAFT_CPUS` when set, else the JVM's
  * available processors, and is also the shuffle partition count. AQE
  * and its skew-join split are left at Spark's defaults (both on;
  * `SessionSpec` pins that).
  */
object Session {

  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** `SPARK_GRAFT_CPUS` when set, else the available processors; a
    * value that is not a positive integer fails naming the variable. */
  def cores(env: Map[String, String]): Int = env.get(CpusVar) match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$CpusVar must be a positive integer, got '$v'"))
  }

  /** `spark.master` from `conf` (set by `spark-submit --master`), else
    * `local[cores(env)]`. */
  def master(conf: SparkConf, env: Map[String, String]): String =
    conf.getOption("spark.master").getOrElse(s"local[${cores(env)}]")

  def apply(app: String): SparkSession = {
    val n = cores(sys.env)
    val spark = SparkSession.builder()
      .master(master(new SparkConf(), sys.env))
      .appName(app)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
