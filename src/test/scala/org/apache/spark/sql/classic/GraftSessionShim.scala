package org.apache.spark.sql.classic

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSessionExtensions

/** In-package test shim: a sibling SparkSession on the live
  * SparkContext with the given extensions applied. Spark applies
  * extensions only at session construction and `getOrCreate` returns
  * the existing session, so a spec that shares the suite's context
  * needs this; the extensions-bearing constructor is package-private
  * to `classic`. */
object GraftSessionShim {
  def withExtensions(sc: SparkContext,
      configure: SparkSessionExtensions => Unit): SparkSession = {
    val ext = new SparkSessionExtensions
    configure(ext)
    // the extensions-bearing constructor is Scala-private but
    // bytecode-public (JVM erasure of private[x]); invoke reflectively
    val ctor = classOf[SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6)
      .getOrElse(throw new IllegalStateException(
        "SparkSession 6-arg constructor not found — Spark version change?"))
    ctor.newInstance(sc, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
