package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for specs (one JVM per forked test run). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkTestSession.spark
}
