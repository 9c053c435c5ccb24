package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

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

  /** `body`'s result and the SQL actions it ran, by name (`collect`,
    * `count`, ...).
    */
  def withActions[A](body: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(funcName)
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = body
      ListenerBus.drain(spark.sparkContext)
      (result, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
