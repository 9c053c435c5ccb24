package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.Gate

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-equivalent `oracleSql` over the
  * same parquet tables. Both maps are views of the [[graft.gates.Gate]]
  * records in `graft.gates`; `oracleSql` is built on its first read.
  */
object SparkEntry {

  private val gates: Map[String, Gate] = Gate.byName(Gate.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, g) => name -> g.run }

  lazy val oracleSql: Map[String, String] =
    gates.map { case (name, g) => name -> g.oracle }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
}
