package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed list of registered queries (`SparkEntry.queries`), timed one
  * at a time on their full results. The warm-up writes each result to
  * parquet under `exportDir`, where `run.py` checks it against the
  * query's DuckDB oracle (`SparkEntry.oracleSql`); every timed digest
  * must equal the digest of that checked result.
  */
final class Board(data: String, names: Seq[String], exportDir: String)
    extends Harness.Workload {

  private val expected = mutable.Map.empty[String, String]

  def setUp(spark: SparkSession): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** Exports every result, then runs two untimed passes: a query is
    * near its steady speed only from its fourth execution on.
    */
  def warmUp(spark: SparkSession): Seq[String] = {
    val exported = names.flatMap { name =>
      val path = s"$exportDir/$name"
      try {
        SparkEntry.queries(name)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(path)
        expected(name) = Digest.of(spark.read.parquet(path))
        None
      } catch { case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally Harness.release(spark)
    }
    val warm = new Harness.Context(spark, None)
    exported ++ (pass(warm) ++ pass(warm)).filterNot(_.ok).map(o => s"${o.name}: ${o.error}")
  }

  def pass(ctx: Harness.Context): Seq[Harness.Op] = names.map { name =>
    ctx.run(name)(Digest.of(SparkEntry.queries(name)(ctx.spark, data))) { d =>
      expected.get(name) match {
        case Some(e) if e == d => None
        case Some(e) => Some(s"digest $d differs from the checked result's $e")
        case None => Some("no checked result (warm-up failed)")
      }
    }
  }

  override def facts: Map[String, Any] =
    Map("export_dir" -> exportDir,
      "oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap)
}

object Board {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
