package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built. Every main and the test
  * suite start from [[local]]; a session that needs the SQL surface
  * and optimizer rule of [[GraftExtensions]] derives from it with
  * [[withExtensions]].
  */
object GraftSession {

  /** Settings of a `local(cpus)` session, `spark.master` included:
    *   - one shuffle partition per core, adaptive execution on;
    *   - no UI;
    *   - UTC session time zone, and NANOS-annotated parquet
    *     timestamps read as raw int64 (older events.parquet vintages;
    *     a no-op on `timestamp[us]` files — the read boundary in
    *     [[SparkEntry]] normalizes either way).
    */
  private[graft] def conf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The session on `local[cpus]` with [[conf]]. `cpus` defaults to
    * `SPARK_GRAFT_CPUS`, else 4.
    */
  def local(
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
  ): SparkSession =
    SparkSession.builder().config(conf(cpus)).getOrCreate()

  /** A child session on `parent`'s SparkContext with [[GraftExtensions]]
    * installed. Extensions only apply at session construction, so a
    * session built without them can never see the rule or the SQL
    * functions. The child inherits the context's settings; the caller's
    * active and default sessions are restored before returning, and the
    * child stays usable (sessions share the context and are never
    * stopped).
    */
  def withExtensions(parent: SparkSession): SparkSession = {
    parent.sparkContext // the shared context must exist before the builder runs
    val orig = SparkSession.getActiveSession
    val origDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      orig.foreach(SparkSession.setActiveSession)
      origDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
