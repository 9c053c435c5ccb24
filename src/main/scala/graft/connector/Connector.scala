package graft.connector

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{CompareMissingRowsError, InsertingDataFailedError}
import graft.ops.FrameOps
import graft.schema.Schema

/** Transactional database connector — the Spark port of the
  * reference's `DBConnector` (`sql_autoloader/connector.py:81-452`)
  * with the lifecycle of its context managers
  * (`sqlite_connector.py:173-204`): one connection, autocommit off,
  * commit on clean exit, rollback on any exception — which is what
  * makes `load`'s validation failure undo the whole load.
  *
  * Spark shape: orchestration runs on the driver; data transformations
  * (dedup, id joins, containment compares) are distributed DataFrame
  * ops; only deduped dimension rows cross the JDBC boundary (see
  * [[JdbcFrames]]).
  */
final class Connector(
    val spark: SparkSession,
    val conn: Connection,
    val dialect: Dialect,
    schemaPattern: String = "APP",
) {

  private var introspected: Introspect.IntrospectedSchema = _
  var schema: Schema = _
  updateSchema()

  /** Re-read the database schema (`connector.py:167-173`). */
  def updateSchema(): Unit = {
    introspected = Introspect(conn, schemaPattern)
    schema = new Schema(introspected.tables, introspected.references)
  }

  def schemaIsEmpty: Boolean = schema.isEmpty
  def printSchema(): Unit = println(schema.toString)

  /** Insert deduped rows, then verify insertion (D1) — §3.2 of
    * SURVEY.md (`connector.py:181-228`).
    */
  def insert(
      data: DataFrame,
      table: String,
      columns: Map[String, String] = Map.empty,
  ): Unit = {
    schema.checkSchemaNotEmpty()
    val pre = FrameOps.preprocess(data, columns)
    val commonColumns = schema.parseInsert(table, pre.columns.toSeq)
    assert(commonColumns.nonEmpty, "No common columns were found.")

    val uniqueSets = introspected.uniqueKeySets.getOrElse(table, Nil)
    val query = dialect.getInsertQuery(table, commonColumns, uniqueSets)
    // SQLite's INSERT OR IGNORE also suppresses NOT NULL violations
    // (the reference's missing-values fixture relies on it); emulate
    // uniformly by dropping such rows before they reach the batch
    val notNull = introspected.notNullColumns.getOrElse(table, Set.empty)
    val rows = FrameOps.getRows(pre, commonColumns)
    val insertable = commonColumns.filter(notNull.contains).foldLeft(rows) {
      (df, c) => df.filter(FrameOps.quoted(c).isNotNull)
    }
    JdbcFrames.batchInsert(conn, query, insertable,
      dialect.insertParamOrder(commonColumns, uniqueSets))

    // D1: inserted rows must be contained in the table read-back
    val checkQuery = dialect.getCheckInsertQuery(table, commonColumns)
    val dbData = JdbcFrames.queryToDataFrame(spark, conn, checkQuery, lowercaseLabels = true)
    try FrameOps.compareFrames(
      rows, FrameOps.matchTypes(dbData, rows.schema), exact = false)
    catch {
      case e: CompareMissingRowsError =>
        throw new InsertingDataFailedError(
          s"Encountered an error upon inserting data into table '$table':\n\t${e.getMessage}\n" +
            "This usually happens due to a uniqueness constraint not allowing new data to be inserted.\n" +
            "Either clear the relevant tables, or reset the database.")
    }
  }

  /** Fetch `(pk as alias, cols...)` and null-safe-join the ids into
    * data — §3.3 (`connector.py:230-284`). The fetched id table is
    * broadcast in the join (small by construction).
    */
  def retrieveIds(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String] = Map.empty,
      replace: Boolean = true,
      allowDuplication: Boolean = false,
  ): DataFrame =
    retrieveJoined(data, table, alias, columns, replace, allowDuplication)._2

  /** [[retrieveIds]], also returning the cached join its result reads
    * from ([[FrameOps.mergeIds]]), so that [[load]] can release it.
    */
  private def retrieveJoined(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String],
      replace: Boolean,
      allowDuplication: Boolean,
  ): (DataFrame, DataFrame) = {
    schema.checkSchemaNotEmpty()
    val pre = FrameOps.preprocess(data, columns)
    val (primaryKey, commonColumns) =
      schema.parseRetrieve(table, alias, pre.columns.toSeq)

    val query = dialect.getRetrieveQuery(table, primaryKey, alias, commonColumns)
    val dbFetch = JdbcFrames.queryToDataFrame(spark, conn, query, lowercaseLabels = true)

    val joined = FrameOps.mergeIds(pre, dbFetch, alias, table,
      allowDuplication = allowDuplication)
    val out =
      if (replace) FrameOps.dropReplaced(joined, schema.getColumns(table))
      else joined
    (joined, FrameOps.postprocess(out, columns))
  }

  /** Committed-snapshot parallel read of a whole table via Spark's
    * distributed JDBC source ([[JdbcFrames.readTableParallel]]).
    * Sees only COMMITTED data — call after a committed load; the
    * in-transaction path is [[retrieveIds]]/`queryToDataFrame`. Use
    * for very large retrieve targets where a driver-side ResultSet
    * would bottleneck.
    */
  def retrieveSnapshot(
      table: String,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 8,
  ): DataFrame =
    JdbcFrames.readTableParallel(spark, conn.getMetaData.getURL, table,
      partitionColumn, numPartitions)

  /** `connector.py:286-324`. */
  def insertAndRetrieveIds(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String] = Map.empty,
      replace: Boolean = true,
      allowDuplication: Boolean = false,
  ): DataFrame = {
    insert(data, table, columns)
    retrieveIds(data, table, alias, columns, replace, allowDuplication)
  }

  /** Validate loaded data against a (generated) reconstruction query
    * — D2 (`connector.py:326-374`).
    */
  def compare(
      data: DataFrame,
      query: Option[String] = None,
      columns: Map[String, String] = Map.empty,
      where: Option[String] = None,
      exact: Boolean = true,
  ): Unit = {
    schema.checkSchemaNotEmpty()
    val pre = FrameOps.preprocess(data, columns)
    val q = query.getOrElse(schema.getCompareQuery(pre.columns.toSeq, where))
    val dbRows = JdbcFrames.queryToDataFrame(spark, conn, q, lowercaseLabels = true)
    val dbCount = dbRows.count()
    assert(dbCount > 0, "Compare query yielded no results.")
    val (preCount, preHasNulls) = FrameOps.countAndNulls(pre)
    if (!preHasNulls)
      assert(dbCount >= preCount,
        s"Compare query yielded fewer rows ($dbCount) than data.")
    FrameOps.compareFrames(pre,
      FrameOps.matchTypes(dbRows, pre.schema), exact = exact)
  }

  /** The flagship: plan, cascade inserts in topological order threading
    * retrieved ids through the frame, then validate — §3.1
    * (`connector.py:376-452`).
    *
    * Each retrieve step caches the join that carries its ids (the next
    * step reads it). On success every cache but the last step's, which
    * backs the returned frame, is released; on failure all of them are,
    * so a long-lived session does not accumulate cached RDDs either way.
    */
  def load(
      data: DataFrame,
      columns: Map[String, String] = Map.empty,
      compare: Boolean = true,
      compareQuery: Option[String] = None,
      replace: Boolean = true,
      allowDuplication: Boolean = false,
      where: Option[String] = None,
      exact: Boolean = true,
  ): DataFrame = {
    schema.checkSchemaNotEmpty()
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      // immutable — the compare below validates this very frame, no
      // clone needed (connector.py:424)
      val pre = FrameOps.preprocess(data, columns).cache()
      cached += pre
      val instructions = schema.getLoadInstructions(pre.columns.toSeq)

      // phase 1: insert+retrieve in topo order, ids cascade through the frame
      val afterRetrieve = instructions.insertAndRetrieve.foldLeft(pre) {
        (acc, spec) =>
          insert(acc, spec.table, spec.columns.toMap)
          val (joined, next) = retrieveJoined(acc, spec.table, spec.alias,
            spec.columns.toMap, replace, allowDuplication)
          cached += joined
          next
      }
      // phase 2: plain inserts
      instructions.insert.foreach { spec =>
        insert(afterRetrieve, spec.table, spec.columns.toMap)
      }
      if (compare)
        this.compare(pre, compareQuery, Map.empty, where, exact)

      cached.init.foreach(_.unpersist())
      FrameOps.postprocess(afterRetrieve, columns)
    } catch {
      case e: Throwable => cached.foreach(_.unpersist()); throw e
    }
  }
}

object Connector {

  /** Loan pattern mirroring the reference's context manager (B10):
    * autocommit off; commit iff the block succeeds, else rollback and
    * rethrow.
    */
  def withConnection[A](
      spark: SparkSession,
      url: String,
      dialect: Dialect = DerbyDialect,
      schemaPattern: String = "APP",
  )(body: Connector => A): A = {
    val conn = DriverManager.getConnection(url)
    conn.setAutoCommit(false)
    try {
      val result = body(new Connector(spark, conn, dialect, schemaPattern))
      conn.commit()
      result
    } catch {
      case e: Throwable =>
        // a dead connection makes rollback throw too — never let that
        // mask the root cause
        try conn.rollback() catch { case _: Throwable => () }
        throw e
    } finally conn.close()
  }
}
