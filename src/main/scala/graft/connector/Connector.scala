package graft.connector

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

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
  * (dedup, id joins, the final compare) are distributed DataFrame ops;
  * only deduped dimension rows cross the JDBC boundary (see
  * [[JdbcFrames]]). The per-insert read-back check (D1) compares two
  * row sets the driver already holds, so it runs there
  * ([[FrameOps.containsRows]]).
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
    insertRenamed(data.withColumnsRenamed(columns), table)
  }

  /** [[insert]] of a frame already renamed. The full frame needs no
    * dedup: [[FrameOps.getRows]] dedups the table's projection.
    */
  private def insertRenamed(pre: DataFrame, table: String): Unit = {
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
    // collected once: the same rows feed the batch and the D1 check.
    // D1 drops null-bearing rows, so checking `insertable` instead of
    // `rows` checks the same rows
    val collected = insertable.collect().toSeq
    JdbcFrames.batchInsert(conn, query, collected, insertable.schema,
      dialect.insertParamOrder(commonColumns, uniqueSets))

    // D1: inserted rows must be contained in the table read-back
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn,
      dialect.getCheckInsertQuery(table, commonColumns), lowercaseLabels = true)
    // cast with this session's time zone and ANSI mode, as in Spark
    try SQLConf.withExistingConf(spark.sessionState.conf) {
      FrameOps.containsRows(collected, insertable.schema, dbRows, dbSchema)
    } catch {
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
  ): DataFrame = {
    schema.checkSchemaNotEmpty()
    val pre = FrameOps.preprocess(data, columns)
    val joined = retrieveJoined(pre, table, alias, allowDuplication, pre.count())
    FrameOps.postprocess(dropReplaced(joined, table, replace), columns)
  }

  /** The id join of [[retrieveIds]] over a frame already renamed and
    * deduped, whose row count is `inputRows`. The result is the cached
    * join of [[FrameOps.mergeIds]]; the caller releases it.
    */
  private def retrieveJoined(
      pre: DataFrame,
      table: String,
      alias: String,
      allowDuplication: Boolean,
      inputRows: => Long,
  ): DataFrame = {
    val (primaryKey, commonColumns) =
      schema.parseRetrieve(table, alias, pre.columns.toSeq)

    val query = dialect.getRetrieveQuery(table, primaryKey, alias, commonColumns)
    val dbFetch = JdbcFrames.queryToDataFrame(spark, conn, query, lowercaseLabels = true)

    FrameOps.mergeIds(pre, dbFetch, alias, table, allowDuplication, inputRows)
  }

  private def dropReplaced(joined: DataFrame, table: String, replace: Boolean): DataFrame =
    if (replace) FrameOps.dropReplaced(joined, schema.getColumns(table)) else joined

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
    compareDistinct(pre, FrameOps.countAndNulls(pre), query, where, exact)
  }

  /** [[compare]] of a frame already renamed and deduped, whose
    * [[FrameOps.countAndNulls]] is `preStats`.
    */
  private def compareDistinct(
      pre: DataFrame,
      preStats: => (Long, Boolean),
      query: Option[String],
      where: Option[String],
      exact: Boolean,
  ): Unit = {
    val q = query.getOrElse(schema.getCompareQuery(pre.columns.toSeq, where))
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn, q, lowercaseLabels = true)
    val dbCount = dbRows.size.toLong
    assert(dbCount > 0, "Compare query yielded no results.")
    val (preCount, preHasNulls) = preStats
    if (!preHasNulls)
      assert(dbCount >= preCount,
        s"Compare query yielded fewer rows ($dbCount) than data.")
    FrameOps.compareFrames(pre, FrameOps.matchTypes(
      JdbcFrames.frameOf(spark, dbRows, dbSchema), pre.schema), exact = exact)
  }

  /** The flagship: plan, cascade inserts in topological order threading
    * retrieved ids through the frame, then validate — §3.1
    * (`connector.py:376-452`).
    *
    * Each step's data is evaluated once. The frame is deduped and
    * cached once up front, and its row count taken at most once: every
    * id join keeps it distinct with the same row count (rows that differ
    * only on a table's dropped natural columns join to different keys),
    * so no step re-dedups or re-counts it. Under `allowDuplication` a
    * join may add rows, so each retrieve step counts its input. Each
    * insert runs one Spark job, the collect of its rows; its D1 check
    * runs on the driver over those rows and the table's read-back.
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
      lazy val preStats = FrameOps.countAndNulls(pre)
      val instructions = schema.getLoadInstructions(pre.columns.toSeq)

      // phase 1: insert+retrieve in topo order, ids cascade through the frame
      val afterRetrieve = instructions.insertAndRetrieve.foldLeft(pre) {
        (acc, spec) =>
          val renames = spec.columns.toMap
          val renamed = acc.withColumnsRenamed(renames)
          insertRenamed(renamed, spec.table)
          val joined = retrieveJoined(renamed, spec.table, spec.alias,
            allowDuplication, if (allowDuplication) renamed.count() else preStats._1)
          cached += joined
          FrameOps.postprocess(dropReplaced(joined, spec.table, replace), renames)
      }
      // phase 2: plain inserts
      instructions.insert.foreach { spec =>
        insertRenamed(afterRetrieve.withColumnsRenamed(spec.columns.toMap), spec.table)
      }
      if (compare)
        compareDistinct(pre, preStats, compareQuery, where, exact)

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
    * rethrow. The connection is closed either way.
    */
  def withConnection[A](
      spark: SparkSession,
      url: String,
      dialect: Dialect = DerbyDialect,
      schemaPattern: String = "APP",
  )(body: Connector => A): A = {
    val conn = DriverManager.getConnection(url)
    val result =
      try {
        conn.setAutoCommit(false)
        val r = body(new Connector(spark, conn, dialect, schemaPattern))
        conn.commit()
        r
      } catch {
        case e: Throwable =>
          // a dead connection throws on rollback and on close too: the
          // failure that ended the block is the one raised, carrying
          // those as suppressed
          try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
          try conn.close() catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }
    conn.close()
    result
  }
}
