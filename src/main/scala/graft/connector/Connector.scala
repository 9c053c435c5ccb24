package graft.connector

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

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
  * Spark shape: orchestration and the checks run on the driver; the
  * frame being loaded stays a DataFrame (dedup and the id joins are
  * Spark operations), and only deduped dimension rows cross the JDBC
  * boundary (see [[JdbcFrames]]). Each step reads its table once and
  * checks that read on the driver against the rows it collected: the
  * per-insert read-back check (D1, [[FrameOps.containsRows]]) and the
  * id guard ([[FrameOps.mergeIdRows]]). The final compare (D2,
  * [[FrameOps.compareRows]]) is one Spark action over the cached frame.
  * A check that fails runs the Spark operator it stands for, which
  * raises the error.
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

  /** [[insert]] of a frame already renamed: one collect of the table's
    * distinct projection, the batch, and D1 over the table's distinct
    * read-back. The full frame needs no dedup: [[FrameOps.getRows]]
    * dedups the projection.
    */
  private def insertRenamed(pre: DataFrame, table: String): Unit = {
    val commonColumns = schema.parseInsert(table, pre.columns.toSeq)
    assert(commonColumns.nonEmpty, "No common columns were found.")
    val rows = FrameOps.getRows(pre, commonColumns)
    val inserted = insertRows(rows.collect().toSeq, rows.schema, table, commonColumns)
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn,
      dialect.getCheckInsertQuery(table, commonColumns), lowercaseLabels = true)
    withConf(checkInserted(table, inserted, rows.schema, dbRows, dbSchema))
  }

  /** Batch-insert the rows of a table's distinct projection that hold
    * a value in every NOT NULL column, and return them. SQLite's INSERT
    * OR IGNORE also suppresses NOT NULL violations (the reference's
    * missing-values fixture relies on it); dropping such rows first
    * emulates that on every backend.
    */
  private def insertRows(
      rows: Seq[Row], rowSchema: StructType, table: String, commonColumns: Seq[String],
  ): Seq[Row] = {
    val uniqueSets = introspected.uniqueKeySets.getOrElse(table, Nil)
    val notNull = introspected.notNullColumns.getOrElse(table, Set.empty)
    val required = commonColumns.filter(notNull.contains).map(rowSchema.fieldIndex)
    val insertable = rows.filter(r => required.forall(i => !r.isNullAt(i)))
    JdbcFrames.batchInsert(conn, dialect.getInsertQuery(table, commonColumns, uniqueSets),
      insertable, rowSchema, dialect.insertParamOrder(commonColumns, uniqueSets))
    insertable
  }

  /** D1: the inserted rows must be contained in the table's read-back. */
  private def checkInserted(
      table: String, inserted: Seq[Row], rowSchema: StructType,
      dbRows: Seq[Row], dbSchema: StructType,
  ): Unit =
    try FrameOps.containsRows(inserted, rowSchema, dbRows, dbSchema)
    catch {
      case e: CompareMissingRowsError =>
        throw new InsertingDataFailedError(
          s"Encountered an error upon inserting data into table '$table':\n\t${e.getMessage}\n" +
            "This usually happens due to a uniqueness constraint not allowing new data to be inserted.\n" +
            "Either clear the relevant tables, or reset the database.")
    }

  /** Driver-side checks cast with this session's time zone and ANSI
    * mode, as Spark would.
    */
  private def withConf[A](body: => A): A =
    SQLConf.withExistingConf(spark.sessionState.conf)(body)

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
    val joined = keyedStep(FrameOps.preprocess(data, columns), table, alias,
      insert = false, allowDuplication)
    FrameOps.postprocess(dropReplaced(joined, table, replace), columns)
  }

  /** The one step behind [[load]], [[retrieveIds]] and
    * [[insertAndRetrieveIds]], over a frame already renamed: collect
    * the table's distinct projection of `pre` (one Spark action), insert
    * it when `insert` is set, read the table once with the retrieve
    * query, and check that read on the driver, D1 first, then the id
    * guard of [[FrameOps.mergeIdRows]]. The result is the cached id
    * join; the caller releases it.
    */
  private def keyedStep(
      pre: DataFrame,
      table: String,
      alias: String,
      insert: Boolean,
      allowDuplication: Boolean,
  ): DataFrame = {
    val (primaryKey, commonColumns) =
      schema.parseRetrieve(table, alias, pre.columns.toSeq)
    val projection = FrameOps.getRows(pre, commonColumns)
    val keys = projection.collect().toSeq
    val inserted =
      if (insert) insertRows(keys, projection.schema, table, commonColumns) else Nil
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn,
      dialect.getRetrieveQuery(table, primaryKey, alias, commonColumns), lowercaseLabels = true)
    withConf {
      if (insert) checkInserted(table, inserted, projection.schema, dbRows, dbSchema)
      FrameOps.mergeIdRows(pre, keys, projection.schema, dbRows, dbSchema,
        alias, table, allowDuplication)
    }
  }

  private def dropReplaced(joined: DataFrame, table: String, replace: Boolean): DataFrame =
    if (replace) FrameOps.dropReplaced(joined, schema.getColumns(table)) else joined

  /** `connector.py:286-324`. */
  def insertAndRetrieveIds(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String] = Map.empty,
      replace: Boolean = true,
      allowDuplication: Boolean = false,
  ): DataFrame = {
    schema.checkSchemaNotEmpty()
    val joined = keyedStep(FrameOps.preprocess(data, columns), table, alias,
      insert = true, allowDuplication)
    FrameOps.postprocess(dropReplaced(joined, table, replace), columns)
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
    compareDistinct(FrameOps.preprocess(data, columns), query, where, exact)
  }

  /** [[compare]] of a frame already renamed and deduped. */
  private def compareDistinct(
      pre: DataFrame,
      query: Option[String],
      where: Option[String],
      exact: Boolean,
  ): Unit = {
    val q = query.getOrElse(schema.getCompareQuery(pre.columns.toSeq, where))
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn, q, lowercaseLabels = true)
    withConf(FrameOps.compareRows(pre, dbRows, dbSchema, exact))
  }

  /** The flagship: plan, cascade inserts in topological order threading
    * retrieved ids through the frame, then validate — §3.1
    * (`connector.py:376-452`).
    *
    * The frame is deduped and cached once up front; every id join keeps
    * it distinct (rows that differ only on a table's dropped natural
    * columns join to different keys), so no step re-dedups it. Each
    * step runs one Spark action, the collect of its table's distinct
    * projection, and one read of its table: an insert-and-retrieve step
    * reads with the retrieve query, and that read serves D1, the id
    * guard and the broadcast id join; a plain insert reads back its
    * inserted columns for D1. The checks run on the driver. The final
    * compare (D2) is one more Spark action over the cached frame. When
    * a check fails, the Spark operator it stands for runs and raises
    * its error, so the load stays exact and all-or-nothing.
    *
    * Each insert-and-retrieve step caches the join that carries its ids
    * (the next step reads it). On success every cache but the last
    * step's, which backs the returned frame, is released; on failure
    * all of them are, so a long-lived session does not accumulate cached
    * RDDs either way.
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
          val renames = spec.columns.toMap
          val joined = keyedStep(acc.withColumnsRenamed(renames), spec.table, spec.alias,
            insert = true, allowDuplication)
          cached += joined
          FrameOps.postprocess(dropReplaced(joined, spec.table, replace), renames)
      }
      // phase 2: plain inserts
      instructions.insert.foreach { spec =>
        insertRenamed(afterRetrieve.withColumnsRenamed(spec.columns.toMap), spec.table)
      }
      if (compare)
        compareDistinct(pre, compareQuery, where, exact)

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
