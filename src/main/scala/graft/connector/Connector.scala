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
  * Spark shape: [[load]] collects its deduped frame once and runs the
  * whole cascade on the driver over those rows, so a load is one Spark
  * action however many tables it fills. Each step projects the rows onto
  * its table, inserts the projection (see [[JdbcFrames]]), reads its
  * table once and checks that read on the driver against the rows it
  * inserted: the per-insert read-back check (D1,
  * [[FrameOps.containsRows]]) and the id guard and id threading
  * ([[FrameOps.mergeIdRows]]). The final compare (D2,
  * [[FrameOps.compareRows]]) checks the collected rows against its read.
  * A check that fails runs the Spark operator it stands for, which
  * raises the error. The frame returned is the lazy Spark chain of the
  * same id joins. The single-table calls ([[insert]], [[retrieveIds]],
  * [[insertAndRetrieveIds]]) collect only their table's projection.
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
    insertRenamed(data.withColumnsRenamed(columns), None, table)
  }

  /** [[insert]] of a frame already renamed, whose rows the driver may
    * hold: the table's distinct projection ([[projection]]), the batch,
    * and D1 over the table's distinct read-back.
    */
  private def insertRenamed(pre: DataFrame, rows: Option[Seq[Row]], table: String): Unit = {
    val commonColumns = schema.parseInsert(table, pre.columns.toSeq)
    assert(commonColumns.nonEmpty, "No common columns were found.")
    val (keys, keySchema) = projection(pre, rows, commonColumns)
    val inserted = insertRows(keys, keySchema, table, commonColumns)
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn,
      dialect.getCheckInsertQuery(table, commonColumns), lowercaseLabels = true)
    withConf(checkInserted(table, inserted, keySchema, dbRows, dbSchema))
  }

  /** The distinct projection of `pre` onto `columns`, and its schema:
    * [[FrameOps.distinctRows]] of `pre`'s rows when the driver holds
    * them, else one Spark collect of [[FrameOps.getRows]].
    */
  private def projection(
      pre: DataFrame, rows: Option[Seq[Row]], columns: Seq[String],
  ): (Seq[Row], StructType) = rows match {
    case Some(held) => FrameOps.distinctRows(held, pre.schema, columns)
    case None =>
      val projected = FrameOps.getRows(pre, columns)
      (projected.collect().toSeq, projected.schema)
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
    * broadcast in the join (small by construction); the join is
    * returned uncached.
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
    val (joined, _) = keyedStep(FrameOps.preprocess(data, columns), None, table, alias,
      insert = false, allowDuplication)
    FrameOps.postprocess(dropReplaced(joined, table, replace), columns)
  }

  /** The one step behind [[load]], [[retrieveIds]] and
    * [[insertAndRetrieveIds]], over a frame already renamed whose rows
    * the driver may hold: the table's distinct projection of `pre`
    * ([[projection]]), inserted when `insert` is set, one read of the
    * table with the retrieve query, and the checks of that read on the
    * driver, D1 first, then the id guard of [[FrameOps.mergeIdRows]].
    * Returns the id join, uncached, and `rows` threaded through it.
    */
  private def keyedStep(
      pre: DataFrame,
      rows: Option[Seq[Row]],
      table: String,
      alias: String,
      insert: Boolean,
      allowDuplication: Boolean,
  ): (DataFrame, Option[Seq[Row]]) = {
    val (primaryKey, commonColumns) =
      schema.parseRetrieve(table, alias, pre.columns.toSeq)
    val (keys, keySchema) = projection(pre, rows, commonColumns)
    val inserted =
      if (insert) insertRows(keys, keySchema, table, commonColumns) else Nil
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn,
      dialect.getRetrieveQuery(table, primaryKey, alias, commonColumns), lowercaseLabels = true)
    withConf {
      if (insert) checkInserted(table, inserted, keySchema, dbRows, dbSchema)
      FrameOps.mergeIdRows(pre, rows, keys, keySchema, dbRows, dbSchema,
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
    val (joined, _) = keyedStep(FrameOps.preprocess(data, columns), None, table, alias,
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
    val pre = FrameOps.preprocess(data, columns)
    compareDistinct(pre, pre.collect().toSeq, query, where, exact)
  }

  /** [[compare]] of a frame already renamed and deduped, whose rows the
    * driver holds.
    */
  private def compareDistinct(
      pre: DataFrame,
      rows: Seq[Row],
      query: Option[String],
      where: Option[String],
      exact: Boolean,
  ): Unit = {
    val q = query.getOrElse(schema.getCompareQuery(pre.columns.toSeq, where))
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn, q, lowercaseLabels = true)
    withConf(FrameOps.compareRows(pre, rows, dbRows, dbSchema, exact))
  }

  /** The flagship: plan, cascade inserts in topological order threading
    * retrieved ids through the frame, then validate — §3.1
    * (`connector.py:376-452`).
    *
    * The frame is deduped, cached and collected once up front: the
    * load's one Spark action. The cascade runs on the driver over those
    * rows: each step projects them onto its table, inserts and reads it
    * once, checks the read (D1, the id guard) and threads the ids it
    * read through the rows, following the drop after it by column name.
    * Every id join keeps the rows distinct (rows that differ only on a
    * table's dropped natural columns join to different keys), so no
    * step re-dedups them. D2 checks the collected rows against its read.
    * When a check fails, the Spark operator it stands for runs and
    * raises its error, so the load stays exact and all-or-nothing; when
    * the id guard cannot decide, [[FrameOps.mergeIds]] decides.
    *
    * The returned frame is the lazy Spark twin of the cascade: the
    * cached frame and each step's id join, uncached. The frame's cache
    * is the one the load leaves, and a failed load releases it too.
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
    // immutable — the compare below validates this very frame, no
    // clone needed (connector.py:424)
    val pre = FrameOps.preprocess(data, columns).cache()
    try {
      val instructions = schema.getLoadInstructions(pre.columns.toSeq)
      val preRows = pre.collect().toSeq

      // phase 1: insert+retrieve in topo order, ids cascade through the rows
      val (afterRetrieve, rows) = instructions.insertAndRetrieve.foldLeft((pre, preRows)) {
        case ((acc, accRows), spec) =>
          val renames = spec.columns.toMap
          val (joined, joinedRows) = keyedStep(acc.withColumnsRenamed(renames), Some(accRows),
            spec.table, spec.alias, insert = true, allowDuplication)
          val dropped = dropReplaced(joined, spec.table, replace)
          (FrameOps.postprocess(dropped, renames),
            FrameOps.followRows(joinedRows.get, joined.columns.toSeq, dropped.columns.toSeq))
      }
      // phase 2: plain inserts
      instructions.insert.foreach { spec =>
        insertRenamed(afterRetrieve.withColumnsRenamed(spec.columns.toMap), Some(rows), spec.table)
      }
      if (compare)
        compareDistinct(pre, preRows, compareQuery, where, exact)

      FrameOps.postprocess(afterRetrieve, columns)
    } catch {
      case e: Throwable => pre.unpersist(); throw e
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
