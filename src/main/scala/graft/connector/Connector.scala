package graft.connector

import java.sql.{Connection, DriverManager}

import scala.jdk.CollectionConverters._

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
  * Spark shape: [[load]] collects the caller's frame once and runs the
  * whole cascade on the driver over those rows, so a load is one Spark
  * action however many tables it fills. It dedups the rows, then each
  * step projects them onto its table, inserts the projection (see
  * [[JdbcFrames]]), reads its table once and checks that read on the
  * driver against the rows it inserted: the per-insert read-back check
  * (D1, [[FrameOps.containsRows]]) and the id guard and id threading
  * ([[FrameOps.mergeIdRows]]). The final compare (D2,
  * [[FrameOps.compareRows]]) checks the deduped rows against its read.
  * A check that fails runs the Spark operator it stands for over a
  * frame of the rows the driver holds, which raises the error. The
  * frame returned is a local one of the threaded rows. The single-table
  * calls ([[insert]], [[retrieveIds]], [[insertAndRetrieveIds]]) collect
  * only their table's projection, and the last two return a Spark join.
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
    val pre = data.withColumnsRenamed(columns)
    insertRenamed(pre.columns.toSeq, collected(pre), table)
  }

  /** [[insert]] of a frame already renamed, with columns `columns` and
    * distinct projections `project`: the table's projection, the batch,
    * and D1 over the table's distinct read-back.
    */
  private def insertRenamed(
      columns: Seq[String], project: Seq[String] => (Seq[Row], StructType), table: String,
  ): Unit = {
    val commonColumns = schema.parseInsert(table, columns)
    assert(commonColumns.nonEmpty, "No common columns were found.")
    val (keys, keySchema) = project(commonColumns)
    val inserted = insertRows(keys, keySchema, table, commonColumns)
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn,
      dialect.getCheckInsertQuery(table, commonColumns), lowercaseLabels = true)
    withConf(checkInserted(table, inserted, keySchema, dbRows, dbSchema))
  }

  /** The distinct projection of `pre` onto `columns`, and its schema,
    * by one Spark collect of [[FrameOps.getRows]].
    */
  private def collected(pre: DataFrame)(columns: Seq[String]): (Seq[Row], StructType) = {
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
  ): DataFrame = keyedFrame(data, table, alias, columns, replace, allowDuplication, insert = false)

  /** `connector.py:286-324`. */
  def insertAndRetrieveIds(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String] = Map.empty,
      replace: Boolean = true,
      allowDuplication: Boolean = false,
  ): DataFrame = keyedFrame(data, table, alias, columns, replace, allowDuplication, insert = true)

  /** [[retrieveIds]], and [[insertAndRetrieveIds]] when `insert` is set:
    * one [[keyedStep]] over the deduped frame, whose rows the driver
    * does not hold, so the ids join it in Spark
    * ([[FrameOps.mergeIdFrame]]).
    */
  private def keyedFrame(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String],
      replace: Boolean,
      allowDuplication: Boolean,
      insert: Boolean,
  ): DataFrame = {
    schema.checkSchemaNotEmpty()
    val pre = FrameOps.preprocess(data, columns)
    val joined = keyedStep(pre.columns.toSeq, collected(pre), table, alias, insert) {
      FrameOps.mergeIdFrame(pre, _, _, _, _, alias, table, allowDuplication)
    }
    val kept = if (replace) FrameOps.dropReplaced(joined, schema.getColumns(table)) else joined
    FrameOps.postprocess(kept, columns)
  }

  /** The one step behind [[load]], [[retrieveIds]] and
    * [[insertAndRetrieveIds]], over a frame already renamed, with
    * columns `columns` and distinct projections `project`: the table's
    * projection, inserted when `insert` is set, one read of the table
    * with the retrieve query, and the checks of that read on the driver,
    * D1 first, then `thread`, given the projection and the read, which
    * guards the ids and threads them through the frame.
    */
  private def keyedStep[A](
      columns: Seq[String],
      project: Seq[String] => (Seq[Row], StructType),
      table: String,
      alias: String,
      insert: Boolean,
  )(thread: (Seq[Row], StructType, Seq[Row], StructType) => A): A = {
    val (primaryKey, commonColumns) = schema.parseRetrieve(table, alias, columns)
    val (keys, keySchema) = project(commonColumns)
    val inserted =
      if (insert) insertRows(keys, keySchema, table, commonColumns) else Nil
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn,
      dialect.getRetrieveQuery(table, primaryKey, alias, commonColumns), lowercaseLabels = true)
    withConf {
      if (insert) checkInserted(table, inserted, keySchema, dbRows, dbSchema)
      thread(keys, keySchema, dbRows, dbSchema)
    }
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
    compareDistinct(pre.schema, pre.collect().toSeq, query, where, exact)
  }

  /** [[compare]] of distinct rows the driver holds, of a frame already
    * renamed with schema `rowSchema`.
    */
  private def compareDistinct(
      rowSchema: StructType,
      rows: Seq[Row],
      query: Option[String],
      where: Option[String],
      exact: Boolean,
  ): Unit = {
    val q = query.getOrElse(schema.getCompareQuery(rowSchema.names.toSeq, where))
    val (dbRows, dbSchema) = JdbcFrames.readQuery(conn, q, lowercaseLabels = true)
    withConf(FrameOps.compareRows(spark, rowSchema, rows, dbRows, dbSchema, exact))
  }

  /** The flagship: plan, cascade inserts in topological order threading
    * retrieved ids through the frame, then validate — §3.1
    * (`connector.py:376-452`).
    *
    * The renamed frame is collected once up front, the load's one Spark
    * action, and deduped on the driver as `dropDuplicates` dedups it.
    * The cascade runs on the driver over those rows, carrying their
    * schema as Spark would change it: each step renames the columns its
    * table names otherwise, projects the rows onto its table, inserts
    * and reads it once, checks the read (D1, the id guard), threads the
    * ids it read through the rows, drops the table's natural columns
    * and undoes its renames. Every id join keeps the rows distinct (rows
    * that differ only on a table's dropped natural columns join to
    * different keys), so no step re-dedups them. D2 checks the deduped
    * rows against its read. When a check fails, the Spark operator it
    * stands for runs over a frame of the rows the driver holds and
    * raises its error, so the load stays exact and all-or-nothing and
    * never evaluates the caller's frame again; when the id guard cannot
    * decide, [[FrameOps.mergeIds]] decides.
    *
    * The returned frame is a local one of the threaded rows: its plan
    * holds them, with no cache, join or broadcast under it.
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
    // immutable — the compare below validates these very rows, no
    // clone needed (connector.py:424)
    val renamed = data.withColumnsRenamed(columns)
    val instructions = schema.getLoadInstructions(renamed.columns.toSeq)
    val preSchema = renamed.schema
    val preRows = FrameOps.distinctRows(renamed.collect().toSeq, preSchema)

    withConf {
      // phase 1: insert+retrieve in topo order, ids cascade through the rows
      val (outSchema, outRows) = instructions.insertAndRetrieve.foldLeft((preSchema, preRows)) {
        case ((accSchema, accRows), spec) =>
          val renames = spec.columns.toMap
          val in = FrameOps.renamed(accSchema, renames)
          val (joinedSchema, joined) = keyedStep(in.names.toSeq,
            FrameOps.distinctRows(accRows, in, _), spec.table, spec.alias, insert = true) {
            FrameOps.mergeIdRows(spark, in, accRows, _, _, _, _,
              spec.alias, spec.table, allowDuplication)
          }
          val (kept, keptRows) =
            if (replace) FrameOps.dropRows(joinedSchema, joined, schema.getColumns(spec.table))
            else (joinedSchema, joined)
          (FrameOps.postprocessed(kept, renames), keptRows)
      }
      // phase 2: plain inserts
      instructions.insert.foreach { spec =>
        val in = FrameOps.renamed(outSchema, spec.columns.toMap)
        insertRenamed(in.names.toSeq, FrameOps.distinctRows(outRows, in, _), spec.table)
      }
      if (compare)
        compareDistinct(preSchema, preRows, compareQuery, where, exact)

      FrameOps.postprocess(spark.createDataFrame(outRows.asJava, outSchema), columns)
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
