package graft.connector

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

import graft.{CompareMissingRowsError, InsertingDataFailedError}
import graft.ops.FrameOps
import graft.ops.FrameOps.Held
import graft.schema.Schema

/** Transactional database connector — the Spark port of the
  * reference's `DBConnector` (`sql_autoloader/connector.py:81-452`)
  * with the lifecycle of its context managers
  * (`sqlite_connector.py:173-204`): one connection, autocommit off,
  * commit on clean exit, rollback on any exception — which is what
  * makes `load`'s validation failure undo the whole load.
  *
  * Spark shape: [[load]] collects the caller's frame once, as given,
  * through the frame's own plan, so a frame this session collected
  * before is not planned or broadcast again; it applies `columns` to
  * the schema on the driver. The whole cascade runs on the driver over
  * those Catalyst rows (`FrameOps.Held`), so a load is one Spark action
  * however many tables it fills. It dedups the rows, then each step
  * projects them onto its table, reads the table, inserts only the
  * projection rows that read lacks (see [[JdbcFrames]]), reads the
  * table again only if it sent a row or the first read stopped early
  * (a table holding more than twice the rows the step could send), and
  * checks the last read on the driver against the rows it could
  * insert: the per-insert read-back check (D1,
  * [[FrameOps.containsRows]]) and the id guard and id threading
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
    * distinct projections `project`: the table's projection, inserted
    * where the table's distinct read lacks it, and D1 over the last read.
    */
  private def insertRenamed(columns: Seq[String], project: Seq[String] => Held, table: String): Unit = {
    val commonColumns = schema.parseInsert(table, columns)
    assert(commonColumns.nonEmpty, "No common columns were found.")
    withConf(insertMissing(project(commonColumns), table, commonColumns,
      dialect.getCheckInsertQuery(table, commonColumns)))
  }

  /** The distinct projection of `pre` onto `columns`, by one Spark
    * collect of [[FrameOps.getRows]].
    */
  private def collected(pre: DataFrame)(columns: Seq[String]): Held = {
    val projected = FrameOps.getRows(pre, columns)
    FrameOps.distinctRows(Bridge.collectInternal(projected), projected.schema)
  }

  /** Write a table's distinct projection `keys` and check it (D1),
    * returning the table's last read by `query`, which reads every
    * column of `keys`.
    *
    * Only rows that hold a value in every NOT NULL column are
    * insertable: SQLite's INSERT OR IGNORE also suppresses NOT NULL
    * violations (the reference's missing-values fixture relies on it),
    * and dropping such rows first emulates that on every backend. The
    * table is read first, and only the insertable rows whose unique key
    * that read lacks ([[FrameOps.unwritten]]) go to the dialect's
    * conflict-ignoring insert. That first read stops after twice as many
    * rows as are insertable, so a few rows loaded into a large table do
    * not pay for reading it twice; the rows a stopped read found stay out
    * all the same. The table is read (again, or whole) only when a row
    * went or the first read stopped. D1 checks every insertable row
    * against the last read.
    */
  private def insertMissing(keys: Held, table: String, commonColumns: Seq[String], query: String): Held = {
    val uniqueSets = introspected.uniqueKeySets.getOrElse(table, Nil)
    val notNull = introspected.notNullColumns.getOrElse(table, Set.empty)
    val required = commonColumns.filter(notNull.contains).map(keys.schema.fieldIndex).map(keys.at)
    val insertable = keys.copy(rows = keys.rows.filter(r => required.forall(i => !r.isNullAt(i))))
    val cap = 2 * insertable.rows.size + 1
    val before = read(query, cap)
    val missing = FrameOps.unwritten(insertable, before,
      uniqueSets.filter(_.forall(commonColumns.contains)))
    val after =
      if (missing.rows.isEmpty && before.rows.size < cap) before
      else if (missing.rows.isEmpty) read(query)
      else {
        JdbcFrames.batchInsert(conn, dialect.getInsertQuery(table, commonColumns, uniqueSets),
          missing, dialect.insertParamOrder(commonColumns, uniqueSets))
        read(query)
      }
    try FrameOps.containsRows(insertable, after)
    catch {
      case e: CompareMissingRowsError =>
        throw new InsertingDataFailedError(
          s"Encountered an error upon inserting data into table '$table':\n\t${e.getMessage}\n" +
            "This usually happens due to a uniqueness constraint not allowing new data to be inserted.\n" +
            "Either clear the relevant tables, or reset the database.")
    }
    after
  }

  /** The rows of `query`, with lower-case column names; at most
    * `maxRows` of them when that is above 0.
    */
  private def read(query: String, maxRows: Int = 0): Held =
    JdbcFrames.readQuery(conn, query, lowercaseLabels = true, maxRows)

  /** Driver-side checks and reads convert and cast with this session's
    * time zone and ANSI mode, as Spark would.
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
      FrameOps.mergeIdFrame(pre, _, _, alias, table, allowDuplication)
    }
    val kept = if (replace) FrameOps.dropReplaced(joined, schema.getColumns(table)) else joined
    FrameOps.postprocess(kept, columns)
  }

  /** The one step behind [[load]], [[retrieveIds]] and
    * [[insertAndRetrieveIds]], over a frame already renamed, with
    * columns `columns` and distinct projections `project`: the table's
    * projection, written with [[insertMissing]] when `insert` is set,
    * and the table's last read with the retrieve query; then `thread`,
    * given the projection and that read, which guards the ids and
    * threads them through the frame.
    */
  private def keyedStep[A](
      columns: Seq[String],
      project: Seq[String] => Held,
      table: String,
      alias: String,
      insert: Boolean,
  )(thread: (Held, Held) => A): A = {
    val (primaryKey, commonColumns) = schema.parseRetrieve(table, alias, columns)
    val keys = project(commonColumns)
    val query = dialect.getRetrieveQuery(table, primaryKey, alias, commonColumns)
    withConf {
      val db = if (insert) insertMissing(keys, table, commonColumns, query) else read(query)
      thread(keys, db)
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
    compareDistinct(FrameOps.distinctRows(Bridge.collectInternal(pre), pre.schema),
      query, where, exact)
  }

  /** [[compare]] of distinct rows the driver holds, of a frame already
    * renamed.
    */
  private def compareDistinct(
      rows: Held,
      query: Option[String],
      where: Option[String],
      exact: Boolean,
  ): Unit = {
    val q = query.getOrElse(schema.getCompareQuery(rows.schema.names.toSeq, where))
    withConf(FrameOps.compareRows(spark, rows, read(q), exact))
  }

  /** The flagship: plan, cascade inserts in topological order threading
    * retrieved ids through the frame, then validate — §3.1
    * (`connector.py:376-452`).
    *
    * The caller's frame is collected once up front, as given, the
    * load's one Spark action: through the frame's own plan, so a frame
    * collected before (a reload of the same frame) runs no analysis,
    * optimization, planning or broadcast again. `columns` renames the
    * schema on the driver, as `withColumnsRenamed` renames the frame.
    * The rows are deduped on the driver as `dropDuplicates` dedups them,
    * with room for one id per step. The cascade runs on the driver over
    * those rows, carrying their schema as Spark would change it: each
    * step renames the columns its table names otherwise, projects the
    * rows onto its table, writes what the table lacks and reads it,
    * checks the read (D1, the id guard), writes the ids it read into the
    * rows, drops the table's natural columns from the schema and undoes
    * its renames. Every id join keeps the rows distinct (rows that
    * differ only on a table's dropped natural columns join to different
    * keys), so no step re-dedups them. D2 checks the deduped rows
    * against its read. When a check fails, the Spark operator it stands
    * for runs over a frame of the rows the driver holds and raises its
    * error, so the load stays exact and all-or-nothing and never
    * evaluates the caller's frame again; when the id guard cannot
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
    withConf {
      val preSchema = FrameOps.renamed(data.schema, columns)
      val instructions = schema.getLoadInstructions(preSchema.names.toSeq)
      val steps = instructions.insertAndRetrieve
      // the compare below validates these very rows, with no clone
      // (connector.py:424): the cascade writes only their free values
      val pre = FrameOps.distinctRows(Bridge.collectInternal(data), preSchema, spare = steps.size)

      // phase 1: insert+retrieve in topo order, ids cascade through the rows
      val out = steps.zipWithIndex.foldLeft(pre) { case (acc, (spec, step)) =>
        val renames = spec.columns.toMap
        val in = acc.copy(schema = FrameOps.renamed(acc.schema, renames))
        val joined = keyedStep(in.schema.names.toSeq, FrameOps.distinctRows(in, _), spec.table,
          spec.alias, insert = true) {
          FrameOps.mergeIdRows(spark, in, _, _, spec.alias, spec.table, allowDuplication,
            slot = preSchema.size + step)
        }
        val kept = if (replace) FrameOps.dropRows(joined, schema.getColumns(spec.table)) else joined
        kept.copy(schema = FrameOps.postprocessed(kept.schema, renames))
      }
      // phase 2: plain inserts
      instructions.insert.foreach { spec =>
        val in = out.copy(schema = FrameOps.renamed(out.schema, spec.columns.toMap))
        insertRenamed(in.schema.names.toSeq, FrameOps.distinctRows(in, _), spec.table)
      }
      if (compare)
        compareDistinct(pre, compareQuery, where, exact)

      FrameOps.localFrame(spark, out.copy(schema = FrameOps.postprocessed(out.schema, columns)))
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
