package graft.connector

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

import graft.{CompareMissingRowsError, InsertingDataFailedError}
import graft.ops.FrameOps
import graft.ops.FrameOps.Held
import graft.schema.{InsertAndRetrieveSpec, Schema}

/** Transactional database connector — the Spark port of the
  * reference's `DBConnector` (`sql_autoloader/connector.py:81-452`)
  * with the lifecycle of its context managers
  * (`sqlite_connector.py:173-204`): one connection, autocommit off,
  * commit on clean exit, rollback on any exception — which is what
  * makes `load`'s validation failure undo the whole load.
  *
  * Spark shape: [[load]] is [[keyedStep]] in a loop, as the reference's
  * is `insert_and_retrieve_ids` in one. It collects the caller's frame
  * once, as given, through the frame's own plan, so a frame this
  * session collected before is not planned or broadcast again; it
  * applies `columns` to the schema on the driver and dedups the rows
  * there. Each step runs on the driver over those Catalyst rows
  * (`FrameOps.Held`), so a load is one Spark action however many
  * tables it fills: it projects the rows onto its table, reads the
  * table, inserts only the projection rows that read lacks (see
  * [[JdbcFrames]]), reads the table again only if it sent a row or the
  * first read stopped early (a table holding more than twice the rows
  * the step could send), checks the last read against the rows it
  * could insert (D1, [[FrameOps.containsRows]]) and threads the ids it
  * read through the rows, guarding them ([[FrameOps.mergeIdRows]]). The
  * final compare (D2, [[FrameOps.compareRows]]) checks the deduped rows
  * against its read. Each check raises its own error from the rows the
  * driver holds. [[retrieveIds]] and [[insertAndRetrieveIds]] run one
  * step over the caller's frame, collected as [[load]] collects it, and
  * return a local frame as [[load]] does; [[compare]] runs D2 over the
  * frame collected the same way. [[insert]] collects only its table's
  * projection.
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
    // a rename that leaves two columns alike fails here, as in every entry point
    withConf(FrameOps.renamed(data.schema, columns))
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
    * data — §3.3 (`connector.py:230-284`): one [[keyedStep]] that only
    * reads the table.
    */
  def retrieveIds(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String] = Map.empty,
      replace: Boolean = true,
      allowDuplication: Boolean = false,
  ): DataFrame = keyed(data, table, alias, columns, replace, allowDuplication, insert = false)

  /** `connector.py:286-324`: one [[keyedStep]]. */
  def insertAndRetrieveIds(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String] = Map.empty,
      replace: Boolean = true,
      allowDuplication: Boolean = false,
  ): DataFrame = keyed(data, table, alias, columns, replace, allowDuplication, insert = true)

  /** [[retrieveIds]], and [[insertAndRetrieveIds]] when `insert` is set:
    * [[load]] with one step and no compare. The caller's frame is
    * collected and deduped as [[load]] collects it, and the step's rows
    * come back as a local frame.
    */
  private def keyed(
      data: DataFrame,
      table: String,
      alias: String,
      columns: Map[String, String],
      replace: Boolean,
      allowDuplication: Boolean,
      insert: Boolean,
  ): DataFrame = {
    schema.checkSchemaNotEmpty()
    withConf {
      // renamed before the collect: a rename that fails runs no action
      val renamed = FrameOps.renamed(data.schema, columns)
      val pre = FrameOps.distinctRows(Bridge.collectInternal(data), renamed, spare = 1)
      val out = keyedStep(pre, InsertAndRetrieveSpec(table, alias, Nil), insert, replace,
        allowDuplication, slot = pre.schema.size)
      FrameOps.localFrame(spark, out.copy(schema = FrameOps.postprocessed(out.schema, columns)))
    }
  }

  /** The one step of [[load]], [[retrieveIds]] and
    * [[insertAndRetrieveIds]] (`connector.py:286-324`) over rows the
    * driver holds: rename the columns `spec` names otherwise, project
    * the rows onto the table, write what the table lacks when `insert`
    * is set ([[insertMissing]]) and read it, write the ids that read
    * holds into value `slot` of each row, guarding them
    * ([[FrameOps.mergeIdRows]]), drop the table's natural columns when
    * `replace` is set, and undo the renames.
    */
  private def keyedStep(
      held: Held,
      spec: InsertAndRetrieveSpec,
      insert: Boolean,
      replace: Boolean,
      allowDuplication: Boolean,
      slot: Int,
  ): Held = {
    val renames = spec.columns.toMap
    val in = held.copy(schema = FrameOps.renamed(held.schema, renames))
    val (primaryKey, commonColumns) = schema.parseRetrieve(spec.table, spec.alias, in.schema.names.toSeq)
    val query = dialect.getRetrieveQuery(spec.table, primaryKey, spec.alias, commonColumns)
    val db =
      if (insert) insertMissing(FrameOps.distinctRows(in, commonColumns), spec.table, commonColumns, query)
      else read(query)
    val joined = FrameOps.mergeIdRows(spark, in, commonColumns, db, spec.alias, spec.table,
      allowDuplication, slot)
    val kept = if (replace) FrameOps.dropRows(joined, schema.getColumns(spec.table)) else joined
    kept.copy(schema = FrameOps.postprocessed(kept.schema, renames))
  }

  /** Validate loaded data against a (generated) reconstruction query
    * — D2 (`connector.py:326-374`), over the caller's frame collected
    * and deduped as [[load]] collects it.
    */
  def compare(
      data: DataFrame,
      query: Option[String] = None,
      columns: Map[String, String] = Map.empty,
      where: Option[String] = None,
      exact: Boolean = true,
  ): Unit = {
    schema.checkSchemaNotEmpty()
    withConf {
      // renamed before the collect: a rename that fails runs no action
      val renamed = FrameOps.renamed(data.schema, columns)
      compareDistinct(FrameOps.distinctRows(Bridge.collectInternal(data), renamed), query, where, exact)
    }
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
    FrameOps.compareRows(spark, rows, read(q), exact)
  }

  /** The flagship: plan, cascade inserts in topological order threading
    * retrieved ids through the frame, then validate — §3.1
    * (`connector.py:376-452`).
    *
    * The caller's frame is collected once up front, as given, the
    * load's one Spark action: through the frame's own plan, so a frame
    * collected before (a reload of the same frame) runs no analysis,
    * optimization, planning or broadcast again. `columns` renames the
    * schema on the driver, as `withColumnsRenamed` renames the frame,
    * before the collect, and the rows are deduped with room for one id
    * per step. The cascade folds [[keyedStep]] over
    * those rows in topological order, carrying their schema as Spark
    * would change it. Every id join keeps the rows distinct (rows that
    * differ only on a table's dropped natural columns join to different
    * keys), so no step re-dedups them. D2 checks the deduped rows
    * against its read. Every check raises its error from the rows the
    * driver holds, so a failing load never evaluates the caller's frame
    * again; only keys the driver cannot match as Spark does
    * ([[FrameOps.mergeIdRows]], [[FrameOps.compareRows]]) run a Spark
    * job to decide.
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
        keyedStep(acc, spec, insert = true, replace, allowDuplication, slot = preSchema.size + step)
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
