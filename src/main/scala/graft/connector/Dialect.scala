package graft.connector

/** Per-backend SQL text generation — the Spark port of the reference's
  * dialect functions (B1-B4): `sql_autoloader/sqlite_connector.py:10-61`
  * and `sql_autoloader/postgres/postgres_connector.py:13-64`.
  *
  * SQLite and Postgres generators reproduce the reference's SQL text
  * byte-for-byte (their exact-string tests are ported); Derby is the
  * execution backend available in this environment (embedded, ships
  * with Spark) and expresses conflict-ignoring insert as
  * `INSERT ... SELECT ... WHERE NOT EXISTS` over the table's unique
  * constraints, matching `INSERT OR IGNORE` behavior.
  *
  * The [[Connector]] reads a table before it inserts and sends only the
  * rows whose unique key the table lacks; the statements stay the
  * conflict-ignoring ones, so a row a concurrent writer stored first is
  * still ignored. Postgres' `ON CONFLICT DO NOTHING` draws a sequence
  * value for every row it is sent, ignored or not, so a reload no longer
  * uses up one per stored row; Derby and SQLite draw none for an ignored
  * row, so their ids do not change.
  */
trait Dialect {

  /** Conflict-ignoring batch insert (B1/B2). `uniqueKeySets` lists the
    * table's unique constraints (used only by dialects that must
    * emulate constraint-keyed IGNORE).
    */
  def getInsertQuery(
      table: String,
      columns: Seq[String],
      uniqueKeySets: Seq[Seq[String]] = Nil,
  ): String

  /** Bind order for the insert statement's `?` params, expressed as
    * column names (a column may repeat if the SQL references it
    * twice). Default: one param per inserted column.
    */
  def insertParamOrder(
      columns: Seq[String], uniqueKeySets: Seq[Seq[String]] = Nil,
  ): Seq[String] = columns

  /** Read back distinct inserted columns (B3). */
  def getCheckInsertQuery(table: String, columns: Seq[String]): String =
    s"SELECT DISTINCT ${columns.mkString(", ")} FROM $table"

  /** Full scan of pk-as-alias + natural columns (B4). */
  def getRetrieveQuery(
      table: String, key: String, alias: String, columns: Seq[String],
  ): String =
    s"SELECT $key as $alias, ${columns.mkString(", ")} FROM $table"
}

/** `sqlite_connector.py:10-25`: INSERT OR IGNORE with named params. */
object SqliteDialect extends Dialect {
  override def getInsertQuery(
      table: String, columns: Seq[String], uniqueKeySets: Seq[Seq[String]],
  ): String = {
    val cols = columns.mkString(", ")
    val values = columns.map(c => s":$c").mkString(", ")
    s"INSERT OR IGNORE INTO $table ($cols) VALUES ($values)"
  }
}

/** `postgres/postgres_connector.py:13-28`: ON CONFLICT DO NOTHING. */
object PostgresDialect extends Dialect {
  override def getInsertQuery(
      table: String, columns: Seq[String], uniqueKeySets: Seq[Seq[String]],
  ): String = {
    val cols = columns.mkString(", ")
    val values = columns.map(c => s"%($c)s").mkString(", ")
    s"INSERT INTO $table ($cols) VALUES ($values) ON CONFLICT DO NOTHING"
  }
}

/** JDBC-executable Postgres: [[PostgresDialect]] reproduces the
  * reference's psycopg named-param text byte-for-byte for the
  * exact-string parity tests; this variant emits the same statements
  * with `?` placeholders so the [[Connector]] can execute them over
  * pgjdbc (see PostgresSmokeSpec — guard-skipped without a live
  * server, exactly as the reference skips
  * `tests/test_postgres_connector.py:48`).
  */
object PostgresJdbcDialect extends Dialect {
  override def getInsertQuery(
      table: String, columns: Seq[String], uniqueKeySets: Seq[Seq[String]],
  ): String = {
    val cols = columns.mkString(", ")
    val params = columns.map(_ => "?").mkString(", ")
    s"INSERT INTO $table ($cols) VALUES ($params) ON CONFLICT DO NOTHING"
  }
}

/** JDBC-executable SQLite: [[SqliteDialect]] reproduces the
  * reference's named-param text byte-for-byte
  * (`sqlite_connector.py:10-25`) for the exact-string parity tests;
  * this variant emits the same `INSERT OR IGNORE` statement with `?`
  * placeholders so the [[Connector]] can execute it over sqlite-jdbc
  * (see SqliteSmokeSpec — guard-skipped in this environment, which
  * ships no sqlite-jdbc jar, and armed the moment one appears on the
  * classpath).
  */
object SqliteJdbcDialect extends Dialect {
  override def getInsertQuery(
      table: String, columns: Seq[String], uniqueKeySets: Seq[Seq[String]],
  ): String = {
    val cols = columns.mkString(", ")
    val params = columns.map(_ => "?").mkString(", ")
    s"INSERT OR IGNORE INTO $table ($cols) VALUES ($params)"
  }
}

/** Embedded Apache Derby. Conflict-ignore is emulated: a row is
  * skipped when an existing row matches it on any unique constraint
  * whose columns are all being inserted (the same set of conflicts
  * `INSERT OR IGNORE` would suppress). Plain equality matches
  * SQLite's treatment of NULLs in unique columns (never equal, so
  * null-bearing rows always insert).
  */
object DerbyDialect extends Dialect {

  private def applicable(
      columns: Seq[String], uniqueKeySets: Seq[Seq[String]],
  ): Seq[Seq[String]] = uniqueKeySets.filter(_.forall(columns.contains))

  override def getInsertQuery(
      table: String, columns: Seq[String], uniqueKeySets: Seq[Seq[String]],
  ): String = {
    val cols = columns.mkString(", ")
    val params = columns.map(_ => "?").mkString(", ")
    val keySets = applicable(columns, uniqueKeySets)
    if (keySets.isEmpty)
      s"INSERT INTO $table ($cols) VALUES ($params)"
    else {
      // conditional insert via SYSDUMMY1; INSERT target columns give
      // the `?` params their types, key params bind a second time
      val notExists = keySets.map { keys =>
        val cond = keys.map(k => s"$table.$k = ?").mkString(" AND ")
        s"NOT EXISTS (SELECT 1 FROM $table WHERE $cond)"
      }
      s"INSERT INTO $table ($cols) SELECT $params FROM SYSIBM.SYSDUMMY1 " +
        s"WHERE ${notExists.mkString(" AND ")}"
    }
  }

  override def insertParamOrder(
      columns: Seq[String], uniqueKeySets: Seq[Seq[String]],
  ): Seq[String] =
    columns ++ applicable(columns, uniqueKeySets).flatten
}
