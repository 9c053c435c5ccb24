package graft.connector

import java.sql.{Connection, PreparedStatement, ResultSet, Types}

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.ops.FrameOps

/** DataFrame ↔ single-JDBC-connection bridging.
  *
  * Why not `spark.read.jdbc` / `df.write.jdbc`: the reference's
  * all-or-nothing guarantee (rollback on failed validation,
  * `sqlite_connector.py:197-204`, README.md:70-71) requires every
  * statement to run inside ONE transaction on one connection. Spark's
  * JDBC source opens its own connections and commits per partition,
  * which would break that contract and, for Derby in-memory DBs, not
  * see uncommitted state. Rows crossing this boundary are deduped
  * dimension rows (small by construction). The loader reads a table
  * with [[readQuery]] into Catalyst rows on the driver, and its checks
  * (D1, the id guard, the final compare), the choice of rows to insert
  * and the id threading run there over those values; [[batchInsert]]
  * binds its parameters from the same values.
  */
object JdbcFrames {

  /** Execute a query on the transaction's connection and materialize
    * the result as a (small) DataFrame (B6).
    */
  def queryToDataFrame(
      spark: SparkSession,
      conn: Connection,
      sql: String,
      lowercaseLabels: Boolean = false,
  ): DataFrame = {
    FrameOps.frameOf(spark, readQuery(conn, sql, lowercaseLabels))
  }

  /** The rows [[queryToDataFrame]] reads, as Catalyst rows still on
    * the driver, each value converted as Spark converts it in the
    * active `SQLConf` — for callers that key or count them there.
    *
    * CHAR/NCHAR values lose their trailing pad spaces: Derby pads a
    * `CHAR(5)` value 'NL' to 'NL   ' on read, and SQL compares CHAR
    * values pad-insensitively, so the frame's 'NL' is the value stored.
    *
    * With `maxRows` above 0, the read stops after that many rows.
    */
  private[graft] def readQuery(
      conn: Connection, sql: String, lowercaseLabels: Boolean, maxRows: Int = 0,
  ): FrameOps.Held =
    // a statement that fails because its connection died throws on
    // close too; Using keeps the first failure and suppresses that one
    Using.resource(conn.createStatement()) { st =>
      st.setMaxRows(maxRows)
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val n = md.getColumnCount
      val fields = (1 to n).map { i =>
        // Derby folds unquoted identifiers/aliases to upper case; the
        // loader's column names are lower-case throughout
        val label = md.getColumnLabel(i)
        StructField(if (lowercaseLabels) label.toLowerCase else label,
          jdbcToSpark(md.getColumnType(i), md.getPrecision(i), md.getScale(i)),
          nullable = true)
      }
      val padded = (1 to n).map { i =>
        val t = md.getColumnType(i)
        t == Types.CHAR || t == Types.NCHAR
      }
      val toCatalyst = fields.map(f => CatalystTypeConverters.createToCatalystConverter(f.dataType))
      val rows = mutable.ArrayBuffer.empty[GenericInternalRow]
      while (rs.next()) {
        rows += new GenericInternalRow(Array.tabulate[Any](n) { i =>
          val v = readValue(rs, i + 1, fields(i).dataType)
          toCatalyst(i)(if (padded(i) && v != null) trimPad(v.asInstanceOf[String]) else v)
        })
      }
      rs.close()
      FrameOps.Held(StructType(fields), rows.toIndexedSeq)
    }

  /** Batch-execute a parameterized insert for every row of `rows`
    * (B5 — the reference's `cursor.executemany`, `connector.py:212`).
    * Parameter i binds the field of `schema` named `columns(i)`.
    */
  def batchInsert(
      conn: Connection, sql: String, rows: Seq[Row], schema: StructType,
      columns: Seq[String],
  ): Unit = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    batchInsert(conn, sql, FrameOps.Held(schema,
      rows.map(toCatalyst(_).asInstanceOf[GenericInternalRow]).toIndexedSeq), columns)
  }

  /** [[batchInsert]] of rows the loader holds: parameter i binds the
    * column of `rows` named `columns(i)`, its Catalyst value converted
    * as `collect` would return it.
    */
  private[graft] def batchInsert(
      conn: Connection, sql: String, rows: FrameOps.Held, columns: Seq[String],
  ): Unit = {
    val fields = columns.map(rows.schema.fieldIndex)
    val at = fields.map(rows.at).toArray
    val toJdbc = fields.map(f => CatalystTypeConverters.createToScalaConverter(rows.schema(f).dataType))
      .toArray
    Using.resource(conn.prepareStatement(sql)) { ps =>
      rows.rows.foreach { row =>
        at.indices.foreach(i => bind(ps, i + 1, toJdbc(i)(row.values(at(i)))))
        ps.addBatch()
      }
      ps.executeBatch()
    }
  }

  private def bind(ps: PreparedStatement, idx: Int, v: Any): Unit = v match {
    case null                      => ps.setObject(idx, null)
    case s: String                 => ps.setString(idx, s)
    case i: Int                    => ps.setInt(idx, i)
    case l: Long                   => ps.setLong(idx, l)
    case d: Double                 => ps.setDouble(idx, d)
    case f: Float                  => ps.setFloat(idx, f)
    case b: Boolean                => ps.setBoolean(idx, b)
    case b: java.math.BigDecimal   => ps.setBigDecimal(idx, b)
    case b: scala.math.BigDecimal  => ps.setBigDecimal(idx, b.bigDecimal)
    case d: java.sql.Date          => ps.setDate(idx, d)
    case t: java.sql.Timestamp     => ps.setTimestamp(idx, t)
    case s: Short                  => ps.setShort(idx, s)
    case b: Byte                   => ps.setByte(idx, b)
    case a: Array[Byte]            => ps.setBytes(idx, a)
    case other                     => ps.setObject(idx, other)
  }

  /** Spark type of a result column. DECIMAL/NUMERIC keep the
    * column's own precision and scale (clamped to Spark's 38 digits);
    * only a driver that reports no precision gets `decimal(38,18)`.
    */
  private def jdbcToSpark(t: Int, precision: Int, scale: Int): DataType = t match {
    case Types.INTEGER | Types.SMALLINT | Types.TINYINT => IntegerType
    case Types.BIGINT                                   => LongType
    case Types.DOUBLE | Types.FLOAT | Types.REAL        => DoubleType
    case Types.DECIMAL | Types.NUMERIC if precision <= 0 => DecimalType(38, 18)
    case Types.DECIMAL | Types.NUMERIC =>
      val p = math.min(precision, DecimalType.MAX_PRECISION)
      DecimalType(p, math.min(math.max(scale, 0), p))
    case Types.BOOLEAN | Types.BIT                      => BooleanType
    case Types.DATE                                     => DateType
    case Types.TIMESTAMP                                => TimestampType
    case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY => BinaryType
    case _                                              => StringType
  }

  /** `s` without its trailing spaces. */
  private def trimPad(s: String): String = {
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == ' ') end -= 1
    s.substring(0, end)
  }

  private def readValue(rs: ResultSet, i: Int, dt: DataType): Any = {
    val v: Any = dt match {
      case IntegerType      => rs.getInt(i)
      case LongType         => rs.getLong(i)
      case DoubleType       => rs.getDouble(i)
      case _: DecimalType   => rs.getBigDecimal(i)
      case BooleanType      => rs.getBoolean(i)
      case DateType         => rs.getDate(i)
      case TimestampType    => rs.getTimestamp(i)
      case BinaryType       => rs.getBytes(i)
      case _                => rs.getString(i)
    }
    if (rs.wasNull()) null else v
  }
}
