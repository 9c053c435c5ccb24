package graft.connector

import java.sql.{Connection, PreparedStatement, ResultSet, Types}

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** DataFrame ↔ single-JDBC-connection bridging.
  *
  * Why not `spark.read.jdbc` / `df.write.jdbc`: the reference's
  * all-or-nothing guarantee (rollback on failed validation,
  * `sqlite_connector.py:197-204`, README.md:70-71) requires every
  * statement to run inside ONE transaction on one connection. Spark's
  * JDBC source opens its own connections and commits per partition,
  * which would break that contract and, for Derby in-memory DBs, not
  * see uncommitted state. Rows crossing this boundary are deduped
  * dimension rows (small by construction); the bulk work — joins,
  * dedup, the final compare — stays distributed in Spark. The
  * per-insert check (D1) reads its table back with [[readQuery]] and
  * compares on the driver, where the inserted rows already are.
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
    val (rows, schema) = readQuery(conn, sql, lowercaseLabels)
    frameOf(spark, rows, schema)
  }

  /** The rows and schema [[queryToDataFrame]] reads, still on the
    * driver — for callers that also need facts the driver already
    * holds, such as the row count.
    *
    * CHAR/NCHAR values lose their trailing pad spaces: Derby pads a
    * `CHAR(5)` value 'NL' to 'NL   ' on read, and SQL compares CHAR
    * values pad-insensitively, so the frame's 'NL' is the value stored.
    */
  private[graft] def readQuery(
      conn: Connection, sql: String, lowercaseLabels: Boolean,
  ): (Seq[Row], StructType) =
    // a statement that fails because its connection died throws on
    // close too; Using keeps the first failure and suppresses that one
    Using.resource(conn.createStatement()) { st =>
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
      val rows = mutable.ArrayBuffer.empty[Row]
      while (rs.next()) {
        rows += Row.fromSeq((1 to n).map { i =>
          val v = readValue(rs, i, fields(i - 1).dataType)
          if (padded(i - 1) && v != null) trimPad(v.asInstanceOf[String]) else v
        })
      }
      rs.close()
      (rows.toSeq, StructType(fields))
    }

  /** One-partition frame over driver-held rows (B6's materialization). */
  private[graft] def frameOf(
      spark: SparkSession, rows: Seq[Row], schema: StructType,
  ): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** Committed-snapshot parallel table read (the scale companion to
    * [[queryToDataFrame]]): Spark's distributed JDBC source, one
    * connection per partition, range-split on `partitionColumn`
    * (bounds probed with a single MIN/MAX query). Runs OUTSIDE any
    * loader transaction — each partition connection sees only
    * COMMITTED data, so use it for very large retrieve targets after
    * a committed load; the single-connection [[queryToDataFrame]]
    * remains the path with in-transaction visibility. On a real
    * cluster this is the difference between one driver-side ResultSet
    * and N executors each pulling a key range.
    */
  def readTableParallel(
      spark: SparkSession, url: String, table: String,
      partitionColumn: Option[String] = None, numPartitions: Int = 8,
      lowercaseLabels: Boolean = true,
  ): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    val df = partitionColumn match {
      case Some(pc) =>
        // bounds probe. `pc`/`table` are interpolated verbatim —
        // callers with quoted/mixed-case identifiers must pass them
        // pre-quoted for their dialect (as with `dbtable` itself).
        val c = java.sql.DriverManager.getConnection(url)
        try {
          val st = c.createStatement()
          val rs = st.executeQuery(s"SELECT MIN($pc), MAX($pc) FROM $table")
          rs.next()
          // Spark's JDBC source supports numeric, date, and timestamp
          // partition columns; pick the bound representation by the
          // probed JDBC type instead of assuming integral
          val integral = Set(Types.INTEGER, Types.BIGINT, Types.SMALLINT,
            Types.TINYINT, Types.DECIMAL, Types.NUMERIC)
          val temporal = Set(Types.DATE, Types.TIMESTAMP)
          val jdbcType = rs.getMetaData.getColumnType(1)
          val bounds: Option[(String, String)] =
            if (integral(jdbcType)) {
              val lo = rs.getLong(1)
              val loNull = rs.wasNull()
              val hi = rs.getLong(2)
              if (loNull) None
              else Some((lo.toString, math.max(hi, lo + 1).toString))
            } else if (temporal(jdbcType)) {
              val lo = rs.getString(1)
              val hi = rs.getString(2)
              if (lo == null || lo == hi) None // empty or single-instant: no range
              else Some((lo, hi))
            } else throw new IllegalArgumentException(
              s"partition column $pc must be integral, date, or timestamp " +
                s"(jdbc type $jdbcType); use partitionColumn = None for other types")
          rs.close(); st.close()
          bounds match {
            case None => base.load() // empty table: no range to split
            case Some((lo, hi)) => base
              .option("partitionColumn", pc)
              .option("lowerBound", lo)
              .option("upperBound", hi)
              .option("numPartitions", numPartitions)
              .load()
          }
        } finally c.close()
      case None => base.load()
    }
    if (lowercaseLabels) df.toDF(df.columns.map(_.toLowerCase): _*) else df
  }

  /** Batch-execute a parameterized insert for every row of `rows`
    * (B5 — the reference's `cursor.executemany`, `connector.py:212`).
    * Parameter i binds the field of `schema` named `columns(i)`.
    */
  def batchInsert(
      conn: Connection, sql: String, rows: Seq[Row], schema: StructType,
      columns: Seq[String],
  ): Unit = {
    val fields = columns.map(schema.fieldIndex)
    Using.resource(conn.prepareStatement(sql)) { ps =>
      rows.foreach { row =>
        fields.zipWithIndex.foreach { case (f, i) => bind(ps, i + 1, row.get(f)) }
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
