package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a whole result: its row count plus the
  * exact sum of one `xxhash64` per row over every column. Hashing all
  * columns means no column can be pruned from the plan, so timing a
  * digest times the full result, unlike `count()`.
  */
object Digest {

  /** `"<rows>:<hash sum>"`; equal results give equal digests whatever
    * their row order or partitioning.
    */
  def of(df: DataFrame): String = {
    // positional names: results may carry duplicate or odd column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val total = if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1)
    s"${r.getLong(0)}:${total.toPlainString}"
  }

  /** Spark refuses to hash maps; a map-bearing value hashes as its JSON
    * text instead, which still reads every key and value.
    */
  private def hashable(c: Column, t: DataType): Column =
    if (hasMap(t)) to_json(c) else c

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
