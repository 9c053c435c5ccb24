package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType

/** Test rows as the loader's driver cascade holds them
  * ([[FrameOps.Held]]), and back.
  */
object HeldRows {

  private def catalyst(rows: Seq[Row], schema: StructType): IndexedSeq[GenericInternalRow] = {
    val convert = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(convert(_).asInstanceOf[GenericInternalRow]).toIndexedSeq
  }

  /** `rows` of `schema` as `Connector.load` holds a collected frame:
    * normalized and deduped, with `spare` free values per row.
    */
  def data(rows: Seq[Row], schema: StructType, spare: Int = 0): FrameOps.Held =
    FrameOps.distinctRows(catalyst(rows, schema), schema, spare)

  /** `rows` of `schema` as a JDBC read returns them. */
  def read(rows: Seq[Row], schema: StructType): FrameOps.Held =
    FrameOps.Held(schema, catalyst(rows, schema))

  /** Held rows as `Row`s of their schema. */
  def rows(held: FrameOps.Held): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(held.schema)
    held.compact.map(toRow(_).asInstanceOf[Row])
  }

  /** `rows` as `Connector.load` holds them, back as `Row`s: each value
    * normalized (−0.0 as 0.0, one NaN), duplicates dropped.
    */
  def normalized(rows: Seq[Row], schema: StructType): Seq[Row] = this.rows(data(rows, schema))

  /** One-partition frame over `rows`. */
  def frameOf(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
}
