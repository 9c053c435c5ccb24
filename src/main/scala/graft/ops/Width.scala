package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** How wide a stage runs. */
object Width {

  /** `df` hash-partitioned by `key` into the session's
    * `defaultParallelism` partitions when it arrives in fewer, else
    * `df` unchanged.
    *
    * For a stage whose work per input row dwarfs the scan — a
    * per-char explode, a nested-loop join, a per-pair fold — the
    * scan's split count bounds the whole stage: one small parquet file
    * is ONE task (measured 1.5-2.3 s single-task stages on the gates).
    * Scale-adaptive, not a constant: a scan that already fans out to
    * at least the session's cores (any real corpus under
    * maxPartitionBytes) is never re-shuffled.
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df
    else df.repartition(cores, col(key))
  }
}
