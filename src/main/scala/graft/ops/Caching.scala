package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Loan-style cache lifecycle for the "shared scan" pattern: an
  * intermediate frame feeds two or more consumers inside one query
  * (a census and its grand total, a corpus slice and its group
  * stats), so it is persisted to make the source scan happen once —
  * but the persist must not outlive the query. A bare `.persist()`
  * on a frame inside a lazily-returned plan has exactly that defect:
  * the entry lives in the session's CacheManager until someone calls
  * `clearCache()`, and a long-lived session (a notebook, a
  * multi-query driver) accumulates dead MEMORY_AND_DISK entries
  * until LRU eviction wastes the materializations.
  *
  * [[withPersisted]] scopes the cache to the computation: persist
  * the loaned frame(s), build the result, force it eagerly with
  * `localCheckpoint(eager = true)` (the result no longer references
  * the loaned lineage), then unpersist. After the call returns, the
  * CacheManager holds nothing from the loan.
  *
  * The result must be terminal and SMALL relative to the loaned
  * scan (top-k rows, flagged outliers, per-group stats) — it is
  * materialized to executor-local blocks. Those blocks free when the
  * returned frame is garbage-collected (ContextCleaner), i.e. they
  * live exactly as long as the caller holds the result — loan
  * semantics end-to-end. 100 TB caveat: localCheckpoint blocks are
  * NOT replicated; an executor loss while the result is still
  * referenced fails the read (lineage is truncated by design). For a
  * k-row result that risk costs a query retry; do not loan a
  * corpus-sized result through this helper.
  */
object Caching {

  def withPersisted(frame: DataFrame)(body: DataFrame => DataFrame): DataFrame =
    withPersistedAll(Seq(frame))(fs => body(fs.head))

  def withPersisted(a: DataFrame, b: DataFrame)(
      body: (DataFrame, DataFrame) => DataFrame): DataFrame =
    withPersistedAll(Seq(a, b))(fs => body(fs(0), fs(1)))

  def withPersistedAll(frames: Seq[DataFrame])(
      body: Seq[DataFrame] => DataFrame): DataFrame = {
    val loaned = frames.map(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      val result = body(loaned)
      lastPlan.set(result.queryExecution.executedPlan.toString)
      result.localCheckpoint(true)
    } finally loaned.foreach(_.unpersist(false))
  }

  /** Executed plan of the most recent loan body on this thread,
    * CONSUMED on read: the slot clears so a plan-shape guard can
    * never validate a stale plan from an earlier loan on the same
    * thread — a second read before the next loan returns "". After
    * the eager localCheckpoint the returned frame plans as `Scan
    * ExistingRDD`, so plan-shape guards (PlanGuardSpec) read the
    * loaned body's physical plan here instead. Capturing costs one
    * plan render per loan — noise next to the materialization the
    * loan already performs.
    */
  private[graft] def lastLoanPlan: String = {
    val p = Option(lastPlan.get).getOrElse("")
    lastPlan.remove()
    p
  }
  private val lastPlan = new ThreadLocal[String]

  /** The checkpointed RDD behind a `localCheckpoint`ed frame — the
    * handle `unpersist` must target (the Dataset itself has no
    * CacheManager entry). None for frames that are not a plain
    * LogicalRDD scan.
    */
  private[graft] def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
