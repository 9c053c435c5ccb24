package graft.ops

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.SparkSession

/** Overlaps independent driver-side job chains. An eager chain (a
  * codebook training, a graph build with per-round checkpoints) is
  * bound by job round trips, not by executor work, so running
  * independent chains at once lets their jobs back-fill each other's
  * idle slots. Plans and arithmetic stay exactly the sequential ones:
  * only the driver-side scheduling overlaps.
  */
object Overlap {

  private val calls = new AtomicLong

  /** Runs each branch on its own daemon thread, under its own job
    * group, and returns the results in branch order once every branch
    * has finished. When a branch fails, the other branches' running
    * and future jobs are cancelled, and the first failure is rethrown
    * once every branch has stopped: no job of the call outlives it.
    */
  def all[A](spark: SparkSession)(branches: (() => A)*): Seq[A] = {
    val sc = spark.sparkContext
    val groups = branches.indices.map(i => s"graft-overlap-${calls.incrementAndGet()}-$i")
    val results = new Array[Any](branches.size)
    val failure = new AtomicReference[Throwable]
    val threads = branches.indices.map { i =>
      val th = new Thread(() => {
        sc.setJobGroup(groups(i), s"overlap branch $i", interruptOnCancel = true)
        try results(i) = branches(i)()
        catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e))
              groups.filter(_ != groups(i)).foreach(sc.cancelJobGroupAndFutureJobs)
        }
      }, groups(i))
      th.setDaemon(true)
      th
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[A]]
  }
}
