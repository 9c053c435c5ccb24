package graft.ops

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBus
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** Tasks of this spec run in the test JVM (local mode), so they can
  * signal the driver through a shared latch.
  */
private object OverlapSignals {
  @volatile var started = new CountDownLatch(1)
}

/** [[Overlap.all]]: where its branches run, and that a failure stops
  * the whole call rather than leaving a sibling's jobs behind.
  */
class OverlapSpec extends AnyFunSuite with SparkSpec {

  private val group = "spark.jobGroup.id"

  test("branches run on daemon threads, each under its own job group, results in branch order") {
    val seen = Overlap.all(spark)((0 until 3).map { i => () =>
      spark.range(10).count()
      (i, Thread.currentThread.isDaemon, spark.sparkContext.getLocalProperty(group))
    }: _*)
    assert(seen.map(_._1) == Seq(0, 1, 2))
    assert(seen.forall(_._2))
    assert(seen.map(_._3).forall(_ != null) && seen.map(_._3).distinct.size == 3, seen)
    assert(spark.sparkContext.getLocalProperty(group) == null)
  }

  test("a failing branch cancels a sibling's running job, and its own error is raised") {
    val sc = spark.sparkContext
    val ends = new ConcurrentLinkedQueue[(Int, Boolean)]()
    val starts = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add((e.jobId, e.properties.getProperty(group)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.add((e.jobId, e.jobResult.isInstanceOf[JobFailed]))
    }
    sc.addSparkListener(listener)
    OverlapSignals.started = new CountDownLatch(1)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException](Overlap.all(spark)(
        () => sc.parallelize(1 to 2, 2).map { x =>
          OverlapSignals.started.countDown()
          Thread.sleep(60000)
          x
        }.count(),
        () => {
          assert(OverlapSignals.started.await(30, TimeUnit.SECONDS))
          throw new IllegalStateException("branch 1 fails")
        }))
      assert(e.getMessage == "branch 1 fails")
      assert((System.nanoTime() - t0) / 1e9 < 30, "the sibling ran its job out")
      // the scheduler posts a job's end just after it wakes the job's
      // caller, so the end may still be on its way
      eventually(timeout(10.seconds)) {
        ListenerBus.drain(sc)
        val sleeper = starts.asScala.filter(_._2.endsWith("-0")).map(_._1).toSeq
        assert(sleeper.size == 1, starts)
        assert(ends.asScala.toSeq.contains((sleeper.head, true)), ends)
        assert(sc.statusTracker.getActiveJobIds().isEmpty)
      }
    } finally sc.removeSparkListener(listener)
  }

  test("src/main starts no thread pool of its own") {
    val s = Files.walk(Paths.get("src/main"))
    val offenders =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).filter { p =>
        val text = Files.readString(p)
        text.contains("Executors.new") || text.contains("ExecutionContext.from")
      }.map(_.toString).toList
      finally s.close()
    assert(offenders.isEmpty, offenders)
  }
}
