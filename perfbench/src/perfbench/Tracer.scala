package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkInternals, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. Every operation runs under its own
  * job group and job tag (both set to the operation id); Spark events
  * are attributed by the tag or group they carry, never by which
  * operation happens to be running when the event is delivered, so
  * late events from the asynchronous listener bus land on the right
  * operation. Spans stay in memory until [[write]].
  *
  * Sources: a `SparkListener` (jobs, tasks, SQL execution starts), a
  * `QueryExecutionListener` (Catalyst phase times from each query's
  * `QueryPlanningTracker`), a `StreamingQueryListener` (micro-batch
  * phase times) and [[JdbcTrace]] (statements on the loader's
  * connection).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[String]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val execOp = new ConcurrentHashMap[Long, String]()
  private val qeExec = new ConcurrentHashMap[Long, java.lang.Long]()
  private val runOp = new ConcurrentHashMap[String, String]()
  // spans whose operation is known only once the bus has caught up
  private val qeSpans = new ConcurrentLinkedQueue[(Long, Seq[(String, Any)])]()
  private val streamSpans = new ConcurrentLinkedQueue[(String, Seq[(String, Any)])]()
  @volatile private var attached = false

  def emit(kind: String, fields: (String, Any)*): Unit =
    spans.add(Json.obj(("kind" -> kind) +: fields: _*))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      opOf(e.properties).foreach { op =>
        jobStart.put(e.jobId, (op, e.time))
        e.stageIds.foreach(stageOp.put(_, op))
        // a streaming batch runs under its query's run id as job group
        Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
          .filter(_ != op).foreach(runOp.putIfAbsent(_, op))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        emit("job", "op" -> op, "start_ms" -> t0, "end_ms" -> e.time)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      opOf(e.properties).foreach(stageOp.put(e.stageInfo.stageId, _))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.get(e.stageId)
      if (op != null && e.taskInfo != null) {
        val m = e.taskMetrics
        val (run, gc, shw, spill) =
          if (m == null) (0L, 0L, 0L, 0L)
          else (m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)
        emit("task", "op" -> op, "stage" -> e.stageId,
          "start_ms" -> e.taskInfo.launchTime, "end_ms" -> e.taskInfo.finishTime,
          "run_ms" -> run, "gc_ms" -> gc, "shuffle_write_bytes" -> shw,
          "spill_bytes" -> spill)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.find(_.startsWith(TagPrefix)).orElse(s.jobGroupId)
          .foreach(execOp.put(s.executionId, _))
      // a QueryExecution's own id is not its execution id; the end
      // event carries both
      case s: SparkListenerSQLExecutionEnd =>
        SparkInternals.queryExecutionId(s).foreach(qeExec.put(_, Long.box(s.executionId)))
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      qeSpans.add((qe.id, Seq("analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      e.jobTags.find(_.startsWith(TagPrefix)).foreach(runOp.put(e.runId.toString, _))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
      streamSpans.add((e.progress.runId.toString, Seq(
        "batch" -> e.progress.batchId, "trigger_ms" -> ms("triggerExecution"),
        "add_batch_ms" -> ms("addBatch"), "query_planning_ms" -> ms("queryPlanning"),
        "wal_commit_ms" -> ms("walCommit"))))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Detaches after the bus has delivered everything already posted. */
  def detach(): Unit = if (attached) {
    SparkInternals.drainBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Writes every span as one JSON line. Catalyst and streaming spans
    * take their operation from the execution or run they belong to.
    */
  def write(path: java.nio.file.Path): Unit = {
    detach()
    qeSpans.asScala.foreach { case (qe, f) =>
      Option(qeExec.get(qe)).flatMap(e => Option(execOp.get(e.longValue)))
        .foreach(op => emit("qe", ("op" -> op) +: f: _*))
    }
    streamSpans.asScala.foreach { case (run, f) =>
      Option(runOp.get(run)).foreach(op => emit("stream", ("op" -> op) +: f: _*))
    }
    java.nio.file.Files.write(path, spans.asScala.toSeq.asJava)
  }
}

object Tracer {
  val TagPrefix = "perfbench-op-"
  private val GroupKey = "spark.jobGroup.id"
  private val TagsKey = "spark.job.tags"

  /** The operation an event belongs to: our tag if the event carries
    * one (streaming batches inherit it from the operation's thread),
    * else its job group.
    */
  def opOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap { props =>
      Option(props.getProperty(TagsKey)).toSeq
        .flatMap(_.split(',')).find(_.startsWith(TagPrefix))
        .orElse(Option(props.getProperty(GroupKey)))
    }
}
