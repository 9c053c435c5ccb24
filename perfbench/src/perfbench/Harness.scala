package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkInternals, SparkSession}

/** One closed-loop benchmark run in one JVM: set-up rounds, an untimed
  * warm-up, then timed passes over the workload's operations until the
  * run's time is used, one client and one operation at a time. Writes
  * the raw samples (and, when traced, the spans) for `run.py`, which
  * turns them into metrics.
  *
  * {{{
  * Harness --workload board_relational --data <dir> --ops q1_pricing_summary,...
  *   --seconds 10 --trace 0 --out <result.json> --work <scratch dir> --cores 4
  * }}}
  */
object Harness {

  final case class Op(name: String, id: String, wallS: Double, startMs: Long,
      endMs: Long, ok: Boolean, error: String, digest: String, persisted: Int)

  final case class Pass(traced: Boolean, wallS: Double, ops: Seq[Op])

  /** What a workload runs, and the context it runs in. */
  trait Workload {
    /** One set-up round's workload part, after the session exists. */
    def setUp(spark: SparkSession): Unit
    /** Untimed first execution: warms the JVM and records what correct
      * output looks like; returns one message per failed operation.
      */
    def warmUp(spark: SparkSession): Seq[String]
    /** One pass over the operations. */
    def pass(ctx: Context): Seq[Op]
    /** Anything the checker needs besides the samples. */
    def facts: Map[String, Any] = Map.empty
  }

  /** Set-up is timed this many times per run; the first round also pays
    * the JVM's class loading, so the median is a warm round.
    */
  val SetupRounds = 3

  private val opCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** Runs operations under their own job group and tag, times them and
    * releases what they leave cached.
    */
  final class Context(val spark: SparkSession, val tracer: Option[Tracer]) {
    def traced: Boolean = tracer.isDefined

    /** The operation the calling thread is running (its job group). */
    def currentOp(): String = spark.sparkContext.getLocalProperty("spark.jobGroup.id")

    /** Times `body` as operation `name`; `body` returns its output's
      * digest, and `check`, run after the clock stops, returns what is
      * wrong with it, if anything.
      */
    def run(name: String)(body: => String)(check: String => Option[String]): Op = {
      val id = s"${Tracer.TagPrefix}${opCounter.incrementAndGet()}"
      val sc = spark.sparkContext
      sc.setJobGroup(id, name, interruptOnCancel = false)
      sc.addJobTag(id)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result =
        try Right(body)
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      sc.removeJobTag(id)
      sc.clearJobGroup()
      val error = result.fold(Some(_), d =>
        try check(d) catch { case e: Throwable => Some(s"check failed: $e") })
      error.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      Op(name, id, wall, startMs, endMs, error.isEmpty, error.orNull,
        result.toOption.orNull, release(spark))
    }
  }

  /** Counts persisted RDDs and cached plans, then drops them so one
    * operation's leftovers cannot speed up or slow down the next.
    */
  def release(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val n = sc.getPersistentRDDs.size + SparkInternals.cachedPlans(spark)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    n
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val data = a("data")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val ops = a.get("ops").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    if (workloadName == "train") {
      // loads the classes every workload uses, for the build's
      // class-data-sharing archive; nothing is timed
      val spark = session(cores, work)
      new StarLoad(data).setUp(spark)
      val board = new Board(data, ops, s"$work/export")
      board.setUp(spark)
      board.warmUp(spark)
      spark.stop()
      sys.exit(0)
    }
    val workload: Workload = workloadName match {
      case "load_star" => new StarLoad(data)
      case _ => new Board(data, ops, s"$work/export")
    }

    // set-up rounds: a new SparkContext and session, the inputs
    // resolved and the workload's own preparation; all but the last
    // session are stopped again
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupRounds).foreach { r =>
      val t0 = System.nanoTime()
      spark = session(cores, work)
      Board.Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
      workload.setUp(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (r < SetupRounds) spark.stop()
    }

    val warmFailures = workload.warmUp(spark)
    warmFailures.foreach(f => System.err.println(s"[perfbench] warm-up: $f"))

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val plain = new Context(spark, None)
    val traced = new Context(spark, tracer)
    val passes = ArrayBuffer.empty[Pass]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // traced runs alternate untraced and traced passes, so the tracer's
    // overhead is measured against the same process and inputs
    while (elapsed < seconds || passes.size < (if (trace) 2 else 1)) {
      val ctx = if (trace && passes.size % 2 == 1) traced else plain
      ctx.tracer.foreach(_.attach())
      val t0 = System.nanoTime()
      val ops = workload.pass(ctx)
      val wall = (System.nanoTime() - t0) / 1e9
      ctx.tracer.foreach(_.detach())
      passes += Pass(ctx.traced, wall, ops)
    }

    spark.streams.active.foreach(_.stop())
    tracer.foreach(_.write(Paths.get(s"$work/spans.jsonl")))
    val result = Json.obj(
      "setup_s" -> setupS.toSeq,
      "warmup_failures" -> warmFailures,
      "rss_peak_mb" -> vmHwmMb(),
      "facts" -> workload.facts,
      "passes" -> passes.toSeq.map(p => Map(
        "traced" -> p.traced, "wall_s" -> p.wallS,
        "ops" -> p.ops.map(o => Map(
          "name" -> o.name, "id" -> o.id, "wall_s" -> o.wallS,
          "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok,
          "error" -> o.error, "persisted" -> o.persisted)))))
    Files.write(Paths.get(a("out")), Seq(result).asJava)
    spark.stop()
    // operator thread pools may hold non-daemon threads
    sys.exit(0)
  }

  /** Peak resident set of this process, from `/proc/self/status`. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
