package graft.streaming

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Tasks of this spec run in the test JVM (local mode), so they can
  * signal the test through a shared latch.
  */
private object ReplaySignals {
  @volatile var taskStarted = new CountDownLatch(1)
}

/** Replay-harness hygiene + the foreachBatch replay path: one replay
  * invocation must leave exactly ONE live dir (the sink) in its temp
  * root — staging dirs, the input dir, and the checkpoint are reaped
  * eagerly (the root itself reaps at JVM exit, since the returned
  * frame reads the sink lazily). A failed replay leaves nothing: no
  * root, no running query, no changed session conf.
  */
class ReplaySpec extends AnyFunSuite with SparkSpec {

  /** The replay root behind a replay's result: its sink files live in
    * `root/out`.
    */
  private def rootOf(out: DataFrame): File =
    new File(new URI(out.inputFiles.head)).getParentFile.getParentFile

  /** The scratch base, named by a good replay's root. */
  private lazy val scratchBase: Path = {
    import spark.implicits._
    rootOf(Replay.replayBatches(spark, Seq(Seq(1L).toDF("id")), identity))
      .getParentFile.toPath
  }

  private def replayRoots(): Set[Path] = {
    val s = Files.list(scratchBase)
    try s.iterator.asScala
      .filter(_.getFileName.toString.startsWith("graft_replay_")).toSet
    finally s.close()
  }

  test("a replay leaves exactly the sink dir in its temp root") {
    import spark.implicits._
    val ev = Seq(
      Streams.EventRow(1L, new Timestamp(1000000L), 1L, "a", 1.0, ""),
      Streams.EventRow(2L, new Timestamp(2000000L), 1L, "b", 2.0, ""),
      Streams.EventRow(3L, new Timestamp(7200000L), 2L, "a", 3.0, "")).toDF()
    val a = Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("id", "v")
    val bytes = (text: String) => text.getBytes(UTF_8)

    // one row per staging shape: what it runs, and the rows it returns
    val shapes: Seq[(String, () => DataFrame, Long)] = Seq(
      ("EventRow batch plus sentinels, Append file sink",
        () => Replay.sessionizeReplay(spark, ev, gapMinutes = 30), 2L),
      ("EventRow batches, foreachBatch Update",
        () => Replay.ewmaReplay(spark, ev, alpha = 0.5), 2L),
      ("generic batches, foreachBatch Complete",
        () => Replay.replayBatchesComplete(spark,
          Seq(a.filter(col("id") < 3), a.filter(col("id") >= 3)),
          _.groupBy(col("v")).count()), 2L),
      ("generic batches, Append file sink",
        () => Replay.replayBatches(spark,
          Seq(a.filter(col("id") < 3), a.filter(col("id") >= 3)),
          _.filter(col("v") === "y")), 2L),
      ("two sources",
        () => Replay.replayBatches2(spark, Seq(a.filter(col("id") < 3)),
          Seq(a.filter(col("id") >= 3)), (x, y) => x.union(y)), 3L),
      ("raw text shards",
        () => Replay.replayRawText(spark, Seq(bytes("p\nq\n"), bytes("r\n")),
          Map.empty, identity), 3L),
      ("raw JSON shards",
        () => Replay.replayRawJson(spark,
          Seq(bytes("{\"id\": 1}\n"), bytes("{\"id\": 2}\n")),
          StructType(Seq(StructField("id", LongType))), Map.empty, identity), 2L),
      ("raw binary shards",
        () => Replay.replayRawBinary(spark, Seq(Array[Byte](1, 2), Array[Byte](3)),
          ".bin", _.select(col("length"))), 2L))

    val outs = shapes.map { case (shape, replay, rows) =>
      val out = replay()
      assert(out.count() == rows, shape)
      val root = rootOf(out)
      assert(root.getName.startsWith("graft_replay_"), s"$shape: $root")
      assert(root.list().toSeq == Seq("out"),
        s"$shape left non-sink entries in $root: ${root.list().mkString(", ")}")
      shape -> out
    }.toMap

    // the two-batch split (mid-ts cut at 4100000 ms) puts user 1's two
    // events in batch 1 and user 2's in batch 2; the final fold must
    // equal the batch EWMA regardless
    val rows = outs("EventRow batches, foreachBatch Update").orderBy("user_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .toSeq === Seq((1L, 2L, 1.5), (2L, 1L, 3.0)))
  }

  test("the generic-schema replay honors the same cleanup invariant") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("id", "v")
    val out = Replay.replayBatches(spark,
      Seq(a.filter(col("id") < 3), a.filter(col("id") >= 3)),
      src => src.filter(col("v") === "y").select(col("id")))
    assert(out.as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    val root = new java.io.File(new java.net.URI(out.inputFiles.head))
      .getParentFile.getParentFile
    val live = root.listFiles().map(_.getName).filterNot(_ == "out")
    assert(live.isEmpty,
      s"replayBatches left non-sink entries in ${root}: ${live.mkString(", ")}")
  }

  test("complete-mode replay folds mergeable state across batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq(("a", 10L), ("a", 30L), ("b", 5L), ("a", 20L), ("b", 7L))
      .toDF("k", "cents")
    val out = Replay.replayBatchesComplete(spark,
      Seq(rows.limit(3), rows.exceptAll(rows.limit(3))),
      df => graft.ops.IncrementalAgg.stats(df, Seq("k"), col("cents")))
    // the final snapshot equals the batch aggregate over ALL rows,
    // whichever batch each row landed in
    val got = out.collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("a")._1 == 3L && got("a")._2 == 60L)
    assert(got("b") == (2L, 12L, 5L, 7L))
    val root = new java.io.File(new java.net.URI(out.inputFiles.head))
      .getParentFile.getParentFile
    val live = root.listFiles().map(_.getName).filterNot(_ == "out")
    assert(live.isEmpty,
      s"replayBatchesComplete left non-sink entries: ${live.mkString(", ")}")
  }

  test("a failed replay stops its query, deletes its root and restores the session conf") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.minBatchesToRetain",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    // a value the replay overrides, so that restoring it shows
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val confBefore = keys.map(k => k -> spark.conf.getOption(k))
      val rootsBefore = replayRoots()
      val e = intercept[StreamingQueryException](Replay.replayBatches(spark,
        Seq(a.filter(col("id") < 2), a.filter(col("id") >= 2)),
        _.select(col("id"),
          when(col("id") === 2L, raise_error(lit("bad row 2"))).as("boom"))))
      assert(e.getMessage.contains("bad row 2"), e.getMessage)
      assert(replayRoots() -- rootsBefore == Set.empty)
      assert(spark.streams.active.isEmpty)
      assert(keys.map(k => k -> spark.conf.getOption(k)) == confBefore)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("an interrupted replay stops its query and deletes its root") {
    import spark.implicits._
    val rootsBefore = replayRoots()
    ReplaySignals.taskStarted = new CountDownLatch(1)
    val sleepy = udf { (id: Long) =>
      ReplaySignals.taskStarted.countDown()
      Thread.sleep(60000)
      id
    }
    val failure = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try Replay.replayBatches(spark, Seq(Seq(1L).toDF("id")),
        _.select(sleepy(col("id")).as("id")))
      catch { case t: Throwable => failure.set(t) })
    caller.start()
    // a task of the first micro-batch runs: the caller waits in
    // awaitTermination
    assert(ReplaySignals.taskStarted.await(60, TimeUnit.SECONDS))
    val t0 = System.nanoTime()
    caller.interrupt()
    caller.join(60000)
    assert(!caller.isAlive && (System.nanoTime() - t0) / 1e9 < 30,
      "the replay ran its sleeping task out")
    assert(failure.get.isInstanceOf[InterruptedException], failure.get)
    assert(spark.streams.active.isEmpty)
    assert(replayRoots() -- rootsBefore == Set.empty)
  }

  test("only Replay's runner starts a streaming query") {
    val replay = Paths.get("src/main/scala/graft/streaming/Replay.scala")
    val text = Files.readString(replay)
    val from = text.indexOf("  private def run(")
    assert(from >= 0, "the runner is not in Replay.scala")
    val runner = text.substring(from, text.indexOf("\n  /**", from))
    val main = {
      val s = Files.walk(Paths.get("src/main"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(main.size > 100, "source tree not found from the working directory")
    for (call <- Seq("Trigger.AvailableNow()", "\"checkpointLocation\"",
        ".awaitTermination()")) {
      val hits = main.flatMap { p =>
        val n = Pattern.quote(call).r.findAllMatchIn(Files.readString(p)).size
        if (n > 0) Some(p -> n) else None
      }.toMap
      assert(hits == Map(replay -> 1), call)
      assert(runner.contains(call), call)
    }
  }
}
