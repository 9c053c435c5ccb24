package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}

/** Bounded replay of a parquet slice THROUGH the streaming engine —
  * the bridge that puts `streaming/Streams.scala` operators under the
  * same hash gate as their batch twins. Batch specs pin stream ≡
  * batch on hand-built micro-batches; this harness runs the real
  * `FileStreamSource → [flat]mapGroupsWithState → parquet sink`
  * pipeline with `Trigger.AvailableNow` over driver testdata, so a
  * `SparkEntry.queries` row can hash the STREAMING engine's output
  * against the DuckDB oracle.
  *
  * Mechanics (and why each step exists):
  *   - the input slice lands in a temp dir as ONE parquet file
  *     (micro-batch 1), optionally followed by single-row sentinel
  *     files with far-future timestamps and negative user ids
  *     (micro-batches 2..n; `maxFilesPerTrigger = 1` + strictly
  *     increasing modification times pin the batch order).
  *   - sentinels exist for TIMEOUT-driven operators (sessionize): a
  *     session closes only when the event-time watermark passes its
  *     gap timeout, and the watermark advances BETWEEN micro-batches
  *     from the previous batch's max event time — so sentinel 1
  *     advances the watermark past the real data and sentinel 2 runs
  *     the batch in which every remaining real session's timeout
  *     fires. Sentinel state itself stays open and is filtered by
  *     `user_id >= 0`. Operators that emit during the data batch
  *     (scd2Stream's closed intervals) replay with no sentinels.
  *   - the sink is a real parquet Append sink (checkpointed), NOT the
  *     in-memory test sink: results never materialize on the driver,
  *     the same shape a production replay job writes.
  *
  * Every replay, whatever it stages, runs through ONE runner
  * ([[run]]): a fresh root under the scratch base; the replay's own
  * staging ([[stageFrames]] for frame batches, [[stageBytes]] for raw
  * shards) and streaming read; a query with a checkpoint and
  * `Trigger.AvailableNow` into either the parquet Append file sink or
  * `foreachBatch`; then the input and the checkpoint are deleted, the
  * root goes to the exit reaper and the sink is read back. Failure
  * contract: when staging, building, `start` or `awaitTermination`
  * throws (a failed or an interrupted query), the runner stops the
  * query if it is still active, deletes the whole root and rethrows —
  * no query keeps running and no scratch outlives the call.
  *
  * Scale note: this is a VERIFICATION harness over a bounded slice
  * (the single-file batch is deliberate — it makes the replay
  * deterministic). A production backfill through the same streaming
  * code keeps the source partitioned and relies on the watermark
  * delay for cross-file disorder instead; the operator under test is
  * identical either way, with per-key O(1) state and timeout-driven
  * eviction.
  */
object Replay {

  /** Session confs pinned for the DURATION of a replay run (saved and
    * restored around each streaming query; MicroBatchExecution
    * captures them at `start()`):
    *   - 4 shuffle partitions: state-store instances per stateful
    *     operator per micro-batch scale with shuffle partitions, and
    *     each instance commits fsync'd delta files per batch — at the
    *     driver's 32-thread session that is 32 commits × batches ×
    *     gates of pure fixed cost over slice-sized data. The override
    *     scopes to THIS harness only (a bounded verification replay);
    *     a production streaming job sizes its own state partitioning.
    *   - minBatchesToRetain=2: the checkpoint is dead the moment the
    *     query terminates (reaped below) — retaining the default 100
    *     batches of state snapshots buys nothing here.
    *   - no-data micro-batches off: every emission in this harness is
    *     driven by a STAGED batch (sentinel files advance the
    *     watermark and fire timeouts/windows by design), so the
    *     trailing no-data batch is a pure extra engine round-trip.
    */
  private val replayConf = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.streaming.minBatchesToRetain" -> "2",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  private def withReplayConf[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.conf
    val saved = replayConf.map { case (k, _) => k -> conf.getOption(k) }
    replayConf.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Scratch base for a replay's ephemeral dirs (staged input,
    * checkpoint, sink). Everything under a replay root is dead by the
    * JVM's exit at the latest (input + checkpoint are reaped the
    * moment the query terminates, the sink at exit), so durability
    * buys nothing — when a RAM-backed tmpfs is present the scratch
    * goes there, taking the checkpoint WAL's per-micro-batch fsyncs
    * (offsets + commits + state-store deltas + sink manifest, each a
    * sync-to-disk on the default java.io.tmpdir) off the disk path.
    * Measured on the bench box: ~130 ms/batch of offset bookkeeping
    * at disk /tmp. A PRODUCTION streaming job's checkpoint must be
    * durable storage — this harness is a bounded verification replay
    * by contract (see the object scaladoc); override with the system
    * property `-Dgraft.replay.scratch=<dir>` to pin a location, e.g.
    * when /dev/shm is too small for a staged slice.
    */
  private lazy val scratchBase: Path = {
    val pick = sys.props.get("graft.replay.scratch")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm)
        else None
      }
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir")))
    require(Files.isDirectory(pick) && Files.isWritable(pick),
      s"replay scratch $pick is not a writable directory")
    pick
  }
  private def newReplayRoot(): Path =
    Files.createTempDirectory(scratchBase, "graft_replay_")

  /** Where a replay's query writes its output dir `root/out`. */
  private sealed trait Sink
  /** The checkpointed parquet file sink, Append mode. */
  private case object ParquetAppend extends Sink
  /** `foreachBatch` in `outputMode`, each micro-batch written to the
    * output dir with `saveMode`: "overwrite" keeps the last Complete
    * snapshot, "append" accumulates Update emissions.
    */
  private final case class EachBatch(outputMode: String, saveMode: String)
      extends Sink

  /** The one replay runner (see the object scaladoc). `source` stages
    * the replay's inputs under the fresh root it is given and returns
    * the streaming frame to run; the runner streams it into `sink` and
    * returns the sink read back as a DataFrame. The failure cleanup
    * exists because a root that never reaches the exit reaper would
    * outlive the JVM, in RAM when the scratch is /dev/shm.
    */
  private def run(spark: SparkSession, sink: Sink)(
      source: Path => DataFrame): DataFrame = withReplayConf(spark) {
    val root = newReplayRoot()
    val outDir = root.resolve("out").toString
    var query: Option[StreamingQuery] = None
    try {
      val writer = source(root).writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
      query = Some(sink match {
        case ParquetAppend =>
          writer.format("parquet").outputMode("append").start(outDir)
        case EachBatch(outputMode, saveMode) =>
          val write: (Dataset[Row], Long) => Unit =
            (b, _) => b.write.mode(saveMode).parquet(outDir)
          writer.outputMode(outputMode).foreachBatch(write).start()
      })
      query.foreach(_.awaitTermination())
    } catch {
      case e: Throwable =>
        try query.filter(_.isActive).foreach(_.stop())
        catch { case stopFailure: Throwable => e.addSuppressed(stopFailure) }
        finally deleteRecursively(root)
        throw e
    }
    // the staged input and checkpoint are dead once the query has
    // terminated — only the sink parquet backs the returned frame.
    // Repeated bench/verify invocations would otherwise accumulate
    // staging dirs in the scratch for the JVM's lifetime.
    val entries = Files.list(root)
    val dead =
      try entries.filter(_.getFileName.toString != "out").toList
      finally entries.close()
    dead.forEach(p => deleteRecursively(p))
    // the sink must outlive this call (the returned frame reads it
    // lazily), so the root reaps at JVM exit, not here
    reapAtExit(root)
    spark.read.parquet(outDir)
  }

  /** A file stream reader that takes one staged file per micro-batch:
    * with the staged modification times, this pins the batch order.
    */
  private def fileStream(spark: SparkSession): DataStreamReader =
    spark.readStream.option("maxFilesPerTrigger", 1)

  /** Replays EventRow-shaped `batches`, then `sentinels` one row per
    * micro-batch, through `build` into `sink`. `batches` must have
    * ms-truncated `ts` — the stateful operators' `Timestamp.getTime`
    * arithmetic is millisecond-grained, so sub-ms input would diverge
    * from any ns oracle.
    */
  private def replayEvents(
      spark: SparkSession, batches: Seq[DataFrame],
      sentinels: Seq[Streams.EventRow], sink: Sink)(
      build: Dataset[Streams.EventRow] => Dataset[_]): DataFrame =
    run(spark, sink) { root =>
      import spark.implicits._
      val in = stageFrames(spark, root.resolve("in"), "b",
        batches ++ sentinels.map(row => Seq(row).toDF()))
      build(fileStream(spark)
        .schema(Encoders.product[Streams.EventRow].schema)
        .parquet(in.toString).as[Streams.EventRow]).toDF()
    }

  /** The slice's max `ts` and the two sentinels that flush a
    * watermarked replay: users -1 and -2, `marginMs` and 2 × `marginMs`
    * past that max. One bounded aggregate row places them — NOT a data
    * collect (same device as the rank/offset collects elsewhere).
    */
  private def flushSentinels(events: DataFrame, marginMs: Long, caller: String)
      : (Timestamp, Seq[Streams.EventRow]) = {
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    require(maxTs != null, s"$caller: empty input slice")
    def sentinel(uid: Long, n: Long) = Streams.EventRow(-1L,
      new Timestamp(maxTs.getTime + n * marginMs), uid, "sentinel", 0.0, "")
    (maxTs, Seq(sentinel(-1L, 1L), sentinel(-2L, 2L)))
  }

  private val hourMs = 3600L * 1000L

  /** Two event-time halves of `events` (cut at the midpoint of the ms
    * span) — the staged micro-batches for the cross-batch-state
    * replays. Cutting on event TIME keeps per-user arrival order equal
    * to event order across the batch boundary (ties land whole in the
    * first half), which is exactly the in-order contract
    * [[Streams.ewmaStream]]'s stream ≡ batch equivalence needs.
    */
  private def splitByMidTs(events: DataFrame): Seq[DataFrame] = {
    val row = events.agg(min(col("ts")), max(col("ts"))).head
    require(!row.isNullAt(0), "replay: empty input slice")
    val lo = row.getTimestamp(0).getTime
    val cut = lo + (row.getTimestamp(1).getTime - lo) / 2
    Seq(events.filter(unix_millis(col("ts")) <= cut),
      events.filter(unix_millis(col("ts")) > cut))
  }

  /** Runs [[Streams.ewmaStream]] via the replay: two event-time-split
    * micro-batches, so each user's EWMA state genuinely crosses a
    * batch boundary before the final value emits. `mapGroupsWithState`
    * runs in Update mode only, which the Append-only file sink cannot
    * take, so emissions accumulate through `foreachBatch` (the
    * production upsert-sink pattern). Update mode emits a row per
    * (user, batch-with-events); `n_events` strictly grows per
    * emission, so each user's final row is the max-n one — equal to
    * the batch [[graft.ops.Ewma.ewma]] fold because both fold the
    * identical IEEE sequence in `(ts, event_id)` order.
    */
  def ewmaReplay(spark: SparkSession, events: DataFrame, alpha: Double): DataFrame =
    replayEvents(spark, splitByMidTs(events), Nil, EachBatch("update", "append"))(
      ds => Streams.ewmaStream(ds, alpha))
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("last_val"), col("ewma")),
        col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
        col("f.last_val").as("last_val"), col("f.ewma").as("ewma"))

  /** Runs [[Streams.hllRegistersStream]] via the replay: Complete mode
    * (an unwatermarked streaming aggregation takes Update or Complete
    * only) over two micro-batches, each batch overwriting the sink
    * through `foreachBatch` with the full ≤256-cell register
    * snapshot — the final snapshot equals the batch registers of the
    * whole slice (per-bucket max is duplicate-blind, order-blind, and
    * mergeable by construction).
    */
  def hllRegistersReplay(
      spark: SparkSession, events: DataFrame, valueCol: String): DataFrame =
    replayEvents(spark, splitByMidTs(events), Nil, EachBatch("complete", "overwrite"))(
      ds => Streams.hllRegistersStream(ds.toDF(), valueCol))

  /** Runs [[Streams.cmsCellsStream]] via the replay — same Complete-
    * mode snapshot device as [[hllRegistersReplay]]; cell counts sum
    * across batches inside the streaming aggregation state.
    */
  def cmsCellsReplay(
      spark: SparkSession, events: DataFrame, valueCol: String,
      depth: Int, width: Int): DataFrame =
    replayEvents(spark, splitByMidTs(events), Nil, EachBatch("complete", "overwrite"))(
      ds => Streams.cmsCellsStream(ds.toDF(), valueCol, depth, width))

  /** Runs [[Streams.dqStream]] via the replay: the watermarked hourly
    * DQ census through the streaming engine. Two sentinels flush every
    * real window (the [[hourlyCountsReplay]] argument); sentinel
    * windows sit ≥ 2h past the real max, so the `win_start <= max ts`
    * filter drops them even if the final no-data batch finalizes one.
    */
  def dqReplay(
      spark: SparkSession, events: DataFrame,
      rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val (maxTs, flush) = flushSentinels(events, 2L * hourMs, "dqReplay")
    replayEvents(spark, Seq(events), flush, ParquetAppend)(
      ds => Streams.dqStream(ds.toDF(), rules, watermark = "0 seconds"))
      .filter(col("win_start") <= lit(maxTs))
  }

  /** Generic replay for streams that are NOT EventRow-shaped
    * (document and embedding streams keep their native schemas): the
    * caller supplies the staged micro-batches — including any
    * sentinel batches a watermarked Append aggregation needs to
    * flush (far-future event time, content that produces no output
    * rows) — and a `build` over the streaming source. Same engine
    * path as the EventRow replays: FileStreamSource with pinned batch
    * order, checkpoint, Trigger.AvailableNow, checkpointed parquet
    * Append sink. Stateless stream-static joins need no sentinels
    * (they emit in the arrival batch); windowed aggregations follow
    * the [[hourlyCountsReplay]] watermark argument.
    */
  def replayBatches(
      spark: SparkSession, batches: Seq[DataFrame],
      build: DataFrame => DataFrame,
  ): DataFrame = {
    require(batches.nonEmpty, "replayBatches: no batches")
    run(spark, ParquetAppend) { root =>
      val in = stageFrames(spark, root.resolve("in"), "b", batches)
      build(fileStream(spark).schema(batches.head.schema).parquet(in.toString))
    }
  }

  /** Raw-file replay for TEXT-CONTAINER streams
    * ([[graft.sources.Warc]]): the caller supplies raw shard BYTES
    * (one file per micro-batch, staged with pinned modification
    * times) and reader options — typically a record `lineSep` — and
    * `build` parses the sentinel-split `value` frame the text
    * FileStreamSource emits. Same engine path as [[replayBatches]]:
    * checkpoint, Trigger.AvailableNow, checkpointed parquet Append
    * sink.
    */
  def replayRawText(
      spark: SparkSession, shards: Seq[Array[Byte]],
      readerOptions: Map[String, String],
      build: DataFrame => DataFrame,
  ): DataFrame = {
    require(shards.nonEmpty, "replayRawText: no shards")
    run(spark, ParquetAppend) { root =>
      val in = stageBytes(root.resolve("in"), shards, ".txt")
      build(fileStream(spark).options(readerOptions).text(in.toString))
    }
  }

  /** Raw-JSONL shard replay (the [[replayRawText]] sibling through
    * the JSON FileStreamSource): each byte array stages as one
    * `.jsonl` file delivered in pinned mtime order; `schema` and
    * `readerOptions` pass straight to the reader (the quarantine
    * door's PERMISSIVE + corrupt-column options ride here).
    */
  def replayRawJson(
      spark: SparkSession, shards: Seq[Array[Byte]],
      schema: StructType,
      readerOptions: Map[String, String],
      build: DataFrame => DataFrame,
  ): DataFrame = {
    require(shards.nonEmpty, "replayRawJson: no shards")
    run(spark, ParquetAppend) { root =>
      val in = stageBytes(root.resolve("in"), shards, ".jsonl")
      build(fileStream(spark).schema(schema).options(readerOptions)
        .json(in.toString))
    }
  }

  // binaryFile's schema is FIXED but the streaming source still
  // demands it explicitly (no inference on streams)
  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Raw-BINARY shard replay (the [[replayRawText]] sibling for
    * sources the text reader cannot split — compressed WARC members):
    * each byte array stages as one `s%03d$suffix` file, the
    * binaryFile FileStreamSource delivers one file per micro-batch in
    * pinned mtime order, and `build` maps the `(path, …, content)`
    * frame. Stateless map-only builds need no sentinels.
    */
  def replayRawBinary(
      spark: SparkSession, shards: Seq[Array[Byte]], suffix: String,
      build: DataFrame => DataFrame,
  ): DataFrame = {
    require(shards.nonEmpty, "replayRawBinary: no shards")
    run(spark, ParquetAppend) { root =>
      val in = stageBytes(root.resolve("in"), shards, suffix)
      build(fileStream(spark).format("binaryFile").schema(binaryFileSchema)
        .load(in.toString))
    }
  }

  /** Two-source replay for STREAM-STREAM operators
    * ([[Streams.intervalJoin]]): each side stages into its own input
    * dir with interleaved modification times (a1, b1, a2, b2, …), so
    * micro-batches alternate sides and the join state genuinely
    * buffers rows waiting for the other stream. Everything else is
    * [[replayBatches]].
    */
  def replayBatches2(
      spark: SparkSession, aBatches: Seq[DataFrame], bBatches: Seq[DataFrame],
      build: (DataFrame, DataFrame) => DataFrame,
  ): DataFrame = {
    require(aBatches.nonEmpty && bBatches.nonEmpty, "replayBatches2: no batches")
    run(spark, ParquetAppend) { root =>
      val inA = stageFrames(spark, root.resolve("inA"), "a", aBatches,
        firstSec = 1000L, stepSec = 2000L)
      val inB = stageFrames(spark, root.resolve("inB"), "b", bBatches,
        firstSec = 2000L, stepSec = 2000L)
      build(
        fileStream(spark).schema(aBatches.head.schema).parquet(inA.toString),
        fileStream(spark).schema(bBatches.head.schema).parquet(inB.toString))
    }
  }

  /** Generic-schema COMPLETE-mode replay: every micro-batch's full
    * aggregation snapshot overwrites the sink via foreachBatch (the
    * upsert-sink pattern), so the read-back is the final snapshot —
    * the streaming twin of a batch aggregate over all batches
    * together. For unwatermarked streaming aggregations whose state
    * is key-bounded (mergeable per-key summaries, sketch cells);
    * same staging/cleanup contract as [[replayBatches]].
    */
  def replayBatchesComplete(
      spark: SparkSession, batches: Seq[DataFrame],
      build: DataFrame => DataFrame,
  ): DataFrame = {
    require(batches.nonEmpty, "replayBatchesComplete: no batches")
    run(spark, EachBatch("complete", "overwrite")) { root =>
      val in = stageFrames(spark, root.resolve("in"), "b", batches)
      build(fileStream(spark).schema(batches.head.schema).parquet(in.toString))
    }
  }

  /** Roots whose sink dirs are still live; a single JVM shutdown hook
    * deletes them all, so repeated bench/verify invocations leave
    * nothing behind the process.
    */
  private val liveRoots = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val reaperInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      liveRoots.forEach(r => deleteRecursively(r))
    }, "graft-replay-reaper"))
    true
  }
  private def reapAtExit(root: Path): Unit = {
    require(reaperInstalled)
    liveRoots.add(root)
  }

  private def deleteRecursively(p: Path): Unit =
    graft.ops.Fs.deleteRecursively(p)

  /** Runs [[Streams.sessionize]] over `events` via the replay, then
    * assigns per-user `session_seq` by session start on the summary
    * frame (a summary-sized window — sessions per user, never
    * events). Output: `(user_id, session_start, session_end,
    * n_events, total_value, session_seq)` for real users only.
    */
  def sessionizeReplay(
      spark: SparkSession, events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapMs = gapMinutes * 60L * 1000L
    val (_, flush) = flushSentinels(events, gapMs + hourMs, "sessionizeReplay")
    val out = replayEvents(spark, Seq(events), flush, ParquetAppend)(
      ds => Streams.sessionize(ds, gapMinutes, watermark = "0 seconds"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start"))
    out.filter(col("user_id") >= 0)
      .withColumn("session_seq", row_number().over(w).cast("long"))
  }

  /** Runs [[Streams.sessionizeNative]] over `events` via the replay —
    * identical sentinel/flush mechanics to [[sessionizeReplay]] (a
    * native session window finalizes when the watermark passes its
    * end, i.e. last event + gap), identical output shape, so both
    * sessionizers gate against the same oracle.
    */
  def sessionizeNativeReplay(
      spark: SparkSession, events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapMs = gapMinutes * 60L * 1000L
    val (_, flush) = flushSentinels(events, gapMs + hourMs, "sessionizeNativeReplay")
    val out = replayEvents(spark, Seq(events), flush, ParquetAppend)(
      ds => Streams.sessionizeNative(ds.toDF(), gapMinutes,
        watermark = "0 seconds"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start"))
    out.filter(col("user_id") >= 0)
      .withColumn("session_seq", row_number().over(w).cast("long"))
  }

  /** Runs [[Streams.scd2Stream]] over `events` via the replay. The
    * stream emits each key's CLOSED validity intervals during the
    * data batch itself (no timeout → no sentinels needed); the open
    * run stays in state, so the result is the batch SCD2 history
    * minus each user's current row. `seq` is assigned post-hoc by
    * `(valid_from, valid_to, value)` — adjacent runs differ in value
    * and share at most one boundary instant, so the ordering is
    * deterministic wherever rows are distinguishable at all.
    */
  def scd2Replay(spark: SparkSession, events: DataFrame): DataFrame = {
    val out = replayEvents(spark, Seq(events), Nil, ParquetAppend)(
      ds => Streams.scd2Stream(ds))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("valid_to"), col("value"))
    out.withColumn("seq", row_number().over(w).cast("long"))
  }

  /** Runs [[Streams.hourlyEventCounts]] via the replay: the
    * watermarked tumbling-window aggregation through the streaming
    * engine. Two sentinels flush every finalized real window (a
    * window emits in Append mode only when the watermark passes its
    * END, and the watermark advances between batches — the
    * sessionize argument applied to windows); the sentinels' own
    * far-future window never finalizes and is filtered by
    * `event_type`. Counts only — a float `sum(value)` folds in
    * engine-private order on BOTH engines and has no business under
    * a hash gate.
    */
  def hourlyCountsReplay(spark: SparkSession, events: DataFrame): DataFrame = {
    val (_, flush) = flushSentinels(events, 2L * hourMs, "hourlyCountsReplay")
    replayEvents(spark, Seq(events), flush, ParquetAppend)(
      ds => Streams.hourlyEventCounts(ds.toDF(), watermark = "0 seconds")
        .select(col("hour"), col("event_type"), col("n_events")))
      .filter(col("event_type") =!= "sentinel")
  }

  /** Runs [[Streams.slidingEventCounts]] (2h windows sliding 1h) via
    * the replay — the [[hourlyCountsReplay]] device with margins
    * sized to the LONGER window (a 2h window ending at
    * trunc(max)+2h needs the first sentinel strictly past it).
    */
  def slidingCountsReplay(spark: SparkSession, events: DataFrame): DataFrame = {
    val (_, flush) = flushSentinels(events, 3L * hourMs, "slidingCountsReplay")
    replayEvents(spark, Seq(events), flush, ParquetAppend)(
      ds => Streams.slidingEventCounts(ds.toDF(), watermark = "0 seconds"))
      .filter(col("event_type") =!= "sentinel")
  }

  /** Runs [[Streams.funnelStream]] via the replay: the buffered
    * out-of-order funnel state machine through the streaming engine.
    * Events buffer un-ripened while the watermark sits at zero
    * (batch 1), then the sentinel batches ripen and flush every
    * user's greedy earliest-first step times via the event-time
    * timeouts. Sentinel users are negative and their event type is
    * never a step, so they produce no output rows — filtered anyway.
    */
  def funnelReplay(
      spark: SparkSession, events: DataFrame, steps: Seq[String]): DataFrame = {
    val (_, flush) = flushSentinels(events, hourMs, "funnelReplay")
    replayEvents(spark, Seq(events), flush, ParquetAppend)(
      ds => Streams.funnelStream(ds, steps, watermark = "0 seconds"))
      .filter(col("user_id") >= 0)
  }

  /** Runs [[Streams.streamingDedup]] via the replay and returns the
    * SURVIVING ids (projected to the dedup key — which duplicate row
    * survives within a micro-batch is engine-private, the key set is
    * not). No sentinels: `dropDuplicatesWithinWatermark` emits
    * survivors in the batch they arrive.
    */
  def dedupReplay(
      spark: SparkSession, events: DataFrame, idCol: String): DataFrame =
    replayEvents(spark, Seq(events), Nil, ParquetAppend)(
      ds => Streams.streamingDedup(ds.toDF(), idCol, watermark = "1 hour")
        .select(col(idCol)))

  /** Stages `frames` into the new dir `inDir` as one parquet file each,
    * `<prefix>000.parquet`, `<prefix>001.parquet`, …, the i-th with
    * modification time `firstSec + stepSec × i` (seconds); returns
    * `inDir`.
    */
  private def stageFrames(
      spark: SparkSession, inDir: Path, prefix: String, frames: Seq[DataFrame],
      firstSec: Long = 1000L, stepSec: Long = 1000L): Path = {
    Files.createDirectory(inDir)
    frames.zipWithIndex.foreach { case (b, i) =>
      stageBatch(spark, b.coalesce(1), inDir, f"$prefix$i%03d",
        mtimeSec = firstSec + stepSec * i)
    }
    inDir
  }

  /** Writes `df` as a single parquet file named `<name>.parquet` in
    * `inDir` with the given modification time — FileStreamSource
    * orders pending files oldest-first, so staged mtimes pin the
    * micro-batch order.
    */
  private def stageBatch(
      spark: SparkSession, df: DataFrame, inDir: Path, name: String,
      mtimeSec: Long): Unit = {
    val tmp = inDir.resolveSibling(s"stage_$name")
    df.write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.filter { p =>
        val f = p.getFileName.toString
        f.startsWith("part-") && f.endsWith(".parquet")
      }.findFirst().get()
      finally listing.close()
    val dest = inDir.resolve(s"$name.parquet")
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeSec * 1000L))
    // the staging dir only exists to give the single-file write a
    // home; once the part file moved out, the _SUCCESS/.crc husk is
    // garbage — reap it now, not at JVM exit
    deleteRecursively(tmp)
  }

  /** Stages raw `shards` into the new dir `inDir` as
    * `s000<suffix>`, `s001<suffix>`, …, the i-th with modification
    * time `1000 + 1000 × i` seconds; returns `inDir`.
    */
  private def stageBytes(
      inDir: Path, shards: Seq[Array[Byte]], suffix: String): Path = {
    Files.createDirectory(inDir)
    shards.zipWithIndex.foreach { case (bytes, i) =>
      val dest = inDir.resolve(f"s$i%03d$suffix")
      Files.write(dest, bytes)
      Files.setLastModifiedTime(dest,
        FileTime.fromMillis((1000L + 1000L * i) * 1000L))
    }
    inDir
  }
}
