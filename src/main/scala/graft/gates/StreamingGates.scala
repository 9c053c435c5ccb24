package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Structured streaming (`st_`): most gates are the stream twin of a
  * batch gate and must land on its exact rows.
  */
private[gates] object StreamingGates {

  /** `(doc_id, ts, text)` document-stream slice with a SYNTHETIC
    * hour-grid event time (documents carry no timestamp):
    * `ts = 2024-01-01T00:00Z + (doc_id div 40) h + (doc_id mod 40) min`
    * — deterministic, monotone in doc_id (so an id-range batch split
    * respects event time), minutes < 60 (so the hour window of a doc
    * is exactly `2024-01-01 + (doc_id div 40) h`, computable from the
    * id alone on the oracle side).
    */
  private def docStream(
      s: SparkSession, dir: String,
      where: org.apache.spark.sql.Column): DataFrame =
    t(s, dir, "documents").filter(where)
      .select(col("doc_id"),
        expr("timestamp_seconds(1704067200L + (doc_id div 40) * 3600 " +
          "+ (doc_id % 40) * 60)").as("ts"),
        col("text"))

  /** The two far-future watermark sentinels for windowed document
    * streams (the [[graft.streaming.Replay.hourlyCountsReplay]]
    * flush device): empty text produces no gram/token rows, so a
    * sentinel can never contribute an output row even if its own
    * far-future window were ever finalized.
    */
  private def docSentinels(s: SparkSession): Seq[DataFrame] = {
    import s.implicits._
    Seq(1L, 2L).map(i =>
      Seq((-i, new java.sql.Timestamp(
        (1704067200L + 100000000L + i * 86400L) * 1000L), ""))
        .toDF("doc_id", "ts", "text"))
  }

  /** Id-range micro-batch split for [[docStream]] slices: the cut is
    * a multiple of 40 (an hour-window boundary of the synthetic
    * grid), so no window straddles the batch boundary and a
    * zero-delay watermark drops nothing.
    */
  private def docBatches(docs: DataFrame, cutId: Long = 400L): Seq[DataFrame] =
    Seq(docs.filter(col("doc_id") < cutId),
      docs.filter(col("doc_id") >= cutId))

  val gates: Seq[Gate] = Seq(
    Gate("st_corpus_card", (s, dir) => {
      // the incremental datasheet: the streamable core is the
      // per-(source, fingerprint) signal census — ONE Complete-mode
      // aggregation through the engine (state: one row per distinct
      // fingerprint; production swaps KMV sketches when exact dup
      // state is too large) — and the card fold runs batch-side on
      // the final snapshot through the SAME body as the batch card.
      // Same plant and dials as p_corpus_card; identical oracle
      val docs = t(s, dir, "documents")
      val planted = docs.unionByName(docs.filter(col("doc_id") % 10 === 0))
        .select("doc_id", "text", "source", "lang")
      val cfg = graft.text.QualityFilters.Config(
        minWords = 40, minStopHits = 1)
      val census = graft.streaming.Replay.replayBatchesComplete(s,
        Seq(planted.filter(col("doc_id") % 2 === 0),
          planted.filter(col("doc_id") % 2 === 1)),
        df => graft.ops.CorpusCard.signalCensus(
          df, "text", "source", "lang", cfg))
      graft.ops.CorpusCard.cardFromCensus(census).orderBy("source")
    },
      (graft.ops.CorpusCard.corpusCardSql("",
        graft.text.QualityFilters.Config(minWords = 40, minStopHits = 1),
        from = "(SELECT text, lang, source FROM documents UNION ALL " +
          "SELECT text, lang, source FROM documents WHERE doc_id % 10 = 0)")
        + "\nORDER BY source")),
    Gate("st_corpus_card_sketch", (s, dir) => {
      // the 100 TB streaming datasheet:
      // per-source streaming state is four counters + a 16-entry KMV
      // fingerprint sketch — bounded at ANY corpus size — where
      // st_corpus_card keeps one exact row per distinct fingerprint
      // (unbounded Complete-mode state at scale). Only the dup term
      // is estimated, under the pinned KMV contract: EXACT when the
      // sketch is underfull (src2 thinned to 12 < k fingerprints —
      // source ≡ doc_id mod 20 in this corpus, so the thin predicate
      // must be orthogonal to the source residue), (k-1)/h_k
      // otherwise (the full 25-fp sources) — both branches live,
      // deterministic md5 arithmetic, hash oracle. Same %10 dup
      // plant; the card fold runs batch-side on the final snapshot
      // through the SAME body as the batch form
      val docs = t(s, dir, "documents")
      val base = docs.filter(
        !(col("source") === "src2" && col("doc_id") % 8 < 6))
      val planted = base.unionByName(base.filter(col("doc_id") % 10 === 0))
        .select("doc_id", "text", "source", "lang")
      val cfg = graft.text.QualityFilters.Config(
        minWords = 40, minStopHits = 1)
      val census = graft.streaming.Replay.replayBatchesComplete(s,
        Seq(planted.filter(col("doc_id") % 2 === 0),
          planted.filter(col("doc_id") % 2 === 1)),
        df => graft.ops.CorpusCard.sketchCensus(
          df, "text", "source", "lang", 16, cfg))
      graft.ops.CorpusCard.cardFromSketchCensus(census, 16)
        .orderBy("source")
    },
      {
      val baseSql = "SELECT doc_id, text, lang, source FROM documents " +
        "WHERE NOT (source = 'src2' AND doc_id % 8 < 6)"
      graft.ops.CorpusCard.sketchCardSql(16, "",
        graft.text.QualityFilters.Config(minWords = 40, minStopHits = 1),
        from = s"($baseSql UNION ALL SELECT * FROM ($baseSql) b " +
          "WHERE doc_id % 10 = 0)") + "\nORDER BY source"
    }),
    Gate("st_sessionize", (s, dir) => {
      // the STREAMING engine under the hash gate: gap sessionization
      // runs through FileStreamSource → flatMapGroupsWithState →
      // parquet sink via Trigger.AvailableNow (graft.streaming.Replay
      // stages the slice + two watermark sentinels), then the summary
      // is hashed against a DuckDB twin of the session definition.
      // ts is ms-truncated first: the stream's Timestamp.getTime
      // arithmetic is ms-grained, and the oracle mirrors exactly that
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.sessionizeReplay(s, ev, gapMinutes = 60)
        .select(col("user_id"), col("session_seq"),
          col("n_events").cast("long").as("n_events"),
          col("session_start"),
          (unix_millis(col("session_end")) - unix_millis(col("session_start")))
            .as("duration_ms"))
        .orderBy("user_id", "session_seq")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ms
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (SELECT user_id, event_id, ms,
        |  CASE WHEN lag(ms) OVER w IS NULL
        |       OR ms - lag(ms) OVER w > 3600000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |x AS (SELECT user_id, ms,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  make_timestamp(min(ms) * 1000) AS session_start,
        |  max(ms) - min(ms) AS duration_ms
        |FROM x GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),
    Gate("st_sessionize_native", (s, dir) => {
      // the ENGINE'S OWN merging session windows (session_window)
      // against the identical oracle as st_sessionize's explicit
      // state machine — two implementations, one definition; a
      // drift between them (or a session_window semantics change
      // across Spark versions) hash-fails here
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.sessionizeNativeReplay(s, ev, gapMinutes = 60)
        .select(col("user_id"), col("session_seq"),
          col("n_events").cast("long").as("n_events"),
          col("session_start"),
          (unix_millis(col("session_end")) - unix_millis(col("session_start")))
            .as("duration_ms"))
        .orderBy("user_id", "session_seq")
    },
      // IDENTICAL definition to st_sessionize — the Spark side varies
      // the ENGINE MECHANISM (native session_window vs the explicit
      // state machine), not the semantics
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ms
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (SELECT user_id, event_id, ms,
        |  CASE WHEN lag(ms) OVER w IS NULL
        |       OR ms - lag(ms) OVER w > 3600000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |x AS (SELECT user_id, ms,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  make_timestamp(min(ms) * 1000) AS session_start,
        |  max(ms) - min(ms) AS duration_ms
        |FROM x GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),
    Gate("st_hourly", (s, dir) => {
      // the watermarked tumbling-window aggregation through the
      // streaming engine (Append mode: a window emits only when the
      // watermark passes its end — two sentinel batches flush every
      // real window, then filter the sentinel type). Counts only:
      // a float sum folds in engine-private order on both engines
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.hourlyCountsReplay(s, ev)
        .select(col("hour"), col("event_type"), col("n_events"))
        .orderBy("hour", "event_type")
    },
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events
        |FROM events WHERE user_id % 10 = 0
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Gate("st_sliding", (s, dir) => {
      // OVERLAPPING windows through the engine (2h length, 1h
      // slide): every event must appear in exactly two concurrent
      // windows' state — the trailing-window monitor shape, gated
      // against a per-event two-window unnest twin
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.slidingCountsReplay(s, ev)
        .orderBy("win_start", "event_type")
    },
      // a 2h window sliding 1h holds each event in exactly the two
      // hour-aligned windows [h-1h, h+1h) and [h, h+2h)
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type
        |  FROM events WHERE user_id % 10 = 0),
        |u AS (SELECT h - INTERVAL 1 HOUR AS win_start, event_type FROM e
        |  UNION ALL SELECT h, event_type FROM e)
        |SELECT win_start, event_type, count(*) AS n_events
        |FROM u GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
    Gate("st_dedup", (s, dir) => {
      // stateful streaming dedup (dropDuplicatesWithinWatermark)
      // under the gate: the slice unioned with itself plants an
      // exact duplicate of every event; the surviving key set must
      // be the distinct ids (which twin survives is engine-private,
      // so the gate projects the key — dedup correctness IS the set)
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.dedupReplay(s, ev.unionAll(ev), "event_id")
        .orderBy("event_id")
    },
      """SELECT DISTINCT event_id FROM events WHERE user_id % 10 = 0
        |ORDER BY event_id""".stripMargin),
    Gate("st_funnel", (s, dir) => {
      // the out-of-order funnel state machine through the streaming
      // engine: step events BUFFER until the watermark ripens them
      // (event-time timeouts), then each user's greedy earliest-
      // first strict-order step times emit — equivalent to the
      // chained-min batch recurrence the oracle runs
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.funnelReplay(s, ev,
        Seq("signup", "click", "purchase"))
        .select(col("user_id"), col("step_idx"), col("step"),
          col("ts").as("step_ts"))
        .orderBy("user_id", "step_idx")
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms, event_type
        |  FROM events WHERE user_id % 10 = 0),
        |t1 AS (SELECT user_id, min(ms) AS t FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(ms) AS t FROM e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ms > t1.t GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(ms) AS t FROM e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ms > t2.t GROUP BY e.user_id),
        |u AS (SELECT user_id, 1 AS step_idx, 'signup' AS step, t FROM t1
        |  UNION ALL SELECT user_id, 2, 'click', t FROM t2
        |  UNION ALL SELECT user_id, 3, 'purchase', t FROM t3)
        |SELECT user_id, CAST(step_idx AS INT) AS step_idx, step,
        |  make_timestamp(t * 1000) AS step_ts
        |FROM u ORDER BY user_id, step_idx""".stripMargin),
    Gate("st_scd2", (s, dir) => {
      // second streaming-engine row: scd2Stream's closed validity
      // intervals via the same AvailableNow replay (no sentinels —
      // closes emit during the data batch; the open run stays in
      // state, so the oracle is batch SCD2 minus each user's
      // current row). seq is the (vf, vt, value) ordinal on BOTH
      // sides — engine-identical by construction
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.scd2Replay(s, ev)
        .select(col("user_id"), col("seq"), col("value").as("event_type"),
          col("valid_from").as("vf_ts"), col("valid_to").as("vt_ts"))
        .orderBy("user_id", "seq")
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms, event_id,
        |    event_type FROM events WHERE user_id % 10 = 0),
        |c AS (SELECT user_id, ms, event_id, event_type,
        |    row_number() OVER w AS rn, lag(event_type) OVER w AS prev
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |ch AS (SELECT user_id, ms, event_id, event_type FROM c
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |f AS (SELECT user_id, event_type, ms AS vf, lead(ms) OVER w2 AS vt
        |  FROM ch WINDOW w2 AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY vf, vt, event_type) AS BIGINT) AS seq,
        |  event_type,
        |  make_timestamp(vf * 1000) AS vf_ts,
        |  make_timestamp(vt * 1000) AS vt_ts
        |FROM f WHERE vt IS NOT NULL
        |ORDER BY user_id, seq""".stripMargin),
    Gate("st_ewma", (s, dir) => {
      // mapGroupsWithState EWMA through the streaming engine: the
      // slice splits into TWO event-time micro-batches, so every
      // user's O(1) smoothing state genuinely crosses a batch
      // boundary before its final row emits. Update mode can't feed
      // the Append-only file sink, so emissions land via foreachBatch
      // (the production upsert-sink pattern); n_events grows per
      // emission, so each user's max-n row is the final one — equal
      // to the oracle's recursive-CTE fold because stream and batch
      // run the identical IEEE sequence in (ms, event_id) order
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.ewmaReplay(s, ev, alpha = 0.25)
        .orderBy("user_id")
    },
      // graft.ops.Ewma.ewmaSql with the st_* ms truncation: the
      // stream folds Timestamp.getTime (ms) order, so the oracle
      // ranks by (epoch ms, event_id), not raw ns
      """WITH RECURSIVE e AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000000, event_id) AS rn
        |  FROM events WHERE user_id % 10 = 0),
        |r(user_id, rn, ewma) AS (
        |  SELECT user_id, 1, value FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, 0.25 * e.value + 0.75 * r.ewma
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
        |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  arg_max(value, rn) AS last_val, max(rn) AS m
        |  FROM e GROUP BY user_id)
        |SELECT n.user_id, n.n_events, n.last_val, r.ewma
        |FROM n JOIN r ON r.user_id = n.user_id AND r.rn = n.m
        |ORDER BY n.user_id""".stripMargin),
    Gate("st_hll", (s, dir) => {
      // unwatermarked streaming aggregation (HLL registers) through
      // the engine in Complete mode: two micro-batches, each snapshot
      // overwriting the sink — the final ≤256-cell register set must
      // equal the batch registers of the whole slice (per-bucket max
      // is duplicate-blind and order-blind, the mergeability the
      // scaladoc promises, here under the hash gate)
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.hllRegistersReplay(s, ev, "user_id")
        .orderBy("bucket")
    },
      graft.ops.Hll.registersSql(
        "(SELECT user_id FROM events WHERE user_id % 10 = 0) ev", "user_id")),
    Gate("st_incr_agg", (s, dir) => {
      // the streaming form of the materialized-view law: per-supplier
      // mergeable state folded across two micro-batches inside an
      // unwatermarked Complete-mode aggregation (state = supplier
      // cardinality, never row-sized), final snapshot ≡ the batch
      // recompute oracle — the same homomorphism s_incr_agg proves
      // for the two-slice merge, here proven for the engine's own
      // incremental fold
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 1)
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
        .select("l_suppkey", "l_partkey", "cents")
      val b1 = li.filter(col("l_partkey") % 2 === 0)
      val b2 = li.filter(col("l_partkey") % 2 === 1)
      graft.streaming.Replay.replayBatchesComplete(s, Seq(b1, b2), df =>
        graft.ops.IncrementalAgg.withMean(
          graft.ops.IncrementalAgg.stats(df, Seq("l_suppkey"),
            col("cents"))))
        .orderBy("l_suppkey")
    },
      graft.ops.IncrementalAgg.directSql("lineitem", Seq("l_suppkey"),
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        whereClause = "WHERE l_orderkey % 4 = 1")),
    Gate("st_survival", (s, dir) => {
      // Kaplan-Meier through the streaming engine: the per-user
      // activity SPAN is the streamable part (Complete-mode min/max —
      // O(users) state, the windowed census/fold machinery stays
      // batch-side on the final snapshot, fed the span endpoints,
      // which carry exactly the min/max KM needs). Hashes against
      // ev_survival's IDENTICAL oracle — engine-level evidence the
      // live spans equal the batch scan
      val days = t(s, dir, "events")
        .select(col("user_id"),
          (expr("ts div 86400000000000") - 19723L).as("day"))
        .filter(col("day") <= col("user_id") % 29)
      val spans = graft.streaming.Replay.replayBatchesComplete(s,
        Seq(days.filter(col("day") < 15), days.filter(col("day") >= 15)),
        df => df.groupBy("user_id")
          .agg(min("day").as("fd"), max("day").as("ld")))
      graft.ops.Survival.kaplanMeier(
        spans.select(col("user_id"),
          explode(array(col("fd"), col("ld"))).as("day")),
        "user_id", "day", gapDays = 5)
        .orderBy("t")
    },
    // the stream twin must land on the batch KM's exact rows
      graft.ops.Survival.kaplanMeierSql(
        """SELECT user_id, (epoch_ns(ts) // 86400000000000) - 19723 AS day
          |FROM events
          |WHERE (epoch_ns(ts) // 86400000000000) - 19723 <= user_id % 29"""
          .stripMargin,
        gapDays = 5)),
    Gate("st_changelog", (s, dir) => {
      // streaming CDC materialization in Complete mode: the changelog
      // arrives as three op-ordered micro-batches (inserts, first
      // updates, second updates + deletes); keyed max-seq state is
      // ONE struct per key — O(keys), not O(mutations). The final
      // overwrite snapshot feeds the same op filter + base anti-join
      // as the batch operator, so the result hashes against the
      // IDENTICAL oracle as o_changelog_apply
      val (base, log) = changelogFixture(s, dir)
      val batches = Seq(
        log.filter(col("seq") % 10 === 0),
        log.filter(col("seq") % 10 === 1),
        log.filter(col("seq") % 10 >= 2))
      val winners = graft.streaming.Replay.replayBatchesComplete(
        s, batches,
        df => graft.streaming.Streams.latestByKeyStream(df, "k", "seq"))
      winners.filter(col("op") =!= "D")
        .select(col("k"), col("status"), col("price"))
        .unionByName(
          base.join(winners.select(col("k")), Seq("k"), "left_anti"))
        .orderBy("k")
    },
    // the stream twin must land on the BATCH apply's exact rows —
    // one oracle text serves both gates
      s"""WITH $changelogOracleCtes
         |SELECT k, status, price FROM winner WHERE op <> 'D'
         |UNION ALL
         |SELECT k, status, price FROM base
         |WHERE k NOT IN (SELECT k FROM log)
         |ORDER BY k""".stripMargin),
    Gate("st_cms", (s, dir) => {
      // count-min cells through the streaming engine, same Complete-
      // mode snapshot device as st_hll: cell counts SUM across the
      // two micro-batches inside the aggregation state, and the final
      // 4x64 cell frame hashes against the batch census definition
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.cmsCellsReplay(s, ev, "user_id", 4, 64)
        .orderBy("r", "bucket")
    },
      graft.ops.Sketches.cmsCellsSql(
        "(SELECT user_id FROM events WHERE user_id % 10 = 0) ev",
        "user_id", 4, 64)),
    Gate("st_dq", (s, dir) => {
      // the hourly DQ census through the streaming engine (Append
      // mode + watermark; two sentinels flush every real window —
      // the st_hourly device applied to declarative expectations):
      // the ingest-side quality monitor a production pipeline runs
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      graft.streaming.Replay.dqReplay(s, ev, Seq(
        "value_gt_300" -> (col("value") > 300.0),
        "type_error" -> (col("event_type") === "error"),
        "props_short" -> (length(col("props")) < 8)))
        .orderBy("win_start", "rule")
    },
      """WITH e AS (SELECT date_trunc('hour', ts) AS win_start, value,
        |    event_type, props
        |  FROM events WHERE user_id % 10 = 0),
        |p AS (SELECT win_start,
        |    CAST(coalesce(sum(CASE WHEN value > 300.0 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS v0,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS v1,
        |    CAST(coalesce(sum(CASE WHEN length(props) < 8 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS v2,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM e GROUP BY 1)
        |SELECT win_start, 'value_gt_300' AS rule, v0 AS n_violations, n_rows
        |  FROM p
        |UNION ALL SELECT win_start, 'type_error', v1, n_rows FROM p
        |UNION ALL SELECT win_start, 'props_short', v2, n_rows FROM p
        |ORDER BY win_start, rule""".stripMargin),
    Gate("st_interval_join", (s, dir) => {
      // the watermarked STREAM-STREAM interval join (view→purchase
      // attribution) through the engine: two file sources, ms-grain
      // event times, a full-span watermark so no pair is evicted
      // mid-replay — the result must be exactly the batch interval
      // join (every same-user purchase within 6 h of a view)
      val ev = t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("event_id"),
          expr("timestamp_micros((ts div 1000000) * 1000)").as("ts"),
          col("user_id"), col("event_type"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      def halves(df: DataFrame, tsCol: String) = Seq(
        df.filter(col(tsCol) < lit("2024-01-16").cast("timestamp")),
        df.filter(col(tsCol) >= lit("2024-01-16").cast("timestamp")))
      graft.streaming.Replay.replayBatches2(s,
        halves(views, "v_ts"), halves(purchases, "p_ts"),
        (c, e) => graft.streaming.Streams.intervalJoin(
          c, e, "user_id", "v_ts", "p_ts",
          maxDelayMinutes = 360, watermark = "60 days"))
        .orderBy("user_id", "view_id", "purchase_id")
    },
      """WITH v AS (SELECT user_id, event_id AS view_id,
        |    epoch_ns(ts) // 1000000 AS v_ms
        |  FROM events WHERE event_type = 'view' AND user_id % 10 = 0),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |    epoch_ns(ts) // 1000000 AS p_ms
        |  FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0)
        |SELECT v.user_id AS user_id, v.view_id,
        |  make_timestamp(v_ms * 1000) AS v_ts,
        |  p.purchase_id, make_timestamp(p_ms * 1000) AS p_ts
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p_ms >= v_ms AND p_ms <= v_ms + 21600000
        |ORDER BY v.user_id, view_id, purchase_id""".stripMargin),
    Gate("st_classifier", (s, dir) => {
      // the ingest-time quality filter through the streaming engine:
      // hashed-classifier scoring as a watermarked per-(window, doc)
      // aggregation over two event-time micro-batches + two sentinel
      // flushes; docs are whole, so each (hour, id) row must equal
      // the batch per-doc score with hour derivable from the id alone
      val docs = docStream(s, dir, col("doc_id") % 7 === 0)
      graft.streaming.Replay.replayBatches(s,
        docBatches(docs) ++ docSentinels(s),
        src => graft.streaming.Streams.classifierStream(
          src, "doc_id", "text", watermark = "0 seconds"))
        .orderBy("id")
    },
      {
      // per-doc batch score + the synthetic hour grid (hour is a pure
      // function of the doc id — see docStream)
      val inner = graft.text.HashedClassifier.scoreSql("WHERE doc_id % 7 = 0")
        .replace("ORDER BY id", "")
      s"""WITH base AS ($inner)
         |SELECT make_timestamp((1704067200 + (id // 40) * 3600) * 1000000)
         |    AS hour,
         |  id, n_grams, w_sum, score
         |FROM base ORDER BY id""".stripMargin
    }),
    Gate("st_encode_stats", (s, dir) => {
      // tokenizer budget stats at the stream door: the trained BPE
      // segmentation (static side, broadcast) joins documents
      // arriving on the stream; per-(window, doc) subword/OOV counts
      // hash against the batch encodeStats definition
      val all = t(s, dir, "documents")
      val (_, seg) = graft.text.Bpe.train(
        graft.text.Bpe.wordCensus(
          all.filter(col("doc_id") % 10 === 0), "text"), numMerges = 8)
      val docs = docStream(s, dir, col("doc_id") % 20 === 5)
      graft.streaming.Replay.replayBatches(s,
        docBatches(docs) ++ docSentinels(s),
        src => graft.streaming.Streams.encodeStatsStream(
          src, "doc_id", "text", seg, watermark = "0 seconds"))
        .orderBy("id")
    },
      {
      val inner = graft.text.Bpe.encodeStatsSql(8,
        "WHERE doc_id % 10 = 0", "WHERE doc_id % 20 = 5")
        .replace("ORDER BY id", "")
      s"""WITH base AS ($inner)
         |SELECT make_timestamp((1704067200 + (id // 40) * 3600) * 1000000)
         |    AS hour,
         |  id, n_subwords, n_oov
         |FROM base ORDER BY id""".stripMargin
    }),
    Gate("st_surprise", (s, dir) => {
      // the perplexity-filter signal at the stream door: quantized
      // LM surprise against the trained reference censuses (static
      // side), per-(window, doc) — the same slices as the batch
      // t_lm_surprise gate, so the stream twin's integers must
      // reproduce the batch definition exactly
      val all = t(s, dir, "documents")
      val (uni0, bi0, v0) = graft.text.Lm.referenceCensus(
        all.filter(col("doc_id") % 2 === 0), "text")
      // the trained censuses are STATIC sides of a streaming join —
      // every micro-batch re-plans and re-executes them otherwise
      // (5 recomputes per replay); checkpoint once, join many
      val (uni, bi, v) =
        (uni0.localCheckpoint(), bi0.localCheckpoint(), v0.localCheckpoint())
      val docs = docStream(s, dir, col("doc_id") % 10 === 7)
      graft.streaming.Replay.replayBatches(s,
        docBatches(docs) ++ docSentinels(s),
        src => graft.streaming.Streams.surpriseStream(
          src, "doc_id", "text", uni, bi, v, watermark = "0 seconds"))
        // surpriseStream deliberately KEEPS zero-gram docs (a doc too
        // short to score still reports 0), so the sentinels' own rows
        // emit once their window finalizes — drop the negative ids
        .filter(col("id") >= 0)
        .orderBy("id")
    },
      {
      val inner = graft.text.Lm.surpriseScoreSql(
        whereClause = "WHERE doc_id % 10 = 7",
        refWhereClause = "WHERE doc_id % 2 = 0")
      s"""WITH base AS ($inner)
         |SELECT make_timestamp((1704067200 + (doc_id // 40) * 3600) * 1000000)
         |    AS hour,
         |  doc_id AS id, n_grams, surprise_micro
         |FROM base ORDER BY id""".stripMargin
    }),
    Gate("st_minhash_incr", (s, dir) => {
      // incremental LSH at the stream door: arriving docs sign via
      // ONE watermarked (window, doc) aggregation, band map-side, and
      // join the persisted corpus signature store (NO strategy hint —
      // the store is corpus-scale; localCheckpointed so a streaming
      // join's static side doesn't re-execute per micro-batch).
      // Shares d_minhash_incr's oracle generator (unbounded
      // maxBucketSize — the unguarded contract, so the stream dial is
      // pinned to Int.MaxValue here); cross-band duplicate rows carry
      // identical values and dedupe via dropDuplicates on the sink
      // readback (the same engine-private-multiplicity stance as
      // st_semantic_contam)
      val docs0 = t(s, dir, "documents")
      // the store in its persisted layout: banded once, checkpointed
      // once — the static side of every micro-batch is then a scan
      val corpusBanded = graft.dedup.Dedup.bandedSignatures(
        graft.dedup.Dedup.minhashSignatures(
          docs0.filter(col("doc_id") % 2 === 0), "doc_id", "text", 16),
        numHashes = 16, bands = 4)
        .localCheckpoint()
      // % 40 arrival slice: the synthetic corpus is dup-heavy, so
      // candidate volume (and the replay's sink I/O) scales linearly
      // with arrivals — a quarter-size drop keeps the engine path
      // identical at a quarter of the pair volume
      val stream = docStream(s, dir, col("doc_id") % 40 === 7)
      graft.streaming.Replay.replayBatches(s,
        Seq(stream) ++ docSentinels(s),
        src => graft.streaming.Streams.minhashIncrStream(
          src, "doc_id", "text", corpusBanded, numHashes = 16, bands = 4,
          watermark = "0 seconds", maxBucketSize = Int.MaxValue))
        // sentinel rows ride negative uids; they shingle to unique
        // tokens and should pair with nothing, but the readback
        // filters them like every sibling streaming gate does
        .filter(col("new_id") >= 0)
        .dropDuplicates("new_id", "corpus_id")
        .orderBy("new_id", "corpus_id")
    },
      // the same oracle GENERATOR as d_minhash_incr (the st_changelog
      // device), on the gate's quarter-size arrival slice. The stream
      // operator intentionally has NO in-stream hot-bucket guard (the
      // guard is a store-side dial — see minhashIncrStream's
      // scaladoc), so the oracle must declare the UNGUARDED contract:
      // maxBucketSize = unbounded, not the batch default of 1000 —
      // otherwise the two sides diverge the moment any band bucket
      // crosses the default at a larger scale factor.
      graft.dedup.Dedup.minhashLshIncrementalSql(16, 4,
        whereNew = "WHERE doc_id % 40 = 7", whereCorpus = "WHERE doc_id % 2 = 0",
        maxBucketSize = Int.MaxValue)),
    Gate("st_rvq_incr", (s, dir) => {
      // incremental RVQ index ingest: codebooks train ONCE batch-side
      // (the persisted-index shape), arrivals replay in micro-batches
      // through the MAP-ONLY encode (literal codebooks, zero shuffle,
      // stateless -> Append mode with no watermark) — codes and
      // errors are bit-identical to the batch encode, so the union of
      // micro-batch outputs hash-matches e_rvq_encode's own oracle
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
        .select("vec_id", "embedding")
      val (cb1, cb2) = Rvq.seedDrawnCodebooks(emb, "vec_id", "embedding",
        k = 16)
      val batches = Seq(
        emb.filter(col("vec_id") % 9 === 1),
        emb.filter(col("vec_id") % 9 === 4),
        emb.filter(col("vec_id") % 9 === 7))
      graft.streaming.Replay.replayBatches(s, batches,
        src => Rvq.rvqEncodeMapOnly(src, "vec_id", "embedding", cb1, cb2))
        .orderBy("id")
    },
      // the micro-batched map-only encode must union to the batch
      // encode exactly — same oracle as e_rvq_encode (the %9 batch
      // residues {1,4,7} partition the %3=1 slice)
      (graft.ann.Rvq.rvqEncodeSql(16, 64, 42L, "WHERE vec_id % 3 = 1")
        + "\nORDER BY id")),
    Gate("st_sq8_incr", (s, dir) => {
      // incremental SQ8 ingest (the scalar-quantizer twin of
      // st_rvq_incr): the scale census trains ONCE batch-side and
      // freezes (the persisted-index shape — re-censusing per batch
      // would re-scale old codes), arrivals replay through the
      // map-only encode projection (literal scales, zero shuffle,
      // stateless Append) — codes and errors bit-identical to the
      // batch encode, so the micro-batch union hash-matches
      // e_sq8_encode's own oracle
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
        .select("vec_id", "embedding")
      val scales = Sq.sq8Scales(emb, "embedding")
        .localCheckpoint(true) // train once; freeze for every batch
      val batches = Seq(
        emb.filter(col("vec_id") % 9 === 0),
        emb.filter(col("vec_id") % 9 === 3),
        emb.filter(col("vec_id") % 9 === 6))
      graft.streaming.Replay.replayBatches(s, batches,
        src => Sq.sq8Encode(src, "vec_id", "embedding", scales, 64)
          .select(col("id"),
            concat_ws(",", transform(col("codes"), c => c.cast("string")))
              .as("codes_str"),
            col("err8")))
        .orderBy("id")
    },
      // micro-batched map-only encode must union to the batch encode
      // exactly — same oracle as e_sq8_encode
      (graft.ann.Sq.sq8EncodeSql(64, "WHERE vec_id % 3 = 0")
        + "\nORDER BY id")),
    Gate("st_semdedup_incr", (s, dir) => {
      // incremental SemDeDup at the stream door: arriving embeddings
      // assign map-side to the trained Lloyd centroids (<= nCells
      // rows — broadcast-right by construction) and join the
      // persisted cell-keyed store with NO strategy hint (the
      // minhashIncrStream stance). Stateless stream-static: no
      // watermark, no sentinels. Arrivals are planted twins
      // (cosine ~ 0.997), so each surfaces its source as a same-cell
      // >= 0.9 partner; the trained frames are localCheckpointed —
      // a streaming join's static side re-executes per micro-batch
      // otherwise
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val cents = Ann.lloydCentroids(emb, "vec_id", "embedding")
        .localCheckpoint()
      val store = Ann.lloydAssigned(emb, "vec_id", "embedding", cents)
        .localCheckpoint()
      val twins = Ann.plantQueries(emb.filter(col("vec_id") % 20 === 3),
        "vec_id", "embedding", idOffset = 1000000L, delta = 0.01)
      graft.streaming.Replay.replayBatches(s,
        Seq(twins.filter(col("vec_id") % 40 === 3),
          twins.filter(col("vec_id") % 40 === 23)),
        src => graft.streaming.Streams.semDedupIncrStream(
          src, "vec_id", "embedding", cents, store, threshold = 0.9,
          maxCellSize = Int.MaxValue)) // oracle renders no guard
        .orderBy("new_id", "corpus_id")
    },
      // the incremental door shares the trainer/assignment CTEs with
      // e_semdedup; the stream is stateless, so the batch-equivalent
      // pair set IS the oracle (the st_decontam stance)
      graft.ann.Ann.semDedupIncrSql(
        "vec_id % 20 = 3", idOffset = 1000000L, delta = 0.01,
        threshold = 0.9)),
    Gate("st_decontam", (s, dir) => {
      // fingerprint decontamination at the stream door (stateless
      // stream-static anti join — no watermark, no sentinels):
      // mutated copies of every blocklisted doc (uppercased, extra
      // whitespace) ride the stream under id+3000000 and must ALL
      // vanish via the normalized fingerprint; the organic slice
      // survives untouched
      val docs0 = t(s, dir, "documents")
      val blocklist = docs0.filter(col("doc_id") % 100 === 0)
        .select(graft.text.TextFunctions.fingerprint(col("text")).as("fp"))
      val stream = docs0
        .filter(col("doc_id") % 100 =!= 0 && col("doc_id") % 3 === 0)
        .select(col("doc_id").as("id"), col("text"))
        .unionByName(docs0.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 3000000L).as("id"),
            concat(upper(col("text")), lit("  ")).as("text")))
      graft.streaming.Replay.replayBatches(s,
        Seq(stream.filter(col("id") % 2 === 0),
          stream.filter(col("id") % 2 === 1)),
        src => graft.streaming.Streams.decontaminateStream(
          src, "text", blocklist).select(col("id")))
        .orderBy("id")
    },
      {
      val fp = graft.text.TextFunctions.fingerprintSql
      s"""WITH bl AS (SELECT ${fp.replace("TXT", "text")} AS fp
         |  FROM documents WHERE doc_id % 100 = 0),
         |st AS (SELECT doc_id AS id, text FROM documents
         |    WHERE doc_id % 100 <> 0 AND doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS id, upper(text) || '  ' AS text
         |  FROM documents WHERE doc_id % 100 = 0)
         |SELECT id FROM st
         |WHERE NOT EXISTS (SELECT 1 FROM bl
         |  WHERE bl.fp = ${fp.replace("TXT", "st.text")})
         |ORDER BY id""".stripMargin
    }),
    Gate("st_semantic_contam", (s, dir) => {
      // embedding-space decontamination at the stream door: the
      // banded-LSH stream-static scan over the same planted int8
      // leaks as e_semantic_contam, emitted AT-LEAST-ONCE (one row
      // per colliding band — deterministic LSH arithmetic, so the
      // multiplicity itself sits under the hash gate)
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val evalSet = emb.filter(col("vec_id") % 20 === 3)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), _.cast("double")).as("v"))
      val leaked = Ann.quantizeInt8(
        emb.filter(col("vec_id") % 40 === 3), "vec_id", "embedding")
        .select((col("id") + 2000000L).as("id"),
          transform(col("qvec"),
            x => x.cast("double") / lit(127.0) * col("qscale")).as("v"))
      val corpus = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .unionByName(leaked)
      graft.streaming.Replay.replayBatches(s,
        Seq(corpus.filter(col("id") % 2 === 0),
          corpus.filter(col("id") % 2 === 1)),
        src => graft.streaming.Streams.semanticContamStream(
          src, evalSet, "id", "v", threshold = 0.98))
        .orderBy("id", "eval_id")
    },
      graft.ann.Ann.semanticContamPairsSql(semContamCorpusSql,
        semContamEvalSql, 0.98, planes = 192, bands = 16)),

    // sink round-trips write to ONE deterministic scratch dir per
    // query (SaveMode.Overwrite) — repeated bench/verify passes reuse
    // the path instead of leaking a table copy per invocation
    Gate("st_warc_ingest", (s, dir) => {
      // incremental crawl-container ingest (the production door for
      // Common Crawl dumps): WARC shards arrive as FILES; the text
      // FileStreamSource splits records on the sentinel per shard
      // and the SAME parse body as the batch reader cuts payloads by
      // Content-Length bytes (stream ≡ batch by construction —
      // Warc.parseWarcRecords). Shard staging is a bounded
      // verification harness (slice hard-capped); production reads
      // crawl shards in place
      import graft.sources.Warc
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 1 && col("doc_id") < 50000)
        .select(col("doc_id"),
          Warc.toWarcRecord(col("doc_id"), col("text")).as("rec"))
        .orderBy("doc_id").collect()
      val shards = rows.grouped(math.max(1, rows.length / 3 + 1)).map { g =>
        g.map(_.getString(1)).mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }.toSeq
      graft.streaming.Replay.replayRawText(s, shards,
        Map("lineSep" -> Warc.RecordSentinel),
        raw => Warc.parseWarcRecords(raw))
        .select(
          regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
            .cast("long").as("id"),
          col("content_length").as("n_bytes"),
          md5(col("payload")).as("digest"))
        .orderBy("id")
    },
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 1 AND doc_id < 50000
        |ORDER BY id""".stripMargin),
    Gate("st_warc_gz", (s, dir) => {
      // incremental COMPRESSED crawl ingest: .warc.gz shards (one
      // gzip member per record, driver-staged — bounded verification
      // harness like st_warc_ingest) arrive as files through the
      // binaryFile FileStreamSource; each micro-batch runs the SAME
      // member-inflate + sentinel parse as the batch gz reader —
      // compressed stream ≡ compressed batch ≡ plain batch
      import graft.sources.Warc
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4 && col("doc_id") < 50000)
        .select(col("doc_id"),
          Warc.toWarcRecord(col("doc_id"), col("text")).as("rec"))
        .orderBy("doc_id").collect()
      def member(rec: String): Array[Byte] = {
        val bo = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bo)
        gz.write(rec.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        gz.close()
        bo.toByteArray
      }
      val shards = rows.grouped(math.max(1, rows.length / 3 + 1)).map { g =>
        g.toArray.flatMap(r => member(r.getString(1)))
      }.toSeq
      graft.streaming.Replay.replayRawBinary(s, shards, ".warc.gz",
        bin => Warc.parseWarcGz(bin))
        .select(
          regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
            .cast("long").as("id"),
          col("content_length").as("n_bytes"),
          md5(col("payload")).as("digest"))
        .orderBy("id")
    },
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 4 AND doc_id < 50000
        |ORDER BY id""".stripMargin),
    Gate("st_jsonl_quarantine", (s, dir) => {
      // the quarantine door STREAMED: JSONL shards (same plant as
      // the batch gate — every %3==0 line truncated) arrive as files
      // through the JSON FileStreamSource with the PERMISSIVE +
      // corrupt-column options; stateless map per micro-batch, so
      // Append with no watermark — good rows parse, malformed lines
      // quarantine, nothing drops, same oracle as the batch door's
      // accounting (over the %7==3 slice)
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 7 === 3 && col("doc_id") < 50000)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("text"))).as("j"))
        .orderBy("doc_id").collect()
      val lines = rows.map { r =>
        if (r.getLong(0) % 3 == 0) r.getString(1).dropRight(5)
        else r.getString(1)
      }
      val shards = lines.grouped(math.max(1, lines.length / 3 + 1))
        .map(_.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType)))
      graft.streaming.Replay.replayRawJson(s, shards, schema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt"),
        src => src.select(col("doc_id"),
          when(col("_corrupt").isNull, md5(col("text"))).as("digest"),
          when(col("_corrupt").isNotNull, 1).otherwise(0).as("bad")))
        .orderBy(col("bad"), col("doc_id"))
    },
      """SELECT doc_id, md5(text) AS digest, 0 AS bad FROM documents
        |WHERE doc_id % 7 = 3 AND doc_id < 50000 AND doc_id % 3 <> 0
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 1
        |FROM documents
        |WHERE doc_id % 7 = 3 AND doc_id < 50000 AND doc_id % 3 = 0
        |ORDER BY bad, doc_id""".stripMargin),
  )
}
