package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Event-stream shaped aggregation (`ev_`): the batch equivalents of
  * the streaming pipeline in graft.streaming.
  */
private[gates] object EvalGates {

  val gates: Seq[Gate] = Seq(
    Gate("ev_hourly_agg", (s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          decAgg(sum(dec(col("value"), 18, 6)), 28, 6).as("sum_value"))
        .orderBy("hour", "event_type")
    },
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |count(*) AS n_events,
        |CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Gate("ev_sliding_agg", (s, dir) => {
      // sliding event-time windows (2h span, 1h slide) via Spark's
      // native window() — each event explodes into exactly span/slide
      // = 2 windows map-side, then the same one-shuffle hash agg as
      // the tumbling ev_hourly_agg; the batch twin of a streaming
      // sliding aggregation
      events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          decAgg(sum(dec(col("value"), 18, 6)), 28, 6).as("sum_value"))
        .select(col("window.start").as("win_start"),
          col("window.end").as("win_end"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },
      """WITH w AS (SELECT date_trunc('hour', ts) - i * INTERVAL '1 hour' AS win_start,
        |    event_type, value
        |  FROM events, unnest([0, 1]) AS t(i))
        |SELECT win_start, win_start + INTERVAL '2 hours' AS win_end, event_type,
        |count(*) AS n_events,
        |CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2, 3 ORDER BY win_start, event_type""".stripMargin),
    Gate("ev_trailing_rate", (s, dir) => {
      // per-event trailing-hour rate/peak features (RANGE frame on the
      // raw ns longs — value-based, so equal timestamps see each other
      // and no tie-break column is needed)
      graft.ops.Sessions.trailingStats(
        t(s, dir, "events").filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
        "user_id", "ts", trailing = 3600L * 1000000000L,
        valueCol = Some("value"))
        .select(col("user_id"), col("event_id"),
          expr("timestamp_micros(ts div 1000)").as("ev_ts"),
          col("n_trailing"), col("max_trailing"))
        .orderBy("user_id", "event_id")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts, value
        |  FROM events WHERE user_id % 10 = 0)
        |SELECT user_id, event_id, make_timestamp(ts // 1000) AS ev_ts,
        |  CAST(count(*) OVER w AS BIGINT) AS n_trailing,
        |  max(value) OVER w AS max_trailing
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    Gate("ev_resample", (s, dir) => {
      // hourly per-user grid with gap rows and forward-filled last
      // value (feature-store densification); bucket arithmetic stays
      // in ns longs, the carried double passes through untouched so
      // both engines emit bit-identical values
      graft.ops.Resample.resample(
        t(s, dir, "events").filter(col("user_id") % 25 === 0)
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
        "user_id", "ts", "event_id", "value", step = 3600L * 1000000000L)
        .select(col("user_id"),
          expr("timestamp_micros((bucket * 3600000000000) div 1000)").as("bucket_ts"),
          col("n_events"), col("last_val"))
        .orderBy("user_id", "bucket_ts")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts, value
        |  FROM events WHERE user_id % 25 = 0),
        |r AS (SELECT user_id, ts // 3600000000000 AS bucket, value,
        |  row_number() OVER (PARTITION BY user_id, ts // 3600000000000
        |    ORDER BY ts DESC, event_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY user_id, ts // 3600000000000) AS n
        |  FROM e),
        |b AS (SELECT user_id, bucket, n, value AS in_bucket FROM r WHERE rn = 1),
        |k AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM k),
        |j AS (SELECT g.user_id, g.bucket, coalesce(b.n, 0) AS n_events, b.in_bucket
        |  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket)
        |SELECT user_id, make_timestamp((bucket * 3600000000000) // 1000) AS bucket_ts,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  last_value(in_bucket IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS last_val
        |FROM j ORDER BY user_id, bucket_ts""".stripMargin),
    Gate("ev_gap_stats", (s, dir) => {
      // inter-event cadence features: per-user min/median/max gap in
      // whole seconds — integer gaps make the exact median dyadic
      // (half-steps), so both engines interpolate bit-identically;
      // one shuffle + one per-user window for the lag
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").filter(col("user_id") % 5 === 0)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_s",
          expr("(ts - lag(ts, 1) over (partition by user_id " +
            "order by ts, event_id)) div 1000000000"))
        .filter(col("gap_s").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_s")).as("min_gap_s"),
          expr("percentile(gap_s, 0.5)").as("median_gap_s"),
          max(col("gap_s")).as("max_gap_s"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id
        |    FROM events WHERE user_id % 5 = 0),
        |g AS (SELECT user_id,
        |    (ts - lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) // 1000000000 AS gap_s
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |  min(gap_s) AS min_gap_s,
        |  quantile_cont(gap_s, 0.5) AS median_gap_s,
        |  max(gap_s) AS max_gap_s
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Gate("ev_lifecycle", (s, dir) =>
      // growth accounting: weekly new/retained/resurrected/churned
      // counts from the distinct (user, week) activity grid — one
      // distinct shuffle + one per-user window, stages explode
      // map-side; active(b) = new + retained + resurrected holds.
      // The md5 (user, week) gap filter PLANTS churn/resurrection
      // dynamics (this corpus' users are otherwise active every
      // week, which would leave the resurrected arm untested)
      graft.ops.Cohort.lifecycle(
        t(s, dir, "events").filter(
          pmod(graft.ops.Sketches.kmvHash(concat_ws(":",
            col("user_id"), expr("ts div 604800000000000"))), lit(3L)) =!= 0),
        "user_id", "ts", bucket = 604800L * 1000000000L)
        .orderBy("bucket", "stage"),
      {
      val h = graft.ops.Sketches.kmvHashSql(
        "(CAST(user_id AS VARCHAR) || ':' || " +
          "CAST(epoch_ns(ts) // 604800000000000 AS VARCHAR))")._1
      graft.ops.Cohort.lifecycleSql(
        s"WHERE $h % 3 <> 0", bucket = 604800L * 1000000000L)
    }),
    Gate("ev_rfm", (s, dir) =>
      // RFM behavioral segmentation: per-user recency/frequency/
      // exact-decimal monetary, quartiled by FIXED-WIDTH integer bins
      // over exact global ranks (the shuffleRank device — range
      // partition + offsets, never a single-partition window)
      graft.ops.Rfm.rfm(
        t(s, dir, "events").select(
          col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value")
        .orderBy("user_id"),
      graft.ops.Rfm.rfmSql("")),
    Gate("ev_rfm_sketch", (s, dir) =>
      // the sketch twin of ev_rfm: quartile BOUNDARIES from the
      // quantile sketch's 1-row broadcast instead of three exact
      // global rank passes — one pass over the user frame, no rank
      // shuffles; the scale path when segments (not ranks) are the
      // product
      graft.ops.Rfm.rfmSketch(
        t(s, dir, "events").filter(col("user_id") % 3 === 1)
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value")
        .orderBy("user_id"),
      graft.ops.Rfm.rfmSketchSql("WHERE user_id % 3 = 1")),
    Gate("ev_ewma", (s, dir) =>
      // per-user smoothed activity (EWMA, alpha=0.25 seeded at the
      // first event): ordered fold over the sorted event array — the
      // identical IEEE op sequence as the oracle's recursive CTE, so
      // the doubles hash raw; one shuffle, fold in codegen
      graft.ops.Ewma.ewma(
        t(s, dir, "events").select(
          col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", "event_id", "value", alpha = 0.25)
        .orderBy("user_id"),
      graft.ops.Ewma.ewmaSql(alpha = 0.25, "")),
    Gate("ev_mad_outliers", (s, dir) =>
      // robust per-type anomaly census: Hampel's |v - med| > 3·MAD
      // with BOTH medians through the mergeable quantile sketch —
      // the only scale-safe formulation (exact group medians would
      // sort each group); estimates are deterministic so the census
      // hash-gates, and the flagging threshold dominates the
      // sketch's 2^-m envelope
      graft.ops.Robust.madOutlierCensus(
        t(s, dir, "events")
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "cents")
        .orderBy("g"),
      graft.ops.Robust.madOutlierCensusSql("events", "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT)")),
    Gate("ev_holt", (s, dir) =>
      // Holt level+trend smoothing (the forecasting upgrade of
      // ev_ewma): same ordered-fold device carrying an (l, b) pair,
      // identical IEEE op sequence as the recursive-CTE oracle —
      // raw doubles hash, incl. the one-step forecast l + b
      graft.ops.Ewma.holt(
        t(s, dir, "events").filter(col("user_id") % 3 === 1).select(
          col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", "event_id", "value",
        alpha = 0.5, beta = 0.25)
        .orderBy("user_id"),
      graft.ops.Ewma.holtSql(alpha = 0.5, beta = 0.25,
      "WHERE user_id % 3 = 1")),
    Gate("ev_funnel", (s, dir) => {
      // ordered-funnel summary: greedy earliest-first step times per
      // user, strict (>) step ordering, chained whole-partition window
      // minimums over ONE exchange — counts are non-increasing by
      // construction
      graft.ops.Funnel.funnelSummary(
        t(s, dir, "events").select(col("user_id"), col("ts"), col("event_type")),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))
        .orderBy("step_idx")
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events),
        |a AS (SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'signup' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM e),
        |b AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM a),
        |c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t3 FROM b),
        |u AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
        |  FROM c GROUP BY user_id)
        |SELECT 1 AS step_idx, 'signup' AS step, count(t1) AS n_keys FROM u
        |UNION ALL SELECT 2, 'click', count(t2) FROM u
        |UNION ALL SELECT 3, 'purchase', count(t3) FROM u
        |ORDER BY step_idx""".stripMargin),
    Gate("ev_funnel_users", (s, dir) => {
      // per-user funnel completion times under a 7-day conversion
      // window anchored at the greedy step-1 time
      graft.ops.Funnel.funnelSteps(
        t(s, dir, "events").filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("ts"), col("event_type")),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"),
        maxSpan = 604800L * 1000000000L)
        .select(col("user_id"),
          expr("timestamp_micros(t_1 div 1000)").as("t1_ts"),
          expr("timestamp_micros(t_2 div 1000)").as("t2_ts"),
          expr("timestamp_micros(t_3 div 1000)").as("t3_ts"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_type
        |  FROM events WHERE user_id % 10 = 0),
        |a AS (SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'signup' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM e),
        |b AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
        |      AND ts - t1 <= 604800000000000 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM a),
        |c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
        |      AND ts - t1 <= 604800000000000 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t3 FROM b),
        |u AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
        |  FROM c GROUP BY user_id)
        |SELECT user_id, make_timestamp(t1 // 1000) AS t1_ts,
        |  make_timestamp(t2 // 1000) AS t2_ts,
        |  make_timestamp(t3 // 1000) AS t3_ts
        |FROM u ORDER BY user_id""".stripMargin),
    Gate("ev_cohort", (s, dir) => {
      // weekly cohort-retention triangle; cohort/offset stay integer
      // bucket indices until the final timestamp projection
      graft.ops.Cohort.retention(
        t(s, dir, "events").select(col("user_id"), col("ts")),
        "user_id", "ts", bucket = 604800L * 1000000000L)
        .select(expr("timestamp_micros((cohort * 604800000000000) div 1000)").as("cohort_start"),
          col("offset").as("week_offset"), col("n_keys"))
        .orderBy("cohort_start", "week_offset")
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS b FROM events),
        |a AS (SELECT user_id, b, min(b) OVER (PARTITION BY user_id) AS cohort FROM e)
        |SELECT make_timestamp((cohort * 604800000000000) // 1000) AS cohort_start,
        |  b - cohort AS week_offset, count(DISTINCT user_id) AS n_keys
        |FROM a GROUP BY 1, 2 ORDER BY cohort_start, week_offset""".stripMargin),
    Gate("ev_first_per_window", (s, dir) => {
      // bounded-lookback dedup / rate limit: first event per user per
      // 6h tumbling window — one hash shuffle with map-side min_by
      // combine, NO window sort (the batch twin of streaming
      // dropDuplicatesWithinWatermark)
      graft.ops.Sessions.firstPerWindow(
        t(s, dir, "events").filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("event_id"), col("ts")),
        "user_id", "ts", "event_id", window = 21600L * 1000000000L)
        .select(col("user_id"),
          expr("timestamp_micros((bucket * 21600000000000) div 1000)").as("win_start"),
          col("event_id"), expr("timestamp_micros(ts div 1000)").as("ev_ts"))
        .orderBy("user_id", "win_start")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 10 = 0),
        |r AS (SELECT user_id, event_id, ts, ts // 21600000000000 AS bucket,
        |  row_number() OVER (PARTITION BY user_id, ts // 21600000000000
        |    ORDER BY ts, event_id) AS rn FROM e)
        |SELECT user_id,
        |  make_timestamp((bucket * 21600000000000) // 1000) AS win_start,
        |  event_id, make_timestamp(ts // 1000) AS ev_ts
        |FROM r WHERE rn = 1 ORDER BY user_id, win_start""".stripMargin),
    Gate("ev_merge_intervals", (s, dir) => {
      // interval-union sweep: every event opens a 30-min coverage
      // window; overlapping/touching windows flatten to disjoint
      // spans per user (one shuffle, shared window sort)
      val iv = t(s, dir, "events").filter(col("user_id") % 25 === 0)
        .select(col("user_id"), col("ts").as("lo"),
          (col("ts") + lit(1800L * 1000000000L)).as("hi"))
      graft.operators.Intervals.mergeIntervals(iv, "user_id", "lo", "hi")
        .select(col("user_id"), col("merge_seq"),
          expr("timestamp_micros(lo div 1000)").as("span_start"),
          expr("(hi - lo) div 1000000").as("span_ms"), col("n_merged"))
        .orderBy("user_id", "merge_seq")
    },
      """WITH i AS (SELECT user_id, epoch_ns(ts) AS lo,
        |  epoch_ns(ts) + 1800000000000 AS hi
        |  FROM events WHERE user_id % 25 = 0),
        |o AS (SELECT user_id, lo, hi,
        |  CASE WHEN max(hi) OVER w IS NULL OR lo > max(hi) OVER w
        |       THEN 1 ELSE 0 END AS flag
        |  FROM i WINDOW w AS (PARTITION BY user_id ORDER BY lo, hi
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |m AS (SELECT user_id, lo, hi,
        |  CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY lo, hi
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS merge_seq
        |  FROM o)
        |SELECT user_id, merge_seq,
        |  make_timestamp(min(lo) // 1000) AS span_start,
        |  (max(hi) - min(lo)) // 1000000 AS span_ms,
        |  count(*) AS n_merged
        |FROM m GROUP BY user_id, merge_seq
        |ORDER BY user_id, merge_seq""".stripMargin),
    Gate("ev_transitions", (s, dir) =>
      // first-order Markov transition census: adjacent event-type
      // pairs per user timeline (one lead window, the sessionize
      // frame) → |types|²-cell census + broadcast src marginal;
      // conditional P(dst|src) floor-quantized to ppm
      graft.ops.Transitions.transitionCensus(
        t(s, dir, "events").filter(col("user_id") % 5 === 0),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("src", "dst"),
      graft.ops.Transitions.transitionCensusSql("WHERE user_id % 5 = 0")),
    Gate("ev_attribution", (s, dir) => {
      // view→purchase attribution, the batch twin of the streaming
      // intervalJoin: each purchase matches the views of the SAME user
      // in the prior 6 h (keyed rangeJoin — equality key + binned
      // range), then the LATEST qualifying view wins (max_by with
      // event-id tie-break)
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_lo"), (col("ts") + lit(21600L * 1000000000L)).as("v_hi"))
      val purchases = ev
        .filter(col("event_type") === "purchase" && col("user_id") % 5 === 0)
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      graft.operators.RangeJoin.rangeJoin(
        purchases, views, "p_ts", "v_lo", "v_hi",
        binWidth = 21600L * 1000000000L, keys = Seq("p_user" -> "v_user"))
        .groupBy(col("p_user"), col("purchase_id"))
        .agg(max_by(col("view_id"), struct(col("v_lo"), col("view_id"))).as("view_id"),
          count(lit(1)).as("n_candidates"))
        .orderBy("p_user", "purchase_id")
    },
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_ns(ts) AS v_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user, event_id AS purchase_id, epoch_ns(ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase' AND user_id % 5 = 0),
        |j AS (SELECT p_user, purchase_id, view_id,
        |  row_number() OVER (PARTITION BY p_user, purchase_id
        |    ORDER BY v_ts DESC, view_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY p_user, purchase_id) AS n_candidates
        |  FROM p JOIN v ON p.p_user = v.user_id
        |    AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + 21600000000000)
        |SELECT p_user, purchase_id, view_id, CAST(n_candidates AS BIGINT) AS n_candidates
        |FROM j WHERE rn = 1
        |ORDER BY p_user, purchase_id""".stripMargin),
    Gate("ev_scd2", (s, dir) =>
      // SCD type-2 history build: per-user event_type change log run-
      // compressed into validity intervals (valid_to null while
      // current) — one exchange + one sort, no self-join
      graft.ops.Scd.scd2(
        t(s, dir, "events").filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("run_idx"), col("event_type"),
          expr("timestamp_micros(valid_from div 1000)").as("vf_ts"),
          expr("timestamp_micros(valid_to div 1000)").as("vt_ts"))
        // run_idx, NOT vf_ts: equal-timestamp runs (or ns starts that
        // collapse at the µs truncation) would make a timestamp sort
        // nondeterministic across engines
        .orderBy("user_id", "run_idx"),
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type
        |    FROM events WHERE user_id % 10 = 0),
        |c AS (SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER w AS rn, lag(event_type) OVER w AS prev
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |ch AS (SELECT user_id, ts, event_id, event_type FROM c
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |f AS (SELECT user_id, event_type, ts AS vf,
        |    CAST(row_number() OVER w2 AS INT) AS run_idx,
        |    lead(ts) OVER w2 AS vt
        |  FROM ch WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, run_idx, event_type,
        |  make_timestamp(vf // 1000) AS vf_ts,
        |  make_timestamp(vt // 1000) AS vt_ts
        |FROM f ORDER BY user_id, run_idx""".stripMargin),
    Gate("ev_survival", (s, dir) => {
      // Kaplan-Meier retention curve with right-censoring: activity
      // truncated at day user_id % 29 plants varied lifetimes; users
      // whose last day is within 5 days of the horizon are censored,
      // not churned. The curve's product fold is all-integer ppm —
      // the only hash-gateable formulation (see Survival scaladoc)
      val days = t(s, dir, "events")
        .select(col("user_id"),
          (expr("ts div 86400000000000") - 19723L).as("day"))
        .filter(col("day") <= col("user_id") % 29)
      graft.ops.Survival.kaplanMeier(days, "user_id", "day", gapDays = 5)
        .orderBy("t")
    },
      graft.ops.Survival.kaplanMeierSql(
        """SELECT user_id, (epoch_ns(ts) // 86400000000000) - 19723 AS day
          |FROM events
          |WHERE (epoch_ns(ts) // 86400000000000) - 19723 <= user_id % 29"""
          .stripMargin,
        gapDays = 5)),
    Gate("ev_sessionize", (s, dir) => {
      // gap-based sessionization (1h timeout), all-integer ns
      // arithmetic; ts stays a raw ns long until the final projection
      graft.ops.Sessions.sessionSummary(
        t(s, dir, "events").filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("event_id"), col("ts")),
        "user_id", "ts", "event_id", gap = 3600L * 1000000000L)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          expr("timestamp_micros(start_ts div 1000)").as("session_start"),
          expr("(end_ts - start_ts) div 1000000").as("duration_ms"))
        .orderBy("user_id", "session_seq")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w > 3600000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (SELECT user_id, ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  make_timestamp(min(ts) // 1000) AS session_start,
        |  (max(ts) - min(ts)) // 1000000 AS duration_ms
        |FROM x GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),
    Gate("ev_sessionize_events", (s, dir) => {
      // event-level twin of ev_sessionize: session_seq attached to
      // every event row — the form downstream feature pipelines join
      // against (same single-shuffle window plan, no summary groupBy)
      graft.ops.Sessions.sessionize(
        t(s, dir, "events").filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("event_id"), col("ts")),
        "user_id", "ts", "event_id", gap = 3600L * 1000000000L)
        .select(col("user_id"), col("event_id"),
          expr("timestamp_micros(ts div 1000)").as("ev_ts"),
          col("session_seq"))
        .orderBy("user_id", "event_id")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w > 3600000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, make_timestamp(ts // 1000) AS ev_ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM m ORDER BY user_id, event_id""".stripMargin),
  )
}
