package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Join and apply strategies (`o_`): bloom, as-of, salted and range
  * joins, changelog apply.
  */
private[gates] object PlansGates {

  val gates: Seq[Gate] = Seq(
    Gate("o_bloom_stats", (s, dir) => {
      // the runtime-filter census: md5-pinned bloom layout means even
      // the FALSE-POSITIVE count is deterministic and hash-gated —
      // the filter arithmetic itself is under the oracle, not just
      // the FP-insensitive join result
      val fact = t(s, dir, "lineitem").select(col("l_partkey").as("fk"))
      val dim = t(s, dir, "part").filter(col("p_retailprice") > 950)
        .select(col("p_partkey").as("dk"))
      graft.ops.Bloom.stats(fact, "fk", dim, "dk", m = 8192, k = 3)
    },
      graft.ops.Bloom.statsSql(
        "SELECT l_partkey AS fk FROM lineitem",
        "SELECT p_partkey AS dk FROM part WHERE p_retailprice > 950",
        m = 8192, k = 3)),
    Gate("o_bloom_join", (s, dir) => {
      // bloom-pruned semi join: the ~1 KB bit array broadcasts where
      // the dim rows might not; fact rows drop MAP-SIDE and only
      // survivors reach the shuffle — result identical to the plain
      // semi join (the oracle), bytes moved O(survivors)
      val fact = t(s, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .select(col("l_partkey").as("fk"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"))
      val dim = t(s, dir, "part").filter(col("p_retailprice") > 950)
        .select(col("p_partkey").as("dk"))
      graft.ops.Bloom.semiJoin(fact, "fk", dim, "dk", m = 8192, k = 3)
        .orderBy("fk", "rid")
    },
      graft.ops.Bloom.semiJoinSql(
        "SELECT l_partkey AS fk, l_orderkey * 10 + l_linenumber AS rid " +
          "FROM lineitem WHERE l_orderkey % 7 = 0",
        "SELECT p_partkey AS dk FROM part WHERE p_retailprice > 950")),
    Gate("o_asof_join", (s, dir) => {
      val left = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val right = events(s, dir)
        .groupBy(col("user_id").as("o_custkey"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      graft.operators.AsOf.asofJoinBackward(
        left, right, "o_orderdate", "ts",
        by = Seq("o_custkey"), payload = Seq("ts", "value"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("ts").as("last_ev_ts"), col("value").as("last_ev_value"))
        .orderBy("o_orderkey")
    },
      """WITH l AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders WHERE o_orderkey % 100 = 0),
        |r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, arg_max(value, event_id) AS value
        |      FROM events GROUP BY 1, 2)
        |SELECT l.o_orderkey, l.o_custkey, l.o_orderdate,
        |       r.ts AS last_ev_ts, r.value AS last_ev_value
        |FROM l ASOF LEFT JOIN r ON l.o_custkey = r.user_id AND l.o_orderdate >= r.ts
        |ORDER BY o_orderkey""".stripMargin),
    Gate("o_asof_join_tol", (s, dir) => {
      // tolerance-bounded as-of (pandas merge_asof semantics): latest
      // preceding view within 1 hour of each purchase; a nearest view
      // farther than that nulls out. Epoch-MICROS longs on both sides
      // (the events convention: DuckDB truncates ns parquet to us)
      val ev = t(s, dir, "events")
        .withColumn("ts", expr("ts div 1000"))
      val left = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
        .withColumnRenamed("ts", "vts")
      graft.operators.AsOf.asofJoinBackward(
        left, right, "ts", "vts",
        by = Seq("user_id"), payload = Seq("vts", "view_id"),
        tolerance = Some(3600L * 1000000L))
        .select(col("purchase_id"), col("user_id"), col("ts"),
          col("vts").as("view_ts"), col("view_id"))
        .orderBy("purchase_id")
    },
      """WITH l AS (SELECT event_id AS purchase_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS vts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |a AS (SELECT l.purchase_id, l.user_id, l.ts, r.vts, r.view_id
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.vts)
        |SELECT purchase_id, user_id, ts,
        |  CASE WHEN ts - vts <= 3600000000 THEN vts END AS view_ts,
        |  CASE WHEN ts - vts <= 3600000000 THEN view_id END AS view_id
        |FROM a ORDER BY purchase_id""".stripMargin),
    Gate("o_asof_join_near", (s, dir) => {
      // nearest as-of (pandas merge_asof direction='nearest'): the
      // view with the smallest |gap| to each purchase, either
      // direction, exact ties to the preceding one; both carries
      // share ONE exchange (AsOfSpec pins it)
      val ev = t(s, dir, "events")
        .withColumn("ts", expr("ts div 1000"))
      val left = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
        .withColumnRenamed("ts", "vts")
      graft.operators.AsOf.asofJoinNearest(
        left, right, "ts", "vts",
        by = Seq("user_id"), payload = Seq("vts", "view_id"))
        .select(col("purchase_id"), col("user_id"), col("ts"),
          col("vts").as("view_ts"), col("view_id"))
        .orderBy("purchase_id")
    },
      """WITH l AS (SELECT event_id AS purchase_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS vts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |b AS (SELECT l.purchase_id, l.user_id, l.ts, r.vts AS bts, r.view_id AS bid
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.vts),
        |f AS (SELECT l.purchase_id, r.vts AS fts, r.view_id AS fid
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.vts)
        |SELECT b.purchase_id, b.user_id, b.ts,
        |  CASE WHEN bts IS NULL THEN fts
        |       WHEN fts IS NULL THEN bts
        |       WHEN b.ts - bts <= fts - b.ts THEN bts ELSE fts END AS view_ts,
        |  CASE WHEN bts IS NULL THEN fid
        |       WHEN fts IS NULL THEN bid
        |       WHEN b.ts - bts <= fts - b.ts THEN bid ELSE fid END AS view_id
        |FROM b JOIN f USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin),
    Gate("o_asof_join_fwd", (s, dir) => {
      // forward twin of o_asof_join: FIRST event at-or-after the order
      // date per customer (same one-shuffle union+window plan)
      val left = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val right = events(s, dir)
        .groupBy(col("user_id").as("o_custkey"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      graft.operators.AsOf.asofJoinForward(
        left, right, "o_orderdate", "ts",
        by = Seq("o_custkey"), payload = Seq("ts", "value"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("ts").as("next_ev_ts"), col("value").as("next_ev_value"))
        .orderBy("o_orderkey")
    },
      """WITH l AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders WHERE o_orderkey % 100 = 0),
        |r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, arg_max(value, event_id) AS value
        |      FROM events GROUP BY 1, 2)
        |SELECT l.o_orderkey, l.o_custkey, l.o_orderdate,
        |       r.ts AS next_ev_ts, r.value AS next_ev_value
        |FROM l ASOF LEFT JOIN r ON l.o_custkey = r.user_id AND l.o_orderdate <= r.ts
        |ORDER BY o_orderkey""".stripMargin),
    Gate("o_salted_join", (s, dir) => {
      // the Skew.saltedJoin result must be EXACTLY the plain join's
      // (salting redistributes rows, never changes them) — so the
      // oracle is the unsalted SQL join, making equivalence itself
      // the gated property
      val dims = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.Skew.saltedJoin(t(s, dir, "lineitem"), dims,
        "l_orderkey", saltFactor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          decAgg(sum(dec(col("l_quantity"), 12, 2)), 18, 2).as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n,
        |CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 100 = 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Gate("o_range_join", (s, dir) => {
      // binned interval-point range join, NO equality key: attribute a
      // sampled event population to session windows (±5 min padding)
      // derived from a DIFFERENT user population — the "events within
      // campaign windows" shape a raw non-equi join would plan as a
      // nested-loop cartesian. All-integer ns arithmetic; binWidth =
      // 1h ≈ the session-gap scale, so interval replicas stay O(1)
      val ev = t(s, dir, "events")
      val intervals = graft.ops.Sessions.sessionSummary(
        ev.filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("event_id"), col("ts")),
        "user_id", "ts", "event_id", gap = 3600L * 1000000000L)
        .select(col("user_id").as("i_user"), col("session_seq"),
          (col("start_ts") - lit(300L * 1000000000L)).as("lo"),
          (col("end_ts") + lit(300L * 1000000000L)).as("hi"))
      val pts = ev.filter(col("user_id") % 7 === 0)
        .select(col("ts").as("p_ts"))
      val hits = graft.operators.RangeJoin.rangeJoin(
        pts, intervals, "p_ts", "lo", "hi",
        binWidth = 3600L * 1000000000L)
        .groupBy(col("i_user"), col("session_seq"))
        .agg(count(lit(1)).as("n_hits"))
      intervals.join(hits, Seq("i_user", "session_seq"), "left")
        .select(col("i_user"), col("session_seq"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("i_user", "session_seq")
    },
      """WITH se AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w > 3600000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM se WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (SELECT user_id, ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m),
        |i AS (SELECT user_id AS i_user, session_seq,
        |  min(ts) - 300000000000 AS lo, max(ts) + 300000000000 AS hi
        |  FROM x GROUP BY 1, 2),
        |p AS (SELECT epoch_ns(ts) AS p_ts FROM events WHERE user_id % 7 = 0)
        |SELECT i_user, session_seq, count(p.p_ts) AS n_hits
        |FROM i LEFT JOIN p ON p.p_ts >= i.lo AND p.p_ts <= i.hi
        |GROUP BY i_user, session_seq
        |ORDER BY i_user, session_seq""".stripMargin),
    Gate("o_range_join_rewrite", (s, dir) => {
      // the INJECTED OPTIMIZER RULE under the gate: the same range
      // attribution as o_range_join, but written as the NAIVE
      // non-equi join a user would type — inside a child session
      // with GraftExtensions + spark.graft.rangeJoin.binWidth set,
      // RangeJoinRewrite must substitute the binned equi-join on the
      // logical plan. The row itself asserts the executed plan holds
      // no nested-loop/cartesian: a silently-inert rule fails loudly
      // here, not at 100 TB
      val c = GraftSession.withExtensions(s)
      c.conf.set("spark.sql.shuffle.partitions", "32")
      c.conf.set("spark.graft.rangeJoin.binWidth",
        (3600L * 1000000000L).toString)
      val ev = t(c, dir, "events")
      val intervals = graft.ops.Sessions.sessionSummary(
        ev.filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("event_id"), col("ts")),
        "user_id", "ts", "event_id", gap = 3600L * 1000000000L)
        .select(col("user_id").as("i_user"), col("session_seq"),
          (col("start_ts") - lit(300L * 1000000000L)).as("lo"),
          (col("end_ts") + lit(300L * 1000000000L)).as("hi"))
      val pts = ev.filter(col("user_id") % 7 === 0)
        .select(col("ts").as("p_ts"))
      val hits = pts
        .join(intervals, col("p_ts") >= col("lo") && col("p_ts") <= col("hi"))
        .groupBy(col("i_user"), col("session_seq"))
        .agg(count(lit(1)).as("n_hits"))
      val res = intervals.join(hits, Seq("i_user", "session_seq"), "left")
        .select(col("i_user"), col("session_seq"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("i_user", "session_seq")
      val plan = res.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        "RangeJoinRewrite did not fire: naive range join kept its " +
          s"nested-loop plan\n$plan")
      res
    },
      // identical result contract to o_range_join: the gate varies
      // the PLAN (optimizer-injected rewrite of the naive join), not
      // the semantics
      """WITH se AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w > 3600000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM se WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (SELECT user_id, ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m),
        |i AS (SELECT user_id AS i_user, session_seq,
        |  min(ts) - 300000000000 AS lo, max(ts) + 300000000000 AS hi
        |  FROM x GROUP BY 1, 2),
        |p AS (SELECT epoch_ns(ts) AS p_ts FROM events WHERE user_id % 7 = 0)
        |SELECT i_user, session_seq, count(p.p_ts) AS n_hits
        |FROM i LEFT JOIN p ON p.p_ts >= i.lo AND p.p_ts <= i.hi
        |GROUP BY i_user, session_seq
        |ORDER BY i_user, session_seq""".stripMargin),
    Gate("o_changelog_apply", (s, dir) => {
      // CDC changelog materialization: an ordered I/U/D stream (seq =
      // key*10+slice, unique per key) applied to a base snapshot —
      // last writer wins per key, a winning D drops the key even when
      // the same batch inserted it, untouched rows pass through. The
      // base meets the changelog in ONE left-anti join on |delta|
      // distinct keys; everything else is changelog-sized
      val (base, log) = changelogFixture(s, dir)
      graft.ops.Changelog.apply(base, log, "k", "seq", "op")
        .orderBy("k")
    },
      s"""WITH $changelogOracleCtes
         |SELECT k, status, price FROM winner WHERE op <> 'D'
         |UNION ALL
         |SELECT k, status, price FROM base
         |WHERE k NOT IN (SELECT k FROM log)
         |ORDER BY k""".stripMargin),
    Gate("o_write_conflicts", (s, dir) => {
      // OCC row-level conflict check between two concurrent writers:
      // each txn updates one key family and deletes a subfamily;
      // keys both touched are the contended set (two delta-sized
      // winner joins). %225 keys are deleted by BOTH — delete_delete,
      // the benign kind an engine can auto-resolve; the coprime
      // update families (%3 vs %5) make every winner combination
      // (U,U)/(U,D)/(D,U)/(D,D) reachable
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"))
      def txn(uMod: Int, dMod: Int) =
        o.filter(col("k") % uMod === 0)
          .select(col("k"), (col("k") * 10 + 1).as("seq"),
            lit("U").as("op"))
          .unionByName(o.filter(col("k") % dMod === 0)
            .select(col("k"), (col("k") * 10 + 2).as("seq"),
              lit("D").as("op")))
      graft.ops.Changelog.conflicts(
        txn(3, 9), txn(5, 25), "k", "seq", "op")
        .orderBy("k")
    },
      s"""WITH ta AS (
         |  SELECT o_orderkey AS k, o_orderkey*10+1 AS seq, 'U' AS op
         |    FROM orders WHERE o_orderkey % 3 = 0
         |  UNION ALL
         |  SELECT o_orderkey, o_orderkey*10+2, 'D'
         |    FROM orders WHERE o_orderkey % 9 = 0),
         |tb AS (
         |  SELECT o_orderkey AS k, o_orderkey*10+1 AS seq, 'U' AS op
         |    FROM orders WHERE o_orderkey % 5 = 0
         |  UNION ALL
         |  SELECT o_orderkey, o_orderkey*10+2, 'D'
         |    FROM orders WHERE o_orderkey % 25 = 0),
         |wa AS (SELECT l.k, l.op AS a_op FROM ta l
         |  JOIN (SELECT k, max(seq) AS seq FROM ta GROUP BY 1) w
         |  ON l.k = w.k AND l.seq = w.seq),
         |wb AS (SELECT l.k, l.op AS b_op FROM tb l
         |  JOIN (SELECT k, max(seq) AS seq FROM tb GROUP BY 1) w
         |  ON l.k = w.k AND l.seq = w.seq)
         |SELECT wa.k, a_op, b_op,
         |  CASE WHEN a_op = 'D' AND b_op = 'D' THEN 'delete_delete'
         |       ELSE 'write_write' END AS kind
         |FROM wa JOIN wb ON wa.k = wb.k
         |ORDER BY wa.k""".stripMargin),
    Gate("o_changelog_net", (s, dir) => {
      // changelog compaction, base-aware: per touched key the net
      // action a writer must take (update/delete/insert/noop) — the
      // Kafka-style per-key topic compaction, with insert-then-delete
      // churn classified as noop instead of a write + tombstone
      val (base, log) = changelogFixture(s, dir)
      graft.ops.Changelog.netEffect(base.select(col("k")), log,
        "k", "seq", "op")
        .orderBy("k")
    },
      s"""WITH $changelogOracleCtes
         |SELECT w.k, w.n_ops, w.op AS last_op,
         |  CASE WHEN b.k IS NOT NULL THEN
         |    (CASE WHEN w.op = 'D' THEN 'delete' ELSE 'update' END)
         |  ELSE
         |    (CASE WHEN w.op = 'D' THEN 'noop' ELSE 'insert' END)
         |  END AS net
         |FROM winner w LEFT JOIN (SELECT DISTINCT k FROM base) b
         |  ON w.k = b.k
         |ORDER BY w.k""".stripMargin),
    Gate("o_interval_overlap", (s, dir) => {
      // interval×interval overlap join: concurrent sessions across two
      // user populations (each pair meets once, in the bin of the
      // overlap's start — no dedup shuffle)
      val ev = t(s, dir, "events")
      def sessions(modK: Int, prefix: String) = graft.ops.Sessions.sessionSummary(
        ev.filter(col("user_id") % modK === 0)
          .select(col("user_id"), col("event_id"), col("ts")),
        "user_id", "ts", "event_id", gap = 3600L * 1000000000L)
        .select(col("user_id").as(s"${prefix}_user"),
          col("session_seq").as(s"${prefix}_seq"),
          (col("start_ts") - lit(300L * 1000000000L)).as(s"${prefix}_lo"),
          (col("end_ts") + lit(300L * 1000000000L)).as(s"${prefix}_hi"))
      graft.operators.RangeJoin.intervalOverlapJoin(
        sessions(10, "l"), sessions(7, "r"),
        "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 3600L * 1000000000L)
        .select(col("l_user"), col("l_seq"), col("r_user"), col("r_seq"))
        .orderBy("l_user", "l_seq", "r_user", "r_seq")
    },
      """WITH e10 AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 10 = 0),
        |m10 AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w > 3600000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e10 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x10 AS (SELECT user_id, ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m10),
        |l AS (SELECT user_id AS l_user, session_seq AS l_seq,
        |  min(ts) - 300000000000 AS l_lo, max(ts) + 300000000000 AS l_hi
        |  FROM x10 GROUP BY 1, 2),
        |e7 AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 7 = 0),
        |m7 AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w > 3600000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e7 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x7 AS (SELECT user_id, ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m7),
        |r AS (SELECT user_id AS r_user, session_seq AS r_seq,
        |  min(ts) - 300000000000 AS r_lo, max(ts) + 300000000000 AS r_hi
        |  FROM x7 GROUP BY 1, 2)
        |SELECT l_user, l_seq, r_user, r_seq
        |FROM l JOIN r ON l_lo <= r_hi AND r_lo <= l_hi
        |ORDER BY l_user, l_seq, r_user, r_seq""".stripMargin),
  )
}
