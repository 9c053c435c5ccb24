package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.FrameOps

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-equivalent `oracleSql` over the
  * same parquet tables.
  *
  * Determinism rules for oracle hash-matching:
  *   - never sum raw doubles (addition order differs across engines);
  *     cast per-value to a fixed-scale DECIMAL first — double→decimal
  *     rounding ties are unreachable (no binary double equals a
  *     x.5·10^-s decimal boundary), so both engines round identically
  *     and decimal aggregation is exact;
  *   - alias every computed column identically on both sides;
  *   - ORDER BY deterministic keys on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** DuckDB rendering of the planted-leak corpus shared by
    * `e_semantic_contam` (batch scan) and `st_semantic_contam`
    * (stream twin): the `% 10 = 0` slice as doubles plus int8
    * re-encoded copies of the `% 40 = 3` rows under id+2000000.
    */
  private lazy val semContamCorpusSql: String = {
    import graft.ann.Ann.{dequantElemSql, qscaleSql, quantizeElemSql}
    s"""SELECT vec_id AS id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |FROM embeddings WHERE vec_id % 10 = 0
       |UNION ALL
       |SELECT vec_id + 2000000 AS id,
       |  list_transform(embedding, x ->
       |    ${dequantElemSql(quantizeElemSql("x", "qscale"), "qscale")}) AS v
       |FROM (SELECT vec_id, embedding,
       |    ${qscaleSql("embedding")} AS qscale
       |  FROM embeddings WHERE vec_id % 40 = 3) s""".stripMargin
  }

  /** The eval-set side of the semantic-contamination gates. */
  private lazy val semContamEvalSql: String =
    """SELECT vec_id AS id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |FROM embeddings WHERE vec_id % 20 = 3""".stripMargin

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

  /** The event operators and their DuckDB oracles share one `ts`
    * convention: int64 epoch nanoseconds (the oracles read the parquet
    * natively and apply `epoch_ns(ts)`). Testdata vintages differ —
    * some store NANOS-annotated int64 (read as long via
    * `spark.sql.legacy.parquet.nanosAsLong`), newer ones store
    * `timestamp[us]` — so normalize at the read boundary: every
    * downstream operator sees ns-long regardless of vintage. A
    * map-side projection only; no shuffle, stays in codegen.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // parquet timestamp[us] reads as NTZ (isAdjustedToUTC=false);
      // every session pins spark.sql.session.timeZone=UTC so the
      // NTZ→TZ cast is the identity and matches DuckDB's naive
      // epoch_ns interpretation of the same values
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case LongType => df
      case other => throw new IllegalStateException(
        s"events.ts: expected TIMESTAMP or BIGINT, got $other")
    }

  /** events with `ts` as a proper timestamp (µs precision — both
    * vintages carry µs resolution; DuckDB likewise truncates ns to µs).
    */
  private def events(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  private def dec(c: Column, p: Int, sc: Int): Column = c.cast(DecimalType(p, sc))

  /** Exact decimal aggregate → DOUBLE for the final projection.
    *
    * The driver's hasher folds decimal *physical representation* into the
    * hash (Spark parquet decimal width vs DuckDB native decimal), so a
    * value-equal DECIMAL column still hash-mismatches (round-1 verdict:
    * all 7 hash failures were exactly the decimal-output queries) — final
    * output schemas must be decimal-free. The conversion goes through a
    * STRING intermediary on BOTH engine sides: decimal-string → double
    * parsing is correctly rounded in both Spark (Double.parseDouble) and
    * DuckDB (fast_float), guaranteeing bit-identical doubles. A direct
    * decimal → double cast is NOT safe: DuckDB converts int128 → double
    * then divides by 10^scale — two roundings that can differ from
    * Spark's correctly-rounded BigDecimal.doubleValue by 1 ulp once the
    * scaled integer exceeds 2^53 (e.g. DECIMAL(28,8) sums at large scale
    * factors). Keep the per-value decimal casts INSIDE the aggregation —
    * they are what makes the sums order-independent and deterministic.
    */
  private def decAgg(c: Column, p: Int, sc: Int): Column =
    dec(c, p, sc).cast(StringType).cast(DoubleType)

  /** price × (1 - discount) with exact decimal arithmetic. */
  private def revenueExpr: Column =
    dec(dec(col("l_extendedprice"), 18, 4) * (lit(1) - dec(col("l_discount"), 6, 4)), 18, 8)

  private val revenueSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(18,8))"

  /** One deterministic per-process scratch root for sink round-trip
    * queries: Overwrite-mode writes reuse it across bench/verify
    * passes instead of leaking a directory per invocation.
    */
  private def scratchRoot(): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scratch")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Planted fuzzy near-dup corpus shared by `d_fuzzy_pairs` and
    * `d_fuzzy_clusters` — ONE Spark-side construction (and one oracle
    * core below) so the gate pair cannot silently desynchronize: 17
    * template groups (24 hex chars of a group md5, far apart
    * cross-group) with per-doc suffix perturbations 0–3 edits apart.
    */
  private def plantedFuzzy(s: SparkSession, dir: String): DataFrame = {
    val grp = md5((col("doc_id") % 17).cast("string"))
    t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"),
        concat(lit("g"), substring(grp, 1, 24),
          when(col("doc_id") % 3 === 0, lit(""))
            .when(col("doc_id") % 3 === 1, lit(" x"))
            .otherwise(lit(" yy"))).as("text"))
  }

  /** Planted per-document URLs shared by `t_url_domains` and
    * `p_cap_domain`: 23 synthetic domains + a 1-in-3 mirror host, no
    * URL on every 4th doc (identical construction in both oracles).
    */
  private def plantedUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" https://s"),
            (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
            col("doc_id").cast("string"),
            when(col("doc_id") % 3 === 0, lit(" http://mirror.example.org/m"))
              .otherwise(lit("")))).as("text"))

  /** Planted-class labeled documents for the classifier trainer
    * gates — class tokens appended by doc-id parity, identical
    * construction in [[graft.text.HashedClassifier.plantedLabelSql]].
    */
  private def plantedClassDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        (col("doc_id") % 2).cast("long").as("label"),
        concat(col("text"), when(col("doc_id") % 2 === 1,
          lit(" valueoffer promodeal valueoffer promodeal"))
          .otherwise(lit(" plainnote calmtext plainnote calmtext")))
          .as("text"))

  /** `(id, domain)` URL rows of the [[plantedUrls]] corpus — the
    * shared oracle core for the domain-graph centrality gates
    * (`s_domain_rank` PageRank, `s_domain_hits` HITS).
    */
  private val plantedDomainRowsSql: String =
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN text
      |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
      |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
      |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
      |                 ELSE '' END END AS text
      |  FROM documents),
      |uu AS (SELECT doc_id AS id,
      |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
      |  FROM d)
      |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
      |FROM uu""".stripMargin

  /** Shared oracle core for the planted fuzzy near-dup pairs
    * (`d_fuzzy_pairs` gates the pairs; `d_fuzzy_clusters` feeds the
    * same pair set through the recursive-CTE component labeling).
    */
  private val fuzzyPairsOracle: String =
    """WITH d AS (SELECT doc_id AS id,
      |  'g' || substr(md5(CAST(doc_id % 17 AS VARCHAR)), 1, 24) ||
      |  CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN ' x' ELSE ' yy' END AS t
      |  FROM documents WHERE doc_id % 5 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
      |FROM d a JOIN d b ON a.id < b.id
      |WHERE abs(length(a.t) - length(b.t)) <= 3 AND levenshtein(a.t, b.t) <= 3""".stripMargin

  /** Shared fixture for the CDC changelog gates: a base snapshot
    * (3/4 of orders) plus a deterministic I/U/D changelog derived
    * from order keys — double updates (%6 supersedes %3), deletes
    * (%9), inserts of keys outside the base (%4), and the
    * insert-then-delete churn case on their overlaps (%36). `seq =
    * key*10 + slice` is unique per key, the [[graft.ops.Changelog]]
    * contract.
    */
  private def changelogFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    val base = o.filter(col("k") % 4 =!= 0)
    def slice(modK: Int, seqOff: Int, op: String,
        status: Column, price: Column) =
      o.filter(col("k") % modK === 0)
        .select(col("k"), (col("k") * 10 + seqOff).as("seq"),
          lit(op).as("op"), status.as("status"), price.as("price"))
    val log =
      slice(3, 1, "U", lit("U1"), col("price") * 2)
        .unionByName(slice(6, 2, "U", lit("U2"), col("price") * 4))
        .unionByName(slice(9, 3, "D", lit("X"), lit(0.0)))
        .unionByName(slice(4, 0, "I", lit("I0"), col("price") + 1))
    (base, log)
  }

  /** The changelog gates' shared oracle CTEs (mirror of
    * [[changelogFixture]] plus the winner join).
    */
  private val changelogOracleCtes: String =
    """base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
      |    o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 4 <> 0),
      |log AS (
      |  SELECT o_orderkey AS k, o_orderkey*10+1 AS seq, 'U' AS op,
      |      'U1' AS status, o_totalprice*2 AS price
      |    FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+2, 'U', 'U2', o_totalprice*4
      |    FROM orders WHERE o_orderkey % 6 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+3, 'D', 'X', 0.0
      |    FROM orders WHERE o_orderkey % 9 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+0, 'I', 'I0', o_totalprice+1
      |    FROM orders WHERE o_orderkey % 4 = 0),
      |win AS (SELECT k, max(seq) AS seq, CAST(count(*) AS BIGINT) AS n_ops
      |  FROM log GROUP BY 1),
      |winner AS (SELECT l.k, l.op, l.status, l.price, w.n_ops
      |  FROM log l JOIN win w ON l.k = w.k AND l.seq = w.seq)""".stripMargin

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- analytical core (Catalyst-planned joins/aggregations)
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decAgg(sum(dec(col("l_quantity"), 12, 2)), 18, 2).as("sum_qty"),
          decAgg(sum(dec(col("l_extendedprice"), 18, 4)), 24, 4).as("sum_base_price"),
          decAgg(sum(revenueExpr), 28, 8).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q3_shipping_priority" -> ((s, dir) => {
      val customer = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      val lineitem = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(decAgg(sum(revenueExpr), 28, 8).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q5_local_supplier" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(decAgg(sum(revenueExpr), 28, 8).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "w_topk_per_segment" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 24)
        .agg(decAgg(sum(dec(dec(col("l_extendedprice"), 18, 4) * dec(col("l_discount"), 6, 4), 18, 8)), 28, 8)
          .as("revenue"))
    }),
    "q4_priority_exists" -> ((s, dir) => {
      // TPC-H Q4 shape (EXISTS decorrelation): orders in a quarter
      // with at least one returned line — planned as a LEFT SEMI join
      // (never a per-row subquery), aggregated per priority
      val returned = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-10-01 00:00:00")))
        .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),
    "q10_returned_items" -> ((s, dir) => {
      // TPC-H Q10 shape: revenue lost to returns per customer over a
      // quarter — lineitem streams once through two joins (orders
      // filtered+broadcast-eligible, customer dimension), exact
      // decimal revenue, top-20 as TakeOrderedAndProject
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-10-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(decAgg(sum(revenueExpr), 28, 8).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    "q18_large_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: orders whose total quantity clears a
      // threshold — the grouped-HAVING subquery becomes a semi-joined
      // aggregate frame (order-keyed agg once, no correlated re-scan),
      // then the dimension joins; top-50 as TakeOrderedAndProject
      val bigOrders = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(decAgg(sum(dec(col("l_quantity"), 12, 2)), 18, 2).as("total_qty"))
        .filter(col("total_qty") > 75.0)
      bigOrders
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(50)
    }),
    "q2_min_cost_supplier" -> ((s, dir) => {
      // TPC-H Q2 shape: the correlated "supplier with the MIN cost for
      // this part" subquery becomes a per-key struct-min aggregate
      // over the joined (part, supplier) pairs — one map-side-
      // combinable shuffle on the part key, never a per-part re-scan;
      // ties break to the lowest suppkey inside the same struct
      // comparison (acctbal is non-null in this schema — struct-min
      // null ordering is engine-divergent, so a nullable cost column
      // would need a null-filter first)
      val parts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#13")
        .select(col("p_partkey"), col("p_name"))
      val pairs = t(s, dir, "lineitem")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"),
          col("s_suppkey"), col("s_acctbal"))
        .distinct()
      pairs.groupBy(col("p_partkey"), col("p_name"))
        .agg(min(struct(col("s_acctbal"), col("s_suppkey"))).as("b"))
        .select(col("p_partkey"), col("p_name"),
          col("b.s_suppkey").as("s_suppkey"),
          col("b.s_acctbal").as("s_acctbal"))
        .orderBy(col("p_partkey"))
    }),
    "q11_important_parts" -> ((s, dir) => {
      // TPC-H Q11 shape: per-key value HAVING a fraction of the GLOBAL
      // total — the scalar subquery becomes a single-row aggregate
      // broadcast into every partition (BroadcastNestedLoopJoin on a
      // 1-row side, not a driver collect). Both the per-part values and
      // the grand total are exact decimal sums, so the threshold
      // comparison is bit-identical across engines; the total is
      // derived from the per-part DECIMAL census — decimal addition is
      // exact and order-independent, so re-summing the per-part sums
      // equals the base-table total bit-for-bit (re-summing DOUBLES
      // would not). The census persists (the Drift precedent): both
      // its consumers — the grand total and the per-part probe — read
      // the cache, so lineitem is scanned ONCE, and the total is a
      // 1-row aggregate over part-count rows, not a second corpus
      // pass. The threshold is 1.5× the MEAN per-part value —
      // scale-invariant, unlike a fixed fraction of the total (which
      // empties as the part count grows).
      graft.ops.Caching.withPersisted(
        t(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(dec(sum(revenueExpr), 28, 8).as("pv_dec"))) { perPartDec =>
        val total = perPartDec
          .agg(decAgg(sum(col("pv_dec")), 30, 8).as("total_value"),
            count(lit(1)).as("np"))
        perPartDec
          .select(col("l_partkey"),
            col("pv_dec").cast(StringType).cast(DoubleType).as("part_value"))
          .crossJoin(broadcast(total))
          .filter(col("part_value") > lit(1.5) * (col("total_value") / col("np")))
          .select(col("l_partkey"), col("part_value"))
          .orderBy(col("part_value").desc, col("l_partkey"))
      }
    }),
    "q12_priority_counts" -> ((s, dir) => {
      // TPC-H Q12 shape: conditional counts (sum-of-CASE) after a
      // fact-to-fact join — orders projects only its join key and the
      // CASE input, and both branch counts come from ONE aggregate
      // pass over the joined rows (no second scan, no pivot)
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),
    "q13_order_distribution" -> ((s, dir) => {
      // TPC-H Q13 shape: two-level aggregation over an OUTER join —
      // customers with zero (qualifying) orders must survive, so the
      // order-side predicate is applied BEFORE the left join (≡ an
      // ON-clause filter), and count(o_custkey) counts matches only.
      // Level 2 groups the per-customer counts into a distribution.
      val qualifying = t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .select(col("o_custkey"))
      t(s, dir, "customer").select(col("c_custkey"))
        .join(qualifying, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    "q15_top_supplier" -> ((s, dir) => {
      // TPC-H Q15 shape: the revenue "view" is computed ONCE and feeds
      // both the per-supplier rows and the MAX scalar — the
      // `WHERE total_revenue = (SELECT MAX ...)` becomes a 1-row
      // broadcast + equality filter, never a re-aggregation. The
      // equality compares the same exact-decimal-rendered doubles on
      // both engines, so ties (all maxima) survive identically.
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
        .groupBy(col("l_suppkey"))
        .agg(decAgg(sum(revenueExpr), 28, 8).as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("max_rev"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),
    "q17_small_quantity" -> ((s, dir) => {
      // TPC-H Q17 shape: the correlated per-part AVG subquery is
      // decorrelated into ONE grouped aggregate joined back on the
      // part key. The brand-filtered slice PERSISTS (the q11/Drift
      // precedent): without it, "feeds both the average and the
      // probe" is only true of the logical plan — physically Spark
      // would scan-and-join lineitem twice, the dominant cost at
      // corpus scale. The average is an exact decimal SUM divided by
      // the group count (one double divide, identical op order in
      // the oracle), never a float SUM.
      val parts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      graft.ops.Caching.withPersisted(
        t(s, dir, "lineitem")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"))) { li =>
        val avgQ = li
          .groupBy(col("l_partkey").as("a_partkey"))
          .agg((decAgg(sum(dec(col("l_quantity"), 12, 2)), 18, 2) /
            count(lit(1))).as("avg_qty"))
        li.join(avgQ, col("l_partkey") === col("a_partkey"))
          .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg((decAgg(sum(dec(col("l_extendedprice"), 18, 2)), 28, 2) /
            lit(7.0)).as("avg_yearly"),
            count(lit(1)).as("n_lines"))
      }
    }),
    "q19_disjunctive_filter" -> ((s, dir) => {
      // TPC-H Q19 shape: an OR-of-ANDs predicate across both join
      // sides — the join key is the only equi condition; Catalyst
      // extracts the common l_partkey = p_partkey conjunct so the OR
      // block evaluates as a post-join filter instead of forcing a
      // nested-loop join, and per-side IsNotNull/range conjuncts are
      // inferred and pushed to the scans
      val joined = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      val brand = (b: String, szLo: Int, szHi: Int, qLo: Double, qHi: Double) =>
        col("p_brand") === b && col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      joined
        .filter(brand("Brand#12", 1, 5, 1.0, 11.0) ||
          brand("Brand#23", 1, 10, 10.0, 20.0) ||
          brand("Brand#34", 1, 15, 20.0, 30.0))
        .agg(decAgg(sum(revenueExpr), 28, 8).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),
    "q22_idle_customers" -> ((s, dir) => {
      // TPC-H Q22 shape: an anti join against the fact table gated by
      // a GLOBAL scalar threshold — the positive-balance average is a
      // 1-row exact-decimal aggregate broadcast to every customer
      // partition, and "no urgent order" is a LEFT ANTI join (never a
      // correlated NOT EXISTS re-scan). The projected customer slice
      // persists so the scalar and the probe share ONE scan (the
      // q11/q17 discipline). Grouped totals are exact decimal sums
      // rendered as doubles only at the output edge.
      graft.ops.Caching.withPersisted(
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            col("c_acctbal"))) { cust =>
        val avgBal = cust
          .filter(col("c_acctbal") > 0.0)
          .agg((decAgg(sum(dec(col("c_acctbal"), 12, 2)), 18, 2) /
            count(lit(1))).as("avg_bal"))
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        cust
          .crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"),
            decAgg(sum(dec(col("c_acctbal"), 12, 2)), 18, 2).as("totacctbal"))
          .orderBy(col("c_nationkey"))
      }
    }),
    "q14_promo_revenue" -> ((s, dir) => {
      // TPC-H Q14 shape: promo share of one month's revenue — part is
      // the broadcast dimension; both sums are exact decimals, the
      // percentage is the only double op (one multiply, one divide —
      // identical op order in the oracle)
      val parts = t(s, dir, "part")
        .select(col("p_partkey"), col("p_type"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-03-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
        .join(parts, col("l_partkey") === col("p_partkey"))
        .agg(
          decAgg(sum(when(col("p_type").startsWith("PROMO"), revenueExpr)
            .otherwise(dec(lit(0), 18, 8))), 28, 8).as("promo_revenue"),
          decAgg(sum(revenueExpr), 28, 8).as("total_revenue"))
        .withColumn("promo_pct",
          lit(100.0) * col("promo_revenue") / col("total_revenue"))
    }),
    "q7_nation_volume" -> ((s, dir) => {
      // TPC-H Q7 shape: bilateral trade volume between two nations per
      // ship year. The nation-pair predicate is resolved BEFORE the
      // fact joins: supplier⨝nation collapses to a tiny broadcast map
      // (suppliers of the two nations only), and customer is filtered
      // through the same broadcast nation slice — so lineitem rows from
      // the other 23 supplier nations never reach the shuffle. The
      // direction disjunction ((N1,N2)|(N2,N1)) is a post-join filter
      // over two small dictionary columns, not a join condition.
      val twoNations = broadcast(t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2")))
      val supp = broadcast(t(s, dir, "supplier")
        .join(twoNations, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val cust = t(s, dir, "customer")
        .join(twoNations, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast(IntegerType).as("l_year"))
        .agg(decAgg(sum(revenueExpr), 28, 8).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
    "q8_market_share" -> ((s, dir) => {
      // TPC-H Q8 shape: one supplier nation's share of a region's
      // import volume per order year. Every dimension prunes before
      // the fact joins: part filtered to one type (broadcast),
      // supplier carries its nation name (broadcast), customer keeps
      // only the AMERICA region via a broadcast nation⨝region slice.
      // Share = exact-decimal numerator / exact-decimal denominator,
      // both rendered to double first so the single IEEE division is
      // bit-identical across engines.
      val parts = broadcast(t(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey")))
      val supp = broadcast(t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val regionCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "AMERICA")
          .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      t(s, dir, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(regionCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(year(col("o_orderdate")).cast(IntegerType).as("o_year"))
        .agg(
          decAgg(sum(when(col("supp_nation") === "NATION_3", revenueExpr)
            .otherwise(dec(lit(0), 18, 8))), 28, 8).as("num"),
          decAgg(sum(revenueExpr), 28, 8).as("den"))
        .select(col("o_year"), (col("num") / col("den")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),
    "q9_product_profit" -> ((s, dir) => {
      // TPC-H Q9 shape (adapted: no partsupp table in this schema, so
      // supply cost is p_retailprice × quantity instead of
      // ps_supplycost × quantity — same 5-way join topology with an
      // expression-derived profit measure). Part is name-filtered and
      // broadcast WITH its retailprice so the profit expression needs
      // no extra join; supplier⨝nation is the second broadcast; only
      // lineitem⨝orders shuffles. Profit stays exact decimal until the
      // output edge.
      val parts = broadcast(t(s, dir, "part")
        .filter(col("p_name").startsWith("blue"))
        .select(col("p_partkey"), col("p_retailprice")))
      val supp = broadcast(t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation")))
      val amount = dec(revenueExpr -
        dec(dec(col("p_retailprice"), 18, 4) * dec(col("l_quantity"), 12, 2), 24, 6),
        28, 8)
      t(s, dir, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast(IntegerType).as("o_year"))
        .agg(decAgg(sum(amount), 30, 8).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),
    "q16_supplier_count" -> ((s, dir) => {
      // TPC-H Q16 shape (adapted: supplier participation comes from
      // lineitem instead of the absent partsupp, and the excluded-
      // supplier subquery keys on negative balance instead of a
      // comment pattern). The NOT IN subquery is a broadcast LEFT ANTI
      // join (s_suppkey is non-null, so anti ≡ NOT IN); part prunes on
      // brand+size before broadcasting; count(DISTINCT) shuffles once
      // on the (brand,type,size) group key with partial distinct
      // map-side.
      val sizes = Seq(1, 9, 19, 25, 33, 38, 42, 47)
      val parts = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_size").isin(sizes: _*))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
      val badSupp = broadcast(t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey")))
      t(s, dir, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),
    "q20_part_promotion" -> ((s, dir) => {
      // TPC-H Q20 shape (adapted: availability comes from shipped
      // quantity instead of the absent partsupp.ps_availqty): the
      // nested semi chain — suppliers IN (those whose per-part shipped
      // quantity over a year clears a threshold) AND in region ASIA.
      // The inner aggregate groups on (suppkey, partkey) after a
      // broadcast part-name prune; its distinct suppkeys then semi-
      // join the region-pruned supplier dimension. Supplier-side dims
      // are all broadcast; the only shuffle is the inner groupBy.
      val parts = broadcast(t(s, dir, "part")
        .filter(col("p_name").startsWith("blue")).select(col("p_partkey")))
      val qualified = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(decAgg(sum(dec(col("l_quantity"), 12, 2)), 18, 2).as("sum_qty"))
        .filter(col("sum_qty") > 60.0)
        .select(col("l_suppkey"))
      val asiaNations = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA").select(col("n_nationkey")))
      t(s, dir, "supplier")
        .join(asiaNations, col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),
    "q21_waiting_suppliers" -> ((s, dir) => {
      // TPC-H Q21 shape (adapted: "late" = returnflag R instead of the
      // absent receipt/commit dates — same exists+not-exists multi-join
      // topology): for each returned line of a finalized order, there
      // EXISTS another supplier's line in the same order (multi-
      // supplier order) and NOT EXISTS another supplier's RETURNED
      // line (this supplier is the only one at fault). Both
      // quantifiers plan as LEFT SEMI / LEFT ANTI joins on the order
      // key with the supplier-inequality as a join residual — never a
      // per-row subquery. Supplier names arrive via broadcast at the
      // end, after the fact-side row count has collapsed.
      val l1 = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val l2 = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
      val l3 = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("l3_orderkey"), col("l_suppkey").as("l3_suppkey"))
      l1
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(l2, col("l_orderkey") === col("l2_orderkey") &&
          col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_orderkey") &&
          col("l_suppkey") =!= col("l3_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),
    "q_rollup_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          decAgg(sum(dec(col("l_quantity"), 12, 2)), 18, 2).as("sum_qty"),
          grouping(col("l_returnflag")).cast(IntegerType).as("g_flag"),
          grouping(col("l_linestatus")).cast(IntegerType).as("g_status"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
    "q_distinct_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    "q_pivot_status" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
        .orderBy("o_orderpriority")
    }),
    "e_vector_norm" -> ((s, dir) => {
      // INTENTIONAL higher-order-function demo: this is the library's
      // one registered exercise of aggregate()/zip_with() (API
      // coverage, and the formulation the oracle SQL mirrors
      // symbolically). Every hot-path dot product goes through the
      // codegen'd VecDot expression instead — use Ann.norm, not this
      // shape, in new code.
      t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0)
        .select(col("vec_id"),
          sqrt(aggregate(
            zip_with(col("embedding"), col("embedding"),
              (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (acc, v) => acc + v)).as("l2_norm"))
        .orderBy("vec_id")
    }),
    "a_intersect" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select(col("o_orderpriority")).distinct()
        .intersect(Seq("1-URGENT", "3-MEDIUM", "9-NOPE").toDF("o_orderpriority"))
        .orderBy("o_orderpriority")
    }),
    "q_cube_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
    "dt_date_parts" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"),
          decAgg(sum(dec(col("o_totalprice"), 18, 4)), 28, 4).as("sum_price"))
        .orderBy("y", "m")
    }),
    "a_full_outer" -> ((s, dir) => {
      // join-type parity: FULL OUTER with unmatched rows on BOTH sides
      // (nations filtered to <10 lose odd-region matches; odd regions
      // vanish so their nations surface null-right; regions whose
      // nations were filtered away surface null-left)
      val nat = t(s, dir, "nation").filter(col("n_nationkey") < 10)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val reg = t(s, dir, "region").filter(col("r_regionkey") % 2 === 0)
        .select(col("r_regionkey"), col("r_name"))
      nat.join(reg, col("n_regionkey") === col("r_regionkey"), "full_outer")
        .select(col("n_nationkey"), col("n_name"),
          col("r_regionkey"), col("r_name"))
        .orderBy(col("n_nationkey").asc_nulls_first,
          col("r_regionkey").asc_nulls_first)
    }),
    "q_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS through the spark.sql front door (cube/
      // rollup are gated via the DataFrame API elsewhere) — grouping()
      // markers disambiguate aggregation nulls from data nulls
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(grouping(l_returnflag) AS INT) AS g_flag,
        CAST(grouping(l_linestatus) AS INT) AS g_status
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),
    "a_semi_anti_join" -> ((s, dir) => {
      val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
      val withOrders = building
        .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_orders"))
      val withoutOrders = building
        .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_orders"))
      withOrders.crossJoin(withoutOrders)
    }),

    // ---- reference operator demos (SURVEY.md §2.A)
    "a1_preprocess" -> ((s, dir) => {
      FrameOps.preprocess(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")),
        Map("l_returnflag" -> "flag", "l_linestatus" -> "status"))
        .orderBy("flag", "status")
    }),
    "a2_postprocess" -> ((s, dir) => {
      // A2 direct gate: preprocess renames + dedups, then postprocess
      // inverts the rename — but only for columns still present. One
      // renamed column is dropped in between, so the gate exercises
      // BOTH the inverse rename (name → c_name) and the skip-absent
      // path (segment's inverse must not resurrect anything).
      val renames = Map("c_name" -> "name", "c_mktsegment" -> "segment")
      val pre = FrameOps.preprocess(
        t(s, dir, "customer").select(col("c_name"), col("c_mktsegment"), col("c_nationkey")),
        renames)
      FrameOps.postprocess(pre.drop("segment"), renames)
        .orderBy("c_name", "c_nationkey")
    }),
    "a5_match_types" -> ((s, dir) => {
      // A5 direct gate: a "db-fetched" frame arrives with drifted
      // dtypes (both stringified, the lowest-common-denominator JDBC
      // fetch); matchTypes casts back to the in-flight frame's schema.
      // double→string→double round-trips exactly (Java shortest-repr
      // toString, correctly-rounded parse), so values are untouched
      // and the driver's schema compare is the assertion: output
      // parquet types must equal the oracle's native BIGINT/DOUBLE —
      // an uncast column fails schema_match.
      val target = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal")).schema
      val drifted = t(s, dir, "customer")
        .select(col("c_custkey").cast(StringType).as("c_custkey"),
          col("c_acctbal").cast(StringType).as("c_acctbal"))
      FrameOps.matchTypes(drifted, target).orderBy("c_custkey")
    }),
    "a8_drop_replaced" -> ((s, dir) => {
      // A8 direct gate: after id retrieval the natural columns are
      // dropped; the absent-column entry must be tolerated silently
      // (reference regression tests/test_bugs.py:192-220)
      val merged = t(s, dir, "customer")
        .select(col("c_name"), col("c_mktsegment"), col("c_custkey").as("customer_id"))
      FrameOps.dropReplaced(merged, Seq("c_name", "c_mktsegment", "absent_column"))
        .orderBy("customer_id")
    }),
    "a3_has_nulls" -> ((s, dir) => {
      val withNulls = t(s, dir, "orders")
        .select(nullif(col("o_orderpriority"), lit("1-URGENT")).as("pr"))
      val hasN = FrameOps.hasNulls(withNulls)
      val nNull = withNulls.filter(col("pr").isNull).count()
      s.createDataFrame(
        java.util.Arrays.asList(Row(nNull, hasN)),
        StructType(Seq(StructField("n_null_rows", LongType, nullable = false),
          StructField("has_nulls", BooleanType, nullable = false))))
    }),
    "a4_get_rows" -> ((s, dir) => {
      FrameOps.getRows(t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"))
        .orderBy("c_nationkey", "c_mktsegment")
    }),
    "a6_merge_ids" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val data = customer.select(col("c_name"), col("c_mktsegment")).dropDuplicates()
      val dbSide = customer.select(col("c_custkey").as("customer_id"),
        col("c_name"), col("c_mktsegment"))
      FrameOps.mergeIds(data, dbSide, "customer_id", "customer")
        .orderBy("customer_id")
    }),
    "a7_compare_except" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select(col("o_orderpriority")).distinct()
        .except(Seq("1-URGENT").toDF("o_orderpriority"))
        .orderBy("o_orderpriority")
    }),
    "a11_drop_nulls" -> ((s, dir) => {
      FrameOps.dropNulls(
        t(s, dir, "orders").select(col("o_orderkey"),
          nullif(col("o_orderpriority"), lit("1-URGENT")).as("priority")))
        .orderBy("o_orderkey")
    }),

    // ---- planner demos (SURVEY.md §2.C): generated SQL is executed
    // by Spark here and by DuckDB as its own oracle
    "b7_compare_query" -> ((s, dir) => {
      Seq("region", "nation", "customer", "orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(Demo.tpchSchema.getCompareQuery(compareCols, aliasQuote = "`") +
        "\nORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST")
    }),
    "c5_load_instructions" -> ((s, dir) => {
      val li = Demo.tpchSchema.getLoadInstructions(compareCols)
      val rows = li.insertAndRetrieve.zipWithIndex.map { case (sp, i) =>
        Row(i + 1, "insert_and_retrieve", sp.table, sp.alias)
      } ++ li.insert.zipWithIndex.map { case (sp, i) =>
        Row(li.insertAndRetrieve.size + i + 1, "insert", sp.table, null)
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(
          StructField("ord", IntegerType, nullable = false),
          StructField("phase", StringType, nullable = false),
          StructField("tbl", StringType, nullable = false),
          StructField("alias", StringType, nullable = true))))
        .orderBy("ord")
    }),

    // ---- event-stream shaped aggregation (batch equivalent of the
    // streaming pipeline in graft.streaming)
    "ev_hourly_agg" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          decAgg(sum(dec(col("value"), 18, 6)), 28, 6).as("sum_value"))
        .orderBy("hour", "event_type")
    }),
    "ev_sliding_agg" -> ((s, dir) => {
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
    }),
    "ev_trailing_rate" -> ((s, dir) => {
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
    }),
    "ev_resample" -> ((s, dir) => {
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
    }),
    "ev_gap_stats" -> ((s, dir) => {
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
    }),
    "ev_lifecycle" -> ((s, dir) =>
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
        .orderBy("bucket", "stage")),
    "ev_rfm" -> ((s, dir) =>
      // RFM behavioral segmentation: per-user recency/frequency/
      // exact-decimal monetary, quartiled by FIXED-WIDTH integer bins
      // over exact global ranks (the shuffleRank device — range
      // partition + offsets, never a single-partition window)
      graft.ops.Rfm.rfm(
        t(s, dir, "events").select(
          col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value")
        .orderBy("user_id")),
    "ev_rfm_sketch" -> ((s, dir) =>
      // the sketch twin of ev_rfm: quartile BOUNDARIES from the
      // quantile sketch's 1-row broadcast instead of three exact
      // global rank passes — one pass over the user frame, no rank
      // shuffles; the scale path when segments (not ranks) are the
      // product
      graft.ops.Rfm.rfmSketch(
        t(s, dir, "events").filter(col("user_id") % 3 === 1)
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value")
        .orderBy("user_id")),
    "ev_ewma" -> ((s, dir) =>
      // per-user smoothed activity (EWMA, alpha=0.25 seeded at the
      // first event): ordered fold over the sorted event array — the
      // identical IEEE op sequence as the oracle's recursive CTE, so
      // the doubles hash raw; one shuffle, fold in codegen
      graft.ops.Ewma.ewma(
        t(s, dir, "events").select(
          col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", "event_id", "value", alpha = 0.25)
        .orderBy("user_id")),
    "ev_mad_outliers" -> ((s, dir) =>
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
        .orderBy("g")),
    "ev_holt" -> ((s, dir) =>
      // Holt level+trend smoothing (the forecasting upgrade of
      // ev_ewma): same ordered-fold device carrying an (l, b) pair,
      // identical IEEE op sequence as the recursive-CTE oracle —
      // raw doubles hash, incl. the one-step forecast l + b
      graft.ops.Ewma.holt(
        t(s, dir, "events").filter(col("user_id") % 3 === 1).select(
          col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", "event_id", "value",
        alpha = 0.5, beta = 0.25)
        .orderBy("user_id")),
    "ev_funnel" -> ((s, dir) => {
      // ordered-funnel summary: greedy earliest-first step times per
      // user, strict (>) step ordering, chained whole-partition window
      // minimums over ONE exchange — counts are non-increasing by
      // construction
      graft.ops.Funnel.funnelSummary(
        t(s, dir, "events").select(col("user_id"), col("ts"), col("event_type")),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))
        .orderBy("step_idx")
    }),
    "ev_funnel_users" -> ((s, dir) => {
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
    }),
    "ev_cohort" -> ((s, dir) => {
      // weekly cohort-retention triangle; cohort/offset stay integer
      // bucket indices until the final timestamp projection
      graft.ops.Cohort.retention(
        t(s, dir, "events").select(col("user_id"), col("ts")),
        "user_id", "ts", bucket = 604800L * 1000000000L)
        .select(expr("timestamp_micros((cohort * 604800000000000) div 1000)").as("cohort_start"),
          col("offset").as("week_offset"), col("n_keys"))
        .orderBy("cohort_start", "week_offset")
    }),
    "j_props_extract" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast(IntegerType).as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")
    }),

    // ---- corpus pipeline: dedup / similarity / text / multimodal
    "w_percent_rank" -> ((s, dir) => {
      // rank-family window breadth: percent_rank/cume_dist are exact
      // rationals ((rank-1)/(n-1), rank/n) — integer divisions in
      // doubles, bit-identical cross-engine
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
        .orderBy("lang", "doc_id")
    }),
    "w_cume_dist" -> ((s, dir) => {
      // cumulative-distribution window breadth: fraction of peers at
      // or below each row — ties share a value (both engines define
      // cume_dist identically; the division is one IEEE op)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").filter(col("o_orderkey") % 250 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .withColumn("cd", cume_dist().over(w))
        .orderBy("o_orderpriority", "o_orderkey")
    }),
    "q_bool_aggs" -> ((s, dir) =>
      // boolean-aggregate breadth (count_if / every / any) — the
      // predicate-summary idiom; DuckDB twins are count_if/bool_and/
      // bool_or
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("count_if(o_totalprice > 100000)").as("n_big"),
          expr("every(o_totalprice > 0)").as("all_positive"),
          expr("any(o_orderstatus = 'P')").as("has_pending"))
        .orderBy("o_orderpriority")),
    "w_lead_lag_ntile" -> ((s, dir) => {
      // offset/bucket window breadth: lead-delta, lag with default,
      // ntile quartiles — deterministic because doc_id totally orders
      // each partition (SQL-standard semantics on both engines)
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .filter(col("doc_id") % 20 === 0 && col("lang").isNotNull)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          (lead(col("n_chars"), 1).over(w) - col("n_chars")).as("next_delta"),
          lag(col("n_chars"), 1, -1L).over(w).as("prev_chars"),
          ntile(4).over(w).as("quartile"))
        .orderBy("lang", "doc_id")
    }),
    "f_map_ops" -> ((s, dir) => {
      // map-function breadth (map_from_entries / map_keys / map_values
      // / element_at / map_filter / aggregate-over-values): per-source
      // language histogram as a map column, probed down to primitive
      // outputs (map PHYSICAL rendering differs between engines — the
      // decimal lesson — so the gated schema is scalar-only). Sorted
      // entries make the map construction deterministic; null langs
      // are excluded (Spark map keys cannot be null).
      val c = t(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      c.groupBy(col("source"))
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("lang"), col("n")))))
          .as("m"))
        .select(col("source"),
          size(col("m")).as("n_langs"),
          element_at(col("m"), "en").as("en_docs"),
          array_join(map_keys(col("m")), ",").as("langs"),
          aggregate(map_values(col("m")), lit(0L), _ + _).as("n_docs"),
          size(expr("map_filter(m, (k, v) -> v >= 10)")).as("n_major"))
        .orderBy("source")
    }),
    "f_json_ops" -> ((s, dir) => {
      // JSON scalar-function breadth over the events payload column:
      // get_json_object path extraction (returns NULL on malformed
      // input — the DuckDB twin mirrors with a json_valid guard since
      // its json_extract THROWS), cast to long, per-type aggregation.
      // Map-side extraction + one hash agg; at scale the JSON parse
      // is the per-row cost and stays inside whole-stage codegen.
      t(s, dir, "events").filter(col("event_id") % 5 === 0)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null"))
        .orderBy("event_type")
    }),
    "f_array_ops" -> ((s, dir) => {
      // higher-order array function breadth (transform / filter /
      // aggregate / zip_with) over a constructed integer array —
      // codegen'd HOFs, all-integer results
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          expr("aggregate(transform(sequence(1L, 1 + doc_id % 7), x -> x * x), 0L, (a, x) -> a + x)").as("sq_sum"),
          expr("size(filter(sequence(1L, 1 + doc_id % 7), x -> x % 2 = 0))").cast("long").as("n_even"),
          expr("aggregate(zip_with(sequence(1L, 1 + doc_id % 7), reverse(sequence(1L, 1 + doc_id % 7)), (a, b) -> a * b), 0L, (a, x) -> a + x)").as("zip_sum"))
        .orderBy("doc_id")
    }),
    "f_datetime_ops" -> ((s, dir) =>
      // datetime scalar breadth (trunc/add_months/datediff/last_day/
      // iso-dow/quarter) — map-only; Spark weekday()+1 is DuckDB's
      // isodow (Spark's dayofweek is Sunday-1, a cross-engine trap)
      t(s, dir, "orders").filter(col("o_orderkey") % 400 === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          add_months(col("o_orderdate"), 2).as("plus_2m"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"),
          last_day(col("o_orderdate")).as("month_end"),
          (weekday(col("o_orderdate")) + 1).cast("int").as("iso_dow"),
          quarter(col("o_orderdate")).cast("int").as("q"))
        .orderBy("o_orderkey")),
    "f_bitwise_ops" -> ((s, dir) =>
      // scalar bitwise breadth (& | ^ << bit_count) over integral
      // keys — map-only codegen'd built-ins, integer-exact twins in
      // DuckDB; the << stays inside BIGINT (orderkeys are small)
      t(s, dir, "lineitem").filter(col("l_orderkey") % 500 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_orderkey").bitwiseAND(lit(255L)).as("b_and"),
          col("l_orderkey").bitwiseOR(lit(15L)).as("b_or"),
          col("l_orderkey").bitwiseXOR(col("l_partkey")).as("b_xor"),
          shiftleft(col("l_orderkey"), 3).as("b_shl"),
          bit_count(col("l_orderkey")).cast("int").as("b_pop"))
        .orderBy("l_orderkey", "l_linenumber")),
    "f_string_ops" -> ((s, dir) => {
      // scalar string-function breadth (split_part / translate / lpad
      // / reverse / instr / levenshtein / repeat) — all map-only
      // codegen'd built-ins, portable to DuckDB's identical-semantics
      // twins (1-based instr with 0-on-absent, same levenshtein)
      t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey"),
          expr("split_part(p_name, ' ', 2)").as("name_tail"),
          expr("translate(p_brand, '#', '-')").as("brand_t"),
          expr("lpad(cast(p_size as string), 4, '0')").as("size_pad"),
          expr("reverse(p_type)").as("type_rev"),
          expr("instr(p_name, 'red')").cast("long").as("red_at"),
          expr("levenshtein(p_brand, 'Brand#11')").cast("long").as("brand_dist"),
          expr("repeat(substr(p_brand, 1, 2), 2)").as("brand_rep"))
        .orderBy("p_partkey")
    }),
    "w_value_windows" -> ((s, dir) => {
      // value-window breadth: first_value / nth_value / last_value
      // under EXPLICIT ROWS frames (the default RANGE frame is
      // tie-sensitive; the (o_orderdate, o_orderkey) order is total
      // so every frame is deterministic)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").filter(col("o_orderkey") % 400 === 0)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate"))
        .withColumn("first_price", first(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("third_price", nth_value(col("o_totalprice"), 3).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("last_price", last(col("o_totalprice")).over(
          w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .drop("o_orderdate")
        .orderBy("o_orderpriority", "o_orderkey")
    }),
    "a_cross_join" -> ((s, dir) => {
      // cross-join breadth: every region × every distinct order
      // status (a broadcast nested-loop at any scale — the dimension
      // sides are tiny by construction)
      t(s, dir, "region").select(col("r_name"))
        .crossJoin(t(s, dir, "orders").select(col("o_orderstatus")).distinct())
        .orderBy("r_name", "o_orderstatus")
    }),
    "t_mad" -> ((s, dir) => {
      // robust per-language stats: median + median-absolute-deviation
      // of integer lengths. Exactness: medians interpolate halves of
      // ints (dyadic), abs-deviations land on quarter steps (dyadic),
      // so both engines' interpolation formulas agree bit-for-bit
      val docs = t(s, dir, "documents").select(col("lang"), col("n_chars"))
      val med = docs.groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.5D)").as("med"))
      docs.join(broadcast(med), Seq("lang"))
        .groupBy(col("lang"))
        .agg(min(col("med")).as("med"),
          expr("percentile(abs(cast(n_chars as double) - med), 0.5D)").as("mad"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),
    "q_mode" -> ((s, dir) => {
      // per-group mode with a DETERMINISTIC tie-break (max count, then
      // lexicographically smallest value) — any_value/mode built-ins
      // are tie-unstable, so the gateable form is rank-over-counts
      val counts = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("n").desc, col("o_orderstatus").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"),
          col("n").as("n_mode"))
        .orderBy("o_orderpriority")
    }),
    "q_topk_agg" -> ((s, dir) => {
      // bounded-heap top-k typed UDAF: state never exceeds k pairs,
      // partial aggregation truncates map-side — no full-group sort,
      // unlike the window row_number formulation the oracle uses
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopK.top_k(
          col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("r0", "r")))
        .select(col("o_orderpriority"), (col("r0") + 1).cast("int").as("rnk"),
          col("r.value").as("o_totalprice"), col("r.id").as("o_orderkey"))
        .orderBy("o_orderpriority", "rnk")
    }),
    "ev_first_per_window" -> ((s, dir) => {
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
    }),
    "ev_merge_intervals" -> ((s, dir) => {
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
    }),
    "c_checksum" -> ((s, dir) => {
      // order-independent reconciliation checksum (map-only digest,
      // one-row reduce): the cheap first gate before a full row-level
      // compare; DECIMAL(38,0) sum ships as a digit string
      graft.ops.Checksum.checksum(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    }),
    "c_checksum_canon" -> ((s, dir) => {
      // the canonicalized variant closes the doubles/timestamps edge
      // the plain checksum fences off: quantized IEEE floor for
      // o_totalprice, epoch micros for o_orderdate — engine-exact on
      // both systems without caller-side formatting
      graft.ops.Checksum.checksumCanonical(t(s, dir, "orders"),
        Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus"))
    }),
    "p_weighted_sample" -> ((s, dir) => {
      // data-driven sampling: temperature-derived per-language
      // acceptance rates (dominant language downsampled hardest)
      // broadcast onto the corpus, then md5-bucket membership — the
      // whole chain is engine-exact, so the oracle verifies the
      // temperature → rate → membership composition end to end
      import graft.ops.Sampling
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val all = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      val rates = Sampling.temperatureWeights(docs, "lang")
        .withColumn("rate", col("upsample") / max(col("upsample")).over(all))
        .select(col("lang"), col("rate"))
      Sampling.weightedSample(
        docs.join(broadcast(rates), Seq("lang")), "doc_id", "rate", seed = 11L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
        .orderBy("lang")
    }),
    "s_profile" -> ((s, dir) => {
      // one-pass column audit (single Expand-widened agg, unpivoted
      // without touching the driver); gated columns are int/string
      // only — double/timestamp STRING renderings differ cross-engine
      graft.ops.Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")
    }),
    "t_pii_luhn" -> ((s, dir) => {
      // Luhn-validated card detection: %13 docs carry a VALID Visa
      // test number, %17 docs an invalid 16-digit run — the checksum
      // is what separates a breach from id/hash noise. Map-only HOF
      // fold, identical spelling in the oracle
      graft.text.Pii.cardScan(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
          .select(col("doc_id").as("id"),
            concat(col("text"),
              when(col("doc_id") % 13 === 0,
                lit(" card 4111 1111 1111 1111 ok")).otherwise(lit("")),
              when(col("doc_id") % 17 === 0,
                lit(" ref 1234-5678-9012-3456")).otherwise(lit("")))
              .as("text")),
        "id", "text")
        .orderBy("id")
    }),
    "s_orc_roundtrip" -> ((s, dir) => {
      // the ORC sink/scan under the hard signal: write the slice
      // through writeOrc, answer from the readOrc reload — schema
      // drift, lost rows, or value corruption in the columnar
      // round trip hash-fails against the plain-scan oracle
      val slice = t(s, dir, "orders").filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val out = s"${scratchRoot()}/orc_roundtrip"
      graft.sources.Sources.writeOrc(slice, out)
      graft.sources.Sources.readOrc(s, out).orderBy("o_orderkey")
    }),
    "s_erasure_plan" -> ((s, dir) => {
      // GDPR erasure work order: events sharded BY SUBJECT (user div
      // 10), erase requests for user_id % 37 = 0 — the plan shows the
      // subject-clustered layout localizing each request to its own
      // shard (5 rewrites of 15) instead of smearing across all; the
      // request batch broadcasts, censuses are map-combined
      val ev = t(s, dir, "events")
      graft.ops.Anonymize.erasurePlan(
        ev.select(col("user_id")),
        expr("user_id div 10"), "user_id",
        ev.filter(col("user_id") % 37 === 0).select(col("user_id")))
        .orderBy("shard")
    }),
    "s_schema_compat" -> ((s, dir) => {
      // data-contract gate: schema manifests of two table versions
      // full-outer diffed under the registry compat rules. The plant
      // exercises every change kind — widened fk, dropped comment,
      // narrowed price (retyped), loosened/tightened nullability,
      // and both added flavors (nullable ok, required breaks forward)
      import s.implicits._
      val prev = Seq(
        ("o_orderkey", "bigint", false), ("o_custkey", "int", false),
        ("o_comment", "string", true), ("o_totalprice", "double", true),
        ("o_clerk", "string", false), ("o_orderstatus", "string", true))
        .toDF("col_name", "dtype", "nullable")
      val next = Seq(
        ("o_orderkey", "bigint", false), ("o_custkey", "bigint", false),
        ("o_totalprice", "int", true),
        ("o_clerk", "string", true), ("o_orderstatus", "string", false),
        ("o_tags", "string", true), ("o_version", "bigint", false))
        .toDF("col_name", "dtype", "nullable")
      graft.ops.SchemaCompat.diff(prev, next).orderBy("col_name")
    }),
    "s_encoding_advisor" -> ((s, dir) => {
      // per-column parquet-encoding advisor: exact ndv + width census
      // -> rle/dict/plain recommendation (the dictionary-overflow
      // decision a 100 TB writer otherwise makes silently). The four
      // columns span all three verdicts: unique key -> plain,
      // mid-cardinality fk -> dict, status/priority -> rle
      graft.ops.Profile.encodingAdvisor(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")
    }),
    "t_length_histogram" -> ((s, dir) => {
      // fixed-width histogram of document lengths: all-integer bucket
      // arithmetic, one hash-shuffle
      t(s, dir, "documents")
        .groupBy(expr("n_chars div 200").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy("bucket")
    }),
    "t_url_domains" -> ((s, dir) => {
      // per-domain provenance stats over the planted-URL corpus (the
      // word salad carries no URLs — see plantedUrls); regex stays in
      // the Java ∩ RE2 portable subset
      graft.text.Urls.domainStats(plantedUrls(s, dir), "doc_id", "text")
        .orderBy("domain")
    }),
    "d_incremental" -> ((s, dir) => {
      // incremental ingest dedup: existing corpus (even ids) holds
      // templates 'tpl <even 0..38>'; the incoming batch (odd ids)
      // draws from 'tpl <0..54>' — admitted rows are novel templates
      // at their first (min-id) batch occurrence
      val docs = t(s, dir, "documents")
      val existing = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          concat(lit("tpl "), (col("doc_id") % 40).cast("string")).as("text"))
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("tpl "), (col("doc_id") % 55).cast("string")).as("text"))
      graft.dedup.Incremental.dedupIncrement(existing, incoming, "doc_id", "text")
        .orderBy("doc_id")
    }),
    "d_version_diff" -> ((s, dir) => {
      // corpus-refresh release notes: fingerprint-set full outer
      // between two synthetic template versions (same construction as
      // d_incremental) — no text moves, only 16-byte digests
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 2 === 0)
        .select(concat(lit("tpl "), (col("doc_id") % 40).cast("string")).as("text"))
      val v2 = docs.filter(col("doc_id") % 2 === 1)
        .select(concat(lit("tpl "), (col("doc_id") % 55).cast("string")).as("text"))
      graft.dedup.Incremental.versionDiff(v1, v2, "text")
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),
    "f_zorder_key" -> ((s, dir) => {
      // Morton layout key over two quantized dimensions (native
      // codegen Expression): sort-by-z before a write gives min/max
      // row-group pruning on BOTH part and supplier predicates
      t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.ZInterleave.z_interleave(
            col("l_partkey") % 1024, col("l_suppkey") % 1024, bits = 10).as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "f_hilbert_key" -> ((s, dir) => {
      // Hilbert layout key over the same two quantized dimensions
      // (native codegen Expression, unit-step curve): the
      // space-filling alternative Delta OPTIMIZE and Iceberg sort
      // orders offer beside ZORDER; oracle runs the identical fold
      // as an unrolled CTE chain
      t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.HilbertIndex.hilbert_index(
            col("l_partkey") % 1024, col("l_suppkey") % 1024, bits = 10).as("hkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "d_fuzzy_pairs" -> ((s, dir) => {
      // fuzzy near-dup pairs by banded Levenshtein over the planted
      // typo-variant corpus (shared construction, see plantedFuzzy)
      graft.dedup.Fuzzy.editDistancePairs(
        plantedFuzzy(s, dir), "id", "text", maxDist = 3)
        .orderBy("id_a", "id_b")
    }),
    "d_fuzzy_clusters" -> ((s, dir) => {
      // fuzzy pairs -> connected components: typo variants collapse
      // into clusters labeled by their min id (cross-module chain,
      // same plantedFuzzy construction as d_fuzzy_pairs)
      val pairs = graft.dedup.Fuzzy.editDistancePairs(
        plantedFuzzy(s, dir), "id", "text", maxDist = 3)
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("id")
    }),
    "t_quality_rules" -> ((s, dir) => {
      // Gopher-style hard rule gates, one audit column per rule;
      // all-integer threshold arithmetic so verdicts are engine-exact
      graft.text.QualityFilters.withRules(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text")),
        "text")
        .drop("text")
        .orderBy("doc_id")
    }),
    "d_exact_dedup" -> ((s, dir) => {
      graft.dedup.Dedup
        .exactDuplicates(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fp")
    }),
    "d_normalized_dedup" -> ((s, dir) => {
      // canonicalize-before-fingerprint composition: each document
      // spawns a precomposed-accent and a combining-mark variant;
      // after NFC both variants fingerprint identically, so every
      // group reports exactly 2 duplicates with the precomposed id
      // as keeper — without normalization these byte sequences would
      // never pair (NormalizeTextSpec pins that contrast)
      import graft.functions.NormalizeText
      val base = t(s, dir, "documents").filter(col("doc_id") % 20 === 4)
        .select(col("doc_id"), col("text"))
      val variants = base.select((col("doc_id") * 10).as("id"),
          concat(col("text"), lit(" caf\u00e9 \u00fcber")).as("t"))
        .unionByName(base.select((col("doc_id") * 10 + 1).as("id"),
          concat(col("text"), lit(" cafe\u0301 u\u0308ber")).as("t")))
      graft.dedup.Dedup.exactDuplicates(
        variants.select(col("id"),
          NormalizeText.normalize_text(col("t")).as("t_norm")),
        "id", "t_norm")
        .orderBy("fp")
    }),
    "d_ngram_jaccard" -> ((s, dir) => {
      graft.dedup.Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 3, threshold = 0.5,
        maxGramDocs = 0L) // exact Jaccard for the oracle; default guard is on
        .orderBy("id_a", "id_b")
    }),
    "d_containment_pairs" -> ((s, dir) => {
      // asymmetric near-dup: short-doc-quoted-in-long-doc pairs that
      // symmetric Jaccard scores near zero; same shared-gram join
      // shape as d_ngram_jaccard (exact mode for the oracle)
      graft.dedup.Dedup.ngramContainmentPairs(
        t(s, dir, "documents").filter(col("doc_id") % 25 === 0),
        "doc_id", "text", n = 3, threshold = 0.8,
        maxGramDocs = 0L)
        .orderBy("id_a", "id_b")
    }),
    "d_minhash_lsh" -> ((s, dir) => {
      // maxBucketSize = Int.MaxValue: the oracle renders NO guard, so
      // the gate runs the unguarded contract on both engines (the
      // st_minhash_incr stance) — the r17 ADVICE's latent divergence
      // (a >1000-doc band bucket in the slice would have dropped
      // pairs on the Spark side only) is retired. The guarded path is
      // exercised by its own spec/PlanGuard fixtures
      graft.dedup.Dedup.minhashLshPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", numHashes = 16, bands = 4,
        maxBucketSize = Int.MaxValue)
        .orderBy("id_a", "id_b")
    }),
    "d_lsh_recall" -> ((s, dir) => {
      // the dedup twin of the ANN recall gates: exact word-Jaccard
      // ground truth on a bounded slice vs the banded MinHash
      // candidates at the same integerized threshold — how
      // numHashes/bands get tuned before a corpus-wide deploy. The
      // exact arm is slice-bounded by contract (its all-pairs join
      // is the thing LSH exists to avoid)
      graft.dedup.Dedup.lshRecallAudit(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", numHashes = 16, bands = 4, threshold = 0.5,
        maxBucketSize = Int.MaxValue) // oracle renders no guard
    }),
    "d_lsh_histogram" -> ((s, dir) => {
      // LSH capacity planning: the per-band bucket-size histogram
      // (and the candidate-pair volume each size class would emit),
      // priced from a census-sized pass BEFORE any pair join runs —
      // the number you read at 100 TB to pick bands/maxBucketSize
      graft.dedup.Dedup.lshBucketHistogram(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", numHashes = 16, bands = 4)
        .orderBy("band", "sz")
    }),
    "d_winnow_fp" -> ((s, dir) => {
      // winnowing (MOSS) fingerprints: rightmost-min-of-window gram
      // sampling with span positions — one doc-keyed shuffle for both
      // window passes, then a fingerprint-sized dedupe
      graft.dedup.Winnow.fingerprints(
        t(s, dir, "documents").filter(col("doc_id") % 50 === 1),
        "doc_id", "text", k = 8, window = 8)
        .orderBy("doc_id", "pos")
    }),
    "d_winnow_pairs" -> ((s, dir) => {
      // partial-overlap candidates: pairs sharing >= 3 winnowing
      // fingerprints — the shared-fp equi-join is the candidate
      // filter, over a frame winnowed to ~2/(w+1) of the gram volume
      graft.dedup.Winnow.sharedFingerprintPairs(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 1),
        "doc_id", "text", k = 8, window = 8, minShared = 3,
        maxFpDocs = 0L) // exact for the oracle; default guard is on
        .orderBy("id_a", "id_b")
    }),
    "d_substr_runs" -> ((s, dir) => {
      // ExactSubstr-lite: maximal verbatim shared spans >= 30 chars
      // with exact offsets — anchor k-grams meet on a digest
      // equi-join (16-byte keys shuffle, text never does), runs fall
      // out of a per-diagonal gaps-and-islands pass; the span-masking
      // rewriter's input shape (Lee et al. 2022)
      graft.dedup.Substr.sharedRuns(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2),
        "doc_id", "text", k = 20, minLen = 30)
        .orderBy("id_a", "id_b", "start_a", "start_b")
    }),
    "d_substr_self" -> ((s, dir) => {
      // within-document verbatim repetition with exact offsets — the
      // self-join variant: anchors key on (digest, doc id) so matches
      // never cross documents and cross-doc hot anchors cost nothing
      graft.dedup.Substr.selfRuns(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", k = 12, minLen = 16)
        .orderBy("doc_id", "start_a", "start_b")
    }),
    "d_substr_apply" -> ((s, dir) => {
      // ExactSubstr apply: duplicated spans are CUT from the later
      // copy (min-id occurrence survives) — runs merge to disjoint
      // per-doc spans (interval sweep), then one fold rebuilds each
      // text; the oracle rebuilds via per-char explode + anti-match,
      // a genuinely different formulation of the same contract
      graft.dedup.Substr.removeSharedSpans(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2),
        "doc_id", "text", k = 20, minLen = 30)
        .orderBy("doc_id")
    }),
    "d_minhash_incr" -> ((s, dir) => {
      // incremental LSH: a new drop's signatures banded against the
      // persisted corpus signature table — only the new batch is
      // shingled; the corpus ships numHashes+1 longs per doc. Ids are
      // disjoint by construction (odd %10=7 vs even %2=0)
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.minhashLshPairsAgainst(
        graft.dedup.Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", 16),
        graft.dedup.Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 16),
        numHashes = 16, bands = 4)
        .orderBy("new_id", "corpus_id")
    }),
    "d_minhash_store" -> ((s, dir) => {
      // the signature STORE round trip d_minhash_incr's comment
      // promises: corpus signatures persist to parquet once, and the
      // next drop's banding runs against the RELOAD (numHashes+1
      // longs per doc — the only thing an incremental dedup ever
      // re-reads). The oracle recomputes signatures inline, so a
      // lossy write/read path hash-fails
      val docs = t(s, dir, "documents")
      val out = s"${scratchRoot()}/minhash_store"
      graft.dedup.Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 16)
        .write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.minhashLshPairsAgainst(
        graft.dedup.Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", 16),
        s.read.parquet(out), numHashes = 16, bands = 4)
        .orderBy("new_id", "corpus_id")
    }),
    "d_simhash" -> ((s, dir) => {
      graft.dedup.Dedup.simhash(
        t(s, dir, "documents").filter(col("doc_id") % 25 === 0),
        "doc_id", "text")
        .orderBy("id")
    }),
    "d_simhash_pairs" -> ((s, dir) => {
      // default maxBucketSize = 0 (exact pigeonhole candidates, the
      // shape the oracle models); the hot-bucket census is the
      // corpus-scale OPT-IN (maxBucketSize > 0)
      graft.dedup.Dedup.simhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    "d_dedup_clusters" -> ((s, dir) => {
      // end-to-end dedup: pair finder -> connected components; keep
      // min(id) per cluster downstream and the corpus is deduped.
      // NOTE: like c_load_roundtrip, building this result EXECUTES
      // eagerly (the component computation is iterative/driver-side) —
      // plan-only tools should skip it
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", maxHamming = 3)
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("id")
    }),
    "d_record_linkage" -> ((s, dir) =>
      // structured entity resolution (Fellegi-Sunter shape): brand-
      // blocked candidate pairs, integer agreement weights (floored
      // micro jaro-winkler name sim + type equality + size
      // proximity), declared matches at >= 600000 (the corpus' two-
      // word names cap name_sim well below the generic default)
      graft.dedup.Linkage.scoredPairs(
        t(s, dir, "part").filter(col("p_partkey") % 7 === 0),
        "p_partkey", "p_brand", "p_name",
        exactCols = Seq("p_type"), nearCol = "p_size", tol = 1,
        threshold = 600000)
        .orderBy("id_a", "id_b")),
    "d_dedup_clusters_lp" -> ((s, dir) => {
      // the same clustering FORCED down the distributed arm
      // (driverThresholdEdges = 0): min-label flooding + pointer
      // jumping, the path a 100 TB pair list takes — gated against
      // the identical recursive-CTE oracle as the hybrid entry, so
      // the driver verifies BOTH arms produce the same labeling.
      // Executes eagerly (iterative) like d_dedup_clusters
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", maxHamming = 3)
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b",
        driverThresholdEdges = 0L)
        .orderBy("id")
    }),
    "d_dedup_apply" -> ((s, dir) => {
      // the full dedup pipeline applied: find near-dup pairs, cluster
      // them, drop every non-canonical cluster member — the surviving
      // corpus is the deliverable a training-data pipeline feeds
      // downstream. Executes eagerly like d_dedup_clusters (the
      // cluster step is iterative)
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
      val clusters = graft.dedup.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      graft.dedup.Dedup.dedupApply(docs, "doc_id", clusters)
        .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
        .orderBy("doc_id")
    }),
    "d_dedup_apply_best" -> ((s, dir) => {
      // quality-aware canonical selection: each near-dup family keeps
      // its LONGEST member (ties to smallest id) — what production
      // dedup ships, vs d_dedup_apply's crawl-order min-id. The
      // argmax runs on the cluster frame, never the corpus
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
      val clusters = graft.dedup.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      graft.dedup.Dedup.dedupApplyBest(docs, "doc_id", clusters,
        length(col("text")).cast("long"))
        .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
        .orderBy("doc_id")
    }),
    "p_leakproof_split" -> ((s, dir) => {
      // LEAK-PROOF train/test split: split on the dedup CLUSTER label
      // (near-dup family), not the document id, so two near-duplicate
      // documents can never straddle the split — the classic
      // eval-contamination bug. Singletons split on their own id.
      // Executes eagerly like d_dedup_clusters (iterative CC step)
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
      val clusters = graft.dedup.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      val keyed = docs.select(col("doc_id"))
        .join(clusters, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("split_key"))
      graft.ops.Sampling.withSplit(keyed, "split_key", testFraction = 0.25)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),
    "d_contamination" -> ((s, dir) => {
      // decontamination demo: every 100th doc plays the benchmark set;
      // 3-gram shingles because the synthetic corpus has little long-
      // gram overlap (production uses 8-13-gram shingles, same plan)
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.contaminationScan(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", n = 3, minSharedGrams = 1)
        .orderBy("doc_id", "probe_id")
    }),
    "t_text_stats" -> ((s, dir) => {
      import graft.text.TextFunctions._
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          bpeishTokenCount(col("text")).cast(IntegerType).as("n_bpeish"),
          langId(col("text")).as("lang_pred"),
          qualityScore(col("text")).as("quality"),
          fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    "t_pii_redact" -> ((s, dir) => {
      // PII scrub demo: the synthetic corpus has no PII, so inject a
      // deterministic email/IP/phone suffix (identical construction
      // in the oracle) and scrub it back out
      val piiText = concat(
        substring(col("text"), 1, 60),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10."), (col("doc_id") % 200).cast("string"),
        lit(".0.7 or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0199"),
        when(col("doc_id") % 20 === 0,
          lit(" cc ops-team+alerts@mail.example.org")).otherwise(lit("")))
      graft.text.Pii.scrub(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), piiText.as("text")),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
    "t_boilerplate" -> ((s, dir) => {
      // boilerplate-line removal demo: the corpus has no line
      // structure, so build '#'-separated lines with an injected
      // all-docs footer and a 1-in-3 promo line (identical
      // construction in the oracle); both clear minDocs and vanish
      val lined = concat_ws("#",
        substring(col("text"), 1, 40),
        lit("subscribe to our newsletter"),
        substring(col("text"), 41, 40),
        when(col("doc_id") % 3 === 0, lit("follow us on social"))
          .otherwise(substring(col("text"), 81, 30)))
      graft.text.Boilerplate.removeFrequentLines(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), lined.as("text")),
        "doc_id", "text", sep = "#", minDocs = 50)
        .orderBy("doc_id")
    }),
    "t_repetition" -> ((s, dir) => {
      // within-document n-gram repetition (the Gopher-style
      // boilerplate/keyword-stuffing signal); word- and bigram-level.
      // Tokens and gram multisets are PROJECTED as columns before
      // scoring (the project-the-array-first rule: the score
      // references its gram array three times, and HOF trees are
      // outside subexpression elimination)
      import graft.text.TextFunctions.{allGramsOf, repetitionScoreOf, tokens}
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          allGramsOf(col("toks"), 1).as("g1"),
          allGramsOf(col("toks"), 2).as("g2"))
        .select(col("doc_id"),
          repetitionScoreOf(col("g1")).as("rep1"),
          repetitionScoreOf(col("g2")).as("rep2"))
        .orderBy("doc_id")
    }),
    "e_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    "e_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.lshTopK(
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    "e_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.ivfTopKHashCells(
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    "e_ann_lsh_recall" -> ((s, dir) => {
      // LSH REGRESSION gate: recall@10 vs the exact cosine top-10 —
      // a probe/band-width regression drops the count. The absolute
      // value is low by construction (the corpus has no natural near
      // neighbors, so exact ranks 2-10 are far vectors a bucketed
      // index rightly misses); for the interpretable absolute number
      // see e_ann_lsh_planted. Gated at multiProbe=2; e_ann_lsh pins
      // the level-1 default path
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 20 === 0)
      Ann.annRecall(
        Ann.lshTopK(q, emb, "vec_id", "embedding", k = 10, multiProbe = 2),
        q, emb, "vec_id", "embedding", n = 10)
    }),
    "e_ann_ivf_recall" -> ((s, dir) => {
      // IVF quality gate: recall@10 of the probed-cell search vs the
      // exact cosine top-10
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 20 === 0)
      Ann.annRecall(
        Ann.ivfTopKHashCells(q, emb, "vec_id", "embedding", k = 10),
        q, emb, "vec_id", "embedding", n = 10)
    }),
    "e_binary_recall" -> ((s, dir) => {
      // 1-bit retrieval quality gate: recall@10 of Hamming-over-sign-
      // bits vs the exact cosine top-10 — same caveat as the LSH/IVF
      // recall gates (no natural near neighbors in this corpus, so
      // the absolute number is low; the gate pins REGRESSIONS in the
      // packing/distance path)
      import graft.ann.{Ann, Binary}
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 20 === 0)
      Ann.annRecall(
        Binary.hammingTopK(q, emb, "vec_id", "embedding", k = 10),
        q, emb, "vec_id", "embedding", n = 10)
    }),
    "e_ann_lsh_planted" -> ((s, dir) => {
      // planted-cohort recovery: every vec_id % 20 == 0 vector gets a
      // perturbed twin (cosine ≈ 0.997) as a query; `found` says
      // whether LSH at the production multiProbe=2 dial surfaces the
      // source — the interpretable absolute number the raw recall@10
      // gates (run on a corpus with NO natural near neighbors) can't
      // give. See Ann.plantQueries.
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      Ann.plantedRecovery(emb, "vec_id", "embedding",
        col("vec_id") % 20 === 0, idOffset = 1000000L, delta = 0.01)(
        (q, c) => Ann.lshTopK(q, c, "vec_id", "embedding", k = 10, multiProbe = 2))
    }),
    "e_ann_ivf_lloyd" -> ((s, dir) => {
      // the Lloyd-refined IVF quantizer, made exactly gateable:
      // md5-seeded init + bounded md5 sample + id-ordered sequential
      // fold for centroid means (partitioning-independent doubles),
      // gated on per-cell corpus assignment counts. The MLlib k-means
      // twin (ivfTopK) stays bench-only: its float reductions are
      // engine-specific by construction.
      graft.ann.Ann.lloydAssignCounts(
        t(s, dir, "embeddings"), "vec_id", "embedding")
    }),
    "e_lloyd_cell_skew" -> ((s, dir) =>
      // the OPERATIONAL skew readout (r17 verdict #3): the one-row
      // census summary a SemDeDup/IVF deployment reads before the
      // cell joins — max cell share vs the balanced share, top-3
      // cells — with the documented rule "raise nCells when
      // max_share_ppm > ~4x ideal_share_ppm" (within-cell cost is
      // quadratic in the largest cell). Makes lloydAssignCounts a
      // decision number instead of a narrative
      graft.ann.Ann.lloydCellSkew(
        t(s, dir, "embeddings"), "vec_id", "embedding")),
    "e_ann_ivf_lloyd_topk" -> ((s, dir) => {
      // END-TO-END retrieval through the deterministic Lloyd
      // quantizer — the full trained-IVF production path the MLlib
      // twin can't gate: train, assign (map-only broadcast pass),
      // probe top-4 cells map-side, score probed members, heap-rank.
      // Every number hash-matches the unrolled-CTE oracle.
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.lloydIvfTopK(
        emb.filter(col("vec_id") % 40 === 1), emb,
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    "e_ann_ivf_planted" -> ((s, dir) => {
      // planted-cohort recovery through the deterministic IVF index:
      // the probe set (top-4 of 16 cells) must include the source's
      // assigned cell for a hit
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      Ann.plantedRecovery(emb, "vec_id", "embedding",
        col("vec_id") % 20 === 0, idOffset = 1000000L, delta = 0.01)(
        (q, c) => Ann.ivfTopKHashCells(q, c, "vec_id", "embedding", k = 10))
    }),
    "e_cos_neardup" -> ((s, dir) => {
      graft.ann.Ann.cosineNearDupPairs(
        t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),
    "e_semdedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): Lloyd-cluster the embedding
      // space, prune near-identical pairs WITHIN each cell — the
      // paraphrase-level dedup MinHash can't see, at cell-bounded
      // (never corpus-quadratic) pair cost. The corpus is embeddings
      // plus a perturbed twin of every %20==3 row (cosine ≈ 0.997 —
      // the plantQueries device), so the gate prunes a KNOWN cohort:
      // each twin's only ≥0.9 partner is its source, which holds the
      // smaller id and survives as keeper
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val corpus = emb
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
        .unionByName(Ann.plantQueries(
          emb.filter(col("vec_id") % 20 === 3), "vec_id", "embedding",
          idOffset = 1000000L, delta = 0.01))
      // maxCellSize = Int.MaxValue: the oracle renders no guard, so
      // the gate runs the unguarded contract on both engines (the
      // st_minhash_incr stance); the GUARDED path is oracle-gated by
      // e_semdedup_guarded below
      Ann.semDedupPruned(corpus, "vec_id", "embedding", threshold = 0.9,
        maxCellSize = Int.MaxValue)
        .orderBy("id")
    }),
    "e_semdedup_guarded" -> ((s, dir) => {
      // the hot-cell guard ITSELF under the oracle: same planted
      // corpus as e_semdedup, maxCellSize = 35 — at sf0.01 (the
      // driver's correctness SF) the 16 cells census between ~24 and
      // ~44 members, so the dial genuinely splits them (hot cells'
      // twins vanish, cold cells' still prune) and BOTH engines must
      // agree on the census, the blocklist, and the surviving pair
      // set. Guard behavior proven by hash, not narrated by spec.
      // (At bench SF the same absolute dial blocks every cell — the
      // timed work is then exactly the census + blocklist machinery;
      // the dial is absolute because the oracle text must be one
      // static string across SFs)
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val corpus = emb
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
        .unionByName(Ann.plantQueries(
          emb.filter(col("vec_id") % 20 === 3), "vec_id", "embedding",
          idOffset = 1000000L, delta = 0.01))
      Ann.semDedupPruned(corpus, "vec_id", "embedding", threshold = 0.9,
        maxCellSize = 35)
        .orderBy("id")
    }),
    "e_cos_dedup_clusters" -> ((s, dir) => {
      // embedding-space dedup composed across modules: exact cosine
      // near-dup pairs -> connected components -> cluster labels, the
      // chain an embedding-dedup corpus pass runs (at scale the pairs
      // come from cosineNearDupLsh — same shape; the exact finder here
      // keeps the oracle value-exact). Executes eagerly like
      // d_dedup_clusters (the component step is iterative)
      val pairs = graft.ann.Ann.cosineNearDupPairs(
        t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.3)
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("id")
    }),
    "e_cos_neardup_lsh" -> ((s, dir) => {
      // near-dup LSH in its actual scale regime: planes=192, bands=16
      // -> r=12, i.e. 4096-bucket band keys (the round-3 single-long
      // signature capped r at 3 bits = 8 buckets — a quadratic
      // candidate cliff at corpus scale). High-threshold pairs don't
      // exist in the synthetic corpus (max pairwise cos ~ 0.43), so
      // the demo constructs them the way a real corpus acquires them:
      // each vector's int8 quantize->dequantize twin (a re-encoded
      // copy, cos ~ 0.9999) joins the corpus under id+1000000, and
      // the scan must pair every vector with its twin at cos >= 0.98.
      // All twin arithmetic is int->double IEEE ops in identical
      // order, so DuckDB reproduces the union bit-exactly.
      import graft.ann.Ann
      val base = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      val twins = Ann.quantizeInt8(base, "vec_id", "embedding")
        .select((col("id") + 1000000L).as("vec_id"),
          transform(col("qvec"),
            x => x.cast("double") / lit(127.0) * col("qscale")).as("embedding"))
      val union = base
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("embedding"))
        .unionByName(twins)
      Ann.cosineNearDupLsh(union, "vec_id", "embedding", threshold = 0.98,
        planes = 192, bands = 16, maxBucketSize = 0)
        .orderBy("id_a", "id_b")
    }),
    "e_semantic_contam" -> ((s, dir) => {
      // embedding-space decontamination: corpus rows semantically
      // equal to an eval-set member (cos >= 0.98) via the banded-LSH
      // cross-frame scan — the semantic twin of d_contamination's
      // shingle overlap. The synthetic corpus has no natural
      // eval-leaks (max pairwise cos ~0.43), so leakage is planted
      // the way a real corpus acquires it: int8 re-encoded copies of
      // half the eval set (cos ~0.9999 to their source) hide in the
      // corpus under id+2000000, and the scan must flag exactly
      // those. Same IEEE-op-identical twin arithmetic as
      // e_cos_neardup_lsh, so DuckDB reproduces it bit-exactly.
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
      // loan-persist the corpus: the materialization barrier stops
      // Catalyst pushing the norm filter below the posexplode, which
      // would re-inline the (large) twin dequant expression into the
      // filter and codegen it twice; the flagged result is k-sized
      graft.ops.Caching.withPersisted(corpus) { c =>
        Ann.semanticContamination(c, evalSet, "id", "v",
          threshold = 0.98, planes = 192, bands = 16)
          .orderBy("id")
      }
    }),
    "e_semdedup_apply" -> ((s, dir) => {
      // SemDeDup-style semantic dedup APPLIED: exact cosine pairs →
      // connected components → drop every non-canonical cluster
      // member — the surviving embedding corpus (at scale the pairs
      // come from cosineNearDupLsh / the banded scan; the exact
      // finder keeps the oracle value-exact). Zero-norm vectors are
      // never pair-flagged, so they survive by construction.
      // Executes eagerly like d_dedup_apply (iterative CC step)
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      val pairs = graft.ann.Ann.cosineNearDupPairs(
        emb, "vec_id", "embedding", threshold = 0.3)
      val clusters = graft.dedup.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      graft.dedup.Dedup.dedupApply(emb, "vec_id", clusters)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),
    "e_mutual_knn" -> ((s, dir) => {
      // reciprocal-kNN edge mining: pairs where each endpoint ranks
      // the other in its own top-5 — the hub-killing robustification
      // of raw neighbor lists. Brute arm is the documented exact
      // baseline; at scale any approximate top-k frame feeds
      // mutualPairs unchanged
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
      graft.ann.Ann.mutualPairs(
        graft.ann.Ann.bruteForceTopK(emb, emb, "vec_id", "embedding",
          k = 5))
        .orderBy("id_a", "id_b")
    }),
    "e_knn_classify" -> ((s, dir) => {
      // kNN label assignment (weak supervision): every 10th+1 vector
      // classified by majority label of its 5 nearest labeled
      // neighbors (every 10th vector), ties to smallest label
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.knnClassify(
        emb.filter(col("vec_id") % 10 === 1),
        emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id")
    }),
    "e_quantize_int8" -> ((s, dir) => {
      import graft.ann.Ann
      Ann.quantizeInt8(
        t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
        "vec_id", "embedding")
        .select(col("id"), col("qscale"),
          Ann.dequantMaxError(col("v"), col("qvec"), col("qscale"))
            .as("max_abs_err"))
        .orderBy("id")
    }),
    "e_mrl_truncate" -> ((s, dir) => {
      // Matryoshka truncation: first-16-dims prefix renormalized to
      // unit length (4x index density, rescore at full precision
      // later) — map-only; doubles hash RAW because the norm fold is
      // a fixed IEEE sequence and sqrt/divide are correctly rounded
      graft.ann.Ann.mrlTruncate(
        t(s, dir, "embeddings").filter(col("vec_id") % 20 === 3),
        "vec_id", "embedding", dims = 16)
        .select(col("id"), col("tnorm"),
          posexplode(col("tvec")).as(Seq("p", "q")))
        .select(col("id"), col("tnorm"),
          (col("p") + 1).cast("long").as("i"), col("q"))
        .orderBy("id", "i")
    }),
    "d_cdc_chunks" -> ((s, dir) =>
      // content-defined chunking: boundaries where the 8-gram hash ≡
      // 0 (mod 16) — chunk spans realign after insertions, the
      // shift-resistance fixed-width shingles lack. Gram hashing is
      // the winnowing plan; spans are doc-keyed list arithmetic
      graft.dedup.Cdc.chunkSpans(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 3),
        "doc_id", "text")
        .orderBy("id", "chunk_idx")),
    "d_cdc_dupes" -> ((s, dir) =>
      // cross-document duplicate-chunk census over CDC spans: the
      // fingerprint-keyed shuffle at ~1/16 of the gram volume
      graft.dedup.Cdc.duplicateChunks(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
        .orderBy("chunk_hash")),
    "d_url_canon" -> ((s, dir) => {
      // crawl-frontier dedup: scheme/case/www/query/slash variants of
      // the same page collapse under the pinned 5-step canon rule —
      // planted even/odd docs carry the two variant spellings
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" https://WWW.s"), (col("doc_id") % 11).cast("string"),
              lit(".example.com/page/"), (col("doc_id") % 40).cast("string"),
              lit("?utm=x")))
            .otherwise(concat(lit(" http://s"),
              (col("doc_id") % 11).cast("string"), lit(".example.com/page/"),
              (col("doc_id") % 40).cast("string"), lit("/")))).as("text"))
      graft.text.Urls.canonicalStats(docs, "doc_id", "text")
        .orderBy("canon_url")
    }),
    "s_domain_rank" -> ((s, dir) => {
      // source-quality link analysis: ALL-INTEGER PageRank (micro
      // units, floor-div at two pinned points — no double-sum order
      // hazard) over the domain co-citation graph; the planted
      // mirror host becomes the hub and concentrates rank
      val urls = graft.text.Urls.extractUrls(
        plantedUrls(s, dir), "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.pageRank(
        graft.ops.LinkAnalysis.cocitationEdges(urls), iters = 5)
        .orderBy("domain")
    }),
    "t_readability" -> ((s, dir) => {
      // Flesch reading ease from integer censuses (sentence runs,
      // vowel-group syllable proxy floored at word count) — map-only;
      // the score doubles hash raw (pinned IEEE op order)
      import graft.text.TextFunctions._
      t(s, dir, "documents").filter(col("doc_id") % 4 === 1)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_words"),
          sentenceCount(col("text")).as("n_sent"),
          syllableProxy(col("text")).as("n_syl"),
          flesch(col("text")).as("flesch"))
        .orderBy("doc_id")
    }),
    "t_code_detect" -> ((s, dir) => {
      // code-vs-prose detection (the code-filter stage of an LLM
      // corpus): symbol/digit densities in integer ppm from portable
      // regex classes — map-only, flag at >= 40000 ppm symbols
      val sym = size(regexp_extract_all(col("text"),
        lit("[{}()\\[\\];=<>]"), lit(0))).cast("long")
      val dig = size(regexp_extract_all(col("text"),
        lit("[0-9]"), lit(0))).cast("long")
      t(s, dir, "documents").filter(col("doc_id") % 6 === 2)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          sym.as("n_sym"), dig.as("n_dig"))
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          expr("(n_sym * 1000000L) div n_chars").as("sym_ppm"),
          expr("(n_dig * 1000000L) div n_chars").as("dig_ppm"))
        .withColumn("codeish", col("sym_ppm") >= 40000L)
        .orderBy("doc_id")
    }),
    "t_char_gini" -> ((s, dir) =>
      // letter-distribution concentration (log-free Gini entropy
      // stand-in, integer ppm) — gibberish/blob detector; map-only,
      // no explode: 26 replace-counts folded in one aggregate pass
      graft.text.TextFunctions.letterConcentration(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 2),
        "doc_id", "text")
        .orderBy("doc_id")),
    "t_html_strip" -> ((s, dir) => {
      // markup extraction: strip tags + decode entities over a PLANTED
      // html wrapping of the corpus (same construction in the oracle)
      // — the pre-dedup text-extraction pass; map-only, in codegen
      import graft.text.Html._
      val html = concat(
        lit("<html><body "), lit("class=\"d"),
        (col("doc_id") % 7).cast("string"), lit("\"><h1>Doc &#39;"),
        col("doc_id").cast("string"), lit("&#39;</h1><p>"),
        replace(col("text"), lit("a"), lit("&amp;")),
        lit("</p><br/></body></html>"))
      t(s, dir, "documents").filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"), extractText(html).as("clean"))
        .select(col("doc_id"),
          length(col("clean")).cast("bigint").as("n_chars"),
          substring(col("clean"), 1, 40).as("head"))
        .orderBy("doc_id")
    }),
    "t_colloc_lift" -> ((s, dir) =>
      // phrase mining: top-30 adjacent pairs by PMI-surrogate lift
      // (n_ab·N / n_a·n_b, log-free and hash-gated); min-count 3
      // suppresses the rare-pair PMI noise mode. Census topology =
      // the LM scorer's; ranking is a TakeOrdered heap
      graft.text.Ngrams.collocationLift(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "text", k = 30)),
    "t_unigram_roundtrip" -> ((s, dir) =>
      // decode(encode(x)) = x for the tokenizer family that actually
      // EMITS BYTE PIECES: every token segments via the Viterbi
      // backtrace (byte-fallback markers for OOV glyphs, incl.
      // planted 2/3/4-byte UTF-8 widths — the surrogate-pair 𝄞 is
      // the hazard case), decodes via the byte-marker inverse, and
      // must reconstruct exactly. cost/pieces recompute through the
      // oracle's unrolled DP; n_roundtrip is the declared identity
      graft.text.Unigram.roundTripCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 6)
          .select(col("doc_id"),
            concat(col("text"), when(col("doc_id") % 29 === 0,
              lit(" µω€𝄞 zµq")).otherwise(lit(""))).as("text")),
        "doc_id", "text", byteFallback = true)
        .orderBy("id")),
    "t_unigram_cost" -> ((s, dir) =>
      // unigram-LM (SentencePiece-family) Viterbi segmentation with
      // ALL-INTEGER piece costs (1 + Fmax div freq over top-200
      // census n-grams) — per-doc minimum encode cost + piece count;
      // the DP runs over the DISTINCT-WORD census with the cost
      // table broadcast. Oracle = position-unrolled chained-CTE DP
      graft.text.Unigram.encodeCost(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 1),
        "doc_id", "text")
        .orderBy("id")),
    "t_unigram_bytes" -> ((s, dir) =>
      // byte-fallback twin of t_unigram_cost (SentencePiece
      // --byte_fallback): planted OOV glyphs of 2/3/4-byte UTF-8
      // widths (µ €, 𝄞) decompose into their bytes — nb pieces at
      // nb·ByteCost — instead of one Big-priced UNK, so encode is
      // total and piece counts reflect actual byte emission
      graft.text.Unigram.encodeCost(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 4)
          .select(col("doc_id"),
            concat(col("text"), when(col("doc_id") % 31 === 0,
              lit(" µω€𝄞 qµz")).otherwise(lit(""))).as("text")),
        "doc_id", "text", byteFallback = true)
        .orderBy("id")),
    "t_wordpiece" -> ((s, dir) =>
      // the OTHER classic subword tokenizer beside BPE: greedy
      // longest-match WordPiece against a deterministic vocab (top-
      // 100 census words + [a-z0-9] singles/continuations); the loop
      // runs over the DISTINCT-WORD census with the vocab broadcast
      // — vocabulary-sized, never corpus-sized. Oracle = recursive
      // CTE with a LATERAL longest-match step
      graft.text.WordPiece.segmentCensus(
        graft.text.Bpe.wordCensus(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0), "text"),
        topN = 8)
        .orderBy("word")),
    "t_wordpiece_stats" -> ((s, dir) =>
      // cross-slice encode: vocab trained on the %5=0 slice, the
      // %10=1 slice's census segments against it, docs resolve
      // through a broadcast join — per-doc subword/UNK budget counts
      graft.text.WordPiece.encodeStats(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 1),
        "doc_id", "text",
        graft.text.Bpe.wordCensus(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0), "text"),
        topN = 8)
        .orderBy("id")),
    "t_hashed_classifier" -> ((s, dir) =>
      // fastText-shaped quality-filter inference: hashed unigram+
      // bigram features → fixed 4096-slot weight table (md5 stand-in
      // for a trained model; same plan shape) → mean weight per doc.
      // Map-only extraction + one doc-keyed agg; integer census +
      // one IEEE division so the score hashes raw
      graft.text.HashedClassifier.score(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2),
        "doc_id", "text")
        .orderBy("id")),
    "t_classifier_train" -> ((s, dir) =>
      // the TRAINER behind the hashed classifier: all-integer
      // difference of add-one-smoothed class rates per bucket (the
      // log-free NB-family weight — ln is engine-divergent) over a
      // planted-label slice; one gram census + 1-row totals broadcast
      graft.text.HashedClassifier.train(
        plantedClassDocs(s, dir).filter(col("id") % 3 === 0),
        "text", "label")
        .orderBy("bucket")),
    "t_classifier_holdout" -> ((s, dir) => {
      // train∘score∘evaluate end to end: weights from the % 3 = 0
      // slice, sign-test accuracy counts on the disjoint % 3 = 1
      // holdout — planted class tokens make the classes separable,
      // so a working trainer shows near-perfect counts and a broken
      // one ~50%; the gate pins the exact integers either way
      val docs = plantedClassDocs(s, dir)
      val weights = graft.text.HashedClassifier.train(
        docs.filter(col("id") % 3 === 0), "text", "label")
      graft.text.HashedClassifier.holdoutAccuracy(
        docs.filter(col("id") % 3 === 1), "id", "text", "label", weights)
        .orderBy("label")
    }),
    "t_calibration" -> ((s, dir) => {
      // reliability census on the disjoint holdout: mean-gram-weight
      // bands vs observed positive rate — the ranked-selection eval
      // beside the sign-test accuracy gate (pos_ppm must rise with
      // the band for the scores to be usable as a quality dial)
      val docs = plantedClassDocs(s, dir)
      val weights = graft.text.HashedClassifier.train(
        docs.filter(col("id") % 3 === 0), "text", "label")
      graft.text.HashedClassifier.reliability(
        docs.filter(col("id") % 3 === 1), "id", "text", "label", weights)
        .orderBy("band")
    }),
    "t_pr_curve" -> ((s, dir) => {
      // precision-recall threshold sweep on the disjoint holdout —
      // how the production quality threshold gets picked: per score
      // band, confusion counts + integer-ppm precision/recall of
      // "keep docs scoring >= band". Cumulative window runs over the
      // BAND census (bounded rows), never the corpus
      val docs = plantedClassDocs(s, dir)
      val weights = graft.text.HashedClassifier.train(
        docs.filter(col("id") % 3 === 0), "text", "label")
      graft.text.HashedClassifier.prCurve(
        docs.filter(col("id") % 3 === 1), "id", "text", "label", weights)
        .orderBy("band")
    }),
    "t_classifier_apply" -> ((s, dir) => {
      // production shape: train ONCE, persist the weight table,
      // score later corpora FROM THE RELOAD (the t_bpe_segment
      // pattern for merge tables). The oracle recomputes the weights
      // inline, so a broken write/read path — schema drift, lost
      // rows, a stale dir — hash-fails instead of silently shifting
      // scores; the apply slice (% 3 = 2) is disjoint from train
      val docs = plantedClassDocs(s, dir)
      val out = s"${scratchRoot()}/classifier_weights"
      graft.text.HashedClassifier.train(
        docs.filter(col("id") % 3 === 0), "text", "label")
        .write.mode("overwrite").parquet(out)
      graft.text.HashedClassifier.scoreTrained(
        docs.filter(col("id") % 3 === 2), "id", "text",
        s.read.parquet(out))
        .orderBy("id")
    }),
    "s_quantile_reload" -> ((s, dir) => {
      // sketch-state persistence: the ≤ ~2k-cell census writes once
      // and rank queries answer from the RELOAD — the sketch-store
      // consumption path (monitoring reads sketches, never raw data)
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      val out = s"${scratchRoot()}/quantile_cells"
      graft.ops.QuantileSketch.cells(li, "cents", m = 5)
        .write.mode("overwrite").parquet(out)
      graft.ops.QuantileSketch.quantiles(
        s.read.parquet(out), Seq(250, 750, 950), m = 5)
        .orderBy("q_permille")
    }),
    "f_jaro_winkler" -> ((s, dir) => {
      // fuzzy record-linkage scoring: native codegen Jaro-Winkler
      // (byte semantics, Winkler boost >0.7, prefix cap 4) pinned
      // bit-for-bit to DuckDB's builtin — raw doubles under the hash
      // gate. Bounded slices here; at corpus scale the pair source is
      // a blocking join (dedup.Fuzzy), never all-pairs
      val p = t(s, dir, "part")
      val a = p.filter(col("p_partkey") % 40 === 1)
        .select(col("p_partkey").as("id_a"), col("p_name").as("name_a"))
      val b = p.filter(col("p_partkey") % 40 === 2)
        .select(col("p_partkey").as("id_b"), col("p_name").as("name_b"))
      a.crossJoin(b)
        .select(col("id_a"), col("id_b"),
          graft.functions.JaroWinkler.jaro_winkler(
            col("name_a"), col("name_b")).as("jw"))
        .filter(col("jw") > 0.8)
        .orderBy("id_a", "id_b")
    }),
    "e_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 top-20 (sparse) ⊕ cosine top-20
      // (dense, anchor = the query's own embedding) fused by
      // reciprocal-rank — nano-quantized 1/(60+rank) contributions,
      // ties by doc_id. Fusion input is queries×k rows per system,
      // corpus-size-independent
      val qs = Seq(1 -> "hash join", 2 -> "window agg stream",
        3 -> "fast vector scan")
      val sparse = graft.text.Bm25.topK(
        t(s, dir, "documents"), "doc_id", "text", qs, k = 20)
        .select(col("query_id"), col("doc_id"), col("rnk"))
      val emb = t(s, dir, "embeddings")
      val dense = graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id").isin(1, 2, 3)), emb,
        "vec_id", "embedding", k = 20)
        .select(col("query_id").cast("int").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank").as("rnk"))
      graft.ann.Fusion.rrfFuse(Seq(sparse, dense), k = 10)
        .orderBy("query_id", "rnk")
    }),
    "e_binary_rerank" -> ((s, dir) => {
      // production two-stage retrieval: Hamming coarse top-50 over
      // the 16-byte packed scan, exact cosine rerank of ONLY the
      // survivors to top-10 — the rerank join touches queries×50
      // float rows regardless of corpus size
      val emb = t(s, dir, "embeddings")
      graft.ann.Binary.hammingRerank(
        emb.filter(col("vec_id") % 50 === 1), emb,
        "vec_id", "embedding", k = 10, kCoarse = 50)
        .orderBy("query_id", "rank")
    }),
    "e_binary_sign" -> ((s, dir) =>
      // 1-bit sign quantization: 64 float dims → two 32-bit words
      // (16 bytes/vector, 16×) — map-only, pure-integer unrolled
      // packing, exact under the hash gate
      graft.ann.Binary.signPack(
        t(s, dir, "embeddings").filter(col("vec_id") % 7 === 0),
        "vec_id", "embedding")
        .orderBy("id")),
    "e_hamming_topk" -> ((s, dir) => {
      // binary retrieval: popcount(xor) top-10 over the sign-packed
      // corpus — candidate scan reads only the 16-byte words, never
      // the float embedding; ties (common at 64 bits) break by id
      val emb = t(s, dir, "embeddings")
      graft.ann.Binary.hammingTopK(
        emb.filter(col("vec_id") % 50 === 1), emb,
        "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),
    "e_dim_stats" -> ((s, dir) =>
      // embedding dimension QA: dead/stuck/blown-up dims as one
      // anomalous census row; components quantize exactly
      // (floor(v·2^20) — power-of-two multiply is IEEE-exact) so the
      // integer moments are order-independent and hash-gated
      graft.ann.DimStats.dimStats(
        t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0),
        "embedding")
        .orderBy("dim")),
    "d_source_overlap" -> ((s, dir) => {
      // cross-source duplication matrix: distinct (fingerprint,
      // source) rows self-join on the fingerprint — fan-out bounded
      // by SOURCE count per fingerprint, never by document
      // multiplicity; planted syndicated templates make the hot
      // cells real. The census a mixture planner reads to drop
      // wholesale-subset sources before per-document dedup
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("source"),
          when(col("doc_id") % 3 === 0,
            concat(lit("syndicated item "), (col("doc_id") % 7).cast("string")))
            .otherwise(col("text")).as("text"))
      graft.dedup.Provenance.sourceOverlap(docs, "text", "source")
        .orderBy("src_a", "src_b")
    }),
    "e_embedding_drift" -> ((s, dir) => {
      // model-upgrade QA: cosine census between two embedding
      // versions joined on id — version B plants a component shift
      // on 1-in-5 ids (double-space add, cast back to float, so both
      // engines store the identical perturbed value); the census
      // shows the identity mass at bin 999/1000 and the drift tail
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 1)
      val v2 = emb.select(col("vec_id"),
        when(col("vec_id") % 5 === 0, concat(
          array((element_at(col("embedding"), 1).cast("double")
            + lit(0.5)).cast("float")),
          slice(col("embedding"), 2, 63)))
          .otherwise(col("embedding")).as("embedding"))
      graft.ann.DimStats.pairedDriftCensus(emb, v2, "vec_id", "embedding")
        .orderBy("bin")
    }),
    "t_lexical_diversity" -> ((s, dir) =>
      // per-source type-token + hapax census: template/machine text
      // shows low TTR, gibberish high hapax fraction — one word
      // census shuffle, then a types-sized rollup
      graft.text.Vocab.lexicalDiversity(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "source", "text")
        .withColumnRenamed("g", "source")
        .orderBy("source")),
    "t_heaps_law" -> ((s, dir) =>
      // Heaps-law vocabulary growth: cumulative (tokens, types) per
      // ingest bucket via the first-bucket-per-type device — exact
      // prefix-distincts from ONE token census, no prefix re-scans;
      // the curve that sizes a tokenizer vocab before full training
      graft.text.Vocab.heapsGrowth(
        t(s, dir, "documents"), "doc_id", "text", bucketWidth = 25L)
        .orderBy("bucket")),
    "o_bloom_stats" -> ((s, dir) => {
      // the runtime-filter census: md5-pinned bloom layout means even
      // the FALSE-POSITIVE count is deterministic and hash-gated —
      // the filter arithmetic itself is under the oracle, not just
      // the FP-insensitive join result
      val fact = t(s, dir, "lineitem").select(col("l_partkey").as("fk"))
      val dim = t(s, dir, "part").filter(col("p_retailprice") > 950)
        .select(col("p_partkey").as("dk"))
      graft.ops.Bloom.stats(fact, "fk", dim, "dk", m = 8192, k = 3)
    }),
    "o_bloom_join" -> ((s, dir) => {
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
    }),
    "s_domain_hits" -> ((s, dir) => {
      // PageRank's companion centrality: integer HITS hubs &
      // authorities over the same co-citation graph — L2 norm
      // replaced by a fixed 10^6-max floor-div rescale so every
      // intermediate is exact BIGINT and the iteration hash-gates
      val urls = graft.text.Urls.extractUrls(
        plantedUrls(s, dir), "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.hits(
        graft.ops.LinkAnalysis.cocitationEdges(urls), iters = 5)
        .orderBy("domain")
    }),
    "s_graph_triangles" -> ((s, dir) => {
      // clustering-density census over the domain co-citation graph:
      // degree-oriented triangle count (each edge points low→high
      // (degree, node), so every triangle counts exactly once and
      // join fan-out is O(√E)-bounded even on power-law hubs). The
      // two-hub planting makes triangles actually exist: docs citing
      // spoke+mirror+hub2 close (spoke, mirror, hub2) triangles
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.triangles(
        graft.ops.LinkAnalysis.cocitationEdges(urls))
    }),
    "s_triangle_domains" -> ((s, dir) => {
      // WHICH domains are triangle-dense (the spam-farm hunt's
      // actionable output): per-vertex local triangle counts over
      // the same planted co-citation graph as s_graph_triangles —
      // the mirror/hub2 farm corners show high closure, the organic
      // s<N> spokes mostly zero despite nonzero degree
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.trianglesPerVertex(
        graft.ops.LinkAnalysis.cocitationEdges(urls))
        .orderBy("domain")
    }),
    "s_kcore_domains" -> ((s, dir) => {
      // the dense-core complement of the triangle census: a 4-round
      // 2-core peel. The planting DIFFERS from s_graph_triangles in
      // one dial: only spokes with residue < 12 ever cite hub2, so
      // spokes 12..22 hang off mirror alone (degree 1) and shed in
      // round 1, while the farm (mirror/hub2 + doubly-linked spokes
      // 0..11) survives — the peel must discriminate, not rubber-
      // stamp. Bounded rounds are the spec on both engines (the
      // pageRank iters convention)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0 && col("doc_id") % 23 < 12,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.kCorePeel(
        graft.ops.LinkAnalysis.cocitationEdges(urls), k = 2, rounds = 4)
        .orderBy("domain")
    }),
    "s_link_predict" -> ((s, dir) => {
      // which non-adjacent domains SHOULD be linked (the
      // same-publisher prior before any content comparison): common
      // neighbors + integer Resource Allocation index over the
      // k-core planting, whose one dial (hub2 only for residue < 12)
      // splits the predictions — spoke pairs both < 12 share two
      // neighbors (mirror AND hub2), mixed/high pairs share mirror
      // alone, and the RA weights differ with the hubs' degrees. The
      // maxHubDeg wedge cap is part of the operator spec (both
      // engines): fan-out through any node is bounded by cap^2
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0 && col("doc_id") % 23 < 12,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.linkPredict(
        graft.ops.LinkAnalysis.cocitationEdges(urls), maxHubDeg = 64)
        .orderBy("u", "w")
    }),
    "s_bfs_layers" -> ((s, dir) => {
      // hop-distance census from a seed hub over the k-core planting:
      // hub2 reaches its doubly-linked spokes (residue < 12) and
      // mirror at layer 1; mirror's exclusive spokes (12..22) only at
      // layer 2 — the frontier genuinely advances twice. Bounded
      // rounds are the spec; per round one semi + one anti equi-join,
      // visited checkpointed (it is referenced twice per round)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0 && col("doc_id") % 23 < 12,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.bfsLayers(
        graft.ops.LinkAnalysis.cocitationEdges(urls),
        seeds = Seq("hub2.example.org"), rounds = 3)
        .orderBy("domain")
    }),
    "t_pii_rate_by_source" -> ((s, dir) => {
      // per-source PII exposure census (the pre-release privacy
      // gate): the synthetic corpus has no PII, so identifiers are
      // planted in a quarter of the scanned slice (identical
      // construction in the oracle) — sources then report distinct
      // nonzero rates, and the ppm arithmetic stays all-integer
      val txt = when(col("doc_id") % 4 === 1,
        concat(substring(col("text"), 1, 60),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10."), (col("doc_id") % 200).cast("string"),
          lit(".0.7"))).otherwise(col("text"))
      graft.text.Pii.rateBySource(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("source"), txt.as("text")),
        "source", "text")
        .orderBy("source")
    }),
    "ev_transitions" -> ((s, dir) =>
      // first-order Markov transition census: adjacent event-type
      // pairs per user timeline (one lead window, the sessionize
      // frame) → |types|²-cell census + broadcast src marginal;
      // conditional P(dst|src) floor-quantized to ppm
      graft.ops.Transitions.transitionCensus(
        t(s, dir, "events").filter(col("user_id") % 5 === 0),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("src", "dst")),
    "s_kmv_distinct" -> ((s, dir) =>
      // KMV cardinality sketch: distinct → TakeOrdered heap of the
      // 256 smallest md5 hashes → one division. Deterministic where
      // HyperLogLog is engine-private, so the ESTIMATE hash-matches
      graft.ops.Sketches.kmvDistinct(
        t(s, dir, "lineitem"), "l_partkey", 256)),
    "s_kmv_overlap" -> ((s, dir) => {
      // sketch-level set intersection: Jaccard/overlap of two slices'
      // distinct part keys from 256-hash KMV sketches — sizes a
      // cross-snapshot dedup BEFORE any corpus-scale join runs; the
      // estimate itself only ever touches k-row frames
      val li = t(s, dir, "lineitem")
      graft.ops.Sketches.kmvOverlap(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 3 === 0),
        "l_partkey", 256)
    }),
    "s_hll_registers" -> ((s, dir) =>
      // deterministic HyperLogLog registers: md5 hash → 8-bit bucket
      // + leftmost-1 rho via STRING bit length (no log2 rounding
      // hazard); groupBy(bucket).max — max is duplicate-blind, so no
      // distinct shuffle ever runs (the scale edge over KMV)
      graft.ops.Hll.registerFrame(t(s, dir, "lineitem"), "l_partkey")
        .orderBy("bucket")),
    "s_hll_groups" -> ((s, dir) =>
      // per-group HLL: one ≤256-cell register set per order priority
      // — the per-domain cardinality census at 2 KB of state per
      // group, no distinct shuffle at any group cardinality
      graft.ops.Hll.distinctPerGroup(
        t(s, dir, "orders"), "o_orderpriority", "o_custkey")
        .orderBy("o_orderpriority")),
    "s_hll_estimate" -> ((s, dir) =>
      // the raw HLL estimator with an INTEGER harmonic denominator
      // (z_scaled = Σ 2^(53-M_j), exact in BIGINT) and one final IEEE
      // division — est_raw hashes raw; v_zero ships so consumers can
      // apply the ln-based small-range correction engine-side
      graft.ops.Hll.distinctEstimate(t(s, dir, "lineitem"), "l_partkey")),
    "s_kmv_groups" -> ((s, dir) =>
      // per-group sketches through the bounded-heap TopK aggregate —
      // O(k) state per group, never a per-group sort
      graft.ops.Sketches.kmvDistinctPerGroup(
        t(s, dir, "orders"), "o_orderpriority", "o_custkey", 64)
        .orderBy("o_orderpriority")),
    "s_quantile_sketch" -> ((s, dir) => {
      // mergeable quantile sketch: HDR-style log-linear buckets in
      // ALL-INTEGER arithmetic (bit length via the string-length
      // device, no log2) — one map-combined groupBy collapses any
      // row count to ≤ ~2k cells; merging shards = adding counts
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      graft.ops.QuantileSketch.cells(li, "cents", m = 5)
        .select(col("bucket"), col("cnt"),
          graft.ops.QuantileSketch.lowerBound(col("bucket"), 5).as("est_lb"),
          graft.ops.QuantileSketch.upperBound(col("bucket"), 5).as("est_ub"))
        .orderBy("bucket")
    }),
    "s_quantile_answers" -> ((s, dir) => {
      // rank queries on the sketch: integer per-mille targets
      // (rank = (n·q + 999) div 1000 — no float ever multiplies a
      // count), answered by a cumulative walk over the cell frame;
      // the true quantile lies in [est_lb, est_ub], width ≤ 2^-5
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.cells(li, "cents", m = 5),
        Seq(500, 900, 990, 999), m = 5)
        .orderBy("q_permille")
    }),
    "s_quantile_groups" -> ((s, dir) => {
      // per-group quantile sketch: ≤ ~2k cells per order priority at
      // ANY group cardinality — the bounded-state per-domain latency/
      // size percentile census
      val o = t(s, dir, "orders")
        .withColumn("cents",
          floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      graft.ops.QuantileSketch.quantilesPerGroup(
        graft.ops.QuantileSketch.cellsPerGroup(o, "o_orderpriority", "cents", 5),
        Seq(500, 900), m = 5)
        .withColumnRenamed("g", "o_orderpriority")
        .orderBy("o_orderpriority", "q_permille")
    }),
    "s_quantile_bins" -> ((s, dir) => {
      // equal-frequency discretization through the sketch: quartile
      // boundaries from the sketch answers ride a 1-row broadcast
      // and each row bins via a codegen'd HOF — no join, no sort,
      // no second data pass beyond the cell census
      val o = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .withColumn("cents",
          floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      graft.ops.QuantileSketch.discretize(
        o, "o_orderkey", "cents", Seq(250, 500, 750), m = 5)
        .orderBy("id")
    }),
    "s_incr_join" -> ((s, dir) => {
      // join-view maintenance: A'⋈B' reconstructed as the stored
      // view plus THREE delta-sided joins (each bounded by |Δ| ·
      // fan-out, never a full re-join), aggregated per priority —
      // the oracle joins the full tables directly; hash equality is
      // the bag delta algebra, multiplicities and all
      import graft.ops.IncrementalAgg
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      val full = IncrementalAgg.maintainedJoin(
        li.filter(col("l_linenumber") =!= 3),
        li.filter(col("l_linenumber") === 3),
        o.filter(col("o_orderkey") % 7 =!= 3),
        o.filter(col("o_orderkey") % 7 === 3),
        "l_orderkey", "o_orderkey")
      full.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .orderBy("o_orderpriority")
    }),
    "s_incr_agg" -> ((s, dir) => {
      // incremental aggregate maintenance — the materialized-view
      // law: per-supplier mergeable state (count/sum/min/max in
      // exact cents) computed over two disjoint ingest slices
      // INDEPENDENTLY and merged; the oracle recomputes the whole
      // table in one pass. Hash equality proves the aggregation-
      // homomorphism identity merge(stats(old), stats(delta)) ≡
      // stats(old ∪ delta) cross-engine — the license to never
      // re-scan a 100 TB corpus on ingest
      import graft.ops.IncrementalAgg
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      val prev = li.filter(col("l_orderkey") % 10 =!= 7)
      val delta = li.filter(col("l_orderkey") % 10 === 7)
      IncrementalAgg.withMean(IncrementalAgg.merge(
        Seq(IncrementalAgg.stats(prev, Seq("l_suppkey"), col("cents")),
          IncrementalAgg.stats(delta, Seq("l_suppkey"), col("cents"))),
        Seq("l_suppkey")))
        .orderBy("l_suppkey")
    }),
    "s_cms_counts" -> ((s, dir) => {
      // count-min frequency sketch probed with the corpus's own keys,
      // true counts alongside — the overcount column exhibits the
      // no-undercount guarantee in the gated data itself
      import graft.ops.Sketches
      val li = t(s, dir, "lineitem")
      val cells = Sketches.cmsCells(li, "l_suppkey", 4, 512)
      val truth = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_true"))
      Sketches.cmsEstimate(cells, li, "l_suppkey", 4, 512)
        .join(truth, Seq("l_suppkey"))
        .select(col("l_suppkey"), col("n_true"), col("n_est"),
          (col("n_est") - col("n_true")).as("overcount"))
        .orderBy("l_suppkey")
    }),
    "e_rvq_encode" -> ((s, dir) => {
      // residual quantization (the semantic-ID / additive-quantizer
      // shape): two full-width seed-drawn 16-centroid stages — stage
      // 2 quantizes stage 1's residual, so (c1, c2) is a coarse-to-
      // fine address and err2 the remaining squared-L2. Broadcast
      // codebooks, one struct-min argmin pass per stage, IEEE-exact
      // folds so the error hash-matches
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      graft.ann.Rvq.rvqEncodeSeedDrawn(emb, emb, "vec_id", "embedding",
        k = 16)
        .orderBy("id")
    }),
    "e_rvq_topk" -> ((s, dir) => {
      // RVQ asymmetric-distance top-5 self-search: per-query stage
      // tables + the query-independent k² cross-term table (the
      // additive-quantizer ADC — PQ's trick plus the cross term PQ's
      // subspace independence lets it drop). Fixed IEEE folds, the
      // pinned (t1 + t2) + x addition order, bounded-heap rank — so
      // ranks hash-match the oracle exactly
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      Rvq.rvqTopK(emb.filter(col("vec_id") % 300 === 1), emb,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }),
    "e_rvq_refined" -> ((s, dir) => {
      // the PRODUCTION RVQ codebooks: per-stage deterministic Lloyd
      // refinement of the seed draws (argmin ties to the lowest
      // code, id-ordered IEEE mean folds, empty codes keep their
      // centroid — the lloydCentroids discipline applied to L2
      // k-means), stage 2 residualizing against the REFINED stage 1.
      // Training touches only the bounded sample; the encode tail is
      // shared verbatim with the seed-drawn twin, so both sit under
      // the same hash oracle family. The recall-vs-seed-drawn floor
      // is RvqSpec's pin
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val (cb1, cb2) = Rvq.rvqCodebooksRefined(emb, "vec_id", "embedding",
        k = 8, iters = 2, maxTrainRows = 120)
      Rvq.rvqEncode(emb, "vec_id", "embedding", cb1, cb2).orderBy("id")
    }),
    "e_ann_mrl" -> ((s, dir) => {
      // Matryoshka funnel retrieval (Kusupati et al. 2022): coarse
      // cosine over the FIRST 16 stored components (nested prefixes
      // are themselves embeddings) ranks 20 candidates per query at
      // a quarter of the scoring cost, then only those re-score at
      // full width — the adaptive-retrieval shape; prefix zero-norms
      // excluded per stage (the cosine NaN rule, applied to the
      // slice too)
      import graft.ann.Matryoshka
      val emb = t(s, dir, "embeddings")
      Matryoshka.mrlTopK(emb.filter(col("vec_id") % 40 === 2),
        emb.filter(col("vec_id") % 4 === 2), "vec_id", "embedding",
        n = 5, coarseDim = 16, coarseN = 20)
        .orderBy("query_id", "rank")
    }),
    "e_ann_mrl_lsh" -> ((s, dir) => {
      // the PRODUCTION Matryoshka funnel: the coarse stage is LSH
      // over the 16-component PREFIX (nesting means the coarse index
      // hashes a quarter of the floats; any family index slots in),
      // multi-probed 1-bit flips, then the full-width rerank of the
      // bounded survivors — the whole composition under one oracle
      // where e_ann_mrl gates the verifier-arm coarse stage
      import graft.ann.Matryoshka
      val emb = t(s, dir, "embeddings")
      Matryoshka.mrlLshTopK(emb.filter(col("vec_id") % 40 === 2),
        emb.filter(col("vec_id") % 4 === 2), "vec_id", "embedding",
        n = 5, coarseDim = 16, coarseN = 20, planes = 12, multiProbe = 2)
        .orderBy("query_id", "rank")
    }),
    "e_margin_mine" -> ((s, dir) => {
      // margin-based bitext mining (Artetxe & Schwenk 2019, the
      // CCMatrix recipe): ratio margin = cos / mean-of-own-kNN-cos
      // per side, per-source best target above threshold — the
      // hub-sentence correction raw cosine mining lacks. Two
      // exact-kNN runs (verifier arm by contract; ANN-swappable),
      // then only bounded per-row mean frames and one argmax
      import graft.ann.Mining
      val emb = t(s, dir, "embeddings")
      Mining.marginMine(emb.filter(col("vec_id") % 4 === 1),
        emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding",
        k = 4, threshold = 1.0)
        .orderBy("src_id")
    }),
    "e_margin_mine_lsh" -> ((s, dir) => {
      // the PRODUCTION mining composition: both kNN runs through the
      // multi-probed hyperplane LSH index (marginFromRuns' pluggable
      // core under a gate, not just a spec) — the id spaces of the
      // two residue slices are disjoint, so lshTopK's equal-id drop
      // is a no-op here (the scaladoc'd contract)
      import graft.ann.Mining
      val emb = t(s, dir, "embeddings")
      Mining.marginMineLsh(emb.filter(col("vec_id") % 4 === 1),
        emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding",
        k = 4, threshold = 1.0, planes = 12, dim = 64, multiProbe = 2)
        .orderBy("src_id")
    }),
    "e_sq8_encode" -> ((s, dir) => {
      // scalar quantization (the faiss QT_8bit shape, deterministic
      // max-abs variant): per-dim scale census (dim bounded rows,
      // always broadcastable), signed-byte codes + reconstruction
      // err as ONE map-only projection against the collected scale
      // literal — the third quantizer beside PQ and RVQ, for the
      // 4x-compression / zero-training operating point
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val scales = Sq.sq8Scales(emb, "embedding")
      Sq.sq8Encode(emb, "vec_id", "embedding", scales, 64)
        .select(col("id"),
          concat_ws(",", transform(col("codes"), c => c.cast("string")))
            .as("codes_str"),
          col("err8"))
        .orderBy("id")
    }),
    "e_sq8_topk" -> ((s, dir) => {
      // SQ8 asymmetric retrieval: exact queries vs decoded candidates
      // (decode = two flops/dim), squared-L2 ascending through the
      // bounded-heap rank — every double one fixed IEEE fold, so
      // ranks hash-match
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val scales = Sq.sq8Scales(emb, "embedding")
      Sq.sq8TopK(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 5, scales, 64)
        .orderBy("query_id", "rank")
    }),
    "e_rvq_refined_topk" -> ((s, dir) => {
      // the refined-RVQ family end-to-end: deterministic Lloyd
      // codebooks feeding the shared ADC retrieval — the refined
      // index's actual query path, ranks AND distances hash-matched
      // (rvqTopKWithCodebooks is the shared body, so only the
      // codebooks differ from e_rvq_topk)
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val (cb1, cb2) = Rvq.rvqCodebooksRefined(emb, "vec_id", "embedding",
        k = 8, iters = 2, maxTrainRows = 120)
      Rvq.rvqTopKWithCodebooks(emb.filter(col("vec_id") % 300 === 1), emb,
        "vec_id", "embedding", 5, cb1, cb2)
        .orderBy("query_id", "rank")
    }),
    "e_ivfrvq_refined" -> ((s, dir) => {
      // the additive-quantizer production index: md5-seeded L2
      // coarse cells + Lloyd-REFINED RVQ fine codes, the family's
      // third composed index beside e_ivfpq_refined and e_sq8_ivf —
      // ADC scores only probed survivors from (c1, c2) codes, never
      // vectors. RvqSpec proves nProbe >= nCells ≡ the flat
      // rvqTopKWithCodebooks
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val (cb1, cb2) = Rvq.rvqCodebooksRefined(emb, "vec_id", "embedding",
        k = 8, iters = 2, maxTrainRows = 120)
      Rvq.ivfRvqTopK(emb.filter(col("vec_id") % 300 === 1), emb,
        "vec_id", "embedding", 5, cb1, cb2, nCells = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    "e_quantizer_pick" -> ((s, dir) => {
      // the cross-quantizer selection census: SQ8 vs seed-drawn RVQ
      // vs Lloyd-refined RVQ total reconstruction error over the SAME
      // slice, in exact micro-units (floor(err·1e6) BIGINT — the
      // partition-independent census fold) — the readout a curation
      // run uses to pick its compression family
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      Sq.quantizerPick(emb, "vec_id", "embedding", 64,
        refinedTrainRows = 120)
        .orderBy("family")
    }),
    "e_sq8_ivf" -> ((s, dir) => {
      // composed IVF-SQ8 (the faiss IVF…,SQ8 shape): md5-seeded
      // coarse cells prune to nProbe per query, survivors score
      // against their DECODED bytes — assignment + decode fuse into
      // ONE map-only projection per candidate against two bounded
      // broadcast literals; L2 end-to-end, so no zero-norm
      // exclusions anywhere
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val scales = Sq.sq8Scales(emb, "embedding")
      Sq.ivfSq8TopK(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 5, scales, 64)
        .orderBy("query_id", "rank")
    }),
    "e_pq_opq" -> ((s, dir) => {
      // OPQ-style energy-balanced PQ (Ge et al. 2013, the
      // deterministic axis-aligned member of the family): census each
      // dimension's integer-quantized energy, deal dims round-robin
      // into subspaces by energy rank, encode the PERMUTED vectors —
      // the permutation collects to a bounded dim-entry literal, so
      // the reorder is a pure projection
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 2)
      val perm = Ann.opqPermutation(emb, "embedding", 8, 64)
      val permuted = emb.select(col("vec_id"),
        Ann.opqPermute("embedding", perm, 64).as("embedding"))
      val cb = Ann.pqCodebooks(permuted, "vec_id", "embedding", 8, 16, 64)
      Ann.pqEncode(permuted, "vec_id", "embedding", cb, 8, 64)
        .select(col("id") +: (0 until 8).map(sb =>
          element_at(col("codes"), sb + 1).as(s"code_$sb")): _*)
        .orderBy("id")
    }),
    "e_pq_opq_topk" -> ((s, dir) => {
      // OPQ retrieval end-to-end: queries AND corpus permute through
      // the same energy-balanced map (an orthogonal transform — the
      // permuted-space ADC ranking is the operator's real ranking),
      // then the standard seed-drawn PQ ADC scores the permuted
      // codes — completes the OPQ member from encode-only
      // (e_pq_opq) to retrieval, sharing pqTopKWithCodebooks with
      // the plain and refined twins
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 2)
      val perm = Ann.opqPermutation(emb, "embedding", 8, 64)
      val permuted = emb.select(col("vec_id"),
        Ann.opqPermute("embedding", perm, 64).as("embedding"))
      val cb = Ann.pqCodebooks(permuted, "vec_id", "embedding", 8, 16, 64)
      Ann.pqTopKWithCodebooks(
        permuted.filter(col("vec_id") % 300 === 2), permuted,
        "vec_id", "embedding", 5, cb, 8, 64)
        .orderBy("query_id", "rank")
    }),
    "e_pq_encode" -> ((s, dir) => {
      // product quantization: 64-dim float32 → 8 codes of 4 bits
      // (16-centroid codebooks per 8-dim subspace) — deterministic
      // seed-drawn codebooks so the full encode sits under the hash
      // gate; codes flattened to INT columns for the compare
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val cb = Ann.pqCodebooks(emb, "vec_id", "embedding", 8, 16, 64)
      Ann.pqEncode(emb, "vec_id", "embedding", cb, 8, 64)
        .select(col("id") +: (0 until 8).map(sb =>
          element_at(col("codes"), sb + 1).as(s"code_$sb")): _*)
        .orderBy("id")
    }),
    "e_pq_pack_roundtrip" -> ((s, dir) => {
      // packed-PQ storage gate: 4-bit pack → unpack must reproduce
      // the encode exactly, AND the blob's byte layout (even code in
      // the low nibble, odd in the high, byte j = code_2j | code_2j+1
      // << 4) is pinned via its hex rendering — the oracle computes
      // the same hex from the codes arithmetically, so a nibble-order
      // or stride regression in the codegen'd expressions breaks the
      // hash, not just a self-consistent roundtrip
      import graft.ann.Ann
      import graft.functions.PqCodes.{pq_pack, pq_unpack}
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val cb = Ann.pqCodebooks(emb, "vec_id", "embedding", 8, 16, 64)
      val enc = Ann.pqEncode(emb, "vec_id", "embedding", cb, 8, 64)
        .withColumn("packed", pq_pack(col("codes"), 4))
        .withColumn("codes2", pq_unpack(col("packed"), 4, 8))
      enc.select(col("id") +:
        lower(hex(col("packed"))).as("packed_hex") +:
        (0 until 8).map(sb =>
          element_at(col("codes2"), sb + 1).as(s"code_$sb")): _*)
        .orderBy("id")
    }),
    "e_ivfpq_topk" -> ((s, dir) => {
      // the composed FAISS-style index: hash-cell coarse quantizer
      // prunes to nProbe cells per query, PQ asymmetric distance
      // scores ONLY the survivors from byte codes — corpus touched
      // twice map-only (assign, encode), then a cell equi-join;
      // never all-pairs
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      Ann.ivfPqTopK(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }),
    "e_ivfpq_refined" -> ((s, dir) => {
      // the PRODUCTION composed index: coarse cells + REFINED fine
      // codes — deterministic per-subspace Lloyd codebooks
      // (pqCodebooksRefinedDet: seed-drawn init, bounded md5 sample,
      // the refined-RVQ round discipline applied per subspace)
      // feeding the identical ivfPqTopKWithCodebooks body as
      // e_ivfpq_topk, so only the codebooks differ between the
      // twins. The recall-vs-seed-drawn floor is PqSpec's pin
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val cb = Ann.pqCodebooksRefinedDet(emb, "vec_id", "embedding",
        8, 16, 64, iters = 2, maxTrainRows = 120)
      Ann.ivfPqTopKWithCodebooks(emb.filter(col("vec_id") % 300 === 0),
        emb, "vec_id", "embedding", 5, cb)
        .orderBy("query_id", "rank")
    }),
    "e_pq_topk" -> ((s, dir) => {
      // PQ asymmetric-distance top-5 self-search: every double (the
      // per-query distance table, the ADC fold) is a fixed IEEE op
      // sequence, so ranks hash-match the oracle exactly
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      Ann.pqTopK(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }),
    "e_pq_recall" -> ((s, dir) => {
      // PQ quality gate: recall@10 of the ADC top-10 vs the exact L2
      // top-10, one integer per query — a codebook/stride/fold
      // regression shows up as a dropped count, not a silent drift
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      Ann.pqRecall(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 10)
    }),
    "mm_decode_meta" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text"),
        "doc_id", "content")
        .orderBy("id")
    }),

    // ---- deterministic sampling / split (training-mix curation)
    "p_train_test_split" -> ((s, dir) => {
      graft.ops.Sampling.withSplit(t(s, dir, "documents"), "doc_id",
        testFraction = 0.2)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy("split")
    }),
    "p_rank_corr" -> ((s, dir) => {
      // Spearman agreement between two quality signals (char length
      // vs token count): both rank via the distributed prefix-scan
      // rankBy — never a single-partition window — then one integer
      // census row (n, sum_d2, rho_ppm). The audit that says whether
      // a new filter adds signal or re-ranks the old one. The exact
      // integer rho overflows past n = 16,600 (rankCorrelation raises
      // there), so the audit runs on a deterministic hashSample of
      // the slice — the rank-agreement number is a statistic, and a
      // 10% hash sample keeps the gate under the guard to sf ~130
      // while the sample itself stays membership-stable as the
      // corpus grows
      val docs = graft.ops.Sampling.hashSample(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 2),
        "doc_id", fraction = 0.1)
      graft.ops.Shuffling.rankCorrelation(docs, "doc_id",
        col("n_chars"),
        size(graft.text.TextFunctions.tokens(lower(col("text")))).cast("long"))
    }),
    "p_bootstrap_means" -> ((s, dir) =>
      // one-pass Poisson bootstrap of the mean doc length: 32
      // deterministic md5-weighted resamples fused into ONE scan →
      // ONE 32-group aggregate — the error bar on a corpus census
      // without a second pass (the "did the filter REALLY move the
      // mean" number). Spread of the 32 mean_micro rows = the CI.
      graft.ops.Bootstrap.resampleMeans(
        t(s, dir, "documents"), "doc_id", "n_chars", b = 32)
        .orderBy("b")),
    "p_bootstrap_cluster" -> ((s, dir) =>
      // the CLUSTER bootstrap: resample whole SOURCES (all of a
      // source's docs share the per-resample weight), so the spread
      // reflects between-source variation — the honest error bar when
      // docs within a source correlate (in a crawled corpus they do;
      // the row bootstrap's interval is too narrow by ~sqrt(deff))
      graft.ops.Bootstrap.resampleMeans(
        t(s, dir, "documents"), "source", "n_chars", b = 32, seed = 7L)
        .orderBy("b")),
    "p_bootstrap_duprate" -> ((s, dir) => {
      // the error bar on THE curation number: the duplicate rate. A
      // doc is flagged iff it rides any MinHash-LSH candidate pair
      // (d_minhash_lsh's census, same slice/params), and the flag
      // census is cluster-bootstrapped BY SOURCE — duplicates arrive
      // in bursts from their crawl source, so the row bootstrap's
      // interval would be too narrow exactly here. mean_micro = the
      // resampled duplicate rate in ppm; the spread of the 32 rows is
      // the CI a dedup-threshold decision should clear
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      // Int.MaxValue: the pair CTE in the oracle renders no guard —
      // matching contracts on both engines (the r17 ADVICE fix)
      val pairs = graft.dedup.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 16, bands = 4,
        maxBucketSize = Int.MaxValue)
      val dup = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
        .withColumn("__dup", lit(1L))
      val flagged = docs.select(col("doc_id"), col("source"))
        .join(dup, Seq("doc_id"), "left")
        .select(col("source"), coalesce(col("__dup"), lit(0L)).as("is_dup"))
      graft.ops.Bootstrap.resampleMeans(
        flagged, "source", "is_dup", b = 32, seed = 11L)
        .orderBy("b")
    }),
    "p_bootstrap_passrate" -> ((s, dir) => {
      // the sibling error bar on the OTHER curation number: the
      // quality-pass rate (t_quality_rules' AND-of-rules verdict,
      // same slice), cluster-bootstrapped by source — quality is a
      // per-source property in a crawled corpus (boilerplate, spam,
      // templating correlate within a crawl), so between-source
      // spread is the honest interval for "did the filter change
      // really move the pass rate"
      val flagged = graft.text.QualityFilters.withRules(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("source"), col("text")),
        "text")
        .select(col("source"), col("passes").cast("long").as("pass_flag"))
      graft.ops.Bootstrap.resampleMeans(
        flagged, "source", "pass_flag", b = 32, seed = 13L)
        .orderBy("b")
    }),
    "p_sample_skew" -> ((s, dir) =>
      // sampling-bias audit: per-priority population vs hash-sample
      // shares in integer ppm — the after-every-sample check that a
      // "uniform" id-keyed sample didn't correlate with the category.
      // Two map-combined censuses over one scan + 1-row totals
      graft.ops.Sampling.sampleSkewAudit(
        t(s, dir, "orders"), "o_orderkey", "o_orderpriority",
        fraction = 0.2)
        .orderBy("cat")),
    "p_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"),
        "lang", "doc_id", Map("en" -> 0.25, "de" -> 1.0),
        defaultFraction = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang").asc_nulls_first)
    }),
    "p_cap_source" -> ((s, dir) => {
      // cap the per-source contribution at an expected 10 docs (below
      // every source's count even at sf0.01, so the gate exercises the
      // membership arithmetic) — all-integer (see Sampling.capPerGroup)
      graft.ops.Sampling.capPerGroup(
        t(s, dir, "documents"), "source", "doc_id", cap = 10)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source").asc_nulls_first)
    }),
    "p_waterfill_caps" -> ((s, dir) =>
      // waterfilling cap PLANNING: solve the largest per-source token
      // cap whose capped total fits the budget (p_cap_source ENFORCES
      // a given cap; this derives it) — 26k against the ~27.2k sf0.01
      // token inventory puts tau = 1330 with 11 of 20 sources capped,
      // so the dial genuinely splits them. One corpus census; the
      // solve runs on the #groups-sized frame
      graft.ops.Mixture.waterfillCaps(
        t(s, dir, "documents"), "source", "text", tokenBudget = 26000L)
        .orderBy("source")),
    "p_mixture_plan" -> ((s, dir) => {
      // recipe planning: per-language token inventory -> target
      // tokens, keep-rate (ppm) and epoch factor for a 100k-token
      // budget; one map-combined agg, weights as plan literals
      graft.ops.Mixture.plan(
        t(s, dir, "documents"), "lang", "text",
        Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "zh" -> 0.1),
        tokenBudget = 100000L, defaultWeight = 0.05)
        .orderBy(col("lang").asc_nulls_first)
    }),
    "p_mixture_temperature" -> ((s, dir) => {
      // temperature-scaled mixture (mT5/UniMax): weights derive from
      // the corpus' own token distribution, n^(1/T) normalized over a
      // group-sorted fold. T=2 is the sqrt instance — correctly
      // rounded per IEEE on both engines, hence hash-gateable
      graft.ops.Mixture.planTemperature(
        t(s, dir, "documents"), "lang", "text",
        temperature = 2.0, tokenBudget = 100000L)
        .orderBy(col("lang"))
    }),
    "p_mixture_apply" -> ((s, dir) => {
      // plan -> apply: repeat/downsample every document to its
      // group's epoch factor (full copies + md5-fractional extras),
      // emitting an epoch index — the materialized training mix
      val docs = t(s, dir, "documents")
      val pl = graft.ops.Mixture.plan(docs, "lang", "text",
        Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "zh" -> 0.1),
        tokenBudget = 100000L, defaultWeight = 0.05)
      graft.ops.Mixture.applyPlan(docs, "lang", "doc_id", pl)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy("doc_id", "epoch")
    }),
    "p_sample_exact_k" -> ((s, dir) => {
      // hard per-group budget: exactly min(k, n) docs per language,
      // deterministic in (seed, k); bounded-heap aggregate + semi
      // join, never a per-group sort (the oracle's window form must
      // agree with the TopK formulation)
      graft.ops.Sampling.sampleExactK(
        t(s, dir, "documents"), "lang", "doc_id", k = 7, seed = 11L)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang").asc_nulls_first, col("doc_id"))
    }),
    "p_interleave" -> ((s, dir) =>
      // training-order source interleaving: round-robin positions
      // across md5-shuffled per-source streams — consecutive
      // examples come from different sources; broadcast ordinal dim,
      // one per-source window
      graft.ops.Shuffling.interleaveBySource(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "doc_id", "source", seed = 7L)
        .orderBy("pos")),
    "e_ann_beam" -> ((s, dir) => {
      // graph-based ANN (the NSW family): exact degree-6 kNN graph
      // over the %4 corpus slice (bounded build by contract), then
      // 3 rounds of deterministic beam search from the min-id entry —
      // query cost O(rounds·beam·degree), corpus-size-independent.
      // Queries (%40=1) are disjoint from the corpus
      import graft.ann.Nsw
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      val g = Nsw.knnGraph(corpus, "vec_id", "embedding", k = 6)
      Nsw.beamSearch(g, corpus, emb.filter(col("vec_id") % 40 === 1),
        "vec_id", "embedding", beam = 6, rounds = 3, k = 5)
        .orderBy("query_id", "rank")
    }),
    "e_ann_hnsw" -> ((s, dir) => {
      // HNSW (Malkov & Yashunin 2018): geometric md5 levels put 1/16
      // of the corpus in an upper layer; a narrow upper beam finds a
      // per-query ENTRY and the base beam starts there instead of the
      // flat min-id — entry locality is the hierarchy's whole point.
      // Exact layer graphs by gate contract (bounded slices); at
      // corpus scale graphOf = nnDescentGraph per layer. The gate
      // requires a populated upper layer (the Scala door falls back
      // to the flat entry on an empty layer; the oracle does not)
      import graft.ann.Nsw
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      // the require must test the SEARCHABLE set (norm > 0, mirroring
      // hnswSearch's upper0 filter), not the raw level census: an
      // upper layer of only zero-norm vectors would pass a raw-census
      // require while the Scala door falls back to the flat entry and
      // the oracle's norm-filtered lvl layer comes up empty
      require(!corpus.filter(Nsw.hnswLevel(col("vec_id")) >= 1 &&
          graft.ann.Ann.norm(col("embedding")) > 0).isEmpty,
        "gate contract: the sf slice must populate the searchable upper layer")
      Nsw.hnswSearch(corpus, emb.filter(col("vec_id") % 40 === 1),
        "vec_id", "embedding",
        g => Nsw.knnGraph(g, "vec_id", "embedding", k = 6),
        beam = 6, rounds = 3, k = 5)
        .orderBy("query_id", "rank")
    }),
    "e_ann_hnsw_nnd" -> ((s, dir) => {
      // the END-TO-END hierarchical production path: HNSW descent
      // with BOTH layer graphs built by NN-descent (never all-pairs)
      // — e_ann_beam_nnd lifted to the hierarchy. The groups dial is
      // PER LAYER, pinned to the oracle's constants: the upper layer
      // (~corpus/16, under 50 rows at the gate SFs) runs one seeded
      // clique (groups = 1 — a corpus-derived dial would over-shard
      // it into unseedable buckets), the base layer runs the
      // e_ann_nndescent dial (16)
      import graft.ann.Nsw
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      require(!corpus.filter(Nsw.hnswLevel(col("vec_id")) >= 1 &&
          graft.ann.Ann.norm(col("embedding")) > 0).isEmpty,
        "gate contract: the sf slice must populate the searchable upper layer")
      def graphOf(layer: org.apache.spark.sql.DataFrame) = {
        // WHICH layer, not HOW BIG: the oracle pins upper=1/base=16,
        // so the Scala side must pick by layer identity — the upper
        // layer holds only promoted (level >= 1) rows, the base layer
        // holds everyone. A row-count rule (the old `count() < 50`)
        // diverges from the oracle at any SF where the upper layer
        // reaches 50 rows or the base layer drops below it.
        val isUpper =
          layer.filter(Nsw.hnswLevel(col("vec_id")) === 0).isEmpty
        Nsw.nnDescentGraph(layer, "vec_id", "embedding",
          k = 5, rounds = 2, groups = if (isUpper) 1 else 16)
      }
      Nsw.hnswSearch(corpus, emb.filter(col("vec_id") % 40 === 1),
        "vec_id", "embedding", graphOf, beam = 6, rounds = 3, k = 5)
        .orderBy("query_id", "rank")
    }),
    "e_ann_beam_recall" -> ((s, dir) => {
      // recall@5 of the beam search vs the exact cosine top-5 over
      // the SAME %4 corpus — the graph-ANN regression gate beside
      // the lsh/ivf/binary recall rows
      import graft.ann.{Ann, Nsw}
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      val q = emb.filter(col("vec_id") % 40 === 1)
      val g = Nsw.knnGraph(corpus, "vec_id", "embedding", k = 6)
      Ann.annRecall(
        Nsw.beamSearch(g, corpus, q, "vec_id", "embedding",
          beam = 6, rounds = 3, k = 5),
        q, corpus, "vec_id", "embedding", n = 5)
    }),
    "e_ann_hnsw_recall" -> ((s, dir) => {
      // recall@5 of the HIERARCHICAL search vs the exact cosine
      // top-5 — completes the recall-gate family for the graph arm
      // (beam has one; the hierarchy's descended entry must not LOSE
      // recall against it, the number this row lets a round compare)
      import graft.ann.{Ann, Nsw}
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      val q = emb.filter(col("vec_id") % 40 === 1)
      Ann.annRecall(
        Nsw.hnswSearch(corpus, q, "vec_id", "embedding",
          g => Nsw.knnGraph(g, "vec_id", "embedding", k = 6),
          beam = 6, rounds = 3, k = 5),
        q, corpus, "vec_id", "embedding", n = 5)
    }),
    "e_mean_pool" -> ((s, dir) => {
      // chunk->document mean pooling (5 chunk vectors per synthetic
      // doc): integer-quantized per-dim means, one posexplode + one
      // map-combined keyed aggregate, no joins — the encoder-to-index
      // aggregation step of a long-document retrieval pipeline
      graft.ann.Pool.meanPool(
        t(s, dir, "embeddings")
          .select((col("vec_id") % 100).as("doc"), col("embedding")),
        "doc", "embedding")
        .orderBy("group", "dim_idx")
    }),
    "e_ann_beam_nnd" -> ((s, dir) => {
      // the END-TO-END graph-ANN production path: NN-descent build
      // (never all-pairs) feeding the beam search — both scale arms
      // composed under one gate, where e_ann_beam gates the search
      // over the exact (verifier) graph
      import graft.ann.Nsw
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      val g = Nsw.nnDescentGraph(corpus, "vec_id", "embedding",
        k = 5, rounds = 2, groups = 16)
      Nsw.beamSearch(g, corpus, emb.filter(col("vec_id") % 40 === 1),
        "vec_id", "embedding", beam = 6, rounds = 3, k = 5)
        .orderBy("query_id", "rank")
    }),
    "e_ann_nndescent" -> ((s, dir) => {
      // the corpus-scale graph build for e_ann_beam: NN-descent from
      // an md5-bucketed init (O(n·k²) per round, never all-pairs),
      // edge recall vs the exact kNN graph as the single-row census —
      // the number that says how many rounds the build needs
      import graft.ann.Nsw
      val corpus = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
      // materialize = false: the census below reads the edge list
      // exactly once, so the final round fuses into its single action
      // instead of paying an eager checkpoint round-trip
      val g = Nsw.nnDescentGraph(corpus, "vec_id", "embedding",
        k = 5, rounds = 2, groups = 16, materialize = false)
      Nsw.graphRecall(g, corpus, "vec_id", "embedding", k = 5)
    }),
    "e_rank_metrics" -> ((s, dir) => {
      // retrieval-quality eval over the exact-cosine run: MRR /
      // capped recall@10 / nDCG@10 per query under label-match
      // relevance. DCG position weights are driver-computed literals
      // (floor(1e6/log2(r+1))) shared verbatim with the oracle — the
      // engines never evaluate a log. Run is queries×k rows;
      // label census broadcasts
      val emb = t(s, dir, "embeddings")
      val runs = graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") % 20 === 3), emb,
        "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      graft.ann.RankEval.metrics(runs,
        emb.select(col("vec_id"), col("label")), "vec_id", "label", k = 10)
        .orderBy("query_id")
    }),
    "e_jl_project" -> ((s, dir) => {
      // Johnson-Lindenstrauss 64->8 sign projection, MAP-ONLY (one
      // codegen HOF chain per row, sign matrix a plan literal derived
      // from md5 parity — both engines build the identical matrix
      // from the identical formula); integer outputs, order-free
      graft.ann.Jl.project(
        t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("id"), col("embedding")),
        "id", "embedding", outDims = 8, dim = 64)
        .orderBy("id", "j")
    }),
    "e_jl_distortion" -> ((s, dir) => {
      // the audit that earns the projection its keep: pairwise
      // distance-ratio census (rescaled by 1/k, 0.1 bands) over the
      // bounded slice — JL says mass concentrates at band 10; a flat
      // census means k is too small for the downstream ANN stage
      graft.ann.Jl.distortionCensus(
        t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", outDims = 8, dim = 64)
        .orderBy("band")
    }),
    "e_cos_threshold_hist" -> ((s, dir) => {
      // dedup-threshold tuning aid: pair counts per 0.05 cosine band
      // over a BOUNDED slice (the all-pairs verifier family, like
      // e_cos_neardup) — pick the near-dup cutoff from the histogram
      // before a corpus-scale run
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("embedding"))
        .filter(Ann.norm(col("embedding")) > 0)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(floor(Ann.cosine(col("va"), col("vb")) * 20).cast("int")
          .as("band"))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .orderBy("band")
    }),
    "p_cap_domain" -> ((s, dir) => {
      // provenance-driven curation chain: extract planted domains
      // (shared plantedUrls construction), then cap each domain's
      // contribution — Urls → capPerGroup composed under one gate
      val domains = graft.text.Urls
        .extractUrls(plantedUrls(s, dir), "doc_id", "text")
        .filter(col("domain") =!= "mirror.example.org")
        .select(col("doc_id"), col("domain"))
      graft.ops.Sampling.capPerGroup(domains, "domain", "doc_id",
        cap = 8, seed = 3L)
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
        .orderBy("domain")
    }),
    "p_curation_pipeline" -> ((s, dir) => {
      // the operators composed end-to-end the way a real corpus run
      // chains them (the C4/RefinedWeb ordering): exact doc dedup ->
      // paragraph-level first-occurrence dedup -> quality floor on the
      // CLEANED text -> per-source cap -> train/test split -> audit
      // counts. The paragraph stage runs on the same '#'-lined
      // construction as p_paragraph_dedup (the synthetic corpus has no
      // natural cross-document paragraphs); token counts after it
      // reflect shed banners/quotes, so the quality floor genuinely
      // depends on the dedup outcome. Distinct seeds for cap (7) and
      // split (42): reusing one seed would correlate the two
      // membership decisions (cap keeps only low-bucket rows, which
      // the split would then over-assign to test)
      import graft.ops.Sampling
      val docs = t(s, dir, "documents")
      val keepers = graft.dedup.Dedup
        .exactDuplicates(docs, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val deduped = docs.join(keepers, Seq("doc_id"), "semi")
      val lined = deduped.select(col("doc_id"),
        concat_ws("#",
          substring(col("text"), 1, 40),
          concat(lit("shared quote "), (col("doc_id") % 7).cast("string")),
          substring(col("text"), 41, 40),
          when(col("doc_id") % 4 === 0, lit("limited time offer banner"))
            .otherwise(substring(col("text"), 81, 30))).as("text"))
      val cleaned = graft.dedup.Paragraph
        .dedupFirstOccurrence(lined, "doc_id", "text", sep = "#")
        .join(deduped.select(col("doc_id"), col("source")), Seq("doc_id"))
      val quality = cleaned.filter(
        graft.text.TextFunctions.tokenCount(col("text")) >= 12)
      val capped = Sampling.capPerGroup(quality, "source", "doc_id",
        cap = 15, seed = 7L)
      Sampling.withSplit(capped, "doc_id", testFraction = 0.2)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy(col("source").asc_nulls_first, col("split"))
    }),
    "t_length_quartiles" -> ((s, dir) => {
      // exact (non-approx) quartiles of INTEGER lengths: interpolation
      // fractions at quartiles are dyadic (0.25/0.5/0.75), so
      // a + (b-a)*f is exact in doubles for any int operands < 2^51 —
      // ANY interpolation formula gives the identical bits, making
      // exact percentile safely oracle-gateable (percentile_approx is
      // NOT: its sketch is layout-dependent)
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.25D)").as("p25"),
          expr("percentile(n_chars, 0.5D)").as("p50"),
          expr("percentile(n_chars, 0.75D)").as("p75"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang").asc_nulls_first)
    }),
    "t_winsorize" -> ((s, dir) => {
      // winsorization: clamp per-language lengths into the
      // [p12.5, p87.5] band — robust-stats cleaning on the same
      // dyadic-fraction exactness argument as t_length_quartiles
      // (1/8 and 7/8 interpolate exactly in doubles for int inputs).
      // Band stats broadcast back onto the persisted corpus slice;
      // the clipped flag makes the affected tail auditable.
      graft.ops.Caching.withPersisted(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))) { docs =>
        val bands = docs.groupBy(col("lang"))
          .agg(expr("percentile(n_chars, 0.125D)").as("lo"),
            expr("percentile(n_chars, 0.875D)").as("hi"))
        docs.join(broadcast(bands), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            least(greatest(col("n_chars").cast("double"), col("lo")), col("hi"))
              .as("clamped"),
            (col("n_chars") < col("lo") || col("n_chars") > col("hi"))
              .as("clipped"))
          .orderBy(col("doc_id"))
      }
    }),
    "t_length_stats" -> ((s, dir) => {
      // per-language length profile; median of integers is exact on
      // both engines (interpolated halves of ints are exact doubles)
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(median(col("n_chars")).as("med_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang").asc_nulls_first)
    }),
    "t_length_outliers" -> ((s, dir) => {
      // per-language z-score outlier flagging — the corpus-cleaning
      // pass that drops truncated/concatenated docs. Threshold 1.5σ:
      // the synthetic lengths are tightly distributed (max |z| ≈ 2),
      // so a conventional 3σ would gate zero rows and prove nothing;
      // production corpora with real tails would use 3σ via the same
      // shape.
      // Mean and variance derive from EXACT integer sums (order-
      // independent), then one fixed IEEE op sequence per row: mu is
      // computed ONCE and reused so both engines divide identically;
      // the filter compares (x-mu)² to 2.25·sigma² (no sqrt at the
      // decision point — z's sqrt is display-only, and sqrt is
      // correctly rounded IEEE everywhere). Group stats broadcast
      // back onto the corpus; null-lang rows drop on both engines
      // (non-null-safe equi key). The docs slice persists so the
      // stats and probe consumers share one scan.
      graft.ops.Caching.withPersisted(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))) { docs =>
        // n_chars squares as LONG: int*int wraps silently in Spark on
        // per-row overflow (n_chars > 46340) while DuckDB's INTEGER
        // multiply errors — cast first so both engines compute the same
        // exact 64-bit sum at any document length
        val stats = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s1"),
            sum(col("n_chars").cast("long") * col("n_chars").cast("long")).as("s2"))
          .withColumn("mu", col("s1").cast("double") / col("n"))
          .withColumn("sigma2",
            col("s2").cast("double") / col("n") - col("mu") * col("mu"))
          .select(col("lang"), col("mu"), col("sigma2"))
        docs.join(broadcast(stats), Seq("lang"))
          .filter((col("n_chars").cast("double") - col("mu")) *
            (col("n_chars").cast("double") - col("mu")) > lit(2.25) * col("sigma2"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            ((col("n_chars").cast("double") - col("mu")) / sqrt(col("sigma2")))
              .as("z"))
          .orderBy(col("doc_id"))
      }
    }),
    "p_padding_waste" -> ((s, dir) =>
      // length-bucketed batching efficiency: per 64-token bucket, the
      // padded-slot waste in ppm — the number compared against the
      // packing path's clip rate to pick a batching strategy; one
      // map projection + a ≤16-cell census
      graft.ops.Packing.paddingWaste(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1), "text")
        .orderBy("bucket")),
    "p_pack_sequences" -> ((s, dir) => {
      // context-window packing: 1024-token sequences over 8 shards —
      // per-shard running totals, no global sort (see Packing scaladoc)
      graft.ops.Packing.packSequences(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
        "doc_id", "text", maxTokens = 1024, shards = 8)
        .orderBy("id")
    }),
    "e_mmr_diversify" -> ((s, dir) => {
      // RAG context assembly: brute-force top-20 for one query, then
      // MMR greedy re-selection of 5 (λ=0.5) — redundancy removed
      // before context tokens are spent. Retrieval is the expensive
      // part; MMR runs on the BOUNDED candidate set
      val emb = t(s, dir, "embeddings")
      val cands = graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") === 7), emb, "vec_id", "embedding", k = 20)
      graft.ann.Mmr.diversify(cands, emb, "vec_id", "embedding", k = 5)
    }),
    "e_centroid_drift" -> ((s, dir) =>
      // semantic drift monitor: per-label centroid, pairwise cosine
      // between centroids — NOTHING sums raw doubles (order-dependent
      // under partial agg); components quantize to micro ints first,
      // so the one corpus pass is an exact (group, dim) integer
      // census and everything after runs on groups·64 cells
      graft.ann.CentroidDrift.pairwiseCosine(
        t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label_a", "label_b")),
    "e_triplets" -> ((s, dir) =>
      // contrastive training triplets: exact top-1 positive (swap in
      // the LSH/binary paths at corpus scale) ⊕ hash-drawn negatives
      // via the rank join; false-negative collisions dropped
      graft.ann.Triplets.mine(
        t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
        t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, seed = 11L)
        .orderBy("anchor_id", "j")),
    "e_neg_sample" -> ((s, dir) =>
      // contrastive-training negatives WITHOUT an all-pairs scan:
      // corpus gets a dense shuffle-rank index once; probe j of
      // anchor a targets rank md5(a:j:seed) mod N and resolves by a
      // rank equi-join. Reproducible, shard-stable, uniform
      graft.ops.Shuffling.negativeSample(
        t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
        "vec_id", t(s, dir, "embeddings"), "vec_id", k = 8, seed = 7L)
        .orderBy("anchor_id", "j")),
    "p_span_mask" -> ((s, dir) =>
      // T5-style span-corruption plan: 15% of token positions by a
      // per-(doc, pos) md5 coin, adjacent picks merged to spans via
      // gaps-and-islands — one doc-keyed window, reproducible and
      // shard-stable (no RNG state crosses partitions)
      graft.ops.Masking.spanPlan(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 1),
        "doc_id", "text")
        .orderBy("id", "span_idx")),
    "p_pack_materialize" -> ((s, dir) => {
      // the packing WRITER step: each sequence materializes as one
      // row with members concatenated in id order + an EOS separator
      // — the one sanctioned text shuffle (regrouping text into its
      // output layout); rows bounded by maxTokens + one straddler
      graft.ops.Packing.materializeSequences(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
        "doc_id", "text", maxTokens = 1024, shards = 8)
        .orderBy("shard", "seq_in_shard")
    }),
    "p_budget_select" -> ((s, dir) => {
      // quality-ranked selection under a global token budget: exact
      // global prefix sum WITHOUT a single-partition window — range
      // partition, per-partition totals (one driver row per
      // partition), broadcast offsets, map-only scan (Selection
      // scaladoc). Score = the gated quality heuristic; budget hits
      // mid-corpus so both branches of `selected` are exercised.
      import graft.text.TextFunctions
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q"),
          TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
      graft.ops.Selection.selectToBudget(
        docs, "doc_id", "q", "nt", budget = 20000L)
        .orderBy("id")
    }),
    "p_contrastive_select" -> ((s, dir) => {
      // DSIR-style targeted selection surrogate: difference of the
      // target- and source-model quantized surprise sums — BIGINT
      // arithmetic on exact sums, engine-exact ranking; two census
      // scorings joined on the doc id (both sides doc-keyed)
      val docs = t(s, dir, "documents")
      graft.text.Lm.contrastiveScore(
        docs.filter(col("doc_id") % 10 === 2), "doc_id", "text",
        docs.filter(col("lang") === "en" && col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 0), "text")
        .orderBy("doc_id")
    }),
    "p_dsir_select" -> ((s, dir) => {
      // DSIR end-to-end (Xie et al. 2023's deployment shape): rank
      // by the contrastive target-vs-source LM score and keep the
      // most-target-like documents under a global TOKEN budget — the
      // composition whose two halves (p_contrastive_select,
      // p_budget_select) gate separately. Budget units are the
      // scorer's own gram count (no extra scan); the exact global
      // prefix scan runs range-partitioned, never a single-partition
      // window. Budget hits mid-corpus at sf0.01 so both branches of
      // `selected` are exercised
      val docs = t(s, dir, "documents")
      val scored = graft.text.Lm.contrastiveScore(
        docs.filter(col("doc_id") % 10 === 2), "doc_id", "text",
        docs.filter(col("lang") === "en" && col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 0), "text")
      graft.ops.Selection.selectToBudget(
        scored.select(col("doc_id"),
          col("contrast_micro").cast("double").as("cs"),
          col("n_grams").cast("long").as("nt")),
        "doc_id", "cs", "nt", budget = 2000L)
        .orderBy("id")
    }),
    "p_doremi_weights" -> ((s, dir) => {
      // DoReMi-style domain reweighting (Xie et al. 2023): per-domain
      // mean contrastive excess (target vs source LM) → one
      // first-order multiplicative-weights round from uniform, with
      // the floor clamp and uniform smoothing — integer-exact; the
      // two negative-capable divisions run floor semantics on both
      // engines. Weights sum to ~1e6 across the 20 sources
      val docs = t(s, dir, "documents")
      graft.text.Lm.doremiDomainWeights(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "source",
        docs.filter(col("lang") === "en" && col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 0), "text")
        .orderBy("domain")
    }),
    "p_softdedup" -> ((s, dir) => {
      // SoftDeDup (Hu et al. 2024): reweight common documents down
      // instead of deleting them — rarity = the corpus-as-its-own-
      // reference mean quantized surprise (integer), weights
      // normalized to mean ~1e6 ppm by a 1-row broadcast scalar and
      // floor-clamped. minWeightPpm = 900000 genuinely clamps part
      // of the sf0.01 slice (3 of 167 docs at introduction), so BOTH
      // branches of the greatest() are exercised
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 1)
      graft.text.Lm.softDedupWeights(docs, "doc_id", "text",
        minWeightPpm = 900000L)
        .orderBy("doc_id")
    }),
    "t_gopher_rep" -> ((s, dir) => {
      // Gopher repetition-signal census (Rae et al. 2021 A1.1): one
      // exact integer-ppm fraction per filter class — duplicate
      // lines, duplicate line chars, top 2-gram char coverage,
      // duplicated 5-gram char coverage. Map-side explodes (text
      // projected away), two-level hash aggregates, id-keyed rejoins.
      // The sf0.01 documents are single-line with no repeated
      // 5-grams, so half the slice plants duplication (text doubled
      // across a newline — mirrored in the oracle) to keep every
      // signal's nonzero path under the hash
      val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 2)
        .select(col("doc_id"),
          when(col("doc_id") % 8 === 2,
            concat(col("text"), lit("\n"), col("text")))
            .otherwise(col("text")).as("text"))
      graft.text.Repetition.gopherRepetition(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),
    "p_web_pipeline" -> ((s, dir) => {
      // the published web-pipeline shape END-TO-END (the RefinedWeb/
      // FineWeb recipe: extraction → line-level C4 cleaning → page
      // verdict → soft-dedup reweighting): the C4-planted slice
      // (t_c4_filters' fixture verbatim) feeds the keep verdict,
      // survivors feed the corpus-as-its-own-reference SoftDeDup
      // weights — a composition whose stages gate separately, here
      // verified CHAINED through one oracle
      val planted = t(s, dir, "documents").filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(".")))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(".\n"), col("text"), lit("!\n"),
                col("text"), lit("?")))
            .otherwise(concat(col("text"), lit(" {lorem ipsum}")))
            .as("text"))
      val kept = graft.text.C4.c4Clean(planted, "doc_id", "text")
        .filter(col("keep")).select(col("doc_id"))
      val survivors = planted.join(kept, Seq("doc_id"), "left_semi")
      graft.text.Lm.softDedupWeights(survivors, "doc_id", "text")
        .orderBy("doc_id")
    }),
    "st_corpus_card" -> ((s, dir) => {
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
    }),
    "st_corpus_card_sketch" -> ((s, dir) => {
      // the 100 TB streaming datasheet (the r18 verdict's one weak):
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
    }),
    "p_corpus_card" -> ((s, dir) => {
      // the per-source datasheet (corpus card): doc/token inventory,
      // language share, quality-rule pass rate, exact-duplicate rate
      // — one map-side signal projection, two source-keyed hash
      // aggregations, #sources-sized output. The synthetic corpus
      // has NO exact duplicates and only one stop-word type, so the
      // gate plants dups (a %10 slice unioned back, mirrored in the
      // oracle) and dials the rules to the corpus (minWords = 40
      // splits it, minStopHits = 1) so every rate column is nonzero
      // AND non-saturated
      val docs = t(s, dir, "documents")
      val planted = docs.unionByName(docs.filter(col("doc_id") % 10 === 0))
      graft.ops.CorpusCard.corpusCard(planted, "text", "source", "lang",
        graft.text.QualityFilters.Config(minWords = 40, minStopHits = 1))
        .orderBy("source")
    }),
    "t_c4_filters" -> ((s, dir) => {
      // C4 cleaning rules (Raffel et al. 2020 §2.2): terminal-punct +
      // >=5-word line filter, then the <3-sentence / brace /
      // lorem-ipsum page rules over the cleaned text. The synthetic
      // corpus has no punctuation at all, so the slice plants all
      // three verdict branches (mirrored in the oracle): single
      // kept line but <3 sentences (drop), three punctuated lines
      // (keep), and a brace+lorem tail with no terminal punct (drop
      // on all three page rules at once)
      val planted = t(s, dir, "documents").filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(".")))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(".\n"), col("text"), lit("!\n"),
                col("text"), lit("?")))
            .otherwise(concat(col("text"), lit(" {lorem ipsum}")))
            .as("text"))
      graft.text.C4.c4Clean(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),
    "t_normalize_nfc" -> ((s, dir) => {
      // Unicode canonicalization before fingerprinting (custom
      // codegen Expression — Spark has no normalization builtin):
      // decomposed combining sequences are appended so the gate
      // exercises real composition, not the ASCII identity path.
      // DuckDB's utf8proc twin cannot drift: normalization of
      // assigned characters is stabilized by the Unicode standard
      t(s, dir, "part").filter(col("p_partkey") % 25 === 0)
        .select(col("p_partkey"),
          concat(col("p_name"), lit(" cafe\u0301 u\u0308ber")).as("raw"))
        .select(col("p_partkey"),
          graft.functions.NormalizeText.normalize_text(col("raw")).as("norm"),
          length(col("raw")).cast("long").as("n_raw"))
        .withColumn("n_norm", length(col("norm")).cast("long"))
        .orderBy("p_partkey")
    }),
    "p_shuffle_rank" -> ((s, dir) => {
      // reproducible global training-order shuffle: md5(id||seed)
      // order with EXACT global rank via the distributed prefix scan
      // (range partition -> 1-row-per-partition counts -> broadcast
      // offsets -> map-only rank) — never the single-partition
      // row_number window the oracle is allowed to use
      graft.ops.Shuffling.shuffleRank(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 1),
        "doc_id", seed = 17L)
        .orderBy("id")
    }),
    "s_ordered_shards" -> ((s, dir) => {
      // "shard files ARE the training order": global shuffle rank
      // bucketed into fixed-size shards — each shard's rank range
      // must be contiguous and exactly sized; the audit a loader
      // runs before trusting shard order
      graft.ops.Shuffling.shuffleRank(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "doc_id", seed = 29L)
        .groupBy(expr("rank div 100").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("rank")).as("min_rank"), max(col("rank")).as("max_rank"))
        .orderBy("shard")
    }),
    "t_tfidf_top" -> ((s, dir) => {
      graft.text.TfIdf.topTerms(
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = 5)
        .orderBy("id", "rnk")
    }),
    "t_bpe_pairs" -> ((s, dir) => {
      // round-1 BPE statistic (freq-weighted adjacent char pairs over
      // the word census) — the SQL-expressible core of the trainer,
      // hash-gated; the iterative rounds are the same plan over
      // merged symbols (BpeSpec pins the worked-example merges)
      import graft.text.Bpe
      val census = Bpe.wordCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text")
      Bpe.pairCounts(census,
        expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))"))
        .orderBy(col("n").desc, col("lhs"), col("rhs")).limit(20)
    }),
    "t_bpe_merges" -> ((s, dir) => {
      // the trained merge table itself (rank, lhs, rhs, n) — hash-
      // gated against the full k-round trainer rendered in SQL
      // (Bpe.mergesSql: space-joined symbol strings make one merge
      // round a boundary-safe replace() to fixed point). BpeSpec
      // additionally pins the worked example; deterministic via the
      // total-order (n desc, lhs, rhs) tie-break per round.
      import graft.text.Bpe
      val census = Bpe.wordCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text")
      val (merges, _) = Bpe.train(census, numMerges = 8)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
        .toDF("rank", "lhs", "rhs", "n")
    }),
    "t_bpe_local" -> ((s, dir) => {
      // the PRODUCTION-round-count trainer: the Sennrich pair-count-
      // DELTA algorithm over the collected census (per round, work
      // proportional to the affected words — the shape a 32k-merge
      // vocabulary needs; Bpe.train's one-job-per-round twin is
      // priced in SCALE.md). Hash-gated against the SAME unrolled
      // mergesSql oracle as t_bpe_merges at a deeper round dial, and
      // BpeSpec pins trainLocal ≡ train on fuzzed corpora
      import graft.text.Bpe
      val census = Bpe.wordCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text")
      val (merges, _) = Bpe.trainLocal(census, numMerges = 12)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
        .toDF("rank", "lhs", "rhs", "n")
    }),
    "t_bpe_encode" -> ((s, dir) => {
      // corpus encoded with the trained vocab: per-doc subword and
      // OOV counts (the packing-budget numbers). Hash-gated against
      // Bpe.encodeStatsSql; the vocab join is broadcast.
      import graft.text.Bpe
      val docs = t(s, dir, "documents")
      val census = Bpe.wordCensus(docs.filter(col("doc_id") % 10 === 0), "text")
      val (_, seg) = Bpe.train(census, numMerges = 8)
      Bpe.encodeStats(docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", seg)
        .orderBy("id")
    }),
    "t_fertility" -> ((s, dir) => {
      // tokenizer fertility by language: the vocab trains on ONE
      // slice, then every language reports pieces-per-token — the
      // multilingual-fairness number (a lang the census under-
      // represents segments into more pieces = a bigger token bill)
      import graft.text.Bpe
      val docs = t(s, dir, "documents")
      val census = Bpe.wordCensus(docs.filter(col("doc_id") % 10 === 0), "text")
      val (_, seg) = Bpe.train(census, numMerges = 8)
      Bpe.fertilityByLang(docs.filter(col("doc_id") % 4 === 1),
        "lang", "text", seg)
        .orderBy("lang")
    }),
    "t_bpe_roundtrip" -> ((s, dir) => {
      // decode(encode(x)) = x at the corpus level: a disjoint apply
      // slice (never trained on — fallback-heavy by construction)
      // encodes through the trained vocab with char fallback, decodes
      // by concatenation, and must reconstruct every token. The
      // oracle recomputes token/OOV counts and DECLARES the identity;
      // the Spark side proves it by actually decoding.
      import graft.text.Bpe
      val docs = t(s, dir, "documents")
      val census = Bpe.wordCensus(docs.filter(col("doc_id") % 10 === 0), "text")
      val (_, seg) = Bpe.train(census, numMerges = 8)
      Bpe.roundTripStats(docs.filter(col("doc_id") % 20 === 5),
        "doc_id", "text", seg)
        .orderBy("id")
    }),
    "t_bpe_segment" -> ((s, dir) => {
      // the saved-merges RELOAD path: train once, keep only the merge
      // list, re-segment the census words via Bpe.segmentWords (the
      // mapPartitions re-apply loop) — gated equal to the trainer's
      // own segmentation rendered in SQL (Bpe.segmentSql), proving
      // save → reload → segment round-trips exactly
      import graft.text.Bpe
      val census = Bpe.wordCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text")
      val (merges, _) = Bpe.train(census, numMerges = 8)
      Bpe.segmentWords(census.select("word"), merges.map(m => (m._1, m._2)))
        .select(col("word"), array_join(col("syms"), " ").as("symstr"))
        .orderBy("word")
    }),
    "t_vocab_top" -> ((s, dir) => {
      // corpus vocabulary census: top-50 tokens with corpus + document
      // frequency — plans as TakeOrderedAndProject (distributed heap),
      // never a global sort or single-partition window
      graft.text.Vocab.topTokens(
        t(s, dir, "documents"), "doc_id", "text", k = 50)
    }),
    "t_oov_rate" -> ((s, dir) => {
      // vocabulary-drift quality signal: per-doc out-of-vocabulary
      // rate against the corpus' own top-200 (broadcast hash join on
      // the term, per-doc re-agg; rate = one IEEE division of ints)
      val docs = t(s, dir, "documents")
      graft.text.Vocab.oovRate(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        graft.text.Vocab.topTokens(docs, "doc_id", "text", k = 200))
        .orderBy("doc_id")
    }),
    "t_bigram_novelty" -> ((s, dir) => {
      // n-gram-LM-lite: per-doc fraction of bigram OCCURRENCES unseen
      // in a reference slice of the corpus — the reference gram set is
      // corpus-sized (no forced broadcast; AQE picks the join), text
      // never shuffles, only grams and ids move
      val docs = t(s, dir, "documents")
      graft.text.Ngrams.noveltyRate(
        docs.filter(col("doc_id") % 10 === 3), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text", n = 2)
        .orderBy("doc_id")
    }),
    "t_bm25_topk" -> ((s, dir) => {
      // sparse retrieval: BM25 top-10 per query (odds-ratio idf —
      // log-free, so engine-exact; per-(doc,term) scores quantize to
      // micro ints before the per-doc sum). Corpus explodes map-side
      // against the broadcast literal term set; only (doc, term) tf
      // rows shuffle; the final window runs over candidate sets only
      graft.text.Bm25.topK(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "doc_id", "text",
        Seq(1 -> "hash join", 2 -> "window agg stream", 3 -> "fast vector scan"),
        k = 10)
        .orderBy("query_id", "rnk")
    }),
    "t_lm_surprise" -> ((s, dir) => {
      // perplexity-filtering analogue (CCNet/KenLM stage): per-doc
      // mean inverse smoothed bigram probability against a reference
      // slice — log-free so it's engine-exact (floor-quantized
      // per-occurrence micro-units, BIGINT sums, one final IEEE
      // division); censuses are corpus-sized equi-joins (no forced
      // broadcast), V is a 1-row broadcast, text never shuffles
      val docs = t(s, dir, "documents")
      graft.text.Lm.surpriseScore(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("doc_id")
    }),
    "t_lm_stupid_backoff" -> ((s, dir) => {
      // the Brants web-scale rule: raw bigram ratio when seen, 0.4×
      // the (add-one) unigram frequency otherwise — no discounting
      // censuses at all, the cheap sibling of t_lm_kneser_ney; same
      // gram-keyed join shape, scalars broadcast, text never shuffles
      val docs = t(s, dir, "documents")
      graft.text.Lm.stupidBackoffScore(
        docs.filter(col("doc_id") % 10 === 4), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("doc_id")
    }),
    "t_lm_kneser_ney" -> ((s, dir) => {
      // the smoothing production LM filters actually use: d=0.75
      // absolute discount + continuation-probability backoff (the
      // "francisco" correction), full backoff on unseen prefixes,
      // add-one escape on the continuation census. All extra
      // censuses derive from the gram census — no corpus rescans
      val docs = t(s, dir, "documents")
      graft.text.Lm.kneserNeyScore(
        docs.filter(col("doc_id") % 10 === 4), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("doc_id")
    }),
    "t_lm_surprise3" -> ((s, dir) => {
      // trigram-order LM surprise: conditioning prefix is the
      // (order-1)-gram census — same join topology as the bigram
      // gate, one more reference lineage for the token-vocabulary V
      val docs = t(s, dir, "documents")
      graft.text.Lm.surpriseScore(
        docs.filter(col("doc_id") % 10 === 1), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 1), "text", order = 3)
        .orderBy("doc_id")
    }),
    "t_token_drift" -> ((s, dir) => {
      // corpus drift: top-40 terms by chi-square contribution between
      // two slices — vocabulary-sized censuses (one shuffle each,
      // map-side combine), full-outer join on the term, broadcast
      // grand totals, TakeOrderedAndProject top-k; per-term doubles
      // are a fixed IEEE op sequence on exact ints (engine-exact)
      val docs = t(s, dir, "documents")
      graft.text.Drift.tokenChi2(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "text", k = 40)
    }),
    "t_token_rarity" -> ((s, dir) => {
      // curriculum difficulty: mean vocabulary rank per document
      // (OOV = k+1) against the corpus' own top-300 — broadcast hash
      // probe per token, per-doc re-agg; all-integer arithmetic plus
      // one IEEE division, engine-exact
      val docs = t(s, dir, "documents")
      graft.text.Vocab.tokenRarity(
        docs.filter(col("doc_id") % 10 === 5), "doc_id", "text",
        graft.text.Vocab.topTokens(docs, "doc_id", "text", k = 300))
        .orderBy("doc_id")
    }),
    "t_chunk_windows" -> ((s, dir) => {
      // RAG-shape chunking: overlapping 32-token windows advancing by
      // 24 — strictly map-only (tokenize, sequence, explode, slice);
      // output rows are bounded by the chunk size regardless of
      // document length skew
      graft.text.Chunking.slidingWindows(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 0),
        "doc_id", "text", chunkTokens = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    }),
    "t_vocab_encode" -> ((s, dir) => {
      // text -> token-id rows against the corpus' own top-100 vocab
      // (1-based rank id, 0 = OOV); flattened (doc_id, pos, token_id)
      // is the shape the packing/writer stages consume
      val docs = t(s, dir, "documents")
      graft.text.Vocab.encode(
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        graft.text.Vocab.topTokens(docs, "doc_id", "text", k = 100))
        .orderBy("doc_id", "pos")
    }),
    "p_ppl_buckets" -> ((s, dir) => {
      // CCNet perplexity bucketing (Wenzek et al. 2020): per-language
      // head/middle/tail terciles by reference-LM surprise — the
      // "keep head+middle, drop tail" census behind web-corpus
      // curation. Integer mean-surprise key (non-negative div ==
      // floor on both engines), per-language ntile window, zero-gram
      // docs excluded like CCNet drops empties
      val docs = t(s, dir, "documents")
      graft.text.Lm.pplBuckets(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", "lang",
        docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("lang", "bucket")
    }),
    "p_curriculum_bins" -> ((s, dir) => {
      // curriculum binning: per-language ntile quartiles by length
      // with doc_id tie-break (partitioned window — the global-sort
      // form would be a single-reducer anti-pattern at scale)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("bin", ntile(4).over(w))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "bin")
    }),
    "mm_scene_cuts" -> ((s, dir) => {
      // shot-boundary detection plan: sampled-frame signal diffs →
      // cut flags → gaps-and-islands scene spans; one doc-keyed
      // window + one doc-keyed agg, nothing wider than the video id
      import graft.multimodal.Multimodal
      Multimodal.sceneCuts(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 25 === 5), "text"),
        "doc_id", "content")
        .orderBy("id", "scene_id")
    }),
    "mm_audio_windows" -> ((s, dir) => {
      // VAD-style audio chunking plan: overlapping (start, len)
      // windows + deterministic energy flags from the stubbed header
      // arithmetic — map-only explode bounded by samples/hop, the cut
      // list the codec pass executes
      import graft.multimodal.Multimodal
      Multimodal.audioWindows(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 50 === 0), "text"),
        "doc_id", "content")
        .orderBy("id", "win_idx")
    }),
    "mm_frame_sample" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.sampleFrames(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 25 === 0), "text"),
        "doc_id", "content", stride = 7)
        .orderBy("id", "frame_idx")
    }),

    "mm_augment_plan" -> ((s, dir) => {
      // per-(image, epoch) deterministic RandomResizedCrop+flip
      // parameters from md5 coins — reproducible, shard-stable,
      // computed at METADATA time so the codec pass gets exact
      // (x, y, w, h, flip) instructions; map-only
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text"),
        "doc_id", "content")
      Multimodal.augmentPlan(meta, epochs = 3).orderBy("id", "epoch")
    }),
    "mm_aspect_buckets" -> ((s, dir) => {
      // SDXL-style aspect bucketing at metadata time: all-integer
      // ratio bands over the decoded (width, height) — the batching
      // plan computed before any pixel decode; 11-cell census
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 3 === 2), "text"),
        "doc_id", "content")
      Multimodal.aspectBuckets(meta).orderBy("band")
    }),
    "mm_ahash_pairs" -> ((s, dir) => {
      // image near-dup via perceptual average hash: a stubbed
      // decode-and-downscale (the StubDecoder stance — deterministic
      // 48-cell luma grids, scenes of four sharing a base image with
      // one per-doc perturbed cell) feeds aHash signatures into the
      // SAME banded block-pair engine the text simhash path uses.
      // In-scene pairs land within the Hamming radius (1-2 flipped
      // cells + mean-shift jitter), cross-scene pairs sit near
      // bits/2 and never collide on a clean block pair
      val grid = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id"), expr("doc_id div 28").as("scene"))
        .select(col("id"), col("scene"),
          explode(sequence(lit(0), lit(47))).as("cell"))
        .withColumn("base",
          conv(substring(md5(concat_ws(":", col("scene"), col("cell"))),
            1, 2), 16, 10).cast("long"))
        .withColumn("luma",
          when(col("cell") === expr("(id div 7) % 48"),
            lit(255L) - col("base")).otherwise(col("base")))
        .select("id", "cell", "luma")
      graft.dedup.Dedup.simhashNearDupPairsFromSignatures(
        graft.multimodal.Multimodal.aHash(grid),
        maxHamming = 5, blocks = 8)
        .orderBy("id_a", "id_b")
    }),
    "mm_resize_plan" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text"),
        "doc_id", "content")
      Multimodal.resizePlan(meta, maxW = 128, maxH = 96)
        .select(col("id"), col("width"), col("height"),
          col("out_w"), col("out_h"))
        .orderBy("id")
    }),

    "mm_patch_plan" -> ((s, dir) => {
      // vision-token budget: patch grid + class token over the resize
      // plan (ceil-divided 16px tiles) — the packing input for image
      // sequences, planned before any pixel decode
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text"),
        "doc_id", "content")
      Multimodal.patchPlan(
        Multimodal.resizePlan(meta, maxW = 128, maxH = 96), patch = 16)
        .select(col("id"), col("out_w"), col("out_h"),
          col("n_x"), col("n_y"), col("n_patches"), col("n_tokens"))
        .orderBy("id")
    }),

    "t_rolling_fp" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          graft.functions.RollingHash.rolling_hash(col("text")).as("rh"))
        .orderBy("doc_id")
    }),
    "o_asof_join" -> ((s, dir) => {
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
    }),
    "o_asof_join_tol" -> ((s, dir) => {
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
    }),
    "o_asof_join_near" -> ((s, dir) => {
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
    }),
    "o_asof_join_fwd" -> ((s, dir) => {
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
    }),
    "o_salted_join" -> ((s, dir) => {
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
    }),
    "o_range_join" -> ((s, dir) => {
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
    }),
    "o_range_join_rewrite" -> ((s, dir) => {
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
    }),
    "ev_attribution" -> ((s, dir) => {
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
    }),
    "a_bag_setops" -> ((s, dir) => {
      // BAG-semantics set operations (exceptAll / intersectAll):
      // duplicates subtract and intersect by multiplicity — the
      // reconciliation semantics a row-count-preserving diff needs
      // (DISTINCT set ops silently collapse duplicate rows)
      val a = t(s, dir, "lineitem").filter(col("l_orderkey") % 6 === 0)
        .select(col("l_returnflag"), col("l_linestatus"))
      val b = t(s, dir, "lineitem").filter(col("l_orderkey") % 9 === 0)
        .select(col("l_returnflag"), col("l_linestatus"))
      a.exceptAll(b).groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        .unionByName(
          a.intersectAll(b).groupBy("l_returnflag", "l_linestatus")
            .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all")))
        .orderBy("op", "l_returnflag", "l_linestatus")
    }),
    "a_upsert" -> ((s, dir) => {
      // MERGE INTO semantics as a plan: the update batch wins on
      // matched keys, inserts on new keys, untouched rows pass
      // through — one left-anti join + union (AQE broadcasts the
      // batch side). Price doubling is exact: ×2 is a power of two
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val target = orders.filter(col("o_orderkey") % 4 =!= 0)
      val updates = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      graft.ops.Upsert.upsert(target, updates, "o_orderkey")
        .orderBy("o_orderkey")
    }),
    "o_changelog_apply" -> ((s, dir) => {
      // CDC changelog materialization: an ordered I/U/D stream (seq =
      // key*10+slice, unique per key) applied to a base snapshot —
      // last writer wins per key, a winning D drops the key even when
      // the same batch inserted it, untouched rows pass through. The
      // base meets the changelog in ONE left-anti join on |delta|
      // distinct keys; everything else is changelog-sized
      val (base, log) = changelogFixture(s, dir)
      graft.ops.Changelog.apply(base, log, "k", "seq", "op")
        .orderBy("k")
    }),
    "o_write_conflicts" -> ((s, dir) => {
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
    }),
    "o_changelog_net" -> ((s, dir) => {
      // changelog compaction, base-aware: per touched key the net
      // action a writer must take (update/delete/insert/noop) — the
      // Kafka-style per-key topic compaction, with insert-then-delete
      // churn classified as noop instead of a write + tombstone
      val (base, log) = changelogFixture(s, dir)
      graft.ops.Changelog.netEffect(base.select(col("k")), log,
        "k", "seq", "op")
        .orderBy("k")
    }),
    "ev_scd2" -> ((s, dir) =>
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
        .orderBy("user_id", "run_idx")),
    "ev_survival" -> ((s, dir) => {
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
    }),
    "a_union_by_name" -> ((s, dir) => {
      // schema-evolution union: two corpus drops with different column
      // sets align by NAME with null padding (unionByName +
      // allowMissingColumns — positional union would silently mismatch)
      val v1 = t(s, dir, "orders").filter(col("o_orderkey") % 200 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val v2 = t(s, dir, "orders").filter(col("o_orderkey") % 200 === 100)
        .select(col("o_orderkey"), col("o_totalprice"))
      v1.unionByName(v2, allowMissingColumns = true)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    "o_interval_overlap" -> ((s, dir) => {
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
    }),
    "ev_sessionize" -> ((s, dir) => {
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
    }),
    "st_sessionize" -> ((s, dir) => {
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
    }),
    "st_sessionize_native" -> ((s, dir) => {
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
    }),
    "st_hourly" -> ((s, dir) => {
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
    }),
    "st_sliding" -> ((s, dir) => {
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
    }),
    "st_dedup" -> ((s, dir) => {
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
    }),
    "st_funnel" -> ((s, dir) => {
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
    }),
    "st_scd2" -> ((s, dir) => {
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
    }),
    "st_ewma" -> ((s, dir) => {
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
    }),
    "st_hll" -> ((s, dir) => {
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
    }),
    "st_incr_agg" -> ((s, dir) => {
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
    }),
    "st_survival" -> ((s, dir) => {
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
    }),
    "st_changelog" -> ((s, dir) => {
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
    }),
    "st_cms" -> ((s, dir) => {
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
    }),
    "st_dq" -> ((s, dir) => {
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
    }),
    "st_interval_join" -> ((s, dir) => {
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
    }),
    "st_classifier" -> ((s, dir) => {
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
    }),
    "st_encode_stats" -> ((s, dir) => {
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
    }),
    "st_surprise" -> ((s, dir) => {
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
    }),
    "st_minhash_incr" -> ((s, dir) => {
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
    }),
    "st_rvq_incr" -> ((s, dir) => {
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
    }),
    "st_sq8_incr" -> ((s, dir) => {
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
    }),
    "e_rvq_store" -> ((s, dir) => {
      // the semantic-ID store round trip: RVQ codes persist to
      // parquet PARTITIONED BY the coarse code c1 (the layout where
      // a coarse-cell probe prunes at the scan — how a compressed
      // index shards its postings), reload, and the full code/error
      // set must still hash-match the inline-recomputed oracle — a
      // lossy write/read (or a layout that changes values) fails.
      // A single-cell probe must carry a PartitionFilter (the layout
      // claim, proven, not narrated)
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val out = s"${scratchRoot()}/rvq_store"
      Rvq.rvqEncodeSeedDrawn(emb, emb, "vec_id", "embedding", k = 16)
        .write.mode("overwrite").partitionBy("c1").parquet(out)
      val raw = s.read.parquet(out)
      val firstCell = raw.agg(min(col("c1"))).head.get(0)
      val probePlan = raw.filter(col("c1") === lit(firstCell))
        .queryExecution.executedPlan.toString
      require("""PartitionFilters: \[[^\]]*c1""".r
        .findFirstIn(probePlan).isDefined,
        s"coarse-code probe does not prune at the scan:\n$probePlan")
      raw.select(col("id"), col("c1").cast("int").as("c1"), col("c2"),
        col("err2"))
        .orderBy("id")
    }),
    "e_semdedup_store" -> ((s, dir) => {
      // the cell-keyed STORE round trip st_semdedup_incr's comment
      // promises: the assigned corpus persists to parquet PARTITIONED
      // BY CELL (the layout where an incremental drop's cells prune
      // at the scan), and the arriving twins' pair set runs against
      // the RELOAD. The oracle recomputes train + both assignments
      // inline, so a lossy write/read path — or a partition layout
      // that changes values — hash-fails. A single-cell probe on the
      // reload must carry a PartitionFilter (asserted on the plan:
      // the layout claim, proven, not narrated)
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val cents = Ann.lloydCentroids(emb, "vec_id", "embedding")
        .localCheckpoint()
      val out = s"${scratchRoot()}/semdedup_store"
      Ann.lloydAssigned(emb, "vec_id", "embedding", cents)
        .write.mode("overwrite").partitionBy("cell").parquet(out)
      // the partition column reads back through directory-value
      // inference (int) — cast back to the id space for the join
      val raw = s.read.parquet(out)
      val firstCell = raw.agg(min(col("cell"))).head.get(0)
      val probePlan = raw.filter(col("cell") === lit(firstCell))
        .queryExecution.executedPlan.toString
      require("""PartitionFilters: \[[^\]]*cell""".r
        .findFirstIn(probePlan).isDefined,
        s"cell probe does not prune at the scan:\n$probePlan")
      val store = raw.withColumn("cell", col("cell").cast("long"))
      val twins = Ann.plantQueries(emb.filter(col("vec_id") % 20 === 3),
        "vec_id", "embedding", idOffset = 1000000L, delta = 0.01)
      // the SHARED pair tail — one body with the stream door, so the
      // reload gate can't drift from what st_semdedup_incr runs;
      // guard disabled to match the guard-free oracle
      Ann.semDedupPairsAgainstStore(
        Ann.lloydAssigned(twins, "vec_id", "embedding", cents),
        store, threshold = 0.9, maxCellSize = Int.MaxValue)
        .orderBy("new_id", "corpus_id")
    }),
    "st_semdedup_incr" -> ((s, dir) => {
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
    }),
    "st_decontam" -> ((s, dir) => {
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
    }),
    "st_semantic_contam" -> ((s, dir) => {
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
    }),
    "ev_sessionize_events" -> ((s, dir) => {
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
    }),
    "p_paragraph_dedup" -> ((s, dir) => {
      // corpus-wide first-occurrence paragraph dedup: the synthetic
      // corpus has no cross-document paragraphs, so build '#'-joined
      // paragraphs with an injected 1-of-7 shared quote and a 1-in-4
      // promo banner (identical construction in the oracle); every
      // later occurrence must vanish, the first survives
      val lined = concat_ws("#",
        substring(col("text"), 1, 40),
        concat(lit("shared quote "), (col("doc_id") % 7).cast("string")),
        substring(col("text"), 41, 40),
        when(col("doc_id") % 4 === 0, lit("limited time offer banner"))
          .otherwise(substring(col("text"), 81, 30)))
      graft.dedup.Paragraph.dedupFirstOccurrence(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), lined.as("text")),
        "doc_id", "text", sep = "#")
        .orderBy("doc_id")
    }),
    "t_lang_rebalance" -> ((s, dir) => {
      // temperature-based multilingual sampling weights (alpha = 0.5,
      // the sqrt path — IEEE-correctly-rounded, so oracle-exact)
      graft.ops.Sampling.temperatureWeights(
        t(s, dir, "documents"), "lang", alpha = 0.5)
        .orderBy(col("lang").asc_nulls_first)
    }),

    // sink round-trips write to ONE deterministic scratch dir per
    // query (SaveMode.Overwrite) — repeated bench/verify passes reuse
    // the path instead of leaking a table copy per invocation
    "st_warc_ingest" -> ((s, dir) => {
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
    }),
    "s_warc_roundtrip" -> ((s, dir) => {
      // WARC ingest (the Common Crawl container): documents render as
      // WARC/1.0 response records through the text sink, read back
      // with the distributed sentinel-split reader (lineSep record
      // delimiter, byte-exact Content-Length payload cut), and every
      // field is hash-checked against the source rows — id parsed
      // from the record URN, byte length from the header, payload
      // digest from the cut itself
      import graft.sources.Warc
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"), col("text"))
      val out = s"${scratchRoot()}/warc_roundtrip"
      Warc.writeWarc(docs, "doc_id", "text", s"$out/w")
      Warc.readWarc(s, s"$out/w")
        .select(
          regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
            .cast("long").as("id"),
          col("content_length").as("n_bytes"),
          md5(col("payload")).as("digest"))
        .orderBy("id")
    }),
    "st_warc_gz" -> ((s, dir) => {
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
    }),
    "s_warc_gz" -> ((s, dir) => {
      // compressed-WARC roundtrip (the Common Crawl WIRE format —
      // .warc.gz shards, one gzip member per record): documents
      // render through the member-per-record gz writer, read back
      // with the binaryFile + streamed multi-member inflate reader
      // (same sentinel split and parse body as the plain reader),
      // every field hash-checked against the source rows. The slice
      // spans multiple partitions, so shards genuinely concatenate
      // many members
      import graft.sources.Warc
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), col("text"))
      val out = s"${scratchRoot()}/warc_gz"
      Warc.writeWarcGz(docs, "doc_id", "text", s"$out/w")
      Warc.readWarcGz(s, s"$out/w")
        .select(
          regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
            .cast("long").as("id"),
          col("content_length").as("n_bytes"),
          md5(col("payload")).as("digest"))
        .orderBy("id")
    }),
    "s_jsonl_quarantine" -> ((s, dir) => {
      // ingest robustness: JSONL with planted malformed lines (every
      // %3==0 line truncated mid-record) through the PERMISSIVE
      // quarantine reader — good rows parse with full fidelity
      // (digest hash-checked against the source), corrupt rows land
      // as null-field quarantine rows, NEVER silently dropped (the
      // count is part of the hash). Staging is the bounded
      // driver-side harness (the binary-ingest stance)
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 7 === 1 && col("doc_id") < 50000)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("text"))).as("j"))
        .orderBy("doc_id").collect()
      val lines = rows.map { r =>
        if (r.getLong(0) % 3 == 0) r.getString(1).dropRight(5)
        else r.getString(1)
      }
      val tmp = java.nio.file.Files.createTempDirectory("jsonl_gate_")
      tmp.toFile.deleteOnExit()
      val f = tmp.resolve("docs.jsonl")
      java.nio.file.Files.write(f,
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.deleteOnExit()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.sources.Sources.readJsonQuarantine(s, tmp.toString, schema)
        .select(col("doc_id"),
          when(col("_corrupt").isNull, md5(col("text"))).as("digest"),
          when(col("_corrupt").isNotNull, 1).otherwise(0).as("bad"))
        .orderBy(col("bad"), col("doc_id"))
    }),
    "st_jsonl_quarantine" -> ((s, dir) => {
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
    }),
    "s_csv_roundtrip" -> ((s, dir) => {
      import graft.sources.Sources
      val nation = t(s, dir, "nation")
      val out = s"${scratchRoot()}/csv_roundtrip"
      Sources.writeCsv(nation, s"$out/n")
      Sources.readCsv(s, s"$out/n", nation.schema).orderBy("n_nationkey")
    }),
    "s_json_roundtrip" -> ((s, dir) => {
      import graft.sources.Sources
      val nation = t(s, dir, "nation")
      val out = s"${scratchRoot()}/json_roundtrip"
      Sources.writeJson(nation, s"$out/n")
      Sources.readJson(s, s"$out/n", nation.schema).orderBy("n_nationkey")
    }),
    "s_orc_roundtrip" -> ((s, dir) => {
      // ORC sink/scan roundtrip (Spark-native columnar alternative);
      // the oracle reads the parquet source, so the hash-match proves
      // the ORC write+read preserved every value
      import graft.sources.Sources
      val nation = t(s, dir, "nation")
      val out = s"${scratchRoot()}/orc_roundtrip"
      Sources.writeOrc(nation, s"$out/n")
      Sources.readOrc(s, s"$out/n").orderBy("n_nationkey")
    }),
    "s_binary_ingest" -> ((s, dir) => {
      // the multimodal INGEST door: raw files through Spark's
      // binaryFile source into a (path, length, content) frame —
      // id parsed from the filename, byte length, payload md5, all
      // three hash-checked against the staged originals. Staging is
      // a bounded verification harness (<= 1% slice, hard-capped)
      // into a PER-INVOCATION temp dir (the Replay pattern): a
      // shared path would let concurrent runs — or a stale stage
      // from another scale factor — pollute the read. deleteOnExit
      // is LIFO, so registering the dir before its files deletes
      // children first; the dir must outlive this call because the
      // returned frame reads it lazily.
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 100 === 1 && col("doc_id") < 20000)
        .select(col("doc_id"), col("text")).collect()
      val root = java.nio.file.Files.createTempDirectory("graft_bin_")
      root.toFile.deleteOnExit()
      rows.foreach { r =>
        val p = root.resolve(f"${r.getLong(0)}%09d.bin")
        java.nio.file.Files.write(p,
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        p.toFile.deleteOnExit()
      }
      graft.sources.Sources.readBinaryFiles(s, root.toString, "*.bin")
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast("long").as("id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("digest"))
        .orderBy("id")
    }),
    "s_dq_report" -> ((s, dir) =>
      // Deequ-style declarative expectations: every rule folds into
      // ONE map-combined corpus pass; the publish gate artifact
      graft.ops.Dq.report(t(s, dir, "orders"), Seq(
        "price_nonpositive" -> (col("o_totalprice") <= 0),
        "status_null" -> col("o_orderstatus").isNull,
        "status_unknown" -> !col("o_orderstatus").isin("F", "O", "P"),
        "date_after_1997" -> (col("o_orderdate") > lit("1997-01-01").cast("date"))))
        .orderBy("rule")),
    "d_ensemble_pairs" -> ((s, dir) => {
      // multi-finder dedup ensemble: minhash-LSH and simhash pair
      // sets over the SAME slice, unioned with method provenance —
      // production dedup votes across finders (each catches what the
      // other's blocking misses) before clustering
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val mh = graft.dedup.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 16, bands = 4,
        maxBucketSize = Int.MaxValue) // oracle CTE renders no guard
        .select(col("id_a"), col("id_b"), lit("minhash").as("method"))
      val sh = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), lit("simhash").as("method"))
      mh.unionByName(sh)
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).cast("int").as("n_methods"),
          concat_ws("+", sort_array(collect_list(col("method"))))
            .as("methods"))
        .orderBy("id_a", "id_b")
    }),
    "q_unpivot" -> ((s, dir) => {
      // melt/unpivot breadth: the pivoted per-priority status counts
      // widened then melted back to long form (zero-filled) — the
      // wide→long reshape feature-store exports lean on
      val wide = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1))).na.fill(0L)
      wide.unpivot(Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")), "status", "n_orders")
        .orderBy("o_orderpriority", "status")
    }),
    "s_bucketed_join" -> ((s, dir) => {
      // the SCALE.md prescription for recurring 100 TB fact joins,
      // driver-gated: both sides written bucketed+sorted on the join
      // key (no per-query shuffle — BucketedJoinSpec pins the plan),
      // then joined and aggregated; the oracle joins the source
      // tables, so the hash-match proves the bucketed layout loses
      // nothing. Tables land in the gitignored spark-warehouse.
      // Stale state from a PRIOR JVM must be cleared first: the
      // in-memory catalog starts empty, and CREATE on a leftover
      // managed-table location fails with LOCATION_ALREADY_EXISTS
      // (DROP alone can't see it); tables stay registered after —
      // the returned frame reads them lazily
      for (tbl <- Seq("g_orders_b", "g_lineitem_b")) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val wh = java.nio.file.Paths.get(java.net.URI.create(
          s.conf.get("spark.sql.warehouse.dir")).getPath, tbl)
        if (java.nio.file.Files.exists(wh)) {
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(java.nio.file.Files.walk(wh)) { st =>
            st.iterator().asScala.toSeq
              .reverse.foreach(java.nio.file.Files.delete)
          }
        }
      }
      t(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("g_orders_b")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("g_lineitem_b")
      s.table("g_lineitem_b")
        .join(s.table("g_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          decAgg(sum(dec(col("l_quantity"), 18, 4)), 28, 4).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),
    "s_compaction_plan" -> ((s, dir) => {
      // OPTIMIZE-style small-file compaction planning: a per-month
      // file manifest (metadata-sized) binned into contiguous
      // compaction groups by cumulative byte offset
      val manifest = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("bigint").as("file_id"))
        .agg((count(lit(1)) * 64L).as("n_bytes"))
      graft.sources.Sources.compactionPlan(
        manifest, "file_id", "n_bytes", targetBytes = 200000L)
        .orderBy("file_id")
    }),
    "s_merge_schema" -> ((s, dir) => {
      // schema-evolution read: two parquet drops with DIFFERENT
      // schemas (columns added over time, the normal life of a 100 TB
      // dataset) unified by mergeSchema=true — missing columns null,
      // names matched, no rewrite of old files. The oracle builds the
      // same union from the source table, so the hash-match proves
      // the merged read reconstructs every value and null slot
      val nation = t(s, dir, "nation")
      val out = s"${scratchRoot()}/merge_schema"
      nation.select(col("n_nationkey"), col("n_name"), lit("v1").as("src"))
        .write.mode("overwrite").parquet(s"$out/v1")
      nation.select(col("n_nationkey"), col("n_regionkey"),
        (col("n_nationkey") * 2).as("extra"), lit("v2").as("src"))
        .write.mode("overwrite").parquet(s"$out/v2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/v1", s"$out/v2")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("extra"), col("src"))
        .orderBy("n_nationkey", "src")
    }),
    "s_heavy_hitters" -> ((s, dir) => {
      // join-key skew diagnosis: top-25 part keys by lineitem row
      // count with exact share — one map-combined hash agg, total
      // re-derived from the group-sized census, TakeOrderedAndProject
      graft.ops.Profile.heavyHitters(
        t(s, dir, "lineitem"), Seq("l_partkey"), k = 25)
    }),
    "s_shard_delta" -> ((s, dir) => {
      // incremental-publish planning: manifests of the previous and
      // current snapshots joined on shard — only shards whose 16-byte
      // checksum changed get re-read/re-published; manifest-sized
      // work, the corpus is touched only by the manifest aggregates
      import graft.sources.Sources
      val cols = Seq("doc_id", "source", "lang")
      // previous snapshot: shard 3 absent entirely (-> 'added' now)
      // and a sparse doc_id slice of shard 5 missing (-> 'changed');
      // every other shard is untouched (-> 'same') — all three
      // statuses exercised, because the filter aligns with the SAME
      // md5 shard function the manifest uses
      val shardOf = graft.ops.Sampling.bucket(col("doc_id"), 42L) % 8
      val prev = Sources.shardManifest(
        t(s, dir, "documents").filter(shardOf =!= 3 &&
          !(shardOf === 5 && col("doc_id") % 7 === 0)),
        "doc_id", cols, nShards = 8)
        .select(col("shard"), col("n_rows").as("n_prev"),
          col("checksum").as("ck_prev"))
      val cur = Sources.shardManifest(
        t(s, dir, "documents"), "doc_id", cols, nShards = 8)
        .select(col("shard"), col("n_rows").as("n_cur"),
          col("checksum").as("ck_cur"))
      prev.join(cur, Seq("shard"), "full_outer")
        .select(col("shard"),
          coalesce(col("n_prev"), lit(0L)).as("n_prev"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"),
          when(col("ck_prev").isNull, lit("added"))
            .when(col("ck_cur").isNull, lit("removed"))
            .when(col("ck_prev") === col("ck_cur"), lit("same"))
            .otherwise(lit("changed")).as("status"))
        .orderBy("shard")
    }),
    "d_dupe_rate_by_source" -> ((s, dir) => {
      // provenance dashboard: near-dup involvement rate per source —
      // which crawl feeds are polluting the corpus; pair finder +
      // distinct member ids + one broadcast-joinable doc dimension
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val dupes = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
      docs.select(col("doc_id"), col("source"))
        .join(dupes.withColumn("__d", lit(1L)), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("__d")), lit(0L)).as("n_dupes"))
        .withColumn("dupe_ppm",
          expr("(n_dupes * 1000000L) div n_docs"))
        .orderBy("source")
    }),
    "s_shard_manifest" -> ((s, dir) => {
      // deterministic sharded training-set write + verifiable manifest:
      // the gate covers the manifest math (md5-bucket shard assignment,
      // per-shard count + order-independent content checksum); the
      // write/read-back round trip is pinned in SourcesSpec
      graft.sources.Sources.shardManifest(
        t(s, dir, "documents"), "doc_id",
        Seq("doc_id", "source", "lang"), nShards = 8)
        .orderBy("shard")
    }),
    "s_fd_audit" -> ((s, dir) =>
      // functional-dependency discovery census: propose candidate
      // FDs, keep the zero-violation ones — (orderkey, linenumber)
      // is a true key (0), the two fan-out candidates report their
      // violating-key counts. One pair-distinct census per candidate
      graft.ops.Integrity.fdSummary(t(s, dir, "lineitem"), Seq(
        ("line_key_to_part", Seq("l_orderkey", "l_linenumber"),
          "l_partkey"),
        ("order_to_linestatus", Seq("l_orderkey"), "l_linestatus"),
        ("part_to_supp", Seq("l_partkey"), "l_suppkey")))
        .orderBy("fd")),
    "s_ri_orphans" -> ((s, dir) =>
      // referential-integrity audit with planted orphans: every
      // fifth order deleted from the parent side, so ~20% of
      // lineitems dangle — the anti-join census a pipeline runs
      // before trusting a join key
      graft.ops.Integrity.riAudit(
        t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders").filter(col("o_orderkey") % 5 =!= 2),
        "o_orderkey")),
    "s_join_size_est" -> ((s, dir) => {
      // the System R cardinality formula as a pre-join redflag
      // check: metadata-priced summaries (count + exact ndv) feed
      // |A||B| div max(ndv) via the overflow-free decomposition;
      // the exact join count rides alongside so the estimate's
      // error is itself pinned data
      graft.ops.JoinStats.joinSizeEstimate(
        t(s, dir, "lineitem"),
        t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0),
        "l_orderkey", "o_orderkey")
    }),
    "s_k_anon" -> ((s, dir) => {
      // k-anonymity by global recoding: the 6-level generalization
      // ladder (acctbal buckets widening 500→1000→2000, then bal /
      // segment / nation suppressed in turn) walks until every
      // equivalence class holds >= 10 customers and publishes the
      // LEAST such level — minimal information loss subject to the
      // privacy floor. The acctbal offset (+1000) keeps the bucket
      // arithmetic non-negative so Spark's div and DuckDB's //
      // agree (they differ on negatives)
      import graft.ops.Anonymize
      val nat = col("c_nationkey").cast("string")
      val seg = col("c_mktsegment")
      def balB(w: Int) = expr(
        s"cast((cast(floor(c_acctbal) as bigint) + 1000) div $w as string)")
      def lvl(n: Column, s2: Column, b: Column) =
        Seq(n.as("g_nation"), s2.as("g_segment"), b.as("g_bal"))
      Anonymize.kAnonLadder(t(s, dir, "customer"), Seq(
        lvl(nat, seg, balB(500)), lvl(nat, seg, balB(1000)),
        lvl(nat, seg, balB(2000)), lvl(nat, seg, lit("*")),
        lvl(nat, lit("*"), lit("*")),
        lvl(lit("*"), lit("*"), lit("*"))), k = 10)
        .orderBy("g_nation", "g_segment", "g_bal")
    }),
    "s_l_diversity" -> ((s, dir) => {
      // distinct l-diversity over the same recoding machinery: the
      // homogeneity-attack fix — every published class must hold >=10
      // customers AND >=3 distinct market segments (the sensitive
      // attribute), so a class can't leak its segment by being
      // uniform. One extra exact distinct census per ladder level
      import graft.ops.Anonymize
      val nat = col("c_nationkey").cast("string")
      def balB(w: Int) = expr(
        s"cast((cast(floor(c_acctbal) as bigint) + 1000) div $w as string)")
      def lvl(n: Column, b: Column) =
        Seq(n.as("g_nation"), b.as("g_bal"))
      Anonymize.lDiverseLadder(t(s, dir, "customer"), Seq(
        lvl(nat, balB(500)), lvl(nat, balB(1000)), lvl(nat, balB(2000)),
        lvl(nat, lit("*")), lvl(lit("*"), lit("*"))),
        col("c_mktsegment"), k = 10, l = 3)
        .orderBy("g_nation", "g_bal")
    }),
    "s_zorder_skip" -> ((s, dir) => {
      // the two-dimensional layout contrast behind writeZOrdered: a
      // lexicographic layout serves only its leading key (y zones
      // span the full domain — zero skips), while Morton tiles keep
      // BOTH coordinates narrow per zone, so range predicates on
      // either dimension skip most zones. Pure integer zone ids on
      // known domains; two envelope censuses per dimension
      graft.sources.Sources.zorderSkipContrast(
        t(s, dir, "lineitem")
          .withColumn("xq", col("l_partkey") % 1024)
          .withColumn("yq", col("l_orderkey") % 1024),
        "xq", "yq", bits = 10, nZones = 256,
        xLo = 100L, xHi = 150L, yLo = 200L, yHi = 250L)
        .orderBy("layout", "pred")
    }),
    "s_hilbert_skip" -> ((s, dir) => {
      // the curve face-off on the same rows and predicates as
      // s_zorder_skip: Morton vs Hilbert zone envelopes. nZones=192
      // deliberately NOT a power of four — aligned zone counts make
      // every zone one quadrant tile in BOTH curves (identical skip
      // counts, vacuous contrast); at 192 zones straddle quadrant
      // seams, where Morton's seam jump widens the straddler's box
      // while Hilbert's unit-step walk keeps it tight. Measured here:
      // Hilbert skips more zones in aggregate, but the win is
      // per-dimension asymmetric, not uniform — the honest trade a
      // layout advisor must price
      graft.sources.Sources.hilbertSkipContrast(
        t(s, dir, "lineitem")
          .withColumn("xq", col("l_partkey") % 1024)
          .withColumn("yq", col("l_orderkey") % 1024),
        "xq", "yq", bits = 10, nZones = 192,
        xLo = 100L, xHi = 150L, yLo = 200L, yHi = 250L)
        .orderBy("layout", "pred")
    }),
    "s_zone_skip" -> ((s, dir) => {
      // data-skipping effectiveness contrast — the quantified case
      // for clustered layouts: the same orders rows zoned 64 ways by
      // (a) hash bucket and (b) fixed-width o_orderdate binning, the
      // 1995-Q1 range predicate evaluated against each layout's
      // zone-map envelopes. Clustered skips nearly every zone,
      // random skips none — the whole reason writeZOrdered /
      // range-partitioned writes exist. All-integer epoch-day values
      val lo = expr("datediff(date'1995-01-01', date'1970-01-01')")
      val hi = expr("datediff(date'1995-03-31', date'1970-01-01')")
      graft.sources.Sources.layoutSkipContrast(
        t(s, dir, "orders")
          .withColumn("v_days",
            datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))),
        "o_orderkey", "v_days", nZones = 64, lo = lo, hi = hi)
        .orderBy("layout")
    }),
    // partitioned parquet sink + partition-pruned scan: the filter on
    // the partition column prunes directories before any IO (the
    // .explain shows PartitionFilters, not a full scan + filter)
    "s_partition_prune" -> ((s, dir) => {
      import graft.sources.Sources
      val out = s"${scratchRoot()}/partition_prune"
      Sources.writeParquet(t(s, dir, "orders"), s"$out/o",
        partitionBy = Seq("o_orderstatus"))
      Sources.readParquet(s, s"$out/o")
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),
    "s_dynamic_prune" -> ((s, dir) => {
      // DYNAMIC partition pruning under the gate (s_partition_prune's
      // join-driven sibling): the fact is partitioned by order YEAR
      // and the dim keeps only years whose max order price clears a
      // threshold — a DATA-DEPENDENT aggregate predicate no static
      // rule can fold into a partition filter (a literal dim folds
      // away; a key-derivable predicate gets inferred as a static
      // constraint — both tried and rejected by this gate's own plan
      // assertion). Spark must plant a dynamicpruning subquery in the
      // fact scan's partition filters, fed by the dim broadcast.
      // Asserted on the executed plan, the o_range_join_rewrite
      // device: a silently-full scan fails loudly here, not at 100 TB
      // where the partitions are months.
      import graft.sources.Sources
      val out = s"${scratchRoot()}/dynamic_prune"
      Sources.writeParquet(
        t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))),
        s"$out/o", partitionBy = Seq("o_year"))
      val fact = Sources.readParquet(s, s"$out/o")
      val dim = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"))
        .agg(max(col("o_totalprice")).as("mx"))
        .filter(col("mx") > 499000.0)
      val res = fact
        .join(broadcast(dim), col("o_year") === col("y"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderpriority")
      val plan = res.queryExecution.executedPlan.toString
      require(plan.toLowerCase.contains("dynamicpruning"),
        "dynamic partition pruning did not plant its subquery — the " +
          s"dim-filtered join would full-scan the fact:\n$plan")
      res
    }),

    // ---- the flagship reference capability under the oracle gate:
    // normalize a denormalized frame into a fresh Derby star schema via
    // the full load pipeline (plan → conflict-ignoring inserts → id
    // cascade → auto-generated compare validation), then return the
    // database read-back. The oracle reconstructs the same frame from
    // the parquet source directly.
    "c_load_roundtrip" -> ((s, dir) => {
      import graft.connector.{Connector, JdbcFrames}
      val db = s"graft_load_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      val url = s"jdbc:derby:memory:$db;create=true"
      val c0 = java.sql.DriverManager.getConnection(url)
      val st = c0.createStatement()
      st.execute("CREATE TABLE regio (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "r_name VARCHAR(50) NOT NULL UNIQUE)")
      st.execute("CREATE TABLE natie (regio_id INT REFERENCES regio (id), " +
        "n_name VARCHAR(50) NOT NULL UNIQUE)")
      st.close(); c0.commit(); c0.close()

      val denorm = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name"))
      val out = Connector.withConnection(s, url) { c =>
        c.load(denorm) // includes generated-compare validation
        JdbcFrames.queryToDataFrame(s, c.conn,
          "SELECT natie.n_name as n_name, regio.r_name as r_name FROM natie " +
            "LEFT JOIN regio ON natie.regio_id = regio.id ORDER BY n_name",
          lowercaseLabels = true)
      }
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () } // 08006 = dropped ok
      out
    }),
  )

  private val compareCols =
    Seq("c_name", "o_totalprice", "l_quantity", "n_name", "r_name")

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(24,4)) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |CAST(CAST(CAST(SUM(REV) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("REV", revenueSql),
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |CAST(CAST(CAST(SUM(REV) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin.replace("REV", revenueSql),
    "q5_local_supplier" ->
      """SELECT n_name, CAST(CAST(CAST(SUM(REV) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin.replace("REV", revenueSql),
    "q6_forecast_revenue" ->
      """SELECT CAST(CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(6,4)) AS DECIMAL(18,8))) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 24""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |AND EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name,
        |CAST(CAST(CAST(SUM($revenueSql) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue,
        |count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) > 75.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH pr AS (SELECT p_partkey, p_name FROM part
        |  WHERE p_brand = 'Brand#13'),
        |pairs AS (SELECT DISTINCT p_partkey, p_name, s_suppkey, s_acctbal
        |  FROM lineitem JOIN pr ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey),
        |r AS (SELECT p_partkey, p_name, s_suppkey, s_acctbal,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY p_partkey ORDER BY s_acctbal, s_suppkey) AS rn
        |  FROM pairs)
        |SELECT p_partkey, p_name, s_suppkey, s_acctbal FROM r
        |WHERE rn = 1 ORDER BY p_partkey""".stripMargin,
    "q11_important_parts" ->
      s"""WITH pp AS (SELECT l_partkey,
        |  CAST(SUM($revenueSql) AS DECIMAL(28,8)) AS pv_dec
        |  FROM lineitem GROUP BY l_partkey),
        |tot AS (SELECT
        |  CAST(CAST(CAST(SUM(pv_dec) AS DECIMAL(30,8)) AS VARCHAR) AS DOUBLE) AS total_value,
        |  COUNT(*) AS np
        |  FROM pp)
        |SELECT l_partkey, CAST(CAST(pv_dec AS VARCHAR) AS DOUBLE) AS part_value
        |FROM pp, tot
        |WHERE CAST(CAST(pv_dec AS VARCHAR) AS DOUBLE) > 1.5 * (total_value / np)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q12_priority_counts" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q13_order_distribution" ->
      """WITH pc AS (SELECT c_custkey, COUNT(o_custkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F') o
        |  ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist FROM pc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey,
        |  CAST(CAST(CAST(SUM($revenueSql) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT MAX(total_revenue) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev
        |JOIN supplier ON l_suppkey = s_suppkey
        |CROSS JOIN mx
        |WHERE total_revenue = max_rev
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_quantity" ->
      """WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN (
        |    SELECT p_partkey FROM part WHERE p_brand = 'Brand#23') p
        |  ON l_partkey = p_partkey),
        |av AS (SELECT l_partkey AS a_partkey,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM li GROUP BY l_partkey)
        |SELECT
        |  CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM li JOIN av ON l_partkey = a_partkey
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,
    "q19_disjunctive_filter" ->
      s"""SELECT
        |  CAST(CAST(CAST(SUM($revenueSql) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1.0 AND 11.0)
        |OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10.0 AND 20.0)
        |OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin,
    "q22_idle_customers" ->
      """WITH av AS (SELECT
        |  CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS totacctbal
        |FROM customer, av
        |WHERE c_acctbal > av.avg_bal
        |AND NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q14_promo_revenue" ->
      s"""WITH j AS (SELECT l_extendedprice, l_discount, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'),
        |a AS (SELECT
        |  CAST(CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN $revenueSql ELSE CAST(0 AS DECIMAL(18,8)) END) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS promo_revenue,
        |  CAST(CAST(CAST(SUM($revenueSql) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS total_revenue
        |  FROM j)
        |SELECT promo_revenue, total_revenue,
        |  100.0 * promo_revenue / total_revenue AS promo_pct
        |FROM a""".stripMargin,
    "q7_nation_volume" ->
      s"""WITH j AS (
        |SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year, $revenueSql AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT supp_nation, cust_nation, l_year,
        |  CAST(CAST(CAST(SUM(volume) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM j GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      s"""WITH an AS (
        |SELECT CAST(year(o_orderdate) AS INT) AS o_year, $revenueSql AS volume,
        |  n2.n_name AS supp_nation
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
        |SELECT o_year,
        |  CAST(CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,8)) END) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(CAST(SUM(volume) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS mkt_share
        |FROM an GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q9_product_profit" ->
      s"""WITH pf AS (
        |SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST($revenueSql - CAST(CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(24,6)) AS DECIMAL(28,8)) AS amount
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE 'blue%')
        |SELECT nation, o_year,
        |  CAST(CAST(CAST(SUM(amount) AS DECIMAL(30,8)) AS VARCHAR) AS DOUBLE) AS sum_profit
        |FROM pf GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin,
    "q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_size IN (1, 9, 19, 25, 33, 38, 42, 47)
        |AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_part_promotion" ->
      """WITH qty AS (
        |SELECT l_suppkey,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_name LIKE 'blue%'
        |AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_suppkey, l_partkey
        |HAVING CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) > 60.0)
        |SELECT s_suppkey, s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |AND s_suppkey IN (SELECT l_suppkey FROM qty)
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH l1 AS (
        |SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM l1
        |JOIN orders ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |  AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q_rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "w_topk_per_segment" ->
      """SELECT * FROM (
        |SELECT c_mktsegment, o_orderkey, o_totalprice,
        |CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |FROM orders JOIN customer ON o_custkey = c_custkey) x
        |WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin,
    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "e_vector_norm" ->
      s"""SELECT vec_id,
         |sqrt(list_reduce(list_transform(range(1, 65), i ->
         |  CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
         |  (acc, v) -> acc + v)) AS l2_norm
         |FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id""".stripMargin,
    "a_intersect" ->
      """SELECT DISTINCT o_orderpriority FROM orders
        |INTERSECT
        |SELECT * FROM (VALUES ('1-URGENT'), ('3-MEDIUM'), ('9-NOPE')) t(o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    "q_cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "dt_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |count(*) AS n,
        |CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    "a_full_outer" ->
      """SELECT n_nationkey, n_name, r_regionkey, r_name
        |FROM (SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 10) n
        |FULL OUTER JOIN (SELECT r_regionkey, r_name FROM region WHERE r_regionkey % 2 = 0) r
        |ON n.n_regionkey = r.r_regionkey
        |ORDER BY n_nationkey NULLS FIRST, r_regionkey NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "a_semi_anti_join" ->
      """SELECT
        |(SELECT count(*) FROM customer c WHERE c_mktsegment = 'BUILDING'
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)) AS n_with_orders,
        |(SELECT count(*) FROM customer c WHERE c_mktsegment = 'BUILDING'
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)) AS n_without_orders""".stripMargin,
    "a1_preprocess" ->
      """SELECT DISTINCT l_returnflag AS flag, l_linestatus AS status
        |FROM lineitem ORDER BY flag, status""".stripMargin,
    "a2_postprocess" ->
      """SELECT c_name, c_nationkey
        |FROM (SELECT DISTINCT c_name, c_mktsegment, c_nationkey FROM customer)
        |ORDER BY c_name, c_nationkey""".stripMargin,
    "a5_match_types" ->
      """SELECT c_custkey, c_acctbal FROM customer ORDER BY c_custkey""",
    "a8_drop_replaced" ->
      """SELECT c_custkey AS customer_id FROM customer ORDER BY customer_id""",
    "a3_has_nulls" ->
      """SELECT count(*) FILTER (WHERE nullif(o_orderpriority, '1-URGENT') IS NULL) AS n_null_rows,
        |count(*) FILTER (WHERE nullif(o_orderpriority, '1-URGENT') IS NULL) > 0 AS has_nulls
        |FROM orders""".stripMargin,
    "a4_get_rows" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "a6_merge_ids" ->
      """SELECT d.c_name AS c_name, d.c_mktsegment AS c_mktsegment, c.c_custkey AS customer_id
        |FROM (SELECT DISTINCT c_name, c_mktsegment FROM customer) d
        |LEFT JOIN customer c
        |ON d.c_name IS NOT DISTINCT FROM c.c_name
        |AND d.c_mktsegment IS NOT DISTINCT FROM c.c_mktsegment
        |ORDER BY customer_id""".stripMargin,
    "a7_compare_except" ->
      """SELECT DISTINCT o_orderpriority FROM orders
        |EXCEPT SELECT '1-URGENT' AS o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "a11_drop_nulls" ->
      """SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS priority
        |FROM orders WHERE nullif(o_orderpriority, '1-URGENT') IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    "b7_compare_query" ->
      (Demo.tpchSchema.getCompareQuery(compareCols) +
        "\nORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST"),
    "c5_load_instructions" -> {
      val li = Demo.tpchSchema.getLoadInstructions(compareCols)
      val values = (li.insertAndRetrieve.zipWithIndex.map { case (sp, i) =>
        s"(${i + 1}, 'insert_and_retrieve', '${sp.table}', '${sp.alias}')"
      } ++ li.insert.zipWithIndex.map { case (sp, i) =>
        s"(${li.insertAndRetrieve.size + i + 1}, 'insert', '${sp.table}', CAST(NULL AS VARCHAR))"
      }).mkString(",\n")
      s"SELECT CAST(ord AS INT) AS ord, phase, tbl, alias FROM (VALUES\n$values\n) t(ord, phase, tbl, alias) ORDER BY ord"
    },
    "ev_hourly_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |count(*) AS n_events,
        |CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "ev_sliding_agg" ->
      """WITH w AS (SELECT date_trunc('hour', ts) - i * INTERVAL '1 hour' AS win_start,
        |    event_type, value
        |  FROM events, unnest([0, 1]) AS t(i))
        |SELECT win_start, win_start + INTERVAL '2 hours' AS win_end, event_type,
        |count(*) AS n_events,
        |CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2, 3 ORDER BY win_start, event_type""".stripMargin,
    "ev_trailing_rate" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts, value
        |  FROM events WHERE user_id % 10 = 0)
        |SELECT user_id, event_id, make_timestamp(ts // 1000) AS ev_ts,
        |  CAST(count(*) OVER w AS BIGINT) AS n_trailing,
        |  max(value) OVER w AS max_trailing
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "ev_resample" ->
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
        |FROM j ORDER BY user_id, bucket_ts""".stripMargin,
    "ev_gap_stats" ->
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
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_lifecycle" -> {
      val h = graft.ops.Sketches.kmvHashSql(
        "(CAST(user_id AS VARCHAR) || ':' || " +
          "CAST(epoch_ns(ts) // 604800000000000 AS VARCHAR))")._1
      graft.ops.Cohort.lifecycleSql(
        s"WHERE $h % 3 <> 0", bucket = 604800L * 1000000000L)
    },
    "ev_rfm" -> graft.ops.Rfm.rfmSql(""),
    "ev_rfm_sketch" ->
      graft.ops.Rfm.rfmSketchSql("WHERE user_id % 3 = 1"),
    "ev_ewma" -> graft.ops.Ewma.ewmaSql(alpha = 0.25, ""),
    "ev_holt" -> graft.ops.Ewma.holtSql(alpha = 0.5, beta = 0.25,
      "WHERE user_id % 3 = 1"),
    "ev_mad_outliers" ->
      graft.ops.Robust.madOutlierCensusSql("events", "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT)"),
    "ev_funnel" ->
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
        |ORDER BY step_idx""".stripMargin,
    "ev_funnel_users" ->
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
        |FROM u ORDER BY user_id""".stripMargin,
    "ev_cohort" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS b FROM events),
        |a AS (SELECT user_id, b, min(b) OVER (PARTITION BY user_id) AS cohort FROM e)
        |SELECT make_timestamp((cohort * 604800000000000) // 1000) AS cohort_start,
        |  b - cohort AS week_offset, count(DISTINCT user_id) AS n_keys
        |FROM a GROUP BY 1, 2 ORDER BY cohort_start, week_offset""".stripMargin,
    "j_props_extract" ->
      """SELECT event_type, count(*) AS n,
        |CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // corpus pipeline oracles (shared SQL builders in graft.dedup/ann/text)
    "w_percent_rank" ->
      """SELECT lang, doc_id, n_chars,
        |percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM documents WHERE doc_id % 20 = 0
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars)
        |ORDER BY lang, doc_id""".stripMargin,
    "w_cume_dist" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  cume_dist() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS cd
        |FROM orders WHERE o_orderkey % 250 = 0
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q_bool_aggs" ->
      """SELECT o_orderpriority,
        |  CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_orderstatus = 'P') AS has_pending
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "w_lead_lag_ntile" ->
      """SELECT lang, doc_id, n_chars,
        |lead(n_chars) OVER w - n_chars AS next_delta,
        |lag(n_chars, 1, -1) OVER w AS prev_chars,
        |CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM documents WHERE doc_id % 20 = 0 AND lang IS NOT NULL
        |WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
        |ORDER BY lang, doc_id""".stripMargin,
    "f_map_ops" ->
      // the oracle models the SEMANTICS of each map probe in plain
      // SQL (sizes, lookups, joined keys) rather than constructing an
      // engine-map — the gated schema is scalar-only by design
      """WITH c AS (SELECT source, lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY 1, 2)
        |SELECT source,
        |CAST(count(*) AS INT) AS n_langs,
        |CAST(SUM(CASE WHEN lang = 'en' THEN n END) AS BIGINT) AS en_docs,
        |string_agg(lang, ',' ORDER BY lang) AS langs,
        |CAST(SUM(n) AS BIGINT) AS n_docs,
        |CAST(SUM(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS INT) AS n_major
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "f_json_ops" ->
      """WITH e AS (SELECT event_type,
        |    CAST(CASE WHEN json_valid(props)
        |      THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
        |  FROM events WHERE event_id % 5 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  CAST(min(k) AS BIGINT) AS k_min,
        |  CAST(max(k) AS BIGINT) AS k_max,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "f_array_ops" ->
      """SELECT doc_id,
        |CAST(list_aggregate(list_transform(range(1, 2 + doc_id % 7), x -> x * x), 'sum') AS BIGINT) AS sq_sum,
        |CAST(len(list_filter(range(1, 2 + doc_id % 7), x -> x % 2 = 0)) AS BIGINT) AS n_even,
        |CAST(list_aggregate(list_transform(
        |  list_zip(range(1, 2 + doc_id % 7), list_reverse(range(1, 2 + doc_id % 7))),
        |  p -> p[1] * p[2]), 'sum') AS BIGINT) AS zip_sum
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
    "f_datetime_ops" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2m,
        |  CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
        |    AS days_since,
        |  last_day(o_orderdate) AS month_end,
        |  CAST(isodow(o_orderdate) AS INT) AS iso_dow,
        |  CAST(quarter(o_orderdate) AS INT) AS q
        |FROM orders WHERE o_orderkey % 400 = 0 ORDER BY o_orderkey""".stripMargin,
    "f_bitwise_ops" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS b_and,
        |  l_orderkey | 15 AS b_or,
        |  xor(l_orderkey, l_partkey) AS b_xor,
        |  l_orderkey << 3 AS b_shl,
        |  CAST(bit_count(l_orderkey) AS INT) AS b_pop
        |FROM lineitem WHERE l_orderkey % 500 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "f_string_ops" ->
      """SELECT p_partkey,
        |split_part(p_name, ' ', 2) AS name_tail,
        |translate(p_brand, '#', '-') AS brand_t,
        |lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |reverse(p_type) AS type_rev,
        |CAST(instr(p_name, 'red') AS BIGINT) AS red_at,
        |CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS brand_dist,
        |repeat(substr(p_brand, 1, 2), 2) AS brand_rep
        |FROM part WHERE p_partkey % 20 = 0 ORDER BY p_partkey""".stripMargin,
    "w_value_windows" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |first_value(o_totalprice) OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
        |nth_value(o_totalprice, 3) OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_price,
        |last_value(o_totalprice) OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_price
        |FROM orders WHERE o_orderkey % 400 = 0
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "a_cross_join" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin,
    "t_mad" ->
      """WITH m AS (SELECT lang, median(CAST(n_chars AS DOUBLE)) AS med
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, min(m.med) AS med,
        |  median(abs(CAST(n_chars AS DOUBLE) - m.med)) AS mad,
        |  count(*) AS n_docs
        |FROM documents d JOIN m ON d.lang = m.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q_mode" ->
      """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY n DESC, o_orderstatus ASC) AS rn FROM c)
        |SELECT o_orderpriority, o_orderstatus AS mode_status, n AS n_mode
        |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin,
    "q_topk_agg" ->
      """WITH r AS (SELECT o_orderpriority, o_totalprice, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders)
        |SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_totalprice, o_orderkey
        |FROM r WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,
    "ev_first_per_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 10 = 0),
        |r AS (SELECT user_id, event_id, ts, ts // 21600000000000 AS bucket,
        |  row_number() OVER (PARTITION BY user_id, ts // 21600000000000
        |    ORDER BY ts, event_id) AS rn FROM e)
        |SELECT user_id,
        |  make_timestamp((bucket * 21600000000000) // 1000) AS win_start,
        |  event_id, make_timestamp(ts // 1000) AS ev_ts
        |FROM r WHERE rn = 1 ORDER BY user_id, win_start""".stripMargin,
    "ev_merge_intervals" ->
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
        |ORDER BY user_id, merge_seq""".stripMargin,
    "c_checksum" ->
      graft.ops.Checksum.checksumSql("orders",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
    "c_checksum_canon" -> {
      // o_orderdate is parquet timestamp[ms] without UTC adjustment ->
      // Spark reads TimestampNTZ; the oracle mirrors that dispatch
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampNTZType}
      graft.ops.Checksum.checksumCanonicalSql("orders", Seq(
        "o_orderkey" -> LongType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderstatus" -> StringType))
    },
    "p_weighted_sample" ->
      s"""WITH ${graft.ops.Sampling.temperatureWeightsCoreSql("documents", "lang")},
         |t AS (SELECT grp AS lang, share,
         |  CAST(raw AS DOUBLE) / CAST(CAST(SUM(raw) OVER () AS BIGINT) AS DOUBLE) / share AS upsample
         |  FROM x),
         |r AS (SELECT lang, upsample / (SELECT max(upsample) FROM t) AS rate FROM t),
         |s AS (SELECT d.doc_id, d.lang
         |  FROM documents d JOIN r ON d.lang = r.lang
         |  WHERE ${graft.ops.Sampling.bucketSql("d.doc_id", 11L)} <
         |        CAST(floor(rate * 1000000.0) AS BIGINT))
         |SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "s_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
           |CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "t_pii_luhn" ->
      (graft.text.Pii.cardScanSql(
        """(SELECT doc_id, text ||
          |  CASE WHEN doc_id % 13 = 0
          |    THEN ' card 4111 1111 1111 1111 ok' ELSE '' END ||
          |  CASE WHEN doc_id % 17 = 0
          |    THEN ' ref 1234-5678-9012-3456' ELSE '' END AS text
          |FROM documents WHERE doc_id % 3 = 0) d""".stripMargin,
        "doc_id", "text") + "\nORDER BY id"),
    "s_orc_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "s_erasure_plan" ->
      (graft.ops.Anonymize.erasurePlanSql(
        "events", "user_id // 10", "user_id",
        "SELECT user_id AS k FROM events WHERE user_id % 37 = 0") +
        "\nORDER BY 1"), // r.shard; bare `shard` is ambiguous post-join
    "s_schema_compat" ->
      s"""WITH prev_m(col_name, dtype, nullable) AS (VALUES
         |  ('o_orderkey', 'bigint', false), ('o_custkey', 'int', false),
         |  ('o_comment', 'string', true), ('o_totalprice', 'double', true),
         |  ('o_clerk', 'string', false), ('o_orderstatus', 'string', true)),
         |next_m(col_name, dtype, nullable) AS (VALUES
         |  ('o_orderkey', 'bigint', false), ('o_custkey', 'bigint', false),
         |  ('o_totalprice', 'int', true),
         |  ('o_clerk', 'string', true), ('o_orderstatus', 'string', false),
         |  ('o_tags', 'string', true), ('o_version', 'bigint', false))
         |${graft.ops.SchemaCompat.diffSql}
         |ORDER BY col_name""".stripMargin,
    "s_encoding_advisor" ->
      (graft.ops.Profile.encodingAdvisorSql("orders",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")) +
        "\nORDER BY col_name"),
    "t_length_histogram" ->
      """SELECT n_chars // 200 AS bucket, count(*) AS n_docs,
        |min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,
    "t_url_domains" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN text
        |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
        |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
        |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
        |                 ELSE '' END END AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
        |  FROM d)
        |SELECT regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain,
        |  count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        |FROM u GROUP BY 1 ORDER BY domain""".stripMargin,
    "d_incremental" -> {
      val fpInc = graft.text.TextFunctions.fingerprintSql
        .replace("TXT", "('tpl ' || CAST(doc_id % 55 AS VARCHAR))")
      val fpEx = graft.text.TextFunctions.fingerprintSql
        .replace("TXT", "('tpl ' || CAST(doc_id % 40 AS VARCHAR))")
      s"""WITH ex AS (SELECT $fpEx AS fp FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         |inc AS (SELECT doc_id, 'tpl ' || CAST(doc_id % 55 AS VARCHAR) AS text,
         |  $fpInc AS fp
         |  FROM documents WHERE doc_id % 2 = 1),
         |novel AS (SELECT * FROM inc WHERE fp NOT IN (SELECT fp FROM ex)),
         |k AS (SELECT fp, min(doc_id) AS keep FROM novel GROUP BY fp)
         |SELECT n.doc_id, n.text FROM novel n
         |JOIN k ON n.fp = k.fp AND n.doc_id = k.keep
         |ORDER BY n.doc_id""".stripMargin
    },
    "d_version_diff" -> {
      val fp1 = graft.text.TextFunctions.fingerprintSql
        .replace("TXT", "('tpl ' || CAST(doc_id % 40 AS VARCHAR))")
      val fp2 = graft.text.TextFunctions.fingerprintSql
        .replace("TXT", "('tpl ' || CAST(doc_id % 55 AS VARCHAR))")
      s"""WITH v1 AS (SELECT DISTINCT $fp1 AS fp FROM documents WHERE doc_id % 2 = 0),
         |v2 AS (SELECT DISTINCT $fp2 AS fp FROM documents WHERE doc_id % 2 = 1),
         |j AS (SELECT CASE WHEN v1.fp IS NOT NULL AND v2.fp IS NOT NULL THEN 'kept'
         |             WHEN v2.fp IS NOT NULL THEN 'added' ELSE 'removed' END AS status
         |  FROM v1 FULL OUTER JOIN v2 ON v1.fp = v2.fp)
         |SELECT status, count(*) AS n FROM j GROUP BY status ORDER BY status""".stripMargin
    },
    "f_zorder_key" ->
      s"""SELECT l_orderkey, l_linenumber,
         |${graft.functions.ZInterleave.zInterleaveSql("l_partkey % 1024", "l_suppkey % 1024", 10)} AS zkey
         |FROM lineitem WHERE l_orderkey % 100 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "f_hilbert_key" -> {
      val ctes = graft.functions.HilbertIndex.hilbertSqlCtes(
        "hin", "l_partkey % 1024", "l_suppkey % 1024", bits = 10,
        passCols = Seq("l_orderkey", "l_linenumber"),
        finalCte = "hfin", outCol = "hkey")
      s"""WITH hin AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
         |  FROM lineitem WHERE l_orderkey % 100 = 0),
         |$ctes
         |SELECT l_orderkey, l_linenumber, hkey FROM hfin
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "d_fuzzy_pairs" ->
      (fuzzyPairsOracle + "\nORDER BY id_a, id_b"),
    "d_fuzzy_clusters" ->
      graft.dedup.Dedup.connectedComponentsSql(fuzzyPairsOracle),
    "t_quality_rules" -> {
      val rs = graft.text.QualityFilters.rulesSql()
      val cols = rs.map { case (n, sql) => s"${sql.replace("TXT", "text")} AS $n" }
        .mkString(",\n")
      val passes = rs.map(_._2.replace("TXT", "text")).mkString("(", " AND ", ")")
      s"""SELECT doc_id, $cols, $passes AS passes
         |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin
    },
    "d_exact_dedup" ->
      s"""SELECT ${graft.text.TextFunctions.fingerprintSql.replace("TXT", "text")} AS fp,
         |count(*) AS n_dups, min(doc_id) AS keeper_id
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "d_normalized_dedup" ->
      s"""WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 4),
         |u AS (SELECT doc_id * 10 AS id, text || ' caf\u00e9 \u00fcber' AS t FROM b
         |  UNION ALL
         |  SELECT doc_id * 10 + 1, text || ' cafe\u0301 u\u0308ber' FROM b)
         |SELECT ${graft.text.TextFunctions.fingerprintSql
               .replace("TXT", "nfc_normalize(t)")} AS fp,
         |count(*) AS n_dups, min(id) AS keeper_id
         |FROM u GROUP BY 1 ORDER BY fp""".stripMargin,
    "d_ngram_jaccard" ->
      graft.dedup.Dedup.ngramJaccardSql(3, 0.5, "WHERE doc_id % 50 = 0"),
    "d_containment_pairs" ->
      graft.dedup.Dedup.ngramContainmentSql(3, 0.8, "WHERE doc_id % 25 = 0"),
    "d_minhash_lsh" ->
      graft.dedup.Dedup.minhashLshSql(16, 4, "WHERE doc_id % 5 = 0"),
    "d_lsh_histogram" ->
      graft.dedup.Dedup.lshBucketHistogramSql(16, 4, "WHERE doc_id % 2 = 0"),
    "d_lsh_recall" ->
      graft.dedup.Dedup.lshRecallAuditSql(16, 4, 0.5,
        "WHERE doc_id % 10 = 0"),
    "d_winnow_pairs" ->
      graft.dedup.Winnow.sharedFingerprintPairsSql(k = 8, window = 8,
        minShared = 3, whereClause = "WHERE doc_id % 10 = 1"),
    "d_winnow_fp" ->
      (graft.dedup.Winnow.fingerprintsSql(k = 8, window = 8,
        whereClause = "WHERE doc_id % 50 = 1") + "\nORDER BY doc_id, pos"),
    "d_substr_runs" ->
      (graft.dedup.Substr.sharedRunsSql(k = 20, minLen = 30,
        whereClause = "WHERE doc_id % 3 = 2")
        + "\nORDER BY id_a, id_b, start_a, start_b"),
    "d_substr_self" ->
      (graft.dedup.Substr.selfRunsSql(k = 12, minLen = 16,
        whereClause = "WHERE doc_id % 2 = 0")
        + "\nORDER BY doc_id, start_a, start_b"),
    "d_substr_apply" ->
      (graft.dedup.Substr.removeSharedSpansSql(k = 20, minLen = 30,
        whereClause = "WHERE doc_id % 3 = 2") + "\nORDER BY doc_id"),
    "d_minhash_incr" ->
      graft.dedup.Dedup.minhashLshIncrementalSql(16, 4,
        whereNew = "WHERE doc_id % 10 = 7", whereCorpus = "WHERE doc_id % 2 = 0"),
    "d_simhash" ->
      (graft.dedup.Dedup.simhashSql("WHERE doc_id % 25 = 0") + "\nORDER BY id"),
    "d_simhash_pairs" ->
      graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"),
    "d_contamination" ->
      graft.dedup.Dedup.contaminationSql(3, 1,
        "WHERE doc_id % 100 <> 0", "WHERE doc_id % 100 = 0"),
    "d_dedup_clusters" ->
      graft.dedup.Dedup.connectedComponentsSql(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0")),
    "d_record_linkage" ->
      graft.dedup.Linkage.scoredPairsPartSql(
        "WHERE p_partkey % 7 = 0", tol = 1, threshold = 600000),
    "d_dedup_clusters_lp" ->
      // the SAME oracle as d_dedup_clusters: both arms must label
      // identically, and the driver proves it for each independently
      graft.dedup.Dedup.connectedComponentsSql(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0")),
    "d_dedup_apply" ->
      graft.dedup.Dedup.dedupApplySql(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"),
        "WHERE doc_id % 5 = 0"),
    "d_dedup_apply_best" ->
      graft.dedup.Dedup.dedupApplyBestSql(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"),
        "WHERE doc_id % 5 = 0"),
    "p_leakproof_split" -> {
      val ctes = graft.dedup.Dedup.ccCtes(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"))
      val member = graft.ops.Sampling.bucketSql("split_key", 42L)
      s"""$ctes,
         |d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
         |k AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS split_key
         |  FROM d LEFT JOIN cc ON d.doc_id = cc.id)
         |SELECT doc_id,
         |  CASE WHEN $member < 250000 THEN 'test' ELSE 'train' END AS split
         |FROM k ORDER BY doc_id""".stripMargin
    },
    "t_bpe_pairs" ->
      graft.text.Bpe.pairCountsSql(20, "WHERE doc_id % 10 = 0"),
    "t_bpe_merges" ->
      graft.text.Bpe.mergesSql(8, "WHERE doc_id % 10 = 0"),
    "t_bpe_local" ->
      graft.text.Bpe.mergesSql(12, "WHERE doc_id % 10 = 0"),
    "t_bpe_encode" ->
      graft.text.Bpe.encodeStatsSql(8, "WHERE doc_id % 10 = 0", "WHERE doc_id % 20 = 0"),
    "t_fertility" ->
      graft.text.Bpe.fertilityByLangSql(8,
        "WHERE doc_id % 10 = 0", "WHERE doc_id % 4 = 1"),
    "t_bpe_roundtrip" ->
      graft.text.Bpe.roundTripStatsSql(8,
        "WHERE doc_id % 10 = 0", "WHERE doc_id % 20 = 5"),
    "t_bpe_segment" ->
      graft.text.Bpe.segmentSql(8, "WHERE doc_id % 10 = 0"),
    "t_text_stats" -> {
      import graft.text.TextFunctions._
      def s(sql: String) = sql.replace("TXT", "text")
      s"""SELECT doc_id,
         |CAST(len(${s(tokensSql)}) AS INT) AS n_tokens,
         |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish,
         |${s(langIdSql)} AS lang_pred,
         |${s(qualityScoreSql)} AS quality,
         |${s(fingerprintSql)} AS fp
         |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin
    },
    "t_pii_redact" -> {
      val txt = "(substr(text, 1, 60) || ' contact user' || " +
        "CAST(doc_id AS VARCHAR) || '@example.com via 10.' || " +
        "CAST(doc_id % 200 AS VARCHAR) || '.0.7 or 555-' || " +
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' || " +
        "CASE WHEN doc_id % 20 = 0 THEN ' cc ops-team+alerts@mail.example.org' ELSE '' END)"
      s"""SELECT ${graft.text.Pii.scrubSelectSql("doc_id", txt)}
         |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin
    },
    "t_boilerplate" -> {
      val lined = "concat_ws('#', substr(text, 1, 40), " +
        "'subscribe to our newsletter', substr(text, 41, 40), " +
        "CASE WHEN doc_id % 3 = 0 THEN 'follow us on social' " +
        "ELSE substr(text, 81, 30) END)"
      graft.text.Boilerplate.removeFrequentLinesSql(
        sepSql = "'#'", minDocs = 50,
        whereClause = "WHERE doc_id % 2 = 0", textExpr = lined)
    },
    "t_repetition" -> {
      import graft.text.TextFunctions
      val toks = TextFunctions.tokensSql.replace("TXT", "text")
      s"""WITH d AS (SELECT doc_id, $toks AS toks
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT doc_id,
         |  ${TextFunctions.repetitionScoreSql("toks", 1)} AS rep1,
         |  ${TextFunctions.repetitionScoreSql("toks", 2)} AS rep2
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "e_ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 3 AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
         |  WHERE ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
         |scored AS (SELECT query_id, neighbor_id,
         |  ${graft.ann.Ann.cosineSql("qv", "cv", 64)} AS score
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, score,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, score FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "e_cos_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
         |  AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)} AS cos_sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)} >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
    "e_cos_dedup_clusters" ->
      graft.dedup.Dedup.connectedComponentsSql(
        // nested WITH keeps the filtered-embeddings scan defined ONCE
        // (same shape as the e_cos_neardup oracle) — DuckDB supports a
        // CTE inside a recursive-CTE definition
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
           |  AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |FROM e a JOIN e b ON a.vec_id < b.vec_id
           |WHERE ${graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)} >= 0.3""".stripMargin),
    "e_semdedup_apply" -> {
      val pairs =
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
           |  AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |FROM e a JOIN e b ON a.vec_id < b.vec_id
           |WHERE ${graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)} >= 0.3""".stripMargin
      s"""${graft.dedup.Dedup.ccCtes(pairs)},
         |dups AS (SELECT id FROM cc WHERE id <> cluster)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id % 10 = 0 AND vec_id NOT IN (SELECT id FROM dups)
         |ORDER BY vec_id""".stripMargin
    },
    // approximate ANN variants: the md5-keyed LSH planes and hash-cell
    // IVF quantizer are deterministic and reproduced verbatim in
    // DuckDB, so even the *approximate* results are value-exact
    "e_ann_lsh" ->
      graft.ann.Ann.lshTopKSql("vec_id < 3", k = 5),
    "e_ann_ivf" ->
      graft.ann.Ann.ivfTopKHashCellsSql("vec_id < 3", k = 5),
    "e_ann_lsh_recall" ->
      graft.ann.Ann.annRecallSql(
        graft.ann.Ann.lshTopKSql("vec_id % 20 = 0", k = 10, multiProbe = 2),
        "vec_id % 20 = 0", n = 10),
    "e_ann_ivf_recall" ->
      graft.ann.Ann.annRecallSql(
        graft.ann.Ann.ivfTopKHashCellsSql("vec_id % 20 = 0", k = 10),
        "vec_id % 20 = 0", n = 10),
    "e_binary_recall" ->
      graft.ann.Ann.annRecallSql(
        graft.ann.Binary.hammingTopKSql("id % 20 = 0", k = 10),
        "vec_id % 20 = 0", n = 10),
    "e_ann_lsh_planted" ->
      graft.ann.Ann.plantedRecoveryLshSql(
        "vec_id % 20 = 0", idOffset = 1000000L, delta = 0.01, k = 10,
        multiProbe = 2),
    "e_ann_ivf_planted" ->
      graft.ann.Ann.plantedRecoveryIvfSql(
        "vec_id % 20 = 0", idOffset = 1000000L, delta = 0.01, k = 10),
    "e_ann_ivf_lloyd" ->
      graft.ann.Ann.lloydAssignCountsSql(),
    "e_lloyd_cell_skew" ->
      graft.ann.Ann.lloydCellSkewSql(),
    "e_ann_ivf_lloyd_topk" ->
      graft.ann.Ann.lloydIvfTopKSql("id % 40 = 1", k = 5),
    "e_semdedup" ->
      graft.ann.Ann.semDedupPrunedSql(
        "vec_id % 20 = 3", idOffset = 1000000L, delta = 0.01,
        threshold = 0.9),
    "e_semdedup_guarded" ->
      // the guard rendered in SQL: census CTE -> NOT IN exclusion —
      // both engines must agree on hot cells and the surviving pairs
      graft.ann.Ann.semDedupPrunedSql(
        "vec_id % 20 = 3", idOffset = 1000000L, delta = 0.01,
        threshold = 0.9, maxCellSize = 35),
    "st_semdedup_incr" ->
      // the incremental door shares the trainer/assignment CTEs with
      // e_semdedup; the stream is stateless, so the batch-equivalent
      // pair set IS the oracle (the st_decontam stance)
      graft.ann.Ann.semDedupIncrSql(
        "vec_id % 20 = 3", idOffset = 1000000L, delta = 0.01,
        threshold = 0.9),
    "e_semdedup_store" ->
      // the reload path must reproduce the inline-recomputed pair
      // set exactly — same oracle as the stream door (one CTE body,
      // the d_minhash_store stance)
      graft.ann.Ann.semDedupIncrSql(
        "vec_id % 20 = 3", idOffset = 1000000L, delta = 0.01,
        threshold = 0.9),
    "e_cos_neardup_lsh" -> {
      // corpus + int8 quantize->dequantize twins, mirroring the Spark
      // union via the SAME shared quantize helpers as quantizeInt8Sql
      // (a rounding-rule change desyncs nothing: both oracles read the
      // one rendering in Ann)
      import graft.ann.Ann.{dequantElemSql, qscaleSql, quantizeElemSql}
      val src =
        s"""SELECT vec_id AS id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |FROM embeddings WHERE vec_id % 10 = 0
           |UNION ALL
           |SELECT vec_id + 1000000 AS id,
           |  list_transform(embedding, x ->
           |    ${dequantElemSql(quantizeElemSql("x", "qscale"), "qscale")}) AS v
           |FROM (SELECT vec_id, embedding,
           |    ${qscaleSql("embedding")} AS qscale
           |  FROM embeddings WHERE vec_id % 10 = 0) s""".stripMargin
      graft.ann.Ann.cosineNearDupLshSql(0.98, planes = 192, bands = 16,
        sourceSql = Some(src))
    },
    "e_semantic_contam" ->
      graft.ann.Ann.semanticContaminationSql(semContamCorpusSql,
        semContamEvalSql, 0.98, planes = 192, bands = 16),
    "e_mutual_knn" ->
      graft.ann.Ann.mutualKnnPairsSql("vec_id % 4 = 0", k = 5),
    "e_knn_classify" ->
      graft.ann.Ann.knnClassifySql(
        "vec_id % 10 = 1", "vec_id % 10 = 0", k = 5),
    "e_quantize_int8" ->
      graft.ann.Ann.quantizeInt8Sql("WHERE vec_id % 25 = 0"),
    "e_mrl_truncate" ->
      (graft.ann.Ann.mrlTruncateSql(dims = 16,
        whereClause = "WHERE vec_id % 20 = 3") + "\nORDER BY id, i"),
    "d_cdc_chunks" ->
      graft.dedup.Cdc.chunkSpansSql(8, 16, "WHERE doc_id % 7 = 3"),
    "d_cdc_dupes" ->
      graft.dedup.Cdc.duplicateChunksSql(8, 16, 2, "WHERE doc_id % 2 = 0"),
    "d_url_canon" -> {
      val urlRows =
        """WITH d AS (SELECT doc_id, text ||
          |  CASE WHEN doc_id % 2 = 0
          |       THEN ' https://WWW.s' || CAST(doc_id % 11 AS VARCHAR) ||
          |            '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR) ||
          |            '?utm=x'
          |       ELSE ' http://s' || CAST(doc_id % 11 AS VARCHAR) ||
          |            '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR) ||
          |            '/' END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, url FROM uu""".stripMargin
      graft.text.Urls.canonicalStatsSql(urlRows)
    },
    "s_domain_rank" ->
      graft.ops.LinkAnalysis.pageRankSql(plantedDomainRowsSql, iters = 5),
    "s_domain_hits" ->
      graft.ops.LinkAnalysis.hitsSql(plantedDomainRowsSql, iters = 5),
    "s_graph_triangles" ->
      graft.ops.LinkAnalysis.trianglesSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin),
    "s_triangle_domains" ->
      graft.ops.LinkAnalysis.trianglesPerVertexSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin),
    "s_kcore_domains" ->
      graft.ops.LinkAnalysis.kCorePeelSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 AND doc_id % 23 < 12
          |                 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin, k = 2, rounds = 4),
    "s_link_predict" ->
      graft.ops.LinkAnalysis.linkPredictSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 AND doc_id % 23 < 12
          |                 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin, maxHubDeg = 64),
    "s_bfs_layers" ->
      graft.ops.LinkAnalysis.bfsLayersSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 AND doc_id % 23 < 12
          |                 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin,
        seeds = Seq("hub2.example.org"), rounds = 3),
    "t_pii_rate_by_source" ->
      graft.text.Pii.rateBySourceSql(
        """(SELECT source, CASE WHEN doc_id % 4 = 1
          |    THEN substr(text, 1, 60) || ' contact user' ||
          |      CAST(doc_id AS VARCHAR) || '@example.com via 10.' ||
          |      CAST(doc_id % 200 AS VARCHAR) || '.0.7'
          |    ELSE text END AS text
          |  FROM documents WHERE doc_id % 5 = 0) dd""".stripMargin),
    "d_minhash_store" ->
      graft.dedup.Dedup.minhashLshIncrementalSql(16, 4,
        whereNew = "WHERE doc_id % 10 = 7", whereCorpus = "WHERE doc_id % 2 = 0"),
    "t_readability" -> {
      import graft.text.TextFunctions._
      s"""SELECT doc_id,
         |  CAST(len(${tokensSql.replace("TXT", "text")}) AS INT) AS n_words,
         |  CAST(${sentenceCountSql("text")} AS INT) AS n_sent,
         |  CAST(${syllableProxySql("text")} AS INT) AS n_syl,
         |  ${fleschSql("text")} AS flesch
         |FROM documents WHERE doc_id % 4 = 1 ORDER BY doc_id""".stripMargin
    },
    "t_code_detect" ->
      """WITH c AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '[{}()\[\];=<>]')) AS BIGINT)
        |      AS n_sym,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_dig
        |  FROM documents WHERE doc_id % 6 = 2)
        |SELECT doc_id, n_chars,
        |  (n_sym * 1000000) // n_chars AS sym_ppm,
        |  (n_dig * 1000000) // n_chars AS dig_ppm,
        |  (n_sym * 1000000) // n_chars >= 40000 AS codeish
        |FROM c WHERE n_chars > 0 ORDER BY doc_id""".stripMargin,
    "t_char_gini" -> {
      val (n, s2) = graft.text.TextFunctions.letterCensusSql("text")
      s"""WITH c AS (SELECT doc_id, $n AS n_letters, $s2 AS s2
         |  FROM documents WHERE doc_id % 4 = 2)
         |SELECT doc_id, n_letters,
         |  CASE WHEN n_letters > 0 AND n_letters <= 3000000 THEN CAST(
         |    ((n_letters * n_letters - s2) * 1000000)
         |      // (n_letters * n_letters) AS BIGINT) END AS gini_ppm
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "t_html_strip" -> {
      val html = "'<html><body ' || 'class=\"d' || " +
        "CAST(doc_id % 7 AS VARCHAR) || '\"><h1>Doc &#39;' || " +
        "CAST(doc_id AS VARCHAR) || '&#39;</h1><p>' || " +
        "replace(text, 'a', '&amp;') || '</p><br/></body></html>'"
      s"""WITH c AS (SELECT doc_id,
         |  ${graft.text.Html.extractTextSql(html)} AS clean
         |  FROM documents WHERE doc_id % 5 = 3)
         |SELECT doc_id, CAST(len(clean) AS BIGINT) AS n_chars,
         |  substring(clean, 1, 40) AS head
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "t_colloc_lift" ->
      graft.text.Ngrams.collocationLiftSql("WHERE doc_id % 2 = 1", k = 30),
    "t_unigram_roundtrip" ->
      graft.text.Unigram.roundTripCensusSql("WHERE doc_id % 10 = 6",
        byteFallback = true,
        textExpr = "text || CASE WHEN doc_id % 29 = 0" +
          " THEN ' µω€𝄞 zµq' ELSE '' END"),
    "t_unigram_cost" ->
      graft.text.Unigram.encodeCostSql("WHERE doc_id % 3 = 1"),
    "t_unigram_bytes" ->
      graft.text.Unigram.encodeCostSql("WHERE doc_id % 10 = 4",
        byteFallback = true,
        textExpr = "text || CASE WHEN doc_id % 31 = 0" +
          " THEN ' µω€𝄞 qµz' ELSE '' END"),
    "t_wordpiece" ->
      // topN=8: only the 8 hottest words stay whole, so the gate
      // exercises multi-piece continuation segmentation on the rest
      graft.text.WordPiece.segmentCensusSql("WHERE doc_id % 5 = 0", topN = 8),
    "t_wordpiece_stats" ->
      graft.text.WordPiece.encodeStatsSql(
        "WHERE doc_id % 10 = 1", "WHERE doc_id % 5 = 0", topN = 8),
    "t_hashed_classifier" ->
      graft.text.HashedClassifier.scoreSql("WHERE doc_id % 3 = 2"),
    "t_classifier_train" ->
      graft.text.HashedClassifier.trainSql("WHERE doc_id % 3 = 0"),
    "t_classifier_holdout" ->
      graft.text.HashedClassifier.holdoutSql(
        "WHERE doc_id % 3 = 0", "WHERE doc_id % 3 = 1"),
    "t_classifier_apply" ->
      graft.text.HashedClassifier.scoreTrainedSql(
        "WHERE doc_id % 3 = 0", "WHERE doc_id % 3 = 2"),
    "t_calibration" ->
      graft.text.HashedClassifier.reliabilitySql(
        "WHERE doc_id % 3 = 0", "WHERE doc_id % 3 = 1"),
    "t_pr_curve" ->
      graft.text.HashedClassifier.prCurveSql(
        "WHERE doc_id % 3 = 0", "WHERE doc_id % 3 = 1"),
    "s_quantile_reload" ->
      graft.ops.QuantileSketch.quantilesSql(
        "lineitem", "floor(l_extendedprice * 100 + 0.5)", Seq(250, 750, 950), 5),
    "f_jaro_winkler" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |FROM part a, part b
        |WHERE a.p_partkey % 40 = 1 AND b.p_partkey % 40 = 2
        |  AND jaro_winkler_similarity(a.p_name, b.p_name) > 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "e_hybrid_rrf" -> {
      val sparse = graft.text.Bm25.topKSql(
        Seq(1 -> "hash join", 2 -> "window agg stream", 3 -> "fast vector scan"),
        k = 20, whereClause = "")
      val dense =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           |  WHERE vec_id IN (1, 2, 3)
           |    AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
           |  WHERE ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
           |scored AS (SELECT query_id, neighbor_id,
           |  ${graft.ann.Ann.cosineSql("qv", "cv", 64)} AS score
           |  FROM q JOIN c ON query_id <> neighbor_id),
           |ranked AS (SELECT query_id, neighbor_id,
           |  CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY score DESC, neighbor_id) AS INT) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, rank FROM ranked
           |WHERE rank <= 20""".stripMargin
      graft.ann.Fusion.rrfFuseSql(sparse, dense, k = 10)
    },
    "e_binary_rerank" ->
      graft.ann.Binary.hammingRerankSql("id % 50 = 1", k = 10, kCoarse = 50),
    "e_binary_sign" ->
      graft.ann.Binary.signPackSql("WHERE vec_id % 7 = 0"),
    "e_hamming_topk" ->
      graft.ann.Binary.hammingTopKSql("id % 50 = 1", k = 10),
    "s_kmv_distinct" ->
      graft.ops.Sketches.kmvDistinctSql("lineitem", "l_partkey", 256),
    "s_kmv_overlap" ->
      graft.ops.Sketches.kmvOverlapSql("lineitem", "l_partkey",
        "WHERE l_orderkey % 2 = 0", "WHERE l_orderkey % 3 = 0", 256),
    "s_hll_registers" ->
      graft.ops.Hll.registersSql("lineitem", "l_partkey"),
    "s_hll_estimate" ->
      graft.ops.Hll.estimateSql("lineitem", "l_partkey"),
    "s_hll_groups" ->
      graft.ops.Hll.distinctPerGroupSql(
        "orders", "o_orderpriority", "o_custkey"),
    "s_cms_counts" ->
      graft.ops.Sketches.cmsCountsSql("lineitem", "l_suppkey", 4, 512),
    "s_incr_agg" ->
      graft.ops.IncrementalAgg.directSql("lineitem", Seq("l_suppkey"),
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
    "s_incr_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "s_quantile_sketch" ->
      graft.ops.QuantileSketch.cellsSql("lineitem", "floor(l_extendedprice * 100 + 0.5)", 5),
    "s_quantile_bins" ->
      graft.ops.QuantileSketch.discretizeSql(
        "(SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents" +
          " FROM orders WHERE o_orderkey % 3 = 0) oslice",
        "o_orderkey", "cents", Seq(250, 500, 750), 5),
    "s_quantile_answers" ->
      graft.ops.QuantileSketch.quantilesSql(
        "lineitem", "floor(l_extendedprice * 100 + 0.5)", Seq(500, 900, 990, 999), 5),
    "s_quantile_groups" ->
      graft.ops.QuantileSketch.quantilesPerGroupSql(
        "orders", "o_orderpriority", "floor(o_totalprice * 100 + 0.5)", Seq(500, 900), 5),
    "s_kmv_groups" ->
      graft.ops.Sketches.kmvGroupsSql("orders", "o_orderpriority", "o_custkey", 64),
    "e_rvq_encode" ->
      (graft.ann.Rvq.rvqEncodeSql(16, 64, 42L, "WHERE vec_id % 3 = 1")
        + "\nORDER BY id"),
    "e_rvq_topk" ->
      graft.ann.Rvq.rvqTopKSql(5, 16, 64, 42L,
        "WHERE vec_id % 3 = 1", "WHERE vec_id % 300 = 1"),
    "e_rvq_refined" ->
      (graft.ann.Rvq.rvqRefinedEncodeSql(8, 2, 120, 64, 42L,
        "WHERE vec_id % 3 = 1") + "\nORDER BY id"),
    "e_rvq_refined_topk" ->
      graft.ann.Rvq.rvqRefinedTopKSql(5, 8, 2, 120, 64, 42L,
        "WHERE vec_id % 3 = 1", "WHERE vec_id % 300 = 1"),
    "e_ivfrvq_refined" ->
      graft.ann.Rvq.ivfRvqRefinedTopKSql(5, 8, 2, 120, 64, 42L, 16, 4,
        "WHERE vec_id % 3 = 1", "WHERE vec_id % 300 = 1"),
    "e_ann_mrl" ->
      graft.ann.Matryoshka.mrlTopKSql(5, 16, 20, 64,
        "WHERE vec_id % 4 = 2", "WHERE vec_id % 40 = 2"),
    "e_ann_mrl_lsh" ->
      graft.ann.Matryoshka.mrlLshTopKSql(5, 16, 20, 64, 12, 2,
        "WHERE vec_id % 4 = 2", "WHERE vec_id % 40 = 2"),
    "e_margin_mine" ->
      (graft.ann.Mining.marginMineSql(4, 64, 1.0,
        "WHERE vec_id % 4 = 1", "WHERE vec_id % 4 = 3")
        + "\nORDER BY src_id"),
    "e_margin_mine_lsh" ->
      (graft.ann.Mining.marginMineLshSql(4, 64, 1.0,
        "WHERE vec_id % 4 = 1", "WHERE vec_id % 4 = 3",
        planes = 12, multiProbe = 2)
        + "\nORDER BY src_id"),
    "e_sq8_encode" ->
      (graft.ann.Sq.sq8EncodeSql(64, "WHERE vec_id % 3 = 0")
        + "\nORDER BY id"),
    "e_sq8_topk" ->
      graft.ann.Sq.sq8TopKSql(5, 64, "WHERE vec_id % 3 = 0",
        "WHERE vec_id % 300 = 0"),
    "st_sq8_incr" ->
      // micro-batched map-only encode must union to the batch encode
      // exactly — same oracle as e_sq8_encode
      (graft.ann.Sq.sq8EncodeSql(64, "WHERE vec_id % 3 = 0")
        + "\nORDER BY id"),
    "e_sq8_ivf" ->
      graft.ann.Sq.ivfSq8TopKSql(5, 64, 16, 4,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0"),
    "e_quantizer_pick" ->
      (graft.ann.Sq.quantizerPickSql(64, "WHERE vec_id % 3 = 1",
        refinedTrainRows = 120) + "\nORDER BY family"),
    "e_rvq_store" ->
      // the reload must reproduce the inline-recomputed encode
      // exactly — same oracle as e_rvq_encode
      (graft.ann.Rvq.rvqEncodeSql(16, 64, 42L, "WHERE vec_id % 3 = 1")
        + "\nORDER BY id"),
    "st_rvq_incr" ->
      // the micro-batched map-only encode must union to the batch
      // encode exactly — same oracle as e_rvq_encode (the %9 batch
      // residues {1,4,7} partition the %3=1 slice)
      (graft.ann.Rvq.rvqEncodeSql(16, 64, 42L, "WHERE vec_id % 3 = 1")
        + "\nORDER BY id"),
    "e_pq_encode" ->
      graft.ann.Ann.pqEncodeSql(8, 16, 64, 42L, "WHERE vec_id % 3 = 0"),
    "e_pq_opq" ->
      graft.ann.Ann.opqEncodeSql(8, 16, 64, 42L, "WHERE vec_id % 3 = 2"),
    "e_pq_opq_topk" ->
      graft.ann.Ann.opqTopKSql(5, 8, 16, 64, 42L,
        "WHERE vec_id % 3 = 2", "WHERE vec_id % 300 = 2"),
    "e_pq_pack_roundtrip" -> {
      // byte j of the 4-bit packing is code_{2j} | code_{2j+1} << 4 —
      // rendered as printf hex so the layout itself is under the hash
      val hexExpr = (0 until 4).map(j =>
        s"code_${2 * j} + code_${2 * j + 1} * 16").mkString(
        "printf('%02x%02x%02x%02x', ", ", ", ")")
      s"""WITH enc AS (${graft.ann.Ann.pqEncodeSql(8, 16, 64, 42L,
           "WHERE vec_id % 3 = 0")})
         |SELECT id, $hexExpr AS packed_hex,
         |  code_0, code_1, code_2, code_3,
         |  code_4, code_5, code_6, code_7
         |FROM enc ORDER BY id""".stripMargin
    },
    "e_ivfpq_topk" ->
      graft.ann.Ann.ivfPqTopKSql(5, 16, 4, 8, 16, 64, 42L,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0"),
    "e_ivfpq_refined" ->
      graft.ann.Ann.ivfPqRefinedTopKSql(5, 16, 4, 8, 16, 2, 120, 64, 42L,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0"),
    "e_pq_topk" ->
      graft.ann.Ann.pqTopKSql(5, 8, 16, 64, 42L,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0"),
    "e_pq_recall" ->
      graft.ann.Ann.pqRecallSql(10, 8, 16, 64, 42L,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0"),
    "p_train_test_split" -> {
      val b = graft.ops.Sampling.bucketSql("doc_id", 42L)
      s"""SELECT CASE WHEN $b < 200000 THEN 'test' ELSE 'train' END AS split,
         |count(*) AS n, min(doc_id) AS min_id
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
    },
    "p_rank_corr" ->
      graft.ops.Shuffling.rankCorrelationSql(
        "documents WHERE doc_id % 4 = 2 AND " +
          graft.ops.Sampling.bucketSql("doc_id", 42L) + " < 100000",
        "doc_id", "n_chars",
        "CAST(len(" +
          graft.text.TextFunctions.tokensSql.replace("TXT", "lower(text)") +
          ") AS BIGINT)"),
    "p_bootstrap_means" ->
      graft.ops.Bootstrap.resampleMeansSql(
        "documents", "doc_id", "n_chars", b = 32),
    "p_bootstrap_cluster" ->
      graft.ops.Bootstrap.resampleMeansSql(
        "documents", "source", "n_chars", b = 32, seed = 7L),
    "p_bootstrap_duprate" -> {
      // the flag census rides the d_minhash_lsh pair CTE verbatim
      // (same params/slice); resampleMeansSql then renders the
      // identical weight arithmetic over (source, is_dup)
      val pairs = graft.dedup.Dedup.minhashLshSql(16, 4,
        "WHERE doc_id % 5 = 0")
      graft.ops.Bootstrap.resampleMeansSql(
        s"""(SELECT d.source,
           |    CASE WHEN u.id IS NULL THEN 0 ELSE 1 END AS is_dup
           |  FROM (SELECT doc_id, source FROM documents
           |    WHERE doc_id % 5 = 0) d
           |  LEFT JOIN (SELECT DISTINCT id FROM (
           |      SELECT unnest([id_a, id_b]) AS id FROM ($pairs) p) uu) u
           |  ON d.doc_id = u.id) fl""".stripMargin,
        "source", "is_dup", b = 32, seed = 11L)
    },
    "p_bootstrap_passrate" -> {
      // the AND-of-rules verdict is t_quality_rules' own rendering
      val passes = graft.text.QualityFilters.rulesSql()
        .map(_._2.replace("TXT", "text")).mkString("(", " AND ", ")")
      graft.ops.Bootstrap.resampleMeansSql(
        s"""(SELECT source,
           |    CASE WHEN $passes THEN 1 ELSE 0 END AS pass_flag
           |  FROM documents WHERE doc_id % 10 = 0) fl""".stripMargin,
        "source", "pass_flag", b = 32, seed = 13L)
    },
    "p_sample_skew" ->
      graft.ops.Sampling.sampleSkewAuditSql(
        "orders", "o_orderkey", "o_orderpriority", fraction = 0.2),
    "p_stratified_sample" -> {
      val b = graft.ops.Sampling.bucketSql("doc_id", 42L)
      val cut = graft.ops.Sampling.stratifiedCutoffSql("lang",
        Map("en" -> 0.25, "de" -> 1.0), defaultFraction = 0.5)
      s"""SELECT lang, count(*) AS n FROM documents
         |WHERE $b < $cut GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin
    },
    "p_waterfill_caps" ->
      (graft.ops.Mixture.waterfillCapsSql(
        "documents", "source", tokenBudget = 26000L) +
        "\nORDER BY source"),
    "p_cap_source" -> {
      val pred = graft.ops.Sampling.capPredicateSql("doc_id", cap = 10)
      s"""WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_group
         |  FROM documents GROUP BY 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept
         |FROM documents JOIN n USING (source)
         |WHERE $pred
         |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin
    },
    "p_mixture_plan" ->
      (graft.ops.Mixture.planSql("documents", "lang",
        Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "zh" -> 0.1),
        tokenBudget = 100000L, defaultWeight = 0.05)
        + "\nORDER BY lang NULLS FIRST"),
    "p_mixture_temperature" ->
      (graft.ops.Mixture.planTemperatureSql("documents", "lang",
        temperature = 2.0, tokenBudget = 100000L)
        + "\nORDER BY lang"),
    "p_mixture_apply" ->
      (graft.ops.Mixture.applyPlanSql("documents", "lang", "doc_id",
        graft.ops.Mixture.planSql("documents", "lang",
          Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "zh" -> 0.1),
          tokenBudget = 100000L, defaultWeight = 0.05))
        + "\nORDER BY doc_id, epoch"),
    "p_sample_exact_k" ->
      s"""SELECT lang, doc_id FROM (
         |${graft.ops.Sampling.sampleExactKSql("documents", "lang", "doc_id", k = 7, seed = 11L)}
         |) ORDER BY lang NULLS FIRST, doc_id""".stripMargin,
    "p_interleave" ->
      graft.ops.Shuffling.interleaveBySourceSql(
        "WHERE doc_id % 2 = 1", seed = 7L),
    "e_ann_beam" -> {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 40 = 1 AND $nz),
         |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.beamSearchSql(graphK = 6, beam = 6, rounds = 3,
            k = 5, dim = 64)}""".stripMargin
    },
    "e_ann_hnsw" -> {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 40 = 1 AND $nz),
         |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.hnswSearchSql(graphK = 6, beam = 6, rounds = 3,
            k = 5, dim = 64, upperBeam = 4, upperRounds = 2)}""".stripMargin
    },
    "e_ann_hnsw_nnd" -> {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 40 = 1 AND $nz),
         |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.hnswSearchNndSql(beam = 6, rounds = 3, k = 5,
            dim = 64, upperBeam = 4, upperRounds = 2,
            ndK = 5, ndRounds = 2, upperGroups = 1, baseGroups = 16)}""".stripMargin
    },
    "e_ann_beam_recall" -> {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      val beamSql =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           |  WHERE vec_id % 40 = 1 AND $nz),
           |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
           |  WHERE vec_id % 4 = 0 AND $nz),
           |${graft.ann.Nsw.beamSearchSql(graphK = 6, beam = 6, rounds = 3,
              k = 5, dim = 64)}""".stripMargin
      graft.ann.Ann.annRecallSql(beamSql, "vec_id % 40 = 1", n = 5,
        candWhere = "vec_id % 4 = 0")
    },
    "e_ann_hnsw_recall" -> {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      val hnswSql =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           |  WHERE vec_id % 40 = 1 AND $nz),
           |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
           |  WHERE vec_id % 4 = 0 AND $nz),
           |${graft.ann.Nsw.hnswSearchSql(graphK = 6, beam = 6, rounds = 3,
              k = 5, dim = 64, upperBeam = 4, upperRounds = 2)}""".stripMargin
      graft.ann.Ann.annRecallSql(hnswSql, "vec_id % 40 = 1", n = 5,
        candWhere = "vec_id % 4 = 0")
    },
    "e_mean_pool" ->
      (graft.ann.Pool.meanPoolSql("embeddings", "vec_id % 100",
        "embedding", dim = 64) + "\nORDER BY \"group\", dim_idx"),
    "e_ann_beam_nnd" -> {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 40 = 1 AND $nz),
         |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.nnDescentEdgesSql(k = 5, rounds = 2,
            groups = 16, dim = 64)},
         |g AS (SELECT src, dst FROM e2),
         |${graft.ann.Nsw.beamBodySql(beam = 6, rounds = 3, k = 5,
            dim = 64)}""".stripMargin
    },
    "e_ann_nndescent" -> {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.nnDescentRecallSql(k = 5, rounds = 2,
            groups = 16, dim = 64)}""".stripMargin
    },
    "e_rank_metrics" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 20 = 3 AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
         |  WHERE ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
         |scored AS (SELECT query_id, neighbor_id,
         |  ${graft.ann.Ann.cosineSql("qv", "cv", 64)} AS score
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INT) AS rank
         |  FROM scored QUALIFY rank <= 10),
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |${graft.ann.RankEval.metricsSql(10)}
         |ORDER BY query_id""".stripMargin,
    "e_jl_project" ->
      (graft.ann.Jl.projectSql(
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0) e",
        "vec_id", "embedding", outDims = 8, dim = 64) +
        "\nORDER BY id, j"),
    "e_jl_distortion" ->
      (graft.ann.Jl.distortionCensusSql(
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0) e",
        "vec_id", "embedding", outDims = 8, dim = 64) +
        "\nORDER BY band"),
    "e_cos_threshold_hist" -> {
      val cos = graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)
      val nz = graft.ann.Ann.dotSql("embedding", "embedding", 64) + " > 0"
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 7 = 0 AND $nz)
         |SELECT CAST(floor($cos * 20) AS INT) AS band,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |GROUP BY 1 ORDER BY band""".stripMargin
    },
    "p_cap_domain" -> {
      val pred = graft.ops.Sampling.capPredicateSql("doc_id", cap = 8, seed = 3L)
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN text
        |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
        |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
        |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
        |                 ELSE '' END END AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
        |  FROM d),
        |dom AS (SELECT doc_id,
        |  regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain FROM u
        |  WHERE regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) <> 'mirror.example.org'),
        |n AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_group FROM dom GROUP BY 1)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_kept, min(doc_id) AS min_id
        |FROM dom JOIN n USING (domain)
        |WHERE """.stripMargin + pred +
        "\nGROUP BY domain ORDER BY domain"
    },
    "p_curation_pipeline" -> {
      import graft.text.TextFunctions
      val fp = TextFunctions.fingerprintSql.replace("TXT", "text")
      val toks = TextFunctions.tokensSql.replace("TXT", "text")
      val capB = graft.ops.Sampling.bucketSql("doc_id", 7L)
      val splitB = graft.ops.Sampling.bucketSql("doc_id", 42L)
      val paraSql = graft.dedup.Paragraph.dedupFirstOccurrenceSql(
        """SELECT doc_id, concat_ws('#',
          |  substring(text, 1, 40),
          |  'shared quote ' || CAST(doc_id % 7 AS VARCHAR),
          |  substring(text, 41, 40),
          |  CASE WHEN doc_id % 4 = 0 THEN 'limited time offer banner'
          |       ELSE substring(text, 81, 30) END) AS text
          |FROM deduped""".stripMargin,
        sep = "#")
      s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY $fp),
         |deduped AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
         |cleaned AS (SELECT q.doc_id, q.text, deduped.source
         |  FROM ($paraSql) q JOIN deduped USING (doc_id)),
         |quality AS (SELECT * FROM cleaned WHERE CAST(len($toks) AS INT) >= 12),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_group
         |  FROM quality GROUP BY 1),
         |capped AS (SELECT quality.* FROM quality JOIN n USING (source)
         |  WHERE $capB * n_group < ${15 * 1000000L}),
         |sp AS (SELECT *, CASE WHEN $splitB < 200000 THEN 'test' ELSE 'train' END AS split
         |  FROM capped)
         |SELECT source, split, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id
         |FROM sp GROUP BY 1, 2 ORDER BY source NULLS FIRST, split""".stripMargin
    },
    "t_length_quartiles" ->
      s"""SELECT lang, quantile_cont(n_chars, 0.25) AS p25,
         |quantile_cont(n_chars, 0.5) AS p50,
         |quantile_cont(n_chars, 0.75) AS p75,
         |CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "t_winsorize" ->
      """WITH b AS (SELECT lang,
        |    quantile_cont(n_chars, 0.125) AS lo,
        |    quantile_cont(n_chars, 0.875) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, lang, n_chars,
        |  LEAST(GREATEST(CAST(n_chars AS DOUBLE), lo), hi) AS clamped,
        |  (n_chars < lo OR n_chars > hi) AS clipped
        |FROM documents JOIN b USING (lang)
        |ORDER BY doc_id""".stripMargin,
    "t_length_outliers" ->
      """WITH st AS (SELECT lang, COUNT(*) AS n,
        |    SUM(n_chars) AS s1,
        |    SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS s2
        |  FROM documents GROUP BY lang),
        |st2 AS (SELECT lang,
        |    CAST(s1 AS DOUBLE) / n AS mu,
        |    CAST(s2 AS DOUBLE) / n -
        |      (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS sigma2
        |  FROM st)
        |SELECT doc_id, lang, n_chars,
        |  (CAST(n_chars AS DOUBLE) - mu) / sqrt(sigma2) AS z
        |FROM documents JOIN st2 USING (lang)
        |WHERE (CAST(n_chars AS DOUBLE) - mu) *
        |  (CAST(n_chars AS DOUBLE) - mu) > 2.25 * sigma2
        |ORDER BY doc_id""".stripMargin,
    "t_length_stats" ->
      s"""SELECT lang, median(n_chars) AS med_chars,
         |min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         |CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "p_pack_sequences" ->
      graft.ops.Packing.packSequencesSql(maxTokens = 1024, shards = 8,
        whereClause = "WHERE doc_id % 4 = 0"),
    "p_padding_waste" ->
      graft.ops.Packing.paddingWasteSql("WHERE doc_id % 2 = 1"),
    "e_neg_sample" ->
      graft.ops.Shuffling.negativeSampleSql(
        "WHERE vec_id % 25 = 0", k = 8, seed = 7L),
    "e_triplets" ->
      graft.ann.Triplets.mineSql("WHERE vec_id % 25 = 0", k = 4, seed = 11L),
    "e_centroid_drift" ->
      graft.ann.CentroidDrift.pairwiseCosineSql("WHERE TRUE"),
    "e_mmr_diversify" ->
      graft.ann.Mmr.diversifySql(queryId = 7L, kCand = 20, k = 5),
    "p_span_mask" ->
      graft.ops.Masking.spanPlanSql("WHERE doc_id % 7 = 1"),
    "p_pack_materialize" ->
      (graft.ops.Packing.materializeSequencesSql(maxTokens = 1024,
        shards = 8, whereClause = "WHERE doc_id % 4 = 0")
        + "\nORDER BY shard, seq_in_shard"),
    "p_budget_select" ->
      graft.ops.Selection.selectToBudgetSql(
        graft.text.TextFunctions.qualityScoreSql.replace("TXT", "text"),
        s"len(${graft.text.TextFunctions.tokensSql.replace("TXT", "text")})",
        budget = 20000L, whereClause = "WHERE doc_id % 3 = 0"),
    "p_contrastive_select" ->
      (graft.text.Lm.contrastiveScoreSql(
        whereClause = "WHERE doc_id % 10 = 2",
        targetWhere = "WHERE lang = 'en' AND doc_id % 3 = 0",
        sourceWhere = "WHERE doc_id % 3 = 0") + "\nORDER BY doc_id"),
    "p_dsir_select" ->
      graft.ops.Selection.selectToBudgetOverSql(
        "(" + graft.text.Lm.contrastiveScoreSql(
          whereClause = "WHERE doc_id % 10 = 2",
          targetWhere = "WHERE lang = 'en' AND doc_id % 3 = 0",
          sourceWhere = "WHERE doc_id % 3 = 0") + ") cs",
        "doc_id", "contrast_micro", "n_grams", budget = 2000L),
    "p_doremi_weights" ->
      (graft.text.Lm.doremiDomainWeightsSql(
        whereClause = "WHERE doc_id % 2 = 0",
        targetWhere = "WHERE lang = 'en' AND doc_id % 3 = 0",
        sourceWhere = "WHERE doc_id % 3 = 0") + "\nORDER BY domain"),
    "p_softdedup" ->
      (graft.text.Lm.softDedupWeightsSql("WHERE doc_id % 3 = 1",
        minWeightPpm = 900000L) + "\nORDER BY doc_id"),
    "p_web_pipeline" -> {
      val plantedSql = "(SELECT doc_id, CASE " +
        "WHEN doc_id % 3 = 0 THEN text || '.' " +
        "WHEN doc_id % 3 = 1 THEN text || '.' || chr(10) || text || '!' " +
        "|| chr(10) || text || '?' " +
        "ELSE text || ' {lorem ipsum}' END AS text " +
        "FROM documents WHERE doc_id % 4 = 3)"
      val keepSql = "(SELECT doc_id FROM (" +
        graft.text.C4.c4CleanSql("", from = plantedSql) + ") ck WHERE keep)"
      graft.text.Lm.softDedupWeightsSql(s"WHERE doc_id IN $keepSql",
        from = plantedSql) + "\nORDER BY doc_id"
    },
    "p_corpus_card" ->
      (graft.ops.CorpusCard.corpusCardSql("",
        graft.text.QualityFilters.Config(minWords = 40, minStopHits = 1),
        from = "(SELECT text, lang, source FROM documents UNION ALL " +
          "SELECT text, lang, source FROM documents WHERE doc_id % 10 = 0)")
        + "\nORDER BY source"),
    "st_corpus_card" ->
      (graft.ops.CorpusCard.corpusCardSql("",
        graft.text.QualityFilters.Config(minWords = 40, minStopHits = 1),
        from = "(SELECT text, lang, source FROM documents UNION ALL " +
          "SELECT text, lang, source FROM documents WHERE doc_id % 10 = 0)")
        + "\nORDER BY source"),
    "st_corpus_card_sketch" -> {
      val baseSql = "SELECT doc_id, text, lang, source FROM documents " +
        "WHERE NOT (source = 'src2' AND doc_id % 8 < 6)"
      graft.ops.CorpusCard.sketchCardSql(16, "",
        graft.text.QualityFilters.Config(minWords = 40, minStopHits = 1),
        from = s"($baseSql UNION ALL SELECT * FROM ($baseSql) b " +
          "WHERE doc_id % 10 = 0)") + "\nORDER BY source"
    },
    "t_c4_filters" ->
      (graft.text.C4.c4CleanSql("",
        from = "(SELECT doc_id, CASE " +
          "WHEN doc_id % 3 = 0 THEN text || '.' " +
          "WHEN doc_id % 3 = 1 THEN text || '.' || chr(10) || text || '!' " +
          "|| chr(10) || text || '?' " +
          "ELSE text || ' {lorem ipsum}' END AS text " +
          "FROM documents WHERE doc_id % 4 = 3)")
        + "\nORDER BY doc_id"),
    "t_gopher_rep" ->
      (graft.text.Repetition.gopherRepetitionSql("",
        from = "(SELECT doc_id, CASE WHEN doc_id % 8 = 2 " +
          "THEN text || chr(10) || text ELSE text END AS text " +
          "FROM documents WHERE doc_id % 4 = 2)")
        + "\nORDER BY doc_id"),
    "t_normalize_nfc" ->
      s"""WITH r AS (SELECT p_partkey,
         |    p_name || ' cafe\u0301 u\u0308ber' AS raw
         |  FROM part WHERE p_partkey % 25 = 0)
         |SELECT p_partkey, nfc_normalize(raw) AS norm,
         |  CAST(length(raw) AS BIGINT) AS n_raw,
         |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_norm
         |FROM r ORDER BY p_partkey""".stripMargin,
    "p_shuffle_rank" ->
      (graft.ops.Shuffling.shuffleRankSql(seed = 17L,
        whereClause = "WHERE doc_id % 4 = 1") + "\nORDER BY id"),
    "s_ordered_shards" ->
      s"""WITH r AS (${graft.ops.Shuffling.shuffleRankSql(seed = 29L,
            whereClause = "WHERE doc_id % 2 = 1")})
         |SELECT CAST(rank // 100 AS BIGINT) AS shard,
         |  count(*) AS n_docs,
         |  min(rank) AS min_rank, max(rank) AS max_rank
         |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    "t_tfidf_top" ->
      graft.text.TfIdf.topTermsSql(5, "WHERE doc_id % 20 = 0"),
    "t_vocab_top" ->
      graft.text.Vocab.topTokensSql(50, ""),
    "t_oov_rate" ->
      (graft.text.Vocab.oovRateSql(
        graft.text.Vocab.topTokensSql(200, ""),
        "WHERE doc_id % 10 = 0") + "\nORDER BY doc_id"),
    "t_bigram_novelty" ->
      (graft.text.Ngrams.noveltyRateSql(n = 2,
        whereClause = "WHERE doc_id % 10 = 3",
        refWhereClause = "WHERE doc_id % 2 = 0") + "\nORDER BY doc_id"),
    "t_bm25_topk" ->
      (graft.text.Bm25.topKSql(
        Seq(1 -> "hash join", 2 -> "window agg stream", 3 -> "fast vector scan"),
        k = 10, whereClause = "WHERE doc_id % 2 = 1")
        + "\nORDER BY query_id, rnk"),
    "t_lm_surprise" ->
      (graft.text.Lm.surpriseScoreSql(
        whereClause = "WHERE doc_id % 10 = 7",
        refWhereClause = "WHERE doc_id % 2 = 0") + "\nORDER BY doc_id"),
    "t_lm_kneser_ney" ->
      (graft.text.Lm.kneserNeySql(
        whereClause = "WHERE doc_id % 10 = 4",
        refWhereClause = "WHERE doc_id % 2 = 0") + "\nORDER BY doc_id"),
    "t_lm_stupid_backoff" ->
      (graft.text.Lm.stupidBackoffSql(
        whereClause = "WHERE doc_id % 10 = 4",
        refWhereClause = "WHERE doc_id % 2 = 0") + "\nORDER BY doc_id"),
    "t_lm_surprise3" ->
      (graft.text.Lm.surpriseScoreSql(
        whereClause = "WHERE doc_id % 10 = 1",
        refWhereClause = "WHERE doc_id % 2 = 1", order = 3)
        + "\nORDER BY doc_id"),
    "t_token_drift" ->
      graft.text.Drift.tokenChi2Sql(k = 40,
        whereA = "WHERE doc_id % 2 = 0", whereB = "WHERE doc_id % 2 = 1"),
    "t_token_rarity" ->
      (graft.text.Vocab.tokenRaritySql(
        graft.text.Vocab.topTokensSql(300, ""),
        "WHERE doc_id % 10 = 5") + "\nORDER BY doc_id"),
    "t_chunk_windows" ->
      (graft.text.Chunking.slidingWindowsSql(chunkTokens = 32, stride = 24,
        whereClause = "WHERE doc_id % 7 = 0") + "\nORDER BY doc_id, chunk_id"),
    "t_vocab_encode" ->
      (graft.text.Vocab.encodeSql(
        graft.text.Vocab.topTokensSql(100, ""),
        "WHERE doc_id % 50 = 0") + "\nORDER BY doc_id, pos"),
    "p_ppl_buckets" ->
      graft.text.Lm.pplBucketsSql(
        whereClause = "WHERE doc_id % 3 = 0",
        refWhereClause = "WHERE doc_id % 2 = 0"),
    "p_curriculum_bins" ->
      """WITH b AS (SELECT lang, doc_id, n_chars,
        |  ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
        |  FROM documents)
        |SELECT lang, bin, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "mm_augment_plan" ->
      graft.multimodal.Multimodal.augmentPlanSql(
        "WHERE doc_id % 10 = 0", epochs = 3),
    "mm_aspect_buckets" ->
      graft.multimodal.Multimodal.aspectBucketsSql(
        """SELECT CAST(1 + octet_length(encode(text)) % 512 AS INT) AS width,
          |    CAST(1 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
          |  FROM documents WHERE doc_id % 3 = 2""".stripMargin),
    "mm_resize_plan" ->
      """WITH m AS (SELECT doc_id AS id,
        |    CAST(1 + octet_length(encode(text)) % 512 AS INT) AS width,
        |    CAST(1 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
        |  FROM documents WHERE doc_id % 10 = 0),
        |r AS (SELECT id, width, height,
        |    least(128.0 / CAST(width AS DOUBLE), 96.0 / CAST(height AS DOUBLE), 1.0) AS scale
        |  FROM m)
        |SELECT id, width, height,
        |  greatest(1, CAST(floor(CAST(width AS DOUBLE) * scale) AS BIGINT)) AS out_w,
        |  greatest(1, CAST(floor(CAST(height AS DOUBLE) * scale) AS BIGINT)) AS out_h
        |FROM r ORDER BY id""".stripMargin,
    "mm_patch_plan" ->
      """WITH m AS (SELECT doc_id AS id,
        |    CAST(1 + octet_length(encode(text)) % 512 AS INT) AS width,
        |    CAST(1 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
        |  FROM documents WHERE doc_id % 10 = 0),
        |r AS (SELECT id, width, height,
        |    least(128.0 / CAST(width AS DOUBLE), 96.0 / CAST(height AS DOUBLE), 1.0) AS scale
        |  FROM m),
        |z AS (SELECT id,
        |  greatest(1, CAST(floor(CAST(width AS DOUBLE) * scale) AS BIGINT)) AS out_w,
        |  greatest(1, CAST(floor(CAST(height AS DOUBLE) * scale) AS BIGINT)) AS out_h
        |  FROM r),
        |p AS (SELECT id, out_w, out_h,
        |  (out_w + 15) // 16 AS n_x, (out_h + 15) // 16 AS n_y FROM z)
        |SELECT id, out_w, out_h, n_x, n_y,
        |  n_x * n_y AS n_patches, n_x * n_y + 1 AS n_tokens
        |FROM p ORDER BY id""".stripMargin,
    "mm_ahash_pairs" ->
      graft.multimodal.Multimodal.aHashPairsSql(
        """SELECT doc_id AS id, cell,
          |  CASE WHEN cell = (doc_id // 7) % 48
          |    THEN 255 - CAST(('0x' || substr(md5(
          |      CAST(doc_id // 28 AS VARCHAR) || ':' ||
          |      CAST(cell AS VARCHAR)), 1, 2)) AS BIGINT)
          |    ELSE CAST(('0x' || substr(md5(
          |      CAST(doc_id // 28 AS VARCHAR) || ':' ||
          |      CAST(cell AS VARCHAR)), 1, 2)) AS BIGINT) END AS luma
          |FROM documents, range(48) t(cell)
          |WHERE doc_id % 7 = 0""".stripMargin,
        maxHamming = 5, blocks = 8),
    "mm_scene_cuts" ->
      graft.multimodal.Multimodal.sceneCutsSql("WHERE doc_id % 25 = 5"),
    "mm_audio_windows" ->
      graft.multimodal.Multimodal.audioWindowsSql("WHERE doc_id % 50 = 0"),
    "mm_frame_sample" ->
      """WITH d AS (SELECT doc_id AS id,
        |    1 + octet_length(encode(text)) % 240 AS n_frames
        |  FROM documents WHERE doc_id % 25 = 0),
        |f AS (SELECT id, n_frames, unnest(range(0, n_frames, 7)) AS frame_idx
        |  FROM d)
        |SELECT id, n_frames, frame_idx,
        |  md5(CAST(id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_fp
        |FROM f ORDER BY id, frame_idx""".stripMargin,
    "t_rolling_fp" ->
      s"""SELECT doc_id, ${graft.functions.RollingHash.rollingHashSql.replace("TXT", "text")} AS rh
         |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
    "o_asof_join" ->
      """WITH l AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders WHERE o_orderkey % 100 = 0),
        |r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, arg_max(value, event_id) AS value
        |      FROM events GROUP BY 1, 2)
        |SELECT l.o_orderkey, l.o_custkey, l.o_orderdate,
        |       r.ts AS last_ev_ts, r.value AS last_ev_value
        |FROM l ASOF LEFT JOIN r ON l.o_custkey = r.user_id AND l.o_orderdate >= r.ts
        |ORDER BY o_orderkey""".stripMargin,
    "o_asof_join_tol" ->
      """WITH l AS (SELECT event_id AS purchase_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS vts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |a AS (SELECT l.purchase_id, l.user_id, l.ts, r.vts, r.view_id
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.vts)
        |SELECT purchase_id, user_id, ts,
        |  CASE WHEN ts - vts <= 3600000000 THEN vts END AS view_ts,
        |  CASE WHEN ts - vts <= 3600000000 THEN view_id END AS view_id
        |FROM a ORDER BY purchase_id""".stripMargin,
    "o_asof_join_near" ->
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
        |ORDER BY purchase_id""".stripMargin,
    "o_asof_join_fwd" ->
      """WITH l AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders WHERE o_orderkey % 100 = 0),
        |r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, arg_max(value, event_id) AS value
        |      FROM events GROUP BY 1, 2)
        |SELECT l.o_orderkey, l.o_custkey, l.o_orderdate,
        |       r.ts AS next_ev_ts, r.value AS next_ev_value
        |FROM l ASOF LEFT JOIN r ON l.o_custkey = r.user_id AND l.o_orderdate <= r.ts
        |ORDER BY o_orderkey""".stripMargin,
    "o_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 100 = 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "o_range_join" ->
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
        |ORDER BY i_user, session_seq""".stripMargin,
    "o_range_join_rewrite" ->
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
        |ORDER BY i_user, session_seq""".stripMargin,
    "ev_attribution" ->
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
        |ORDER BY p_user, purchase_id""".stripMargin,
    "a_bag_setops" ->
      """WITH a AS (SELECT l_returnflag, l_linestatus FROM lineitem
        |    WHERE l_orderkey % 6 = 0),
        |b AS (SELECT l_returnflag, l_linestatus FROM lineitem
        |    WHERE l_orderkey % 9 = 0),
        |ea AS (SELECT l_returnflag, l_linestatus,
        |    CAST(count(*) AS BIGINT) AS n, 'except_all' AS op
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) q
        |  GROUP BY 1, 2),
        |ia AS (SELECT l_returnflag, l_linestatus,
        |    CAST(count(*) AS BIGINT) AS n, 'intersect_all' AS op
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) q
        |  GROUP BY 1, 2)
        |SELECT * FROM ea UNION ALL SELECT * FROM ia
        |ORDER BY op, l_returnflag, l_linestatus""".stripMargin,
    "a_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |    FROM orders WHERE o_orderkey % 4 <> 0),
        |u AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT * FROM u
        |UNION ALL
        |SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
        |ORDER BY o_orderkey""".stripMargin,
    "o_changelog_apply" ->
      s"""WITH $changelogOracleCtes
         |SELECT k, status, price FROM winner WHERE op <> 'D'
         |UNION ALL
         |SELECT k, status, price FROM base
         |WHERE k NOT IN (SELECT k FROM log)
         |ORDER BY k""".stripMargin,
    "o_write_conflicts" ->
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
         |ORDER BY wa.k""".stripMargin,
    // the stream twin must land on the BATCH apply's exact rows —
    // one oracle text serves both gates
    "st_changelog" ->
      s"""WITH $changelogOracleCtes
         |SELECT k, status, price FROM winner WHERE op <> 'D'
         |UNION ALL
         |SELECT k, status, price FROM base
         |WHERE k NOT IN (SELECT k FROM log)
         |ORDER BY k""".stripMargin,
    "o_changelog_net" ->
      s"""WITH $changelogOracleCtes
         |SELECT w.k, w.n_ops, w.op AS last_op,
         |  CASE WHEN b.k IS NOT NULL THEN
         |    (CASE WHEN w.op = 'D' THEN 'delete' ELSE 'update' END)
         |  ELSE
         |    (CASE WHEN w.op = 'D' THEN 'noop' ELSE 'insert' END)
         |  END AS net
         |FROM winner w LEFT JOIN (SELECT DISTINCT k FROM base) b
         |  ON w.k = b.k
         |ORDER BY w.k""".stripMargin,
    // the stream twin must land on the batch KM's exact rows
    "st_survival" ->
      graft.ops.Survival.kaplanMeierSql(
        """SELECT user_id, (epoch_ns(ts) // 86400000000000) - 19723 AS day
          |FROM events
          |WHERE (epoch_ns(ts) // 86400000000000) - 19723 <= user_id % 29"""
          .stripMargin,
        gapDays = 5),
    "ev_survival" ->
      graft.ops.Survival.kaplanMeierSql(
        """SELECT user_id, (epoch_ns(ts) // 86400000000000) - 19723 AS day
          |FROM events
          |WHERE (epoch_ns(ts) // 86400000000000) - 19723 <= user_id % 29"""
          .stripMargin,
        gapDays = 5),
    "ev_scd2" ->
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
        |FROM f ORDER BY user_id, run_idx""".stripMargin,
    "a_union_by_name" ->
      """SELECT o_orderkey, o_orderpriority, CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 200 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS VARCHAR), o_totalprice
        |FROM orders WHERE o_orderkey % 200 = 100
        |ORDER BY o_orderkey""".stripMargin,
    "o_interval_overlap" ->
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
        |ORDER BY l_user, l_seq, r_user, r_seq""".stripMargin,
    "ev_sessionize" ->
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
        |ORDER BY user_id, session_seq""".stripMargin,
    "ev_transitions" ->
      graft.ops.Transitions.transitionCensusSql("WHERE user_id % 5 = 0"),
    "e_dim_stats" ->
      graft.ann.DimStats.dimStatsSql("WHERE vec_id % 2 = 0"),
    "d_source_overlap" ->
      graft.dedup.Provenance.sourceOverlapSql("WHERE doc_id % 2 = 0",
        "CASE WHEN doc_id % 3 = 0 THEN 'syndicated item ' || " +
          "CAST(doc_id % 7 AS VARCHAR) ELSE text END"),
    "e_embedding_drift" ->
      graft.ann.DimStats.pairedDriftCensusSql("WHERE vec_id % 4 = 1",
        "CASE WHEN vec_id % 5 = 0 THEN list_concat(" +
          "[CAST(CAST(embedding[1] AS DOUBLE) + 0.5 AS FLOAT)], " +
          "embedding[2:]) ELSE embedding END"),
    "t_lexical_diversity" ->
      graft.text.Vocab.lexicalDiversitySql("source", "WHERE doc_id % 2 = 0"),
    "t_heaps_law" ->
      graft.text.Vocab.heapsGrowthSql(25L, ""),
    "o_bloom_stats" ->
      graft.ops.Bloom.statsSql(
        "SELECT l_partkey AS fk FROM lineitem",
        "SELECT p_partkey AS dk FROM part WHERE p_retailprice > 950",
        m = 8192, k = 3),
    "o_bloom_join" ->
      graft.ops.Bloom.semiJoinSql(
        "SELECT l_partkey AS fk, l_orderkey * 10 + l_linenumber AS rid " +
          "FROM lineitem WHERE l_orderkey % 7 = 0",
        "SELECT p_partkey AS dk FROM part WHERE p_retailprice > 950"),
    "st_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events
        |FROM events WHERE user_id % 10 = 0
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "st_dedup" ->
      """SELECT DISTINCT event_id FROM events WHERE user_id % 10 = 0
        |ORDER BY event_id""".stripMargin,
    "st_sliding" ->
      // a 2h window sliding 1h holds each event in exactly the two
      // hour-aligned windows [h-1h, h+1h) and [h, h+2h)
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type
        |  FROM events WHERE user_id % 10 = 0),
        |u AS (SELECT h - INTERVAL 1 HOUR AS win_start, event_type FROM e
        |  UNION ALL SELECT h, event_type FROM e)
        |SELECT win_start, event_type, count(*) AS n_events
        |FROM u GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "st_ewma" ->
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
        |ORDER BY n.user_id""".stripMargin,
    "st_hll" ->
      graft.ops.Hll.registersSql(
        "(SELECT user_id FROM events WHERE user_id % 10 = 0) ev", "user_id"),
    "st_interval_join" ->
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
        |ORDER BY v.user_id, view_id, purchase_id""".stripMargin,
    "st_classifier" -> {
      // per-doc batch score + the synthetic hour grid (hour is a pure
      // function of the doc id — see docStream)
      val inner = graft.text.HashedClassifier.scoreSql("WHERE doc_id % 7 = 0")
        .replace("ORDER BY id", "")
      s"""WITH base AS ($inner)
         |SELECT make_timestamp((1704067200 + (id // 40) * 3600) * 1000000)
         |    AS hour,
         |  id, n_grams, w_sum, score
         |FROM base ORDER BY id""".stripMargin
    },
    "st_encode_stats" -> {
      val inner = graft.text.Bpe.encodeStatsSql(8,
        "WHERE doc_id % 10 = 0", "WHERE doc_id % 20 = 5")
        .replace("ORDER BY id", "")
      s"""WITH base AS ($inner)
         |SELECT make_timestamp((1704067200 + (id // 40) * 3600) * 1000000)
         |    AS hour,
         |  id, n_subwords, n_oov
         |FROM base ORDER BY id""".stripMargin
    },
    "st_surprise" -> {
      val inner = graft.text.Lm.surpriseScoreSql(
        whereClause = "WHERE doc_id % 10 = 7",
        refWhereClause = "WHERE doc_id % 2 = 0")
      s"""WITH base AS ($inner)
         |SELECT make_timestamp((1704067200 + (doc_id // 40) * 3600) * 1000000)
         |    AS hour,
         |  doc_id AS id, n_grams, surprise_micro
         |FROM base ORDER BY id""".stripMargin
    },
    "st_minhash_incr" ->
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
        maxBucketSize = Int.MaxValue),
    "st_decontam" -> {
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
    },
    "st_semantic_contam" ->
      graft.ann.Ann.semanticContamPairsSql(semContamCorpusSql,
        semContamEvalSql, 0.98, planes = 192, bands = 16),
    "st_cms" ->
      graft.ops.Sketches.cmsCellsSql(
        "(SELECT user_id FROM events WHERE user_id % 10 = 0) ev",
        "user_id", 4, 64),
    "st_incr_agg" ->
      graft.ops.IncrementalAgg.directSql("lineitem", Seq("l_suppkey"),
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        whereClause = "WHERE l_orderkey % 4 = 1"),
    "st_dq" ->
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
        |ORDER BY win_start, rule""".stripMargin,
    "st_funnel" ->
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
        |FROM u ORDER BY user_id, step_idx""".stripMargin,
    "st_scd2" ->
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
        |ORDER BY user_id, seq""".stripMargin,
    "st_sessionize_native" ->
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
        |ORDER BY user_id, session_seq""".stripMargin,
    "st_sessionize" ->
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
        |ORDER BY user_id, session_seq""".stripMargin,
    "ev_sessionize_events" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w > 3600000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, make_timestamp(ts // 1000) AS ev_ts,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM m ORDER BY user_id, event_id""".stripMargin,
    "p_paragraph_dedup" ->
      graft.dedup.Paragraph.dedupFirstOccurrenceSql(
        """SELECT doc_id, concat_ws('#',
          |  substring(text, 1, 40),
          |  'shared quote ' || CAST(doc_id % 7 AS VARCHAR),
          |  substring(text, 41, 40),
          |  CASE WHEN doc_id % 4 = 0 THEN 'limited time offer banner'
          |       ELSE substring(text, 81, 30) END) AS text
          |FROM documents WHERE doc_id % 5 = 0""".stripMargin,
        sep = "#"),
    "t_lang_rebalance" ->
      graft.ops.Sampling.temperatureWeightsSql("documents", "lang", "lang"),
    "s_warc_roundtrip" ->
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 3 ORDER BY id""".stripMargin,
    "st_warc_ingest" ->
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 1 AND doc_id < 50000
        |ORDER BY id""".stripMargin,
    "s_warc_gz" ->
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 2 ORDER BY id""".stripMargin,
    "st_warc_gz" ->
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 4 AND doc_id < 50000
        |ORDER BY id""".stripMargin,
    "s_jsonl_quarantine" ->
      """SELECT doc_id, md5(text) AS digest, 0 AS bad FROM documents
        |WHERE doc_id % 7 = 1 AND doc_id < 50000 AND doc_id % 3 <> 0
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 1
        |FROM documents
        |WHERE doc_id % 7 = 1 AND doc_id < 50000 AND doc_id % 3 = 0
        |ORDER BY bad, doc_id""".stripMargin,
    "st_jsonl_quarantine" ->
      """SELECT doc_id, md5(text) AS digest, 0 AS bad FROM documents
        |WHERE doc_id % 7 = 3 AND doc_id < 50000 AND doc_id % 3 <> 0
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 1
        |FROM documents
        |WHERE doc_id % 7 = 3 AND doc_id < 50000 AND doc_id % 3 = 0
        |ORDER BY bad, doc_id""".stripMargin,
    "s_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "s_json_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "s_orc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "s_binary_ingest" ->
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 100 = 1 AND doc_id < 20000
        |ORDER BY id""".stripMargin,
    "s_dq_report" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
        |v AS (
        |  SELECT 'price_nonpositive' AS rule, CAST(coalesce(sum(
        |    CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS n_violations FROM orders
        |  UNION ALL SELECT 'status_null', CAST(coalesce(sum(
        |    CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    FROM orders
        |  UNION ALL SELECT 'status_unknown', CAST(coalesce(sum(
        |    CASE WHEN NOT (o_orderstatus IN ('F', 'O', 'P')) THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM orders
        |  UNION ALL SELECT 'date_after_1997', CAST(coalesce(sum(
        |    CASE WHEN o_orderdate > DATE '1997-01-01' THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM orders)
        |SELECT rule, n_violations, n.n_rows,
        |  CASE WHEN n.n_rows > 0 THEN
        |    ((n.n_rows - n_violations) * 1000000) // n.n_rows END AS pass_ppm
        |FROM v, n ORDER BY rule""".stripMargin,
    "d_ensemble_pairs" -> {
      val mh = graft.dedup.Dedup.minhashLshSql(16, 4, "WHERE doc_id % 5 = 0")
      val sh = graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0")
      s"""WITH mh AS (SELECT id_a, id_b FROM ($mh) qmh),
         |shp AS (SELECT id_a, id_b FROM ($sh) qsh),
         |u AS (SELECT id_a, id_b, 'minhash' AS method FROM mh
         |  UNION ALL SELECT id_a, id_b, 'simhash' FROM shp)
         |SELECT id_a, id_b, CAST(count(*) AS INT) AS n_methods,
         |  string_agg(method, '+' ORDER BY method) AS methods
         |FROM u GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin
    },
    "q_unpivot" ->
      """WITH g AS (SELECT o_orderpriority, o_orderstatus,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT DISTINCT o_orderpriority FROM orders),
        |st AS (SELECT unnest(['F', 'O', 'P']) AS status)
        |SELECT p.o_orderpriority, st.status, coalesce(g.c, 0) AS n_orders
        |FROM p CROSS JOIN st
        |LEFT JOIN g ON g.o_orderpriority = p.o_orderpriority
        |  AND g.o_orderstatus = st.status
        |ORDER BY p.o_orderpriority, st.status""".stripMargin,
    "s_bucketed_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "s_compaction_plan" ->
      """WITH m AS (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS file_id,
        |    CAST(count(*) * 64 AS BIGINT) AS n_bytes
        |  FROM orders GROUP BY 1),
        |c AS (SELECT file_id, n_bytes,
        |    CAST(coalesce(sum(n_bytes) OVER (ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM m)
        |SELECT file_id, n_bytes, cum_before // 200000 AS grp,
        |  cum_before % 200000 AS grp_offset
        |FROM c ORDER BY file_id""".stripMargin,
    "s_merge_schema" ->
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey,
        |    CAST(NULL AS INTEGER) AS extra, 'v1' AS src FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, CAST(NULL AS VARCHAR), n_regionkey,
        |    CAST(n_nationkey * 2 AS INTEGER), 'v2' FROM nation)
        |ORDER BY n_nationkey, src""".stripMargin,
    "s_heavy_hitters" ->
      """WITH c AS (SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(n_rows) AS total FROM c)
        |SELECT l_partkey, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c, t ORDER BY n_rows DESC, l_partkey LIMIT 25""".stripMargin,
    "s_shard_manifest" ->
      (graft.sources.Sources.shardManifestSql("documents", "doc_id",
        Seq("doc_id", "source", "lang"), nShards = 8) + "\nORDER BY shard"),
    "s_shard_delta" -> {
      val cols = Seq("doc_id", "source", "lang")
      val shardOf =
        s"(${graft.ops.Sampling.bucketSql("doc_id", 42L)} % 8)"
      val prev = graft.sources.Sources.shardManifestSql("documents",
        "doc_id", cols, nShards = 8,
        whereClause = s"WHERE $shardOf <> 3 " +
          s"AND NOT ($shardOf = 5 AND doc_id % 7 = 0)")
      val cur = graft.sources.Sources.shardManifestSql("documents",
        "doc_id", cols, nShards = 8)
      s"""WITH p AS ($prev), c AS ($cur)
         |SELECT coalesce(p.shard, c.shard) AS shard,
         |  CAST(coalesce(p.n_rows, 0) AS BIGINT) AS n_prev,
         |  CAST(coalesce(c.n_rows, 0) AS BIGINT) AS n_cur,
         |  CASE WHEN p.checksum IS NULL THEN 'added'
         |       WHEN c.checksum IS NULL THEN 'removed'
         |       WHEN p.checksum = c.checksum THEN 'same'
         |       ELSE 'changed' END AS status
         |FROM p FULL OUTER JOIN c ON p.shard = c.shard
         |ORDER BY shard""".stripMargin
    },
    "d_dupe_rate_by_source" -> {
      val pairs = graft.dedup.Dedup.simhashPairsSql(
        3, 6, "WHERE doc_id % 5 = 0")
      s"""WITH du AS (SELECT DISTINCT id FROM (
         |    SELECT id_a AS id FROM ($pairs) q1
         |    UNION SELECT id_b FROM ($pairs) q2) u)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN du.id IS NOT NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_dupes,
         |  (CAST(coalesce(sum(CASE WHEN du.id IS NOT NULL THEN 1 END), 0)
         |    AS BIGINT) * 1000000) // count(*) AS dupe_ppm
         |FROM documents d LEFT JOIN du ON d.doc_id = du.id
         |WHERE d.doc_id % 5 = 0
         |GROUP BY source ORDER BY source""".stripMargin
    },
    "s_fd_audit" ->
      graft.ops.Integrity.fdSummarySql("lineitem", Seq(
        ("line_key_to_part", Seq("l_orderkey", "l_linenumber"),
          "l_partkey"),
        ("order_to_linestatus", Seq("l_orderkey"), "l_linestatus"),
        ("part_to_supp", Seq("l_partkey"), "l_suppkey"))),
    "s_ri_orphans" ->
      graft.ops.Integrity.riAuditSql(
        "lineitem", "l_orderkey",
        "(SELECT o_orderkey FROM orders WHERE o_orderkey % 5 <> 2)",
        "o_orderkey"),
    "s_join_size_est" ->
      graft.ops.JoinStats.joinSizeEstimateSql(
        "lineitem", "l_orderkey",
        "(SELECT * FROM orders WHERE o_orderkey % 3 = 0) ob", "o_orderkey"),
    "s_k_anon" -> {
      val natS = "CAST(c_nationkey AS VARCHAR)"
      def balS(w: Int) =
        s"CAST((CAST(floor(c_acctbal) AS BIGINT) + 1000) // $w AS VARCHAR)"
      def slvl(n: String, sg: String, b: String) =
        Seq(n -> "g_nation", sg -> "g_segment", b -> "g_bal")
      graft.ops.Anonymize.kAnonLadderSql("customer", Seq(
        slvl(natS, "c_mktsegment", balS(500)),
        slvl(natS, "c_mktsegment", balS(1000)),
        slvl(natS, "c_mktsegment", balS(2000)),
        slvl(natS, "c_mktsegment", "'*'"),
        slvl(natS, "'*'", "'*'"),
        slvl("'*'", "'*'", "'*'")), k = 10,
        orderBy = Seq("g_nation", "g_segment", "g_bal"))
    },
    "s_l_diversity" -> {
      val natS = "CAST(c_nationkey AS VARCHAR)"
      def balS(w: Int) =
        s"CAST((CAST(floor(c_acctbal) AS BIGINT) + 1000) // $w AS VARCHAR)"
      def slvl(n: String, b: String) =
        Seq(n -> "g_nation", b -> "g_bal")
      graft.ops.Anonymize.lDiverseLadderSql("customer", Seq(
        slvl(natS, balS(500)), slvl(natS, balS(1000)),
        slvl(natS, balS(2000)), slvl(natS, "'*'"),
        slvl("'*'", "'*'")), "c_mktsegment", k = 10, l = 3,
        orderBy = Seq("g_nation", "g_bal"))
    },
    "s_zorder_skip" ->
      graft.sources.Sources.zorderSkipContrastSql(
        "lineitem", "l_partkey % 1024", "l_orderkey % 1024",
        bits = 10, nZones = 256,
        xLo = 100L, xHi = 150L, yLo = 200L, yHi = 250L),
    "s_hilbert_skip" ->
      graft.sources.Sources.hilbertSkipContrastSql(
        "lineitem", "l_partkey % 1024", "l_orderkey % 1024",
        bits = 10, nZones = 192,
        xLo = 100L, xHi = 150L, yLo = 200L, yHi = 250L),
    "s_zone_skip" ->
      graft.sources.Sources.layoutSkipContrastSql(
        "orders", "o_orderkey",
        "(CAST(o_orderdate AS DATE) - DATE '1970-01-01')",
        nZones = 64,
        loSql = "DATE '1995-01-01' - DATE '1970-01-01'",
        hiSql = "DATE '1995-03-31' - DATE '1970-01-01'"),
    "s_partition_prune" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "s_dynamic_prune" ->
      """WITH y AS (SELECT year(o_orderdate) AS y
        |  FROM orders GROUP BY 1 HAVING max(o_totalprice) > 499000.0)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  min(o_orderkey) AS min_key
        |FROM orders JOIN y ON year(o_orderdate) = y.y
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "c_load_roundtrip" ->
      """SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_name""".stripMargin,
    "mm_decode_meta" ->
      """SELECT doc_id AS id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST(1 + octet_length(encode(text)) % 512 AS INT) AS width,
        |CAST(1 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height,
        |CASE octet_length(encode(text)) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY id""".stripMargin,
  )
}
