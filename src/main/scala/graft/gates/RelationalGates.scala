package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Fixtures._

/** The analytical core: TPC-H-shaped queries (`q*`) and window
  * functions (`w_`), Catalyst-planned joins and aggregations.
  */
private[gates] object RelationalGates {

  /** price × (1 - discount) with exact decimal arithmetic. */
  private def revenueExpr: Column =
    dec(dec(col("l_extendedprice"), 18, 4) * (lit(1) - dec(col("l_discount"), 6, 4)), 18, 8)

  private val revenueSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(18,8))"

  val gates: Seq[Gate] = Seq(
    Gate("q1_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decAgg(sum(dec(col("l_quantity"), 12, 2)), 18, 2).as("sum_qty"),
          decAgg(sum(dec(col("l_extendedprice"), 18, 4)), 24, 4).as("sum_base_price"),
          decAgg(sum(revenueExpr), 28, 8).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(24,4)) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |CAST(CAST(CAST(SUM(REV) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("REV", revenueSql)),
    Gate("q3_shipping_priority", (s, dir) => {
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
    },
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
        |LIMIT 10""".stripMargin.replace("REV", revenueSql)),
    Gate("q5_local_supplier", (s, dir) => {
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
    },
      """SELECT n_name, CAST(CAST(CAST(SUM(REV) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin.replace("REV", revenueSql)),
    Gate("w_topk_per_segment", (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("c_mktsegment"), col("rn"))
    },
      """SELECT * FROM (
        |SELECT c_mktsegment, o_orderkey, o_totalprice,
        |CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |FROM orders JOIN customer ON o_custkey = c_custkey) x
        |WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin),

    Gate("q6_forecast_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 24)
        .agg(decAgg(sum(dec(dec(col("l_extendedprice"), 18, 4) * dec(col("l_discount"), 6, 4), 18, 8)), 28, 8)
          .as("revenue"))
    },
      """SELECT CAST(CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(6,4)) AS DECIMAL(18,8))) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 24""".stripMargin),
    Gate("q4_priority_exists", (s, dir) => {
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
    },
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |AND EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Gate("q10_returned_items", (s, dir) => {
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
    },
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
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Gate("q18_large_orders", (s, dir) => {
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
    },
      """WITH big AS (SELECT l_orderkey,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) > 75.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin),
    Gate("q2_min_cost_supplier", (s, dir) => {
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
    },
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
        |WHERE rn = 1 ORDER BY p_partkey""".stripMargin),
    Gate("q11_important_parts", (s, dir) => {
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
    },
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
        |ORDER BY part_value DESC, l_partkey""".stripMargin),
    Gate("q12_priority_counts", (s, dir) => {
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
    },
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    Gate("q13_order_distribution", (s, dir) => {
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
    },
      """WITH pc AS (SELECT c_custkey, COUNT(o_custkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F') o
        |  ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist FROM pc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Gate("q15_top_supplier", (s, dir) => {
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
    },
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
        |ORDER BY s_suppkey""".stripMargin),
    Gate("q17_small_quantity", (s, dir) => {
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
    },
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
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin),
    Gate("q19_disjunctive_filter", (s, dir) => {
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
    },
      s"""SELECT
        |  CAST(CAST(CAST(SUM($revenueSql) AS DECIMAL(28,8)) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1.0 AND 11.0)
        |OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10.0 AND 20.0)
        |OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin),
    Gate("q22_idle_customers", (s, dir) => {
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
    },
      """WITH av AS (SELECT
        |  CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS totacctbal
        |FROM customer, av
        |WHERE c_acctbal > av.avg_bal
        |AND NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    Gate("q14_promo_revenue", (s, dir) => {
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
    },
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
        |FROM a""".stripMargin),
    Gate("q7_nation_volume", (s, dir) => {
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
    },
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
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    Gate("q8_market_share", (s, dir) => {
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
    },
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
        |FROM an GROUP BY o_year ORDER BY o_year""".stripMargin),
    Gate("q9_product_profit", (s, dir) => {
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
    },
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
        |FROM pf GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin),
    Gate("q16_supplier_count", (s, dir) => {
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
    },
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_size IN (1, 9, 19, 25, 33, 38, 42, 47)
        |AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    Gate("q20_part_promotion", (s, dir) => {
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
    },
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
        |ORDER BY s_suppkey""".stripMargin),
    Gate("q21_waiting_suppliers", (s, dir) => {
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
    },
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
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),
    Gate("q_rollup_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          decAgg(sum(dec(col("l_quantity"), 12, 2)), 18, 2).as("sum_qty"),
          grouping(col("l_returnflag")).cast(IntegerType).as("g_flag"),
          grouping(col("l_linestatus")).cast(IntegerType).as("g_status"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    Gate("q_distinct_agg", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Gate("q_pivot_status", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
        |count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Gate("q_cube_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    Gate("q_grouping_sets", (s, dir) => {
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
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    Gate("w_percent_rank", (s, dir) => {
      // rank-family window breadth: percent_rank/cume_dist are exact
      // rationals ((rank-1)/(n-1), rank/n) — integer divisions in
      // doubles, bit-identical cross-engine
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
        .orderBy("lang", "doc_id")
    },

      """SELECT lang, doc_id, n_chars,
        |percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM documents WHERE doc_id % 20 = 0
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars)
        |ORDER BY lang, doc_id""".stripMargin),
    Gate("w_cume_dist", (s, dir) => {
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
    },
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  cume_dist() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS cd
        |FROM orders WHERE o_orderkey % 250 = 0
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),
    Gate("q_bool_aggs", (s, dir) =>
      // boolean-aggregate breadth (count_if / every / any) — the
      // predicate-summary idiom; DuckDB twins are count_if/bool_and/
      // bool_or
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("count_if(o_totalprice > 100000)").as("n_big"),
          expr("every(o_totalprice > 0)").as("all_positive"),
          expr("any(o_orderstatus = 'P')").as("has_pending"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_orderstatus = 'P') AS has_pending
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Gate("w_lead_lag_ntile", (s, dir) => {
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
    },
      """SELECT lang, doc_id, n_chars,
        |lead(n_chars) OVER w - n_chars AS next_delta,
        |lag(n_chars, 1, -1) OVER w AS prev_chars,
        |CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM documents WHERE doc_id % 20 = 0 AND lang IS NOT NULL
        |WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
        |ORDER BY lang, doc_id""".stripMargin),
    Gate("w_value_windows", (s, dir) => {
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
    },
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
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),
    Gate("q_mode", (s, dir) => {
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
    },
      """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY n DESC, o_orderstatus ASC) AS rn FROM c)
        |SELECT o_orderpriority, o_orderstatus AS mode_status, n AS n_mode
        |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin),
    Gate("q_topk_agg", (s, dir) => {
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
    },
      """WITH r AS (SELECT o_orderpriority, o_totalprice, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders)
        |SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_totalprice, o_orderkey
        |FROM r WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin),
    Gate("q_unpivot", (s, dir) => {
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
    },
      """WITH g AS (SELECT o_orderpriority, o_orderstatus,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT DISTINCT o_orderpriority FROM orders),
        |st AS (SELECT unnest(['F', 'O', 'P']) AS status)
        |SELECT p.o_orderpriority, st.status, coalesce(g.c, 0) AS n_orders
        |FROM p CROSS JOIN st
        |LEFT JOIN g ON g.o_orderpriority = p.o_orderpriority
        |  AND g.o_orderstatus = st.status
        |ORDER BY p.o_orderpriority, st.status""".stripMargin),
  )
}
