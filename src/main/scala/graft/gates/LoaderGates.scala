package graft
package gates

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.FrameOps
import Fixtures._

/** The loader's gates: its reference operators (`a*`, SURVEY.md
  * §2.A), the planner demos (`b7_`, `c*`), JSON property extraction
  * (`j_`) and the flagship `c_load_roundtrip`.
  */
private[gates] object LoaderGates {

  private val compareCols =
    Seq("c_name", "o_totalprice", "l_quantity", "n_name", "r_name")

  val gates: Seq[Gate] = Seq(
    Gate("a_intersect", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select(col("o_orderpriority")).distinct()
        .intersect(Seq("1-URGENT", "3-MEDIUM", "9-NOPE").toDF("o_orderpriority"))
        .orderBy("o_orderpriority")
    },
      """SELECT DISTINCT o_orderpriority FROM orders
        |INTERSECT
        |SELECT * FROM (VALUES ('1-URGENT'), ('3-MEDIUM'), ('9-NOPE')) t(o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin),
    Gate("a_full_outer", (s, dir) => {
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
    },
      """SELECT n_nationkey, n_name, r_regionkey, r_name
        |FROM (SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 10) n
        |FULL OUTER JOIN (SELECT r_regionkey, r_name FROM region WHERE r_regionkey % 2 = 0) r
        |ON n.n_regionkey = r.r_regionkey
        |ORDER BY n_nationkey NULLS FIRST, r_regionkey NULLS FIRST""".stripMargin),
    Gate("a_semi_anti_join", (s, dir) => {
      val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
      val withOrders = building
        .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_orders"))
      val withoutOrders = building
        .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_orders"))
      withOrders.crossJoin(withoutOrders)
    },
      """SELECT
        |(SELECT count(*) FROM customer c WHERE c_mktsegment = 'BUILDING'
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)) AS n_with_orders,
        |(SELECT count(*) FROM customer c WHERE c_mktsegment = 'BUILDING'
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)) AS n_without_orders""".stripMargin),

    Gate("a1_preprocess", (s, dir) => {
      FrameOps.preprocess(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")),
        Map("l_returnflag" -> "flag", "l_linestatus" -> "status"))
        .orderBy("flag", "status")
    },
      """SELECT DISTINCT l_returnflag AS flag, l_linestatus AS status
        |FROM lineitem ORDER BY flag, status""".stripMargin),
    Gate("a2_postprocess", (s, dir) => {
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
    },
      """SELECT c_name, c_nationkey
        |FROM (SELECT DISTINCT c_name, c_mktsegment, c_nationkey FROM customer)
        |ORDER BY c_name, c_nationkey""".stripMargin),
    Gate("a5_match_types", (s, dir) => {
      // A5 direct gate: a "db-fetched" frame arrives with drifted
      // dtypes (both stringified, the lowest-common-denominator JDBC
      // fetch); matchTypes casts back to the in-flight frame's schema.
      // double→string→double round-trips exactly (Java shortest-repr
      // toString, correctly-rounded parse), so values are untouched
      // and the oracle check's schema compare is the assertion: output
      // parquet types must equal the oracle's native BIGINT/DOUBLE —
      // an uncast column fails schema_match.
      val target = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal")).schema
      val drifted = t(s, dir, "customer")
        .select(col("c_custkey").cast(StringType).as("c_custkey"),
          col("c_acctbal").cast(StringType).as("c_acctbal"))
      FrameOps.matchTypes(drifted, target).orderBy("c_custkey")
    },
      """SELECT c_custkey, c_acctbal FROM customer ORDER BY c_custkey"""),
    Gate("a8_drop_replaced", (s, dir) => {
      // A8 direct gate: after id retrieval the natural columns are
      // dropped; the absent-column entry must be tolerated silently
      // (reference regression tests/test_bugs.py:192-220)
      val merged = t(s, dir, "customer")
        .select(col("c_name"), col("c_mktsegment"), col("c_custkey").as("customer_id"))
      FrameOps.dropReplaced(merged, Seq("c_name", "c_mktsegment", "absent_column"))
        .orderBy("customer_id")
    },
      """SELECT c_custkey AS customer_id FROM customer ORDER BY customer_id"""),
    Gate("a3_has_nulls", (s, dir) => {
      val withNulls = t(s, dir, "orders")
        .select(nullif(col("o_orderpriority"), lit("1-URGENT")).as("pr"))
      val hasN = FrameOps.hasNulls(withNulls)
      val nNull = withNulls.filter(col("pr").isNull).count()
      s.createDataFrame(
        java.util.Arrays.asList(Row(nNull, hasN)),
        StructType(Seq(StructField("n_null_rows", LongType, nullable = false),
          StructField("has_nulls", BooleanType, nullable = false))))
    },
      """SELECT count(*) FILTER (WHERE nullif(o_orderpriority, '1-URGENT') IS NULL) AS n_null_rows,
        |count(*) FILTER (WHERE nullif(o_orderpriority, '1-URGENT') IS NULL) > 0 AS has_nulls
        |FROM orders""".stripMargin),
    Gate("a4_get_rows", (s, dir) => {
      FrameOps.getRows(t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"))
        .orderBy("c_nationkey", "c_mktsegment")
    },
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    Gate("a6_merge_ids", (s, dir) => {
      val customer = t(s, dir, "customer")
      val data = customer.select(col("c_name"), col("c_mktsegment")).dropDuplicates()
      val dbSide = customer.select(col("c_custkey").as("customer_id"),
        col("c_name"), col("c_mktsegment"))
      FrameOps.mergeIds(data, dbSide, "customer_id", "customer")
        .orderBy("customer_id")
    },
      """SELECT d.c_name AS c_name, d.c_mktsegment AS c_mktsegment, c.c_custkey AS customer_id
        |FROM (SELECT DISTINCT c_name, c_mktsegment FROM customer) d
        |LEFT JOIN customer c
        |ON d.c_name IS NOT DISTINCT FROM c.c_name
        |AND d.c_mktsegment IS NOT DISTINCT FROM c.c_mktsegment
        |ORDER BY customer_id""".stripMargin),
    Gate("a7_compare_except", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select(col("o_orderpriority")).distinct()
        .except(Seq("1-URGENT").toDF("o_orderpriority"))
        .orderBy("o_orderpriority")
    },
      """SELECT DISTINCT o_orderpriority FROM orders
        |EXCEPT SELECT '1-URGENT' AS o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Gate("a11_drop_nulls", (s, dir) => {
      FrameOps.dropNulls(
        t(s, dir, "orders").select(col("o_orderkey"),
          nullif(col("o_orderpriority"), lit("1-URGENT")).as("priority")))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS priority
        |FROM orders WHERE nullif(o_orderpriority, '1-URGENT') IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin),

    // planner demos (SURVEY.md §2.C): generated SQL is executed
    // by Spark here and by DuckDB as its own oracle
    Gate("b7_compare_query", (s, dir) => {
      Seq("region", "nation", "customer", "orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(Demo.tpchSchema.getCompareQuery(compareCols, aliasQuote = "`") +
        "\nORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST")
    },
      (Demo.tpchSchema.getCompareQuery(compareCols) +
        "\nORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST")),
    Gate("c5_load_instructions", (s, dir) => {
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
    },
      {
      val li = Demo.tpchSchema.getLoadInstructions(compareCols)
      val values = (li.insertAndRetrieve.zipWithIndex.map { case (sp, i) =>
        s"(${i + 1}, 'insert_and_retrieve', '${sp.table}', '${sp.alias}')"
      } ++ li.insert.zipWithIndex.map { case (sp, i) =>
        s"(${li.insertAndRetrieve.size + i + 1}, 'insert', '${sp.table}', CAST(NULL AS VARCHAR))"
      }).mkString(",\n")
      s"SELECT CAST(ord AS INT) AS ord, phase, tbl, alias FROM (VALUES\n$values\n) t(ord, phase, tbl, alias) ORDER BY ord"
    }),
    Gate("j_props_extract", (s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast(IntegerType).as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
        |CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("a_cross_join", (s, dir) => {
      // cross-join breadth: every region × every distinct order
      // status (a broadcast nested-loop at any scale — the dimension
      // sides are tiny by construction)
      t(s, dir, "region").select(col("r_name"))
        .crossJoin(t(s, dir, "orders").select(col("o_orderstatus")).distinct())
        .orderBy("r_name", "o_orderstatus")
    },
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin),
    Gate("c_checksum", (s, dir) => {
      // order-independent reconciliation checksum (map-only digest,
      // one-row reduce): the cheap first gate before a full row-level
      // compare; DECIMAL(38,0) sum ships as a digit string
      graft.ops.Checksum.checksum(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    },
      graft.ops.Checksum.checksumSql("orders",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    Gate("c_checksum_canon", (s, dir) => {
      // the canonicalized variant closes the doubles/timestamps edge
      // the plain checksum fences off: quantized IEEE floor for
      // o_totalprice, epoch micros for o_orderdate — engine-exact on
      // both systems without caller-side formatting
      graft.ops.Checksum.checksumCanonical(t(s, dir, "orders"),
        Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus"))
    },
      {
      // o_orderdate is parquet timestamp[ms] without UTC adjustment ->
      // Spark reads TimestampNTZ; the oracle mirrors that dispatch
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampNTZType}
      graft.ops.Checksum.checksumCanonicalSql("orders", Seq(
        "o_orderkey" -> LongType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderstatus" -> StringType))
    }),
    Gate("a_bag_setops", (s, dir) => {
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
    },
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
        |ORDER BY op, l_returnflag, l_linestatus""".stripMargin),
    Gate("a_upsert", (s, dir) => {
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
    },
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |    FROM orders WHERE o_orderkey % 4 <> 0),
        |u AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT * FROM u
        |UNION ALL
        |SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
        |ORDER BY o_orderkey""".stripMargin),
    Gate("a_union_by_name", (s, dir) => {
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
    },
      """SELECT o_orderkey, o_orderpriority, CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 200 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS VARCHAR), o_totalprice
        |FROM orders WHERE o_orderkey % 200 = 100
        |ORDER BY o_orderkey""".stripMargin),

    // the flagship reference capability under the oracle gate:
    // normalize a denormalized frame into a fresh Derby star schema via
    // the full load pipeline (plan → conflict-ignoring inserts → id
    // cascade → auto-generated compare validation), then return the
    // database read-back. The oracle reconstructs the same frame from
    // the parquet source directly.
    Gate("c_load_roundtrip", (s, dir) => {
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
    },
      """SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_name""".stripMargin),
  )
}
