package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** The built-in function families (`f_`).
  */
private[gates] object FunctionsGates {

  val gates: Seq[Gate] = Seq(
    Gate("f_map_ops", (s, dir) => {
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
    },
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
        |FROM c GROUP BY source ORDER BY source""".stripMargin),
    Gate("f_json_ops", (s, dir) => {
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
    },
      """WITH e AS (SELECT event_type,
        |    CAST(CASE WHEN json_valid(props)
        |      THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
        |  FROM events WHERE event_id % 5 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  CAST(min(k) AS BIGINT) AS k_min,
        |  CAST(max(k) AS BIGINT) AS k_max,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("f_array_ops", (s, dir) => {
      // higher-order array function breadth (transform / filter /
      // aggregate / zip_with) over a constructed integer array —
      // codegen'd HOFs, all-integer results
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          expr("aggregate(transform(sequence(1L, 1 + doc_id % 7), x -> x * x), 0L, (a, x) -> a + x)").as("sq_sum"),
          expr("size(filter(sequence(1L, 1 + doc_id % 7), x -> x % 2 = 0))").cast("long").as("n_even"),
          expr("aggregate(zip_with(sequence(1L, 1 + doc_id % 7), reverse(sequence(1L, 1 + doc_id % 7)), (a, b) -> a * b), 0L, (a, x) -> a + x)").as("zip_sum"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |CAST(list_aggregate(list_transform(range(1, 2 + doc_id % 7), x -> x * x), 'sum') AS BIGINT) AS sq_sum,
        |CAST(len(list_filter(range(1, 2 + doc_id % 7), x -> x % 2 = 0)) AS BIGINT) AS n_even,
        |CAST(list_aggregate(list_transform(
        |  list_zip(range(1, 2 + doc_id % 7), list_reverse(range(1, 2 + doc_id % 7))),
        |  p -> p[1] * p[2]), 'sum') AS BIGINT) AS zip_sum
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin),
    Gate("f_datetime_ops", (s, dir) =>
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
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_orderdate,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2m,
        |  CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
        |    AS days_since,
        |  last_day(o_orderdate) AS month_end,
        |  CAST(isodow(o_orderdate) AS INT) AS iso_dow,
        |  CAST(quarter(o_orderdate) AS INT) AS q
        |FROM orders WHERE o_orderkey % 400 = 0 ORDER BY o_orderkey""".stripMargin),
    Gate("f_bitwise_ops", (s, dir) =>
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
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS b_and,
        |  l_orderkey | 15 AS b_or,
        |  xor(l_orderkey, l_partkey) AS b_xor,
        |  l_orderkey << 3 AS b_shl,
        |  CAST(bit_count(l_orderkey) AS INT) AS b_pop
        |FROM lineitem WHERE l_orderkey % 500 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("f_string_ops", (s, dir) => {
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
    },
      """SELECT p_partkey,
        |split_part(p_name, ' ', 2) AS name_tail,
        |translate(p_brand, '#', '-') AS brand_t,
        |lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |reverse(p_type) AS type_rev,
        |CAST(instr(p_name, 'red') AS BIGINT) AS red_at,
        |CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS brand_dist,
        |repeat(substr(p_brand, 1, 2), 2) AS brand_rep
        |FROM part WHERE p_partkey % 20 = 0 ORDER BY p_partkey""".stripMargin),
    Gate("f_zorder_key", (s, dir) => {
      // Morton layout key over two quantized dimensions (native
      // codegen Expression): sort-by-z before a write gives min/max
      // row-group pruning on BOTH part and supplier predicates
      t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.ZInterleave.z_interleave(
            col("l_partkey") % 1024, col("l_suppkey") % 1024, bits = 10).as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      s"""SELECT l_orderkey, l_linenumber,
         |${graft.functions.ZInterleave.zInterleaveSql("l_partkey % 1024", "l_suppkey % 1024", 10)} AS zkey
         |FROM lineitem WHERE l_orderkey % 100 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("f_hilbert_key", (s, dir) => {
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
    },
      {
      val ctes = graft.functions.HilbertIndex.hilbertSqlCtes(
        "hin", "l_partkey % 1024", "l_suppkey % 1024", bits = 10,
        passCols = Seq("l_orderkey", "l_linenumber"),
        finalCte = "hfin", outCol = "hkey")
      s"""WITH hin AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
         |  FROM lineitem WHERE l_orderkey % 100 = 0),
         |$ctes
         |SELECT l_orderkey, l_linenumber, hkey FROM hfin
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    }),
    Gate("f_jaro_winkler", (s, dir) => {
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
    },
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |FROM part a, part b
        |WHERE a.p_partkey % 40 = 1 AND b.p_partkey % 40 = 2
        |  AND jaro_winkler_similarity(a.p_name, b.p_name) > 0.8
        |ORDER BY id_a, id_b""".stripMargin),
  )
}
