"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the registered queries read (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`,
`events`, `documents`, `embeddings`) with the column names, types and
value distributions of the TPC-H-ish testdata the queries were written
against. Row counts follow the scale factor `sf` exactly, so every
seed gives inputs of the same size; the values come from
`hash(seed, column, row)`, so the same seed gives the same tables on
any machine and thread count.

    python3 perfbench/datagen.py <out_dir> --seed 7 --sf 0.001
"""
import argparse
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DIM = 64


def sizes(sf):
    """Row counts per table at scale factor `sf` (the testdata's)."""
    return {
        "customer": int(150000 * sf), "supplier": max(10, int(10000 * sf)),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "users": max(15, int(15000 * sf)),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }


def lit_list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def generate(out_dir, seed, sf):
    n = sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # u(k, i): uniform [0, 1) keyed on (seed, column key, row)
    con.execute(f"CREATE MACRO u(k, i) AS "
                f"(hash({int(seed)}, k, i) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO pick(xs, k, i) AS "
                "xs[1 + CAST(floor(u(k, i) * len(xs)) AS BIGINT)]")
    con.execute("CREATE MACRO ri(k, i, lo, hi) AS "
                "CAST(lo + floor(u(k, i) * (hi - lo + 1)) AS BIGINT)")
    con.execute("CREATE MACRO money(k, i, lo, hi) AS "
                "round(lo + u(k, i) * (hi - lo), 2)")
    tables = {
        "region": f"""
            SELECT CAST(i AS INTEGER) AS r_regionkey,
                   {lit_list(REGIONS)}[i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey,
                   'NATION_' || i AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey,
                   'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST(ri('c_nation', i, 0, 24) AS INTEGER) AS c_nationkey,
                   money('c_acctbal', i, -999.99, 9999.99) AS c_acctbal,
                   pick({lit_list(SEGMENTS)}, 'c_seg', i) AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey,
                   'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                   CAST(ri('s_nation', i, 0, 24) AS INTEGER) AS s_nationkey,
                   money('s_acctbal', i, -999.99, 9999.99) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   pick({lit_list(PART_ADJ)}, 'p_adj', i) || ' ' ||
                     pick({lit_list(PART_NOUN)}, 'p_noun', i) AS p_name,
                   'Brand#' || ri('p_brand', i, 1, 25) AS p_brand,
                   pick({lit_list(PART_TYPES)}, 'p_type', i) AS p_type,
                   CAST(ri('p_size', i, 1, 50) AS INTEGER) AS p_size,
                   round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   ri('o_cust', i, 0, {n['customer'] - 1}) AS o_custkey,
                   pick(['F', 'O', 'P'], 'o_status', i) AS o_orderstatus,
                   money('o_total', i, 1000, 500000) AS o_totalprice,
                   TIMESTAMP '1995-01-01' +
                     to_days(CAST(ri('o_date', i, 0, 2403) AS INTEGER))
                     AS o_orderdate,
                   pick({lit_list(PRIORITIES)}, 'o_prio', i) AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        # lines land on uniformly random orders (some orders get none),
        # numbered 1..k within their order so (orderkey, linenumber) is
        # the natural key the star load relies on
        "lineitem": f"""
            WITH l AS (
              SELECT i, ri('l_order', i, 0, {n['orders'] - 1}) AS l_orderkey
              FROM range({n['lineitem']}) t(i))
            SELECT l_orderkey,
                   ri('l_part', i, 0, {n['part'] - 1}) AS l_partkey,
                   ri('l_supp', i, 0, {n['supplier'] - 1}) AS l_suppkey,
                   CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY i)
                        AS INTEGER) AS l_linenumber,
                   CAST(ri('l_qty', i, 1, 50) AS DOUBLE) AS l_quantity,
                   money('l_price', i, 900, 105000) AS l_extendedprice,
                   ri('l_disc', i, 0, 10) / 100.0 AS l_discount,
                   ri('l_tax', i, 0, 8) / 100.0 AS l_tax,
                   pick(['A', 'N', 'R'], 'l_flag', i) AS l_returnflag,
                   pick(['F', 'O'], 'l_status', i) AS l_linestatus,
                   TIMESTAMP '1995-01-02' +
                     to_days(CAST(ri('l_date', i, 0, 2498) AS INTEGER))
                     AS l_shipdate
            FROM l ORDER BY i""",
        # strictly increasing, distinct event times over 30 days
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(CAST(
                     (i + 0.05 + 0.9 * u('e_ts', i)) *
                     {30 * 86400 * 1000000} / {n['events']} AS BIGINT)) AS ts,
                   ri('e_user', i, 0, {n['users'] - 1}) AS user_id,
                   pick({lit_list(EVENT_TYPES)}, 'e_type', i) AS event_type,
                   money('e_value', i, 0.01, 490.0) AS value,
                   '{{"k": ' || ri('e_k', i, 0, 99) || '}}' AS props
            FROM range({n['events']}) t(i)""",
        "documents": f"""
            WITH w AS (
              SELECT d.i AS doc_id, j,
                     pick({lit_list(WORDS)}, 'd_word', d.i * 1000 + j) AS word
              FROM range({n['documents']}) d(i),
                   range(100) r(j)
              WHERE j < ri('d_len', d.i, 10, 99)),
            t AS (SELECT doc_id, string_agg(word, ' ' ORDER BY j) AS text
                  FROM w GROUP BY doc_id)
            SELECT doc_id, text,
                   pick({lit_list(LANGS)}, 'd_lang', doc_id) AS lang,
                   'src' || (doc_id % 20) AS source,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM t ORDER BY doc_id""",
        # unit vectors from Box-Muller normals, labels uniform 0..9
        "embeddings": f"""
            WITH g AS (
              SELECT v.i AS vec_id, j,
                     sqrt(-2 * ln(1 - u('v_a', v.i * {DIM} + j))) *
                       cos(2 * pi() * u('v_b', v.i * {DIM} + j)) AS x
              FROM range({n['embeddings']}) v(i), range({DIM}) r(j)),
            nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS s FROM g GROUP BY 1)
            SELECT g.vec_id,
                   list(CAST(x / s AS FLOAT) ORDER BY j) AS embedding,
                   CAST(ri('v_label', g.vec_id, 0, 9) AS INTEGER) AS label
            FROM g JOIN nrm USING (vec_id)
            GROUP BY g.vec_id, s ORDER BY g.vec_id""",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' "
                    "(FORMAT PARQUET)")
    con.close()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    a = ap.parse_args()
    generate(a.out_dir, a.seed, a.sf)


if __name__ == "__main__":
    main()
