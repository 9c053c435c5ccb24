"""Cross-check of the board's results: each query's warm-up result,
written to parquet by the harness, against the query's DuckDB oracle
(`SparkEntry.oracleSql`) over the same generated tables. Values are
compared as the repository's `scripts/check_oracles.py` compares them:
columns matched by name, floats by their exact repr, rows as a
multiset."""
import math

import duckdb

from datagen import TABLES


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def _rows(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rel.fetchall())
    return sorted(cols), rows


def check(data_dir, export_dir, oracle_sql):
    """Returns {query: problem} for every query whose result disagrees
    with its oracle (or has no oracle, or could not be read)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    problems = {}
    for name, sql in sorted(oracle_sql.items()):
        if not sql:
            problems[name] = "no oracle"
            continue
        try:
            want_cols, want = _rows(con.sql(sql))
            got_cols, got = _rows(con.sql(
                f"SELECT * FROM read_parquet('{export_dir}/{name}/*.parquet')"))
        except Exception as e:  # noqa: BLE001 - any failure is a finding
            problems[name] = f"{type(e).__name__}: {e}"
            continue
        if got_cols != want_cols:
            problems[name] = f"columns {got_cols} != oracle {want_cols}"
        elif len(got) != len(want):
            problems[name] = f"{len(got)} rows != oracle {len(want)}"
        elif got != want:
            bad = sum(1 for a, b in zip(got, want) if a != b)
            problems[name] = f"{bad} rows differ from the oracle"
    con.close()
    return problems
