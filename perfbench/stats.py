"""Metric math of the benchmark: medians, the tail percentile, interval
unions and the per-layer metrics computed from the harness's samples
and spans."""
import statistics

# registered-query name prefixes of the two operator packages whose
# share of a pass the traced run reports
PACKAGES = {
    "dedup": ("d_",),
    "ann": ("e_ann_", "e_binary_", "e_jl_", "e_sq8_", "e_quantize", "e_hamming_"),
}

# a loader statement's phase runs from its start to the next statement's
PHASE_OF_STATEMENT = {"insert": "insert", "check": "insert",
                      "retrieve": "retrieve", "compare": "compare"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """(value, percentile, n): the sample at the highest percentile that
    still leaves `beyond` samples above it; with too few samples for
    that, the maximum at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 100.0, 0
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def peak_overlap(intervals):
    """Largest number of intervals open at one instant."""
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals],
                    key=lambda e: (e[0], e[1]))
    peak = cur = 0
    for _, d in events:
        cur += d
        peak = max(peak, cur)
    return peak


def ratio(num, den):
    return num / den if den else 0.0


def end_to_end(result):
    """End-to-end metrics of an untraced run (name -> (value, unit)), plus
    notes for the human-readable lines. A query's time in a run is its
    fastest timed pass, its steady-state cost (the convention of
    `graft.Bench`): on a shared box a slow pass says more about the box
    than about the query. `query_p50_s` and `query_tail_s` are taken over
    those per-query times."""
    passes = [p for p in result["passes"] if not p["traced"]]
    per_query = {}
    for p in passes:
        for o in p["ops"]:
            per_query.setdefault(o["name"], []).append(o["wall_s"])
    steady = [min(xs) for xs in per_query.values()]
    t, pct, n = tail(steady)
    m = {
        "setup_s": (median(result["setup_s"]), "s"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": (median(steady), "s"),
        "query_tail_s": (t, "s"),
        "rss_peak_mb": (result["rss_peak_mb"], "MB"),
    }
    notes = {"query_tail_s": f"p{pct:.1f} of n={n} queries, each at its fastest of {len(passes)} passes",
             "pass_s": f"median of {len(passes)} passes",
             "setup_s": f"median of {len(result['setup_s'])} set-up rounds"}
    return m, notes


def load_split(result):
    """Fresh-load and reload medians of a load_star run's untraced passes."""
    ops = [o for p in result["passes"] if not p["traced"] for o in p["ops"]]
    load = median([o["wall_s"] for o in ops if o["name"] == "load"])
    reload = median([o["wall_s"] for o in ops if o["name"] == "reload"])
    rows = result["facts"].get("frame_rows", 0)
    return load, reload, ratio(rows, load)


def per_layer(result, spans, cores):
    """Per-layer metrics (name -> (value, unit)) of a traced run: totals
    per pass over the traced passes, median across them; wall-clock
    splits use the untraced passes."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    by_op = {}
    for s in spans:
        if "op" in s:
            by_op.setdefault(s["op"], []).append(s)

    def per_pass(fn, passes=traced):
        return median([sum(fn(o, by_op.get(o["id"], [])) for o in p["ops"]) for p in passes])

    def of(kind, sp):
        return [s for s in sp if s["kind"] == kind]

    def outside_jobs(o, sp):
        jobs = [(max(j["start_ms"], o["start_ms"]), min(j["end_ms"], o["end_ms"]))
                for j in of("job", sp)]
        covered = union_length([(a, b) for a, b in jobs if b > a])
        return max(0.0, o["wall_s"] - covered / 1000.0)

    def phases(o, sp):
        stmts = sorted(of("jdbc", sp), key=lambda s: s["start_ms"])
        out = {"insert": 0.0, "retrieve": 0.0, "compare": 0.0}
        if not stmts:
            return out
        out["insert"] += (stmts[0]["start_ms"] - o["start_ms"]) / 1000.0
        bounds = [s["start_ms"] for s in stmts[1:]] + [o["end_ms"]]
        for s, end in zip(stmts, bounds):
            ph = PHASE_OF_STATEMENT.get(s["stmt"])
            if ph:
                out[ph] += (end - s["start_ms"]) / 1000.0
        return out

    def jdbc(o, sp, direction, field):
        return sum(s.get(field, 0) for s in of("jdbc", sp) if s["dir"] == direction)

    def executor_s(o, sp):
        return sum(t["run_ms"] for t in of("task", sp)) / 1000.0

    def width(o, sp):
        # a task's slot is busy while it runs; its end event arrives later
        return peak_overlap([(t["start_ms"], t["start_ms"] + t["run_ms"]) for t in of("task", sp)])

    def stream(field):
        return lambda o, sp: sum(s[field] for s in of("stream", sp)) / 1000.0

    def catalyst(field):
        return lambda o, sp: sum(q[field] for q in of("qe", sp)) / 1000.0

    def package(prefixes):
        return lambda o, sp: o["wall_s"] if o["name"].startswith(prefixes) else 0.0

    offered = per_pass(lambda o, sp: jdbc(o, sp, "write", "rows_offered"))
    written = per_pass(lambda o, sp: jdbc(o, sp, "write", "rows_written"))
    run_s = per_pass(executor_s)
    op_wall = per_pass(lambda o, sp: o["wall_s"])
    load, reload, rows_per_s = load_split(result)
    untraced_pass = median([p["wall_s"] for p in plain])
    failed = sum(1 for p in result["passes"] for o in p["ops"] if not o["ok"])
    attempted = sum(len(p["ops"]) for p in result["passes"])
    m = {
        "connector.load_s": (load, "s"),
        "connector.reload_s": (reload, "s"),
        "connector.load_rows_per_s": (rows_per_s, "rows/s"),
        "connector.insert_s": (per_pass(lambda o, sp: phases(o, sp)["insert"]), "s"),
        "connector.retrieve_s": (per_pass(lambda o, sp: phases(o, sp)["retrieve"]), "s"),
        "connector.compare_s": (per_pass(lambda o, sp: phases(o, sp)["compare"]), "s"),
        "connector.jdbc_write_s": (per_pass(lambda o, sp: jdbc(o, sp, "write", "busy_ms")) / 1000.0, "s"),
        "connector.jdbc_read_s": (per_pass(lambda o, sp: jdbc(o, sp, "read", "busy_ms")) / 1000.0, "s"),
        "connector.rows_offered": (offered, "rows"),
        "connector.rows_fetched": (per_pass(lambda o, sp: jdbc(o, sp, "read", "rows_fetched")), "rows"),
        "connector.insert_yield": (ratio(written, offered), "ratio"),
        "schema.plan_s": (per_pass(lambda o, sp: sum(s["plan_ms"] for s in of("schema", sp))) / 1000.0, "s"),
        "schema.steps": (per_pass(lambda o, sp: sum(s["steps"] for s in of("schema", sp))), "count"),
        "spark.jobs": (per_pass(lambda o, sp: len(of("job", sp))), "count"),
        "spark.tasks": (per_pass(lambda o, sp: len(of("task", sp))), "count"),
        "spark.peak_width": (median([max([width(o, by_op.get(o["id"], [])) for o in p["ops"]] or [0])
                                     for p in traced]), "tasks"),
        "spark.executor_run_s": (run_s, "s"),
        "spark.gc_s": (per_pass(lambda o, sp: sum(t["gc_ms"] for t in of("task", sp))) / 1000.0, "s"),
        "spark.shuffle_write_bytes": (per_pass(lambda o, sp: sum(t["shuffle_write_bytes"] for t in of("task", sp))), "bytes"),
        "spark.spill_bytes": (per_pass(lambda o, sp: sum(t["spill_bytes"] for t in of("task", sp))), "bytes"),
        "spark.core_utilisation": (ratio(run_s, op_wall * cores), "ratio"),
        "catalyst.analysis_s": (per_pass(catalyst("analysis_ms")), "s"),
        "catalyst.optimization_s": (per_pass(catalyst("optimization_ms")), "s"),
        "catalyst.planning_s": (per_pass(catalyst("planning_ms")), "s"),
        "driver.outside_jobs_s": (per_pass(outside_jobs), "s"),
        "streaming.batches": (per_pass(lambda o, sp: len(of("stream", sp))), "count"),
        "streaming.trigger_s": (per_pass(stream("trigger_ms")), "s"),
        "streaming.add_batch_s": (per_pass(stream("add_batch_ms")), "s"),
        "streaming.query_planning_s": (per_pass(stream("query_planning_ms")), "s"),
        "streaming.wal_commit_s": (per_pass(stream("wal_commit_ms")), "s"),
        "dedup.pass_s": (per_pass(package(PACKAGES["dedup"]), plain), "s"),
        "ann.pass_s": (per_pass(package(PACKAGES["ann"]), plain), "s"),
        "cache.persisted_after_op": (per_pass(lambda o, sp: o["persisted"], result["passes"]), "count"),
        "ops_failed_ratio": (ratio(failed, attempted), "ratio"),
        "trace.overhead_ratio": (ratio(median([p["wall_s"] for p in traced]), untraced_pass) - 1.0
                                 if untraced_pass else 0.0, "ratio"),
    }
    return m
