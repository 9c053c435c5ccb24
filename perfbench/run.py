#!/usr/bin/env python3
"""Benchmark of the loader and the query board, end to end and by layer.

    python3 perfbench/run.py --workload board --seed 1 --seconds 10 --trace 0

Builds the library and the harness (`build.py`), generates the seeded
input tables (`datagen.py`), runs one closed-loop client in one JVM
(`local[N]`, N = min(4, cores) - 1) for `--seconds`, checks every output,
and prints each metric as `name value unit` followed by one JSON line:
with `--trace 0` the end-to-end metrics, with `--trace 1` the
per-layer metrics of a traced run. Exits non-zero when any output is
wrong or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# a run must end within this many seconds, result included
RUN_LIMIT_S = 170


def harness(built, work, data, workload, ops, seconds, trace, cores, deadline):
    out = os.path.join(work, "result.json")
    cmd = built.java(work, "perfbench.Harness") + [
        "--workload", workload, "--data", data, "--seconds", str(seconds),
        "--trace", str(trace), "--out", out, "--work", work, "--cores", str(cores)]
    if ops:
        cmd += ["--ops", ",".join(ops)]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        try:
            # Spark's local-dirs variable would override the scratch dir
            env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
            r = subprocess.run(cmd, stdout=fh, stderr=fh, cwd=work, env=env,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            r = None
    if r is None or r.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit("harness failed" if r else "harness ran out of time")
    with open(out) as fh:
        result = json.load(fh)
    spans = []
    if trace:
        with open(os.path.join(work, "spans.jsonl")) as fh:
            spans = [json.loads(line) for line in fh if line.strip()]
    return result, spans


def failures(result, data):
    """Problems with the run's outputs, and how many timed operations
    they make wrong."""
    problems = [f"warm-up: {f}" for f in result["warmup_failures"]]
    wrong = set()
    facts = result["facts"]
    if "oracle_sql" in facts:
        for name, why in oracle.check(data, facts["export_dir"], facts["oracle_sql"]).items():
            problems.append(f"{name} disagrees with its oracle: {why}")
            wrong.add(name)
    failed = 0
    for p in result["passes"]:
        for o in p["ops"]:
            if not o["ok"]:
                problems.append(f"{o['name']}: {o['error']}")
            if not o["ok"] or o["name"] in wrong:
                failed += 1
    return problems, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]

    built = build.build(os.path.join(ROOT, ".bench_build"))
    # a build may take longer; the run itself must stay within the limit
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        datagen.generate(data, a.seed, spec["sf"])
        cores = build.cores()
        result, spans = harness(built, work, data, a.workload, spec["ops"],
                                a.seconds, a.trace, cores, deadline - 10)
        problems, failed = failures(result, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = stats.per_layer(result, spans, cores)
        notes = {}
    else:
        metrics, notes = stats.end_to_end(result)
    for p in problems:
        print(f"WRONG {p}")
    for name, (value, unit) in metrics.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{name} {value:.6g} {unit}{note}")
    attempted = sum(len(p["ops"]) for p in result["passes"])
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
