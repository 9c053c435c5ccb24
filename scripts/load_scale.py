#!/usr/bin/env python3
"""The loader across scale factors: `load_star` traced at sf0.001, sf0.01 and sf0.1.

    python3 scripts/load_scale.py --rev HEAD [--sfs 0.001,0.01,0.1] [--jfr-dir DIR]

Exports commit `--rev` into a new temporary directory outside the
repository (`git archive`, as `perf_ab.py` does). In that tree only, it
sets the `load_star` workload's `sf` in `perfbench/workloads.py` and
raises `RUN_LIMIT_S` in `perfbench/run.py` (a traced sf0.1 run takes
minutes), then runs `perfbench/run.py --workload load_star --seed 1
--trace 1` once per scale factor, for `--seconds` 10 below sf0.1 and 1
at sf0.1 and above. The tree is removed afterwards.

Prints the rows of the ROADMAP's scaling table, one column per scale
factor; every figure is per traced pass (one load plus one reload).
"driver work" is the time outside any Spark job less the JDBC reads'
and writes' busy time. With `--jfr-dir`, the largest scale factor's
run also keeps a JFR recording there, and the table gains the G1 pause
time of that whole run per `load` call it made (the warm-up load plus
each timed load and reload), with the number of full collections.
"""
import argparse
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Write the files of commit `rev` into the new directory `dest`."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def patch(path, pattern, replacement):
    """Replace the one match of `pattern` in the file at `path`."""
    with open(path) as fh:
        text = fh.read()
    new, n = re.subn(pattern, replacement, text)
    if n != 1:
        raise SystemExit(f"{path}: expected one match of {pattern!r}, found {n}")
    with open(path, "w") as fh:
        fh.write(new)


def run(tree, sf, jfr):
    """The per-layer metrics of one traced run at scale factor `sf`, and
    the number of loads it made."""
    patch(os.path.join(tree, "perfbench", "workloads.py"),
          r'"load_star": \{"sf": [0-9.e-]+', f'"load_star": {{"sf": {sf}')
    env = dict(os.environ)
    if jfr:
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                    f" -XX:StartFlightRecording=filename={jfr}").strip()
    seconds = "1" if sf >= 0.1 else "10"
    cmd = [sys.executable, "perfbench/run.py", "--workload", "load_star", "--seed", "1",
           "--seconds", seconds, "--trace", "1"]
    r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, env=env)
    lines = [line for line in r.stdout.splitlines() if line.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        raise SystemExit(f"run failed at sf{sf}")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"wrong output at sf{sf}: {result}")
    # the warm-up's fresh load, then each timed load and reload
    return {k: v["value"] for k, v in result["metrics"].items()}, 1 + result["attempted"]


def seconds_of(duration):
    """Seconds in a duration as `jfr print --json` writes it."""
    if isinstance(duration, (int, float)):
        return duration / 1e9
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?([0-9.]+)S", duration)
    if not m:
        raise SystemExit(f"unexpected JFR duration {duration!r}")
    h, mins, s = m.groups()
    return int(h or 0) * 3600 + int(mins or 0) * 60 + float(s)


def gc_pauses(path):
    """Total G1 pause seconds and full collections in a JFR recording."""
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.GarbageCollection", path],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    total = sum(seconds_of(e["values"]["sumOfPauses"]) for e in events)
    full = sum(1 for e in events if "Full" in e["values"]["name"])
    return total, full


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", default="HEAD", help="commit to measure")
    ap.add_argument("--sfs", default="0.001,0.01,0.1", help="scale factors, comma-separated")
    ap.add_argument("--jfr-dir", help="keep a JFR recording of the largest scale factor here")
    a = ap.parse_args()
    sfs = [float(s) for s in a.sfs.split(",")]

    tmp = tempfile.mkdtemp(prefix="load_scale_")
    tree = os.path.join(tmp, "tree")
    try:
        export(a.rev, tree)
        patch(os.path.join(tree, "perfbench", "run.py"), r"RUN_LIMIT_S = \d+", "RUN_LIMIT_S = 7200")
        columns = {}
        pauses = None
        for sf in sfs:
            jfr = None
            if a.jfr_dir and sf == max(sfs):
                os.makedirs(a.jfr_dir, exist_ok=True)
                jfr = os.path.abspath(os.path.join(a.jfr_dir, f"load_star_sf{sf}.jfr"))
            columns[sf], loads = run(tree, sf, jfr)
            if jfr:
                total, full = gc_pauses(jfr)
                pauses = (total / loads, full, loads)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def row(label, fmt, *names):
        cells = [" / ".join(fmt.format(columns[sf][n]) for n in names) for sf in sfs]
        return f"| {label} | " + " | ".join(cells) + " |"

    for sf in sfs:
        m = columns[sf]
        m["driver.work_s"] = (m["driver.outside_jobs_s"] - m["connector.jdbc_write_s"]
                              - m["connector.jdbc_read_s"])
    print("| per pass | " + " | ".join(f"sf{sf:g}" for sf in sfs) + " |")
    print("|---|" + "---|" * len(sfs))
    print(row("`connector.load_s` / `reload_s`", "{:.2f} s", "connector.load_s", "connector.reload_s"))
    print(row("`connector.jdbc_write_s` / `jdbc_read_s`", "{:.2f} s",
              "connector.jdbc_write_s", "connector.jdbc_read_s"))
    print(row("`catalyst.optimization_s`", "{:.2f} s", "catalyst.optimization_s"))
    print(row("`spark.executor_run_s`", "{:.2f} s", "spark.executor_run_s"))
    print(row("`driver.outside_jobs_s`", "{:.2f} s", "driver.outside_jobs_s"))
    print(row("driver work (outside jobs, less JDBC)", "{:.2f} s", "driver.work_s"))
    print(row("`spark.jobs` / `spark.peak_width`", "{:.0f}", "spark.jobs", "spark.peak_width"))
    print(row("`connector.rows_offered` / `rows_fetched`", "{:.0f}",
              "connector.rows_offered", "connector.rows_fetched"))
    if pauses:
        per_load, full, loads = pauses
        print(f"\nG1 pauses at sf{max(sfs):g}: {per_load:.2f} s per load call "
              f"({loads} calls, {full} full collections in the run)")


if __name__ == "__main__":
    main()
