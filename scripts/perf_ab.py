#!/usr/bin/env python3
"""Same-box A/B of one benchmark workload between two commits.

    python3 scripts/perf_ab.py --workload load_star --base HEAD~1 --change HEAD --seeds 11

Exports each commit into its own tree in a new temporary directory
outside the repository (`git archive`), so each tree's `.bench_build`
and `.bench_work` stay in that tree; the trees are removed afterwards.
Then runs `perfbench/run.py --workload W --seed s` untraced, for
BENCHMARK.json's `run_seconds`, in both trees for seeds 1..N,
alternating which tree goes first from one seed to the next so that a
box that drifts slower over the session does not favour either side,
and finally runs the base tree twice more on seed 1: that
identical-code pair bounds the box's drift.

Prints each pair's `pass_s`, the change's win count (wins follow the
metric's direction in BENCHMARK.json), the median of the per-pair
change/base ratios, the base's median and quartiles, the identical-code
drift, and the median, quartiles and win count of every metric the runs
print. Exits non-zero when a run fails or reports a wrong output.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRIC = "pass_s"

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def export(rev, dest):
    """Write the files of commit `rev` into the new directory `dest`."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(tree, workload, seed):
    """The metrics one untraced run prints, by name."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCHMARK["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        raise SystemExit(f"run failed in {tree} (seed {seed})")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"wrong output in {tree} (seed {seed}): {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def lower_is_better(metric):
    """The metric's direction as BENCHMARK.json declares it (lower if absent)."""
    for m in BENCHMARK.get("end_to_end", []) + BENCHMARK.get("per_layer", []):
        if m["name"] == metric:
            return m["better"] == "lower"
    return True


def quartiles(values):
    """(first quartile, median, third quartile)."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarise(pairs, lower):
    """Lines reporting the pairs `[(seed, base, change)]` of one metric."""
    out = [f"{'seed':>4} {'base':>12} {'change':>12} {'ratio':>7}"]
    ratios, wins = [], 0
    for seed, b, c in pairs:
        ratio = c / b if b else float("nan")
        ratios.append(ratio)
        wins += (c < b) if lower else (c > b)
        out.append(f"{seed:>4} {b:>12.6g} {c:>12.6g} {ratio:>7.3f}")
    bq1, bmed, bq3 = quartiles([b for _, b, _ in pairs])
    cmed = statistics.median(c for _, _, c in pairs)
    out.append(f"change better in {wins} of {len(pairs)} pairs")
    out.append(f"median ratio change/base {statistics.median(ratios):.3f}")
    out.append(f"base median {bmed:.6g} [IQR {bq1:.6g}, {bq3:.6g}], change median {cmed:.6g}, "
               f"median gap {abs(bmed - cmed):.6g} vs base IQR {bq3 - bq1:.6g}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--base", required=True, help="parent commit")
    ap.add_argument("--change", default="HEAD", help="commit under test")
    ap.add_argument("--seeds", type=int, default=11, help="pairs on seeds 1..N")
    a = ap.parse_args()

    top = tempfile.mkdtemp(prefix="perf_ab-")
    trees = {"base": os.path.join(top, "base"), "change": os.path.join(top, "change")}
    try:
        export(a.base, trees["base"])
        export(a.change, trees["change"])
        runs = {"base": {}, "change": {}}
        for seed in range(1, a.seeds + 1):
            order = ("base", "change") if seed % 2 else ("change", "base")
            for side in order:
                runs[side][seed] = run(trees[side], a.workload, seed)
                print(f"seed {seed} {side} {METRIC} {runs[side][seed].get(METRIC)}", flush=True)
        drift = [run(trees["base"], a.workload, 1) for _ in range(2)]
    finally:
        shutil.rmtree(top, ignore_errors=True)

    seeds = range(1, a.seeds + 1)
    print(f"\n{a.workload} {METRIC}: base {a.base}, change {a.change}")
    pairs = [(s, runs["base"][s][METRIC], runs["change"][s][METRIC]) for s in seeds]
    for line in summarise(pairs, lower_is_better(METRIC)):
        print(line)
    d0, d1 = drift[0][METRIC], drift[1][METRIC]
    print(f"identical-code drift (base vs base, seed 1): {d0:.6g} -> {d1:.6g} "
          f"({(d1 / d0 - 1) * 100:+.1f}%)")
    print("\nevery metric, median [quartiles] (base -> change), change better in:")
    for name in runs["base"][1]:
        b = [runs["base"][s][name] for s in seeds]
        c = [runs["change"][s].get(name, float("nan")) for s in seeds]
        lower = lower_is_better(name)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        (b1, b2, b3), (c1, c2, c3) = quartiles(b), quartiles(c)
        print(f"  {name} {b2:.6g} [{b1:.6g}, {b3:.6g}] -> {c2:.6g} [{c1:.6g}, {c3:.6g}], "
              f"{wins}/{len(b)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
