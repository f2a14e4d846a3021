#!/usr/bin/env python3
"""The benchmark's own tests, over the records of one set of runs.

    python3 perfbench/check.py --workload stream_ingest --seed 100 --runs 10
        # make untraced runs with seeds 100..109, then check them
    python3 perfbench/check.py --workload batch_iterative --seed 100 --runs 10 --trace-runs 2 --no-run
        # check the records those runs left in <build dir>/out
    python3 perfbench/check.py --workload batch_iterative --seed 100 --runs 10 --no-run --against 200
        # and compare their medians with those of seeds 200..209

Only the records of the named seeds count, so records of older sets or of
another version of the code are never mixed in. Checks:
  * every run's outputs were correct;
  * spread: for each end-to-end metric, the distance between the first and
    third quartile of its per-run values, as a share of their median, is
    within the metric's bound in BENCHMARK.json;
  * warm-up: in every run (traced ones too) the trend across the timed
    window (second half against first half, by medians of pass or trigger
    time) is within the bound of latency_p50_s; the median of the runs'
    trends is printed beside them;
  * counters (traced batch runs): jobs, tasks, shuffle records and
    materialized RDDs per pass repeat exactly across passes and runs.
    Stages and shuffle bytes are reported, not asserted;
  * with --against: each end-to-end metric's median over this set is not
    worse than over the other set by more than the metric's bound.
Exits 1 if a check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNASSERTED = ("stages", "shuffle_write_bytes", "shuffle_read_bytes")


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def run(workload, seed, trace, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    print(f"run {workload} seed={seed} trace={trace} exit={r.returncode} "
          f"wall={time.monotonic() - t0:.1f}s {last}", flush=True)


def load(out, workload, seeds, trace):
    records = []
    for s in seeds:
        path = os.path.join(out, f"run-{workload}-s{s}-t{trace}.json")
        if not os.path.exists(path):
            sys.exit(f"check: no record {path}")
        with open(path) as f:
            records.append(json.load(f))
    return records


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True, help="first seed of the set")
    ap.add_argument("--runs", type=int, default=10, help="untraced runs in the set")
    ap.add_argument("--trace-runs", type=int, default=0, help="traced runs in the set")
    ap.add_argument("--no-run", action="store_true", help="check existing records only")
    ap.add_argument("--against", type=int, help="first seed of a set to compare medians with")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    plain_seeds = range(a.seed, a.seed + a.runs)
    traced_seeds = range(a.seed, a.seed + a.trace_runs)
    if not a.no_run:
        for s in plain_seeds:
            run(a.workload, s, 0, bench["run_seconds"])
        for s in traced_seeds:
            run(a.workload, s, 1, bench["run_seconds"])

    out = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")), "out")
    plain = load(out, a.workload, plain_seeds, 0)
    traced = load(out, a.workload, traced_seeds, 1)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    failed = []
    print(f"== {a.workload}: seeds {a.seed}.., {len(plain)} untraced, {len(traced)} traced runs")
    for r in plain + traced:
        if not r["correct"]:
            failed.append(f"seed {r['seed']}: wrong outputs {r['failures']}")
    medians = {}
    if len(plain) >= 2:
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in plain]
            s = spread(vals)
            medians[name] = statistics.median(vals)
            ok = s <= bound
            print(f"  {name:18s} median {medians[name]:.5g}  spread {s:.3f}  bound {bound}"
                  f"  {'ok' if ok else 'TOO NOISY'}")
            if not ok:
                failed.append(f"{name}: spread {s:.3f} > bound {bound}")

    limit = bounds["latency_p50_s"]
    trends = [(r["seed"], r["trace"], r["series"]["trend"]) for r in plain + traced]
    for seed, trace, t in trends:
        if abs(t) > limit:
            failed.append(f"seed {seed} trace {trace}: warm-up trend {t:+.3f} beyond {limit}")
    print(f"  window trend per run {', '.join(f'{t:+.3f}' for _, _, t in trends)};"
          f" median {statistics.median(t for _, _, t in trends):+.3f} (limit {limit} per run)")

    per_pass = [dict(c) for r in traced for c in r.get("counters", [])]
    if per_pass:
        reported = {k: sorted({c.pop(k) for c in per_pass}) for k in UNASSERTED}
        distinct = {json.dumps(c, sort_keys=True) for c in per_pass}
        print(f"  counters per pass: {sorted(distinct)}; reported only: {reported}")
        if len(distinct) != 1:
            failed.append("counters differ across passes or runs")

    if a.against is not None:
        other = load(out, a.workload, range(a.against, a.against + a.runs), 0)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            before = statistics.median(r["metrics"][name]["value"] for r in other)
            change = (medians[name] - before) / before
            worse = change if m["better"] == "lower" else -change
            ok = worse <= bound
            print(f"  {name:18s} median {before:.5g} (seeds {a.against}..) -> {medians[name]:.5g}"
                  f"  {change:+.3f}  {'ok' if ok else 'MOVED'}")
            if not ok:
                failed.append(f"{name}: median moved {change:+.3f} against seeds {a.against}..")
    for f in failed:
        print("FAIL", f)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
