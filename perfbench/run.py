#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload batch_iterative --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 15 --trace 1

Run from the root of the repository. The first run compiles the engine and
the harness (perfbench/build.py). Each run starts a fresh JVM with Spark in
local mode, warms the workload up, measures it for --seconds (default: the
run_seconds of BENCHMARK.json), checks its outputs and prints, one per
line, every metric with its unit and sample count, then one JSON line:
{"correct", "attempted", "failed", "metrics"}.
--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones from a traced run. The full record of the run (series,
counters, box state) is kept in <build dir>/out/run-<workload>-s<seed>-t<trace>.json
and the spans of a traced run in trace-<workload>-s<seed>.json beside it.

    python3 perfbench/run.py --write-golden     # re-record perfbench/golden.json

Everything a run writes stays under the build directory, $CARGO_TARGET_DIR
or .bench_build.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_iterative", "stream_ingest")
RUN_LIMIT_S = 170
HEAP = "3g"
# JIT compiler threads. The workloads keep one to two cores busy, so more
# compiler threads than the JVM's default of 3 use idle cores to work off
# the compile queue: on a 4-core box batch passes reach their level after
# four passes instead of eight, and stream triggers within the warm-up.
JIT_THREADS = 8
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def box_state():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"loadavg_1_5_15": load, "cpu": cpu_times()}


def filesystem(path):
    """Type of the filesystem holding `path`, from /proc/mounts."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mount, typ = line.split()[1:3]
            if (path == mount or path.startswith(mount.rstrip("/") + "/")) and len(mount) > len(best):
                best, fstype = mount, typ
    return fstype


def steal_share(before, after):
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-golden", action="store_true")
    a = ap.parse_args()
    if a.write_golden:
        a.workload, a.trace = "batch_iterative", 0
    elif not a.workload:
        ap.error("--workload is required")

    os.chdir(ROOT)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if a.seconds is None:
        a.seconds = bench["run_seconds"]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build.build(build_dir)
    started = time.monotonic()

    out_dir = os.path.join(build_dir, "out")
    work = os.path.join(build_dir, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    record_path = os.path.join(out_dir, f"run-{a.workload}-s{a.seed}-t{a.trace}.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    log_path = os.path.join(out_dir, f"run-{a.workload}-s{a.seed}-t{a.trace}.log")
    cores = min(4, len(os.sched_getaffinity(0)))
    golden = os.path.join(HERE, "golden.json")

    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-XX:CICompilerCount={JIT_THREADS}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", os.path.join(HERE, "data", "sf0.01"), "--work", work, "--out", record_path,
           "--golden", golden, "--cores", str(cores),
           "--mode", "golden" if a.write_golden else "bench"]
    box0 = box_state()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: run exceeded {RUN_LIMIT_S} s and was stopped; log: {log_path}")
    box1 = box_state()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(record_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed (exit {code}); log: {log_path}")
    if a.write_golden:
        print(f"wrote {golden}")
        return

    with open(record_path) as f:
        rec = json.load(f)
    rec["box"] = {
        "loadavg_start": box0["loadavg_1_5_15"], "loadavg_end": box1["loadavg_1_5_15"],
        "cpu_steal_share": steal_share(box0["cpu"], box1["cpu"]),
        "nproc": os.cpu_count(), "usable_cpus": len(os.sched_getaffinity(0)),
        "work_filesystem": filesystem(build_dir),
        "heap": HEAP,
    }
    with open(record_path, "w") as f:
        json.dump(rec, f, indent=1)

    # units come from BENCHMARK.json; a per-layer metric the workload does
    # not exercise (stream phases in a batch run, query lookups in a stream
    # run) is printed as 0 with no samples
    want = {m["name"]: m["unit"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    got = rec["metrics"]
    unknown = sorted(set(got) - set(want))
    missing = sorted(set(want) - set(got))
    if unknown or (missing and not a.trace):
        sys.exit(f"perfbench: metrics not in BENCHMARK.json: {unknown}; not measured: {missing}")
    for name in missing:
        got[name] = {"value": 0.0, "n": 0}
    for name, unit in want.items():
        m = got[name]
        print(f"{a.workload} {name} = {m['value']:.6g} {unit} (n={m['n']})"
              f"{' not exercised by this workload' if name in missing else ''}")
    print(f"{a.workload} failed_ratio = {rec['failed'] / rec['attempted']:.6g} "
          f"(n={rec['attempted']}){' failures: ' + ', '.join(rec['failures']) if rec['failures'] else ''}")
    print(json.dumps({
        "correct": bool(rec["correct"]),
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {n: {"value": got[n]["value"], "unit": u} for n, u in want.items()},
    }))


if __name__ == "__main__":
    main()
