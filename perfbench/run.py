#!/usr/bin/env python3
"""The repository benchmark: two workloads over the graft engine.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (first run only), generates
the run's inputs from --seed, runs the workload in one JVM (local[nproc],
one operation in flight), checks every output against its oracle outside
the timed section, and prints the metrics. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones. Lines
before it (prefixed "# ") print every metric by name and unit, the
workload's own figures, and every failed check by entry name.

Workloads are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import metrics as M

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
STATE = ROOT / ".bench_build" / "perfbench"

SF = 0.1
# Catalog entries timed by the `catalog` workload: a latency-stratified
# sample of SparkEntry.benchQueries (every 32nd entry, from the 16th, when
# the entries other than the two curation pipelines are sorted by their
# steady-state latency at local[4], sf0.1: 0.2 s to 2.2 s), plus
# source_json_roundtrip, the cheapest entry that writes and reads back
# files through graft.sources.
CATALOG = [
    "shuffle_epoch", "q28_except", "q21_left_join_counts", "stat_ks_test",
    "q47_unpivot", "q4_order_priority", "q48_corr_stats", "text_ngram_novelty",
    "source_json_roundtrip",
]
NUMBER_COUNT_ROWS = 3_000_000
# 14 x 14 with weights 1..9: shortest paths take 27-31 relaxation levels
# for every seed, so distributedSssp's 8-level batches number the same
# for every seed and the seed changes the weights, not the work
GRID_SIDE = 14
WORKLOADS = ("catalog", "firebird_apps")
# untimed noop passes after the warm-up pass: times keep falling for the
# first few invocations in a fresh JVM (number_count 1.3 s, 1.1 s, 1.0 s;
# sssp 4.5 s, 3.5 s, 3.4 s; a catalog pass 9.1 s, then 6.1 s to 7.0 s)
EXTRA_WARMUP_PASSES = {"catalog": 1, "firebird_apps": 2}
# timed passes run until --seconds is spent and at least this many have
# run, so every operation's best time is a min of three or more
MIN_PASSES = 3
PASS_ORDERS = 64
# -Xms = -Xmx: a heap that grows with use made the apps 15 % slower, and
# their times and peak RSS spread about 0.18 across seeds
JVM_HEAP = "3g"
# the run's deadline, counted from the end of the build: input
# generation, set-up, the timed passes and shutdown
RUN_TIMEOUT_S = 135
BUILD_TIMEOUT_S = 850

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_geomean_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "build_s": "s", "build_jobs": "count", "action_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "driver_gap_s": "s",
    "task_run_s": "s", "task_cpu_s": "s", "task_gc_s": "s", "scan_rows": "count",
    "shuffle_write_bytes": "bytes", "shuffle_records": "count", "spill_bytes": "bytes",
    "tasks_failed": "count", "cut_jobs": "count", "cached_bytes_peak": "bytes",
    "write_s": "s", "bytes_written": "bytes", "files_written": "count",
    "mr_shuffle_records_per_row": "ratio", "sssp_batches": "count", "sssp_batch_s": "s",
    "trace_overhead_s": "s", "fail_ratio": "ratio",
}


def log(msg):
    print(f"# {msg}", flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- inputs

def pass_orders(workload, seed):
    """The operation order of each timed pass: the catalog's entries are
    reshuffled per pass from the seed; the apps alternate."""
    if workload == "catalog":
        rng = random.Random(seed)
        return [rng.sample(CATALOG, len(CATALOG)) for _ in range(PASS_ORDERS)]
    return [["number_count", "sssp"]]


def grid_edges(seed, side):
    """A side x side 4-neighbour grid, one edge per neighbour pair, with
    seeded integer weights 1..9: a long hop diameter on tiny data."""
    rng = np.random.Generator(np.random.PCG64(seed))
    ids = np.arange(side * side).reshape(side, side)
    src = np.concatenate([ids[:, :-1].ravel(), ids[:-1, :].ravel()])
    dst = np.concatenate([ids[:, 1:].ravel(), ids[1:, :].ravel()])
    weight = rng.integers(1, 10, len(src)).astype(np.float64)
    return pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64()),
                     "weight": pa.array(weight, pa.float64())})


def number_count_seed(seed):
    """The genInts seed of a run: the run seed spread over the LCG's range."""
    return 1000 + (seed * 7919) % 1_000_003


# ----------------------------------------------------------------- build

def fingerprint():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*.scala"))
    files += sorted((BENCH_DIR / "src").rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the harness once per source state; return the
    runtime classpath."""
    cp_file, fp_file = STATE / "classpath.txt", STATE / "fingerprint"
    fp = fingerprint()
    if cp_file.exists() and fp_file.exists() and fp_file.read_text() == fp:
        return cp_file.read_text()
    STATE.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    with open(STATE / "build.log", "w") as out:
        code = wait_child(start_child(cmd, BENCH_DIR, out), BUILD_TIMEOUT_S)
    lines = (STATE / "build.log").read_text().splitlines()
    cp = next((l.strip() for l in reversed(lines)
               if ".jar" in l and os.pathsep in l and not l.startswith("[")), None)
    if code != 0 or cp is None:
        fail(f"build failed (exit {code}); see {STATE / 'build.log'}")
    cp_file.write_text(cp)
    fp_file.write_text(fp)
    return cp


def start_child(cmd, cwd, out, env=None):
    """Start a child in its own process group, so it can be killed whole."""
    return subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env, start_new_session=True)


def wait_child(proc, timeout):
    """Wait for a child; on timeout or interruption stop it. Returns the
    exit code."""
    try:
        return proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        stop_child(proc)
        return -9
    except BaseException:
        stop_child(proc)
        raise


def stop_child(proc):
    """Kill a child's whole process group and wait for it."""
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


# ---------------------------------------------------------------- checks

def frames_equal(a, b):
    """The repository's oracle comparison (tools/compare.py): columns by
    name, rows in emitted order, exact values, matching dtype kinds."""
    a = a[sorted(a.columns)].reset_index(drop=True)
    b = b[sorted(b.columns)].reset_index(drop=True)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"

    def kind(dt):
        s = str(dt)
        return "datetime" if s.startswith("datetime") or s == "object" else s
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("datetime"):
            av = av.astype("datetime64[us]")
        if str(bv.dtype).startswith("datetime"):
            bv = bv.astype("datetime64[us]")
        same = (av.isna() & bv.isna()) | (av == bv)
        if not same.all():
            i = (~same).idxmax()
            return f"col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
        if kind(a[c].dtype) != kind(b[c].dtype):
            return f"dtype col {c}: {a[c].dtype} vs {b[c].dtype}"
    return None


def run_checks(record, data_dir):
    """Return {operation name: failure text} for every failed check."""
    con = duckdb.connect()
    for t in gen.TABLES if (data_dir / "region.parquet").exists() else ():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = {}
    for c in record["checks"]:
        name, kind = c["name"], c["kind"]
        try:
            if kind == "error":
                why = c["error"]
            elif kind == "oracle":
                why = frames_equal(pd.read_parquet(c["path"]), con.execute(c["sql"]).df())
            elif kind == "rows":
                why = None if len(pd.read_parquet(c["path"])) > 0 else "no rows"
            elif kind == "number_count":
                want = [list(r) for r in con.execute(c["sql"]).fetchall()]
                got = sorted(c["rows"])
                why = None if got == want else f"histogram differs ({len(got)} vs {len(want)} keys)"
            elif kind == "sssp":
                why = (None if c["mismatches"] == 0 else
                       f"{c['mismatches']} of {c['nodes']} distances differ from Dijkstra, "
                       f"first nodes {c['first_mismatches']}")
            else:
                why = f"unknown check kind {kind}"
        except Exception as e:  # a failing oracle is a failed check, not a crash
            why = f"{type(e).__name__}: {e}"
        if why:
            failures[name] = why
    return failures


# --------------------------------------------------------------- metrics

def end_to_end(record, setup_s):
    """Each operation's time is its best over the run's passes (the house
    min-of-N rule: noise from other tenants only ever adds time); wall_s
    is one pass of the workload at those times."""
    best = M.best_by_name(o for o in record["ops"] if o["error"] is None)
    return {
        "setup_s": setup_s,
        "wall_s": sum(best.values()),
        "op_geomean_s": M.geomean(best.values()),
        "peak_rss_mb": record["peak_rss_mb"],
    }


def workload_figures(workload, record):
    """The figures each workload exists for, printed beside the metrics.
    The apps' figures are medians over the run's passes. A latency
    percentile is printed only when at least 10 samples lie beyond it (a
    catalog pass gives len(CATALOG) samples)."""
    ops = [o for o in record["ops"] if o["error"] is None]
    if workload == "catalog":
        out = {"queries_timed": (len(ops), "count")}
        for name, q in (("query_p50_s", 0.5), ("query_p95_s", 0.95)):
            try:
                out[name] = (M.percentile([o["wall_s"] for o in ops], q), "s")
            except ValueError:
                pass
        return out
    median = {name: statistics.median(o["wall_s"] for o in ops if o["name"] == name)
              for name in ("number_count", "sssp")}
    return {"number_count_rows_per_s": (NUMBER_COUNT_ROWS / median["number_count"], "1/s"),
            "sssp_s": (median["sssp"], "s")}


def per_layer(record, fail_ratio):
    """Per-layer figures of a traced run, per timed pass."""
    rows = M.op_layers(record)
    passes = len(M.pass_walls(record))
    out = {}
    for key in ("build_s", "build_jobs", "action_s", "jobs", "stages", "tasks",
                "driver_gap_s", "task_run_s", "task_cpu_s", "task_gc_s", "scan_rows",
                "shuffle_write_bytes", "shuffle_records", "spill_bytes", "tasks_failed",
                "cut_jobs", "write_s", "bytes_written", "files_written"):
        out[key] = sum(r[key] for r in rows) / passes
    out["cached_bytes_peak"] = record["cached_bytes_peak"]
    nc = [r for r in rows if r["name"] == "number_count"]
    out["mr_shuffle_records_per_row"] = (
        sum(r["shuffle_records"] for r in nc) / (NUMBER_COUNT_ROWS * len(nc)) if nc else 0.0)
    sssp = [r for r in rows if r["name"] == "sssp"]
    batches = [M.loop_batches(r["call_sites"], "ShortestPath.scala") for r in sssp]
    out["sssp_batches"] = statistics.median(batches) if sssp else 0
    out["sssp_batch_s"] = (statistics.median(r["wall_s"] / max(1, b) for r, b in zip(sssp, batches))
                           if sssp else 0.0)
    out["trace_overhead_s"] = record["listener_s"] / passes
    out["fail_ratio"] = fail_ratio
    return out, rows


def entry_layers(rows):
    """Per operation name: medians of its traced layer figures, for the
    per-layer diff script."""
    keys = ("wall_s", "build_s", "action_s", "jobs", "stages", "driver_gap_s",
            "build_self_s", "action_self_s", "build_jobs", "cut_jobs", "task_run_s",
            "shuffle_records", "write_s")
    by = {}
    for r in rows:
        by.setdefault(r["name"], []).append(r)
    return {n: {k: statistics.median(r[k] for r in rs) for k in keys} for n, rs in by.items()}


# ------------------------------------------------------------------ main

def run_workload(args, classpath, run_dir, deadline):
    """Generate the inputs and the plan, run the JVM on them, wait for its
    record, and check the outputs."""
    data_dir, out_dir, tmp_dir = run_dir / "data", run_dir / "out", run_dir / "tmp"
    for d in (data_dir, out_dir, tmp_dir, run_dir / "local"):
        d.mkdir(parents=True)
    plan_file, record_file = run_dir / "plan.json", run_dir / "record.json"
    plan = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "data_dir": str(data_dir), "out_dir": str(out_dir),
        "passes": pass_orders(args.workload, args.seed),
        "extra_warmup_passes": EXTRA_WARMUP_PASSES[args.workload],
        "min_passes": MIN_PASSES,
    }
    if args.workload == "firebird_apps":
        grid = run_dir / "grid.parquet"
        pq.write_table(grid_edges(args.seed, GRID_SIDE), grid)
        plan.update(grid_path=str(grid), number_count_rows=NUMBER_COUNT_ROWS,
                    number_count_seed=number_count_seed(args.seed))
    else:
        gen.write(data_dir, args.seed, SF)
    plan_file.write_text(json.dumps(plan))

    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp_dir}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", str(cpus), str(run_dir / "warehouse"),
              str(plan_file), str(record_file)])
    logs = STATE / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    jvm_log = logs / f"{args.workload}-{args.seed}-trace{args.trace}.log"
    with open(jvm_log, "w") as out:
        code = wait_child(start_child(cmd, run_dir, out, env), deadline - time.time())
    if code != 0 or not record_file.exists():
        fail(f"the benchmark JVM exited with {code}; see {jvm_log}")
    record = json.loads(record_file.read_text())
    return record, run_checks(record, data_dir)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the run's metrics and per-entry layers here")
    args = ap.parse_args()
    # a terminated benchmark still stops and waits for its JVM (wait_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources next to {BENCH_DIR.name}/ (expected build.sbt and src/main/scala/graft)")

    classpath = build()
    run_t0 = time.time()
    run_dir = STATE / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        record, failures = run_workload(args, classpath, run_dir,
                                        run_t0 + RUN_TIMEOUT_S + args.seconds)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    # from JVM start until the session is created and the warm-up is done
    setup_s = record["warm"] - record["jvm_start"]

    ops = record["ops"]
    bad = [o for o in ops if o["error"] is not None or o["name"] in failures]
    attempted, failed = len(ops), len(bad)
    fail_ratio = failed / attempted

    e2e = end_to_end(record, setup_s)
    log(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} calibration_ms={record['calibration_ms']}")
    for k, v in e2e.items():
        log(f"{k} {v:.6g} {END_TO_END[k]}")
    for k, (v, unit) in workload_figures(args.workload, record).items():
        log(f"{k} {v:.6g} {unit}")
    log(f"fail_ratio {fail_ratio:.6g} ratio ({failed} of {attempted} operations)")
    for name, why in sorted(failures.items()):
        log(f"FAILED {name}: {why}")
    for o in ops:
        if o["error"] is not None:
            log(f"FAILED {o['name']}: {o['error']}")

    result = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "calibration_ms": record["calibration_ms"], "end_to_end": e2e,
              "failures": failures, "attempted": attempted, "failed": failed}
    if args.trace:
        layers, rows = per_layer(record, fail_ratio)
        for k, v in layers.items():
            log(f"{k} {v:.6g} {PER_LAYER[k]}")
        result["per_layer"] = layers
        result["entries"] = entry_layers(rows)
        shown = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        shown = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.record:
        Path(args.record).write_text(json.dumps(result, indent=1, sort_keys=True))
    print(json.dumps({"correct": not failures and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
