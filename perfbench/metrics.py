"""Arithmetic that turns a raw run record into metrics.

A record (written by perfbench.Main) holds driver spans (workload → pass →
operation → build/action), listener jobs and stages, file writes and
check outputs. Jobs are attached to the innermost build/action span open
when they started; stages to their job. Everything here is pure Python so
that tests can pin it without a JVM.
"""
import math
import statistics

# listener timestamps have millisecond resolution: a job may appear to
# start up to this much before the span that submitted it
JOB_SLACK_S = 0.002


def percentile(values, q, min_beyond=10):
    """Nearest-rank q-quantile (rank ceil(q * n)) that keeps at least
    `min_beyond` samples strictly beyond it.

    A tail percentile over too few samples is decided by one or two
    outliers, so this raises ValueError rather than answer: p95 needs
    200 samples, p50 needs 20.
    """
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        raise ValueError(f"{n} samples leave {n - rank} beyond the {q:g} quantile; "
                         f"{min_beyond} are needed")
    return xs[rank - 1]


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals]


def self_time(span, children):
    """A span's duration minus the union of its children's intervals."""
    t0, t1 = span["t0"], span["t1"]
    return (t1 - t0) - union_length(clip([(c["t0"], c["t1"]) for c in children], t0, t1))


def driver_gap(span, jobs):
    """Time inside `span` when no job of its own was running: its duration
    minus the union (not the sum) of its jobs' intervals, since concurrent
    jobs overlap."""
    return self_time(span, jobs)


def geomean(values):
    return math.exp(statistics.fmean(math.log(v) for v in values))


def attach_jobs(spans, jobs):
    """Map job id → id of the innermost build/action span whose interval
    holds the job's start (or, failing that, starts within JOB_SLACK_S
    after it). Jobs outside every such span map to None."""
    leaves = [s for s in spans if s["kind"] in ("build", "action")]
    out = {}
    for j in jobs:
        t = j["t0"]
        hits = ([s for s in leaves if s["t0"] <= t <= s["t1"]]
                or [s for s in leaves if s["t0"] - JOB_SLACK_S <= t <= s["t1"]])
        out[j["id"]] = hits[-1]["id"] if hits else None
    return out


def is_cut_job(call_site):
    """A job that materialises a plan cut: an eager checkpoint, or any job
    submitted from the engine's cut helpers (graft.core Cuts/Iterative)."""
    method = call_site.split(" at ", 1)[0]
    return (method in ("localCheckpoint", "checkpoint")
            or " at Cuts.scala" in call_site or " at Iterative.scala" in call_site)


def loop_batches(call_sites, file_name):
    """Batches of a driver loop that ends every batch with one count job:
    the number of count jobs from the most frequent count call site in
    `file_name` (the loop's own line, not its one-off set-up counts)."""
    counts = {}
    for cs in call_sites:
        if cs.startswith("count at " + file_name):
            counts[cs] = counts.get(cs, 0) + 1
    return max(counts.values(), default=0)


def op_layers(record):
    """Per timed operation of a traced run: its spans, jobs and stages, and the per-layer
    figures of that one operation."""
    spans = record["spans"]
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    owner = attach_jobs(spans, record["jobs"])
    jobs_of = {}
    for j in record["jobs"]:
        if owner[j["id"]] is not None:
            jobs_of.setdefault(owner[j["id"]], []).append(j)
    stages_of = {}
    for st in record["stages"]:
        stages_of.setdefault(st["job"], []).append(st)
    writes = record["writes"]
    out = []
    for op in record["ops"]:
        span = by_id[op["span"]]
        kids = children.get(span["id"], [])
        build = next((k for k in kids if k["kind"] == "build"), None)
        action = next((k for k in kids if k["kind"] == "action"), None)
        bjobs = jobs_of.get(build["id"], []) if build else []
        ajobs = jobs_of.get(action["id"], []) if action else []
        jobs = bjobs + ajobs
        stages = [st for j in jobs for st in stages_of.get(j["id"], [])]
        op_writes = [w for w in writes if span["t0"] - JOB_SLACK_S <= w["t0"] <= span["t1"]]
        row = {
            "name": op["name"],
            "wall_s": span["t1"] - span["t0"],
            "build_s": (build["t1"] - build["t0"]) if build else 0.0,
            "action_s": (action["t1"] - action["t0"]) if action else 0.0,
            "build_jobs": len(bjobs),
            "jobs": len(jobs),
            "stages": len(stages),
            "driver_gap_s": driver_gap(span, [{"t0": j["t0"], "t1": j["t1"]} for j in jobs]),
            "build_self_s": self_time(build, bjobs) if build else 0.0,
            "action_self_s": self_time(action, ajobs) if action else 0.0,
            "cut_jobs": sum(is_cut_job(j["call_site"]) for j in jobs),
            "write_s": sum(w["dur_s"] for w in op_writes),
            "bytes_written": sum(w["bytes"] for w in op_writes),
            "files_written": sum(w["files"] for w in op_writes),
            "call_sites": [j["call_site"] for j in jobs],
        }
        for key in ("tasks", "tasks_failed", "task_run_s", "task_cpu_s", "task_gc_s",
                    "scan_rows", "shuffle_write_bytes", "shuffle_records", "spill_bytes"):
            row[key] = sum(st.get(key, 0) for st in stages)
        out.append(row)
    return out


def pass_walls(record, label="timed"):
    return [s["t1"] - s["t0"] for s in record["spans"]
            if s["kind"] == "pass" and s["name"] == label]


def best_by_name(ops, key="wall_s"):
    """Per operation name, its smallest `key` over the run's passes."""
    by = {}
    for op in ops:
        by.setdefault(op["name"], []).append(op[key])
    return {k: min(v) for k, v in by.items()}
