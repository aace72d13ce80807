#!/usr/bin/env python3
"""Per-layer diff of two traced benchmark records.

Usage: diff.py BASE.json NEW.json [BASE2.json NEW2.json ...]

Each file is what `run.py --trace 1 --record FILE` writes. Pairs are
matched by workload. For each workload the script prints the end-to-end
metrics, every per-layer metric and, per operation (catalog entry or
app), build_s / action_s / jobs / driver_gap_s / build and action self
time, each as base -> new with the delta and its base. The sibling
tools/merge_bench_mins.py merges graft.Bench records; this script reads
the benchmark's own records.
"""
import json
import sys

ENTRY_KEYS = ("wall_s", "build_s", "action_s", "jobs", "driver_gap_s",
              "build_self_s", "action_self_s")


def delta(base, new):
    d = new - base
    pct = f"{100 * d / base:+.1f}% of {base:.4g}" if base else "base 0"
    return f"{base:>12.4g} -> {new:<12.4g} {d:+.4g} ({pct})"


def section(title, base, new, keys):
    print(f"  {title}")
    for k in keys:
        if k in base and k in new:
            print(f"    {k:28s} {delta(base[k], new[k])}")


def main():
    paths = sys.argv[1:]
    if not paths or len(paths) % 2:
        sys.exit(__doc__)
    pairs = [(json.load(open(a)), json.load(open(b))) for a, b in zip(paths[::2], paths[1::2])]
    for base, new in pairs:
        if base["workload"] != new["workload"]:
            sys.exit(f"workloads differ: {base['workload']} vs {new['workload']}")
        if not (base.get("per_layer") and new.get("per_layer")):
            sys.exit("both records must come from --trace 1 runs")
        print(f"{base['workload']}: seed {base['seed']} -> {new['seed']}, "
              f"calibration_ms {base['calibration_ms']} -> {new['calibration_ms']}")
        section("end to end", base["end_to_end"], new["end_to_end"], base["end_to_end"])
        section("per layer", base["per_layer"], new["per_layer"], base["per_layer"])
        for name in sorted(set(base["entries"]) & set(new["entries"])):
            section(name, base["entries"][name], new["entries"][name], ENTRY_KEYS)
        for name in sorted(set(base["entries"]) ^ set(new["entries"])):
            print(f"  {name}: only in {'base' if name in base['entries'] else 'new'}")


if __name__ == "__main__":
    main()
