#!/usr/bin/env python3
"""Prints per-layer self time from a benchmark trace file.

    python3 perfbench/trace_report.py .bench_build/traces/<workload>-<seed>.json

A span's self time is its duration minus the part of it covered by its
child spans. Spans are grouped by name; the table lists, per name, the
span count, total and self seconds, and the engine counters attributed to
those spans (jobs, tasks, executor CPU, shuffle bytes written, exchanges,
driver-only seconds).
"""
import json
import sys
from collections import defaultdict


def covered_ms(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        elif b > cur_b:
            cur_b = b
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self seconds by span id."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children[s["id"]]]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = max(0.0, s["seconds"] - covered_ms(kids) / 1e3)
    return out


def report(trace):
    spans = trace["spans"]
    selfs = self_times(spans)
    rows = defaultdict(lambda: defaultdict(float))
    for s in spans:
        r = rows[s["name"]]
        r["n"] += 1
        r["total_s"] += s["seconds"]
        r["self_s"] += selfs[s["id"]]
        for k, v in s.get("counters", {}).items():
            r[k] += v
    cols = ["n", "total_s", "self_s", "jobs", "tasks", "executor_cpu_s",
            "shuffle_write_bytes", "exchanges", "driver_only_s"]
    lines = [f"run {trace.get('run_id', '?')} ({trace.get('workload', '?')}, "
             f"seed {trace.get('seed', '?')})",
             f"{'span':32s}" + "".join(f"{c:>20s}" for c in cols)]
    for name in sorted(rows, key=lambda n: -rows[n]["self_s"]):
        r = rows[name]
        lines.append(f"{name:32s}" + "".join(
            f"{r[c]:20.3f}" if isinstance(r[c], float) and not float(r[c]).is_integer()
            else f"{int(r[c]):20d}" for c in cols))
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        print(report(json.load(f)))
