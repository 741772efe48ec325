#!/usr/bin/env python3
"""Prints a traced run's trace file as a per-layer self-time table.

A layer is a span name up to its first dot (pipeline, core, chunk, rollup,
sketch, query, op, ...). A span's self time is its wall time minus
that of its child spans; `op` is the harness's own time around each op.
The tracing overhead is the traced run's op_p50_s minus that of an
untraced run of the same workload and seed, when one was made in this
checkout (run.py keeps each run's end-to-end metrics in
.bench_build/results/).

Usage: python3 benchmark/trace_summary.py .bench_build/traces/<workload>-<seed>.jsonl
"""
import json
import os
import sys
from collections import defaultdict


def overhead(traced, untraced):
    return (f"tracing overhead: op_p50_s traced {traced:.3f} s - untraced {untraced:.3f} s"
            f" = {traced - untraced:+.3f} s ({traced / untraced - 1:+.1%})")


def untraced_op_p50(workload, seed):
    """op_p50_s of the untraced run of this workload and seed, if any."""
    path = os.path.join(".bench_build", "results", f"{workload}-{seed}-trace0.json")
    return json.load(open(path))["op_p50_s"] if os.path.exists(path) else None


def summary(path):
    spans, summ = [], {}
    for line in open(path):
        rec = json.loads(line)
        if "span" in rec:
            spans.append(rec)
        elif "summary" in rec:
            summ = rec["summary"]
    child = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["seconds"]
    self_s, total_s, count = defaultdict(float), defaultdict(float), defaultdict(int)
    cpu = defaultdict(float)
    for s in spans:
        layer = s["name"].split(".")[0]
        self_s[layer] += s["seconds"] - child[s["span"]]
        total_s[s["name"]] += s["seconds"]
        count[s["name"]] += 1
        cpu[layer] += s["counters"]["cpu_s"]
    out = [f"trace {path}: {len(spans)} spans",
           f"{'layer':<12} {'self_s':>9} {'share':>7} {'task_cpu_s':>11}"]
    whole = sum(self_s.values()) or 1.0
    for layer, v in sorted(self_s.items(), key=lambda kv: -kv[1]):
        out.append(f"{layer:<12} {v:9.3f} {v / whole:7.1%} {cpu[layer]:11.3f}")
    out.append(f"{'span':<28} {'n':>4} {'total_s':>9}")
    for name, v in sorted(total_s.items(), key=lambda kv: -kv[1]):
        out.append(f"{name:<28} {count[name]:4d} {v:9.3f}")
    if summ:
        u = untraced_op_p50(summ["workload"], summ["seed"])
        out.append(overhead(summ["op_p50_s"], u) if u else
                   "tracing overhead: no untraced run of this workload and seed in this checkout")
    return "\n".join(out)


if __name__ == "__main__":
    print(summary(sys.argv[1]))
