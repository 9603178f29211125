#!/usr/bin/env python3
"""Print each micro-batch's timeline from a traced perfbench run.

    python3 scripts/spans.py [SPANS]

SPANS is a `spans.jsonl` written by `perfbench/run.py --trace 1`, or the
run's directory under `.bench_traces/`; without it the newest
`.bench_traces/*/spans.jsonl` is read. For every micro-batch span it prints,
in milliseconds from the batch's start, the batch's `durationMs` parts
(laid end to end, as the benchmark records them), the sink writes and the
Spark jobs that hang under it. The summary gives, per streaming query, the
number of batches, the jobs per batch, the median trigger and sink-write
times, and how long the batch's top-level sink writes ran at once. It reads
only; nothing is written.
"""
import argparse
import collections
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spans_path(arg):
    if arg is None:
        found = glob.glob(os.path.join(ROOT, ".bench_traces", "*", "spans.jsonl"))
        if not found:
            sys.exit("no .bench_traces/*/spans.jsonl: run perfbench/run.py --trace 1 first")
        return max(found, key=os.path.getmtime)
    return os.path.join(arg, "spans.jsonl") if os.path.isdir(arg) else arg


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def ms(ns):
    return ns / 1e6


def overlap_ms(spans):
    """Time during which at least two of `spans` ran."""
    edges = sorted([(s["start_ns"], 1) for s in spans] + [(s["end_ns"], -1) for s in spans])
    depth, since, total = 0, 0, 0
    for t, d in edges:
        if depth >= 2:
            total += t - since
        depth += d
        since = t
    return ms(total)


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("spans", nargs="?", help="spans.jsonl or its trace directory")
    args = ap.parse_args()

    path = spans_path(args.spans)
    spans = load(path)
    children = collections.defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)
    batches = [s for s in spans if s["name"].startswith("batch:")]
    batches.sort(key=lambda s: s["start_ns"])
    print(f"# {os.path.relpath(path)}: {len(batches)} batches")

    per_query = collections.defaultdict(lambda: collections.defaultdict(list))
    for b in batches:
        query = b["name"][len("batch:"):]
        kids = sorted(children[b["id"]], key=lambda s: s["start_ns"])
        parts = [k for k in kids if k["name"].startswith("batch.")]
        sinks = [k for k in kids if k["name"].startswith("sink:")]
        # the sink stack's outer writes, not its retried attempts
        writes = [k for k in sinks if not k["name"].endswith(".attempt")]
        jobs = [k for k in kids if k["name"].startswith("job:")]
        stats = per_query[query]
        stats["trigger_ms"].append(ms(b["end_ns"] - b["start_ns"]))
        stats["jobs"].append(len(jobs))
        stats["write_ms"].append(ms(max((w["end_ns"] for w in writes), default=0)
                                    - min((w["start_ns"] for w in writes), default=0)))
        stats["overlap_ms"].append(overlap_ms(writes))
        print(f"\n{b['id']}  trigger {ms(b['end_ns'] - b['start_ns']):.0f} ms, "
              f"{len(jobs)} jobs, {len(writes)} sink writes")
        for k in parts + sinks + jobs:
            start, end = ms(k["start_ns"] - b["start_ns"]), ms(k["end_ns"] - b["start_ns"])
            print(f"  {k['name']:<32} {start:8.1f} .. {end:8.1f}  ({end - start:7.1f} ms)")

    print("\n# summary")
    for query, st in sorted(per_query.items()):
        jobs = st["jobs"]
        print(f"{query}: {len(jobs)} batches; jobs per batch median {p50(jobs):g} "
              f"(min {min(jobs)}, max {max(jobs)}, total {sum(jobs)}); "
              f"trigger_ms p50 {p50(st['trigger_ms']):.0f}; "
              f"sink writes first start .. last end p50 {p50(st['write_ms']):.0f} ms; "
              f"writes running at once p50 {p50(st['overlap_ms']):.0f} ms")


if __name__ == "__main__":
    main()
