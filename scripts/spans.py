#!/usr/bin/env python3
"""Print each micro-batch's or registry query's timeline from a traced perfbench run.

    python3 scripts/spans.py [SPANS]

SPANS is a `spans.jsonl` written by `perfbench/run.py --trace 1`, or the
run's directory under `.bench_traces/`; without it the newest
`.bench_traces/*/spans.jsonl` is read.

An `ingest_agg` trace holds micro-batch spans. For every one it prints, in
milliseconds from the batch's start, the batch's `durationMs` parts (laid
end to end in the order Spark runs them, see PARTS), the sink writes and the
Spark jobs that hang under it. The summary gives, per streaming query, the
number of batches, the jobs per batch, the median trigger and sink-write
times, how long the batch's top-level sink writes ran at once, and the gap
from the start of `addBatch` to the first sink write.

A `dns_analytics` trace holds one `query:<name>` span per query execution.
For every one it prints, in milliseconds from the execution's start, the
time to its first Spark job, each job, and the gaps between jobs. The
summary gives, per query, the number of executions, the median time to the
first job, the jobs per execution, the median job time, the median gap
between jobs and the median time from the last job's end to the execution's
end. It reads only; nothing is written.
"""
import argparse
import collections
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The order Spark 4.1.2's MicroBatchExecution runs a batch's `durationMs`
# parts in, under a processing-time trigger: constructNextBatch reports
# latestOffset and then walCommit (the offset-log write), runBatch reports
# getBatch, queryPlanning and addBatch, and markMicroBatchEnd reports
# commitOffsets (the commit-log write). The progress report gives
# durations only; the trace lays them end to end in another order, so they
# are laid out again here.
PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


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


def lay_out(batch, parts):
    """`parts` moved end to end from the batch's start, in PARTS order."""
    took = {p["name"][len("batch."):]: p for p in parts}
    t, laid = batch["start_ns"], []
    for name in PARTS:
        if name in took:
            p = took[name]
            laid.append({**p, "start_ns": t, "end_ns": t + p["end_ns"] - p["start_ns"]})
            t = laid[-1]["end_ns"]
    return laid


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def batch_report(batches, children):
    per_query = collections.defaultdict(lambda: collections.defaultdict(list))
    for b in batches:
        query = b["name"][len("batch:"):]
        kids = sorted(children[b["id"]], key=lambda s: s["start_ns"])
        parts = lay_out(b, [k for k in kids if k["name"].startswith("batch.")])
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
        add = [p for p in parts if p["name"] == "batch.addBatch"]
        if add and writes:
            stats["gap_ms"].append(ms(min(w["start_ns"] for w in writes) - add[0]["start_ns"]))
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
              f"writes running at once p50 {p50(st['overlap_ms']):.0f} ms; "
              f"addBatch start .. first sink write p50 {p50(st['gap_ms']):.0f} ms")


def query_report(executions, children):
    """Per registry query execution: time to the first job, each job, the gaps."""
    per_query = collections.defaultdict(lambda: collections.defaultdict(list))
    for q in executions:
        name = q["name"][len("query:"):]
        jobs = sorted((k for k in children[q["id"]] if k["name"].startswith("job:")),
                      key=lambda s: s["start_ns"])
        stats = per_query[name]
        stats["jobs"].append(len(jobs))
        stats["wall_ms"].append(ms(q["end_ns"] - q["start_ns"]))
        print(f"\n{q['id']}  {ms(q['end_ns'] - q['start_ns']):.0f} ms, {len(jobs)} jobs")
        t = q["start_ns"]
        for i, j in enumerate(jobs):
            gap = ms(j["start_ns"] - t)
            (stats["first_job_ms"] if i == 0 else stats["gap_ms"]).append(gap)
            stats["job_ms"].append(ms(j["end_ns"] - j["start_ns"]))
            label = "to first job" if i == 0 else "gap"
            print(f"  {label:<14} {gap:8.1f} ms")
            start, end = ms(j["start_ns"] - q["start_ns"]), ms(j["end_ns"] - q["start_ns"])
            print(f"  {j['name']:<14} {start:8.1f} .. {end:8.1f}  ({end - start:7.1f} ms)")
            t = max(t, j["end_ns"])
        stats["tail_ms"].append(ms(q["end_ns"] - t))
        print(f"  {'to end':<14} {ms(q['end_ns'] - t):8.1f} ms")

    print("\n# summary")
    for name, st in sorted(per_query.items()):
        jobs = st["jobs"]
        print(f"{name}: {len(jobs)} executions; wall p50 {p50(st['wall_ms']):.0f} ms; "
              f"to first job p50 {p50(st['first_job_ms']):.1f} ms; "
              f"jobs per execution median {p50(jobs):g} (min {min(jobs)}, max {max(jobs)}); "
              f"job p50 {p50(st['job_ms']):.1f} ms; gap between jobs p50 {p50(st['gap_ms']):.1f} ms; "
              f"last job end .. end p50 {p50(st['tail_ms']):.1f} ms")


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
    batches = sorted((s for s in spans if s["name"].startswith("batch:")), key=lambda s: s["start_ns"])
    executions = sorted((s for s in spans if s["name"].startswith("query:")), key=lambda s: s["start_ns"])
    print(f"# {os.path.relpath(path)}: {len(batches)} batches, {len(executions)} query executions")
    if batches:
        batch_report(batches, children)
    if executions:
        query_report(executions, children)


if __name__ == "__main__":
    main()
