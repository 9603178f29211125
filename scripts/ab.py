#!/usr/bin/env python3
"""Interleaved A/B of two versions of the program on the repository benchmark.

    python3 scripts/ab.py [--base REV] [--change REV] [--pairs N]
                          [--workloads a,b] [--seed0 S] [--work DIR]

Each side is a git revision exported into its own directory under --work
(`git archive`), or, for the default --change, the working tree as it is
(tracked and untracked files that git does not ignore). Both sides then run
their own `perfbench/run.py --trace 0` for N pairs per workload, each run as
long as BENCHMARK.json's run_seconds. Pair i uses seed S+i on both sides, and
the side that runs first alternates from pair to pair, so that drift in the
host's speed falls on both sides alike. Runs are sequential: two benchmark
JVMs at once would measure each other.

For every end-to-end metric of BENCHMARK.json and every workload it prints
each side's median and quartiles, the change/base ratio of the medians and
how many pairs the change won (ties count for neither side). The verdict
follows the rule for claiming a gain in a small sandbox: the change wins at
least 9/10 of the pairs AND its median beats the base's by more than the
base's interquartile range -> "gain". A change median worse than the base's
by more than the metric's bound -> "REGRESSION". When the base's own spread
(IQR / median) is wider than the bound and neither of those holds, the
metric is "unresolved" unless every change run beats every base run;
otherwise it is "within bound". Runs that fail or report incorrect output
are counted per side and left out of the statistics.

Every raw result line goes to <work>/ab.jsonl; nothing is written inside the
repository or under perfbench/.
"""
import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKTREE = "WORKTREE"


def git(*args, binary=False):
    r = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, check=True)
    return r.stdout if binary else r.stdout.decode().strip()


def export(rev, dest):
    """Write `rev` (or the working tree) to `dest` as a plain directory."""
    os.makedirs(dest)
    if rev == WORKTREE:
        files = git("ls-files", "-z", "--cached", "--others", "--exclude-standard",
                    binary=True).split(b"\0")
        for f in filter(None, (p.decode() for p in files)):
            src = os.path.join(ROOT, f)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, f)), exist_ok=True)
                with open(src, "rb") as i, open(os.path.join(dest, f), "wb") as o:
                    o.write(i.read())
        return "working tree"
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    with tarfile.open(fileobj=io.BytesIO(git("archive", sha, binary=True))) as t:
        t.extractall(dest, filter="data")
    return sha[:12]


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = r.stdout.strip().splitlines()[-1:] if r.stdout.strip() else []
    try:
        result = json.loads(last[0]) if last else None
    except json.JSONDecodeError:
        result = None
    if r.returncode != 0 or not result or not result.get("correct"):
        return {"ok": False, "code": r.returncode, "stderr": r.stderr[-2000:], "result": result}
    return {"ok": True, "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "failed": result["failed"], "attempted": result["attempted"]}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(metric, base, change, wins, pairs):
    """The rule from the module docstring, for one metric on one workload."""
    lower = metric["better"] == "lower"
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    gain = (cm < bm) if lower else (cm > bm)
    worse = (cm - bm) / bm if lower else (bm - cm) / bm
    if gain and wins >= 0.9 * pairs and abs(cm - bm) > (b3 - b1):
        return "gain"
    if worse > metric["bound"]:
        return "REGRESSION"
    every = (max(change) < min(base)) if lower else (min(change) > max(base))
    if (b3 - b1) / bm > metric["bound"] and not every:
        return "unresolved"
    return "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", default="HEAD", help="revision of the base side (default HEAD)")
    ap.add_argument("--change", default=WORKTREE,
                    help=f"revision of the changed side (default {WORKTREE}: the working tree)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None,
                    help="comma-separated (default: every workload in BENCHMARK.json)")
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--work", default=None, help="directory for the two checkouts and ab.jsonl")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    work = args.work or tempfile.mkdtemp(prefix="ab-")
    sides = {}
    for name, rev in (("base", args.base), ("change", args.change)):
        label = export(rev, os.path.join(work, name))
        sides[name] = os.path.join(work, name)
        print(f"{name}: {rev} ({label}) -> {sides[name]}", flush=True)
    for name in ("base", "change"):
        with open(os.path.join(sides[name], "BENCHMARK.json")) as f:
            if json.load(f) != bench:
                print(f"warning: {name}'s BENCHMARK.json differs from this checkout's", flush=True)

    log = open(os.path.join(work, "ab.jsonl"), "a")
    runs = {(w, s): [] for w in workloads for s in sides}
    failures = {(w, s): 0 for w in workloads for s in sides}
    for w in workloads:
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            got = {}
            for side in order:
                r = run_one(sides[side], w, seed, seconds)
                log.write(json.dumps({"workload": w, "pair": i, "seed": seed, "side": side,
                                      "first": order[0], **r}) + "\n")
                log.flush()
                got[side] = r
                if not r["ok"]:
                    failures[(w, side)] += 1
                    print(f"{w} pair {i} seed {seed} {side}: FAILED (exit {r['code']})",
                          flush=True)
            if got["base"]["ok"] and got["change"]["ok"]:
                for side in sides:
                    runs[(w, side)].append(got[side]["metrics"])
                brief = {s: {m["name"]: got[s]["metrics"][m["name"]]
                             for m in bench["end_to_end"]} for s in order}
                print(f"{w} pair {i} seed {seed} first={order[0]} {json.dumps(brief)}",
                      flush=True)
    log.close()

    print()
    print("| workload | metric | base median [q1, q3] | change median [q1, q3] "
          "| change/base | change wins | verdict |")
    print("|---|---|---|---|---|---|---|")
    for w in workloads:
        pairs = len(runs[(w, "base")])
        for m in bench["end_to_end"]:
            if pairs == 0:
                continue
            base = [r[m["name"]] for r in runs[(w, "base")]]
            change = [r[m["name"]] for r in runs[(w, "change")]]
            lower = m["better"] == "lower"
            wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
            b1, bm, b3 = quartiles(base)
            c1, cm, c3 = quartiles(change)
            fmt = lambda q1, q2, q3: f"{q2:.4g} [{q1:.4g}, {q3:.4g}]"  # noqa: E731
            print(f"| {w} | {m['name']} ({m['unit']}) | {fmt(b1, bm, b3)} | {fmt(c1, cm, c3)} "
                  f"| {cm / bm:.3f} | {wins}/{pairs} | {verdict(m, base, change, wins, pairs)} |")
        print(f"| {w} | failed runs | {failures[(w, 'base')]} | {failures[(w, 'change')]} "
              f"| | | |")
    print(f"\nraw results: {os.path.join(work, 'ab.jsonl')}")


if __name__ == "__main__":
    main()
