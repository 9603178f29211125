#!/usr/bin/env python3
"""The repository benchmark: one command builds the program from source and
runs one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It compiles src/main/scala and the
benchmark's own Scala sources (perfbench/scala) with the Scala compiler
shipped in $SPARK_HOME/jars, caching the classes by source digest under
$CARGO_TARGET_DIR (default .bench_build). Each run then gets a fresh
directory under .bench_runs for its inputs, Spark local files, artifacts,
checkpoints and sink output, deleted when the run ends. Traced runs keep
their spans and per-layer metrics under .bench_traces.

Workloads (see BENCHMARK.json for why each exists):
  ingest_agg     GraftApp wiring, W1 aggregation branch, parquet sinks
  dns_analytics  the registry's DNS query surface, batch, over a seeded table

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are BENCHMARK.json's end-to-end
metrics, with --trace 1 its per-layer metrics. Lines before it carry the
run's detail (seed, nproc, load, commit, per-phase numbers, check report).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("ingest_agg", "dns_analytics")
HARNESS_TIMEOUT_S = 160

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        fail(f"no program sources under {main}")
    found = []
    for top in (main, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files]
    return sorted(found)


def scalac(jars, classpath, out, files):
    lib = [os.path.join(jars, f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect")]
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(lib), "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        print(r.stdout, file=sys.stderr)
        fail("compilation failed")


def build(jars):
    """Compile the program and the benchmark once per source digest."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(root, h.hexdigest()[:16])
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "ok")):
            shutil.rmtree(out, ignore_errors=True)
            jar_cp = ":".join(sorted(os.path.join(jars, j) for j in os.listdir(jars)
                                     if j.endswith(".jar")))
            main_dir, bench_dir = os.path.join(out, "main"), os.path.join(out, "bench")
            scalac(jars, jar_cp, main_dir,
                   [f for f in files if f.endswith(".scala") and not f.startswith(HERE)])
            shutil.copytree(os.path.join(ROOT, "src", "main", "resources"), main_dir,
                            dirs_exist_ok=True)
            scalac(jars, main_dir + ":" + jar_cp, bench_dir,
                   [f for f in files if f.startswith(HERE) and f.endswith(".scala")])
            open(os.path.join(out, "ok"), "w").close()
    return out, h.hexdigest()[:16]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def load1m():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_harness(args, classes, jars, run_dir, config, t0_epoch_ms):
    nproc = os.cpu_count() or 1
    java = ["java", *JDK_OPENS, f"-Djava.io.tmpdir={run_dir}/tmp"]
    spec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "run_dir": run_dir, "t0_epoch_ms": t0_epoch_ms,
        "nproc": nproc, "config": config,
        "gen_command": java + ["-Xmx1g", "-cp", f"{classes}/bench:{jars}/scala-library-2.13.17.jar",
                               "perfbench.Gen"],
    }
    with open(f"{run_dir}/args.json", "w") as f:
        json.dump(spec, f)
    env = dict(os.environ, SPARK_GRAFT_ARTIFACT_DIR=f"{run_dir}/artifacts",
               SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
    # a fixed heap and young generation keep the peak RSS from following
    # the collector's sizing heuristics from run to run
    cmd = java + ["-Xms3g", "-Xmx3g", "-Xmn1g", "-cp", f"{classes}/bench:{classes}/main:{jars}/*",
                  "perfbench.Harness", f"{run_dir}/args.json"]
    with open(f"{run_dir}/harness.log", "w") as log:
        # own process group: the generator is the harness's child, and a
        # timeout must stop both
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            code = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if code != 0 or not os.path.exists(f"{run_dir}/result.json"):
        with open(f"{run_dir}/harness.log") as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        fail("the harness timed out" if code is None else f"the harness failed (exit {code})")
    with open(f"{run_dir}/result.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    jars = spark_jars()
    classes, digest = build(jars)
    load_start = load1m()

    t0_epoch_ms = time.time() * 1000
    run_dir = os.path.join(ROOT, ".bench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "artifacts", "spark-local", "data"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        if args.workload == "dns_analytics":
            c = config["dns_analytics"]
            tables.write(args.seed, f"{run_dir}/data", c["events"], c["users"])
            tables.write(args.seed + 1, f"{run_dir}/warm", c["warm_events"], c["users"])
        wl_config = config["dns_analytics" if args.workload == "dns_analytics" else "ingest"]
        result = run_harness(args, classes, jars, run_dir, wl_config, t0_epoch_ms)
        check = result["check"]
        metrics = result["metrics"]
        if check["kind"] == "ingest":
            failed, problems, sink_stats = checks.ingest_check(check)
            attempted = int(check["frames_sent"])
            metrics["sinks.rows_written"] = {"value": sink_stats["rows_written"], "unit": "count"}
            metrics["sinks.bytes_written"] = {"value": sink_stats["bytes_written"], "unit": "bytes"}
            metrics["sinks.dead_letter_rows"] = {"value": sink_stats["dead_letter_rows"],
                                                 "unit": "count"}
            report = {}
        else:
            failed, problems, report = checks.oracle_check(check)
            attempted = len(check["oracle_sql"])
        metrics["check.failed_frac"] = {"value": failed / max(attempted, 1), "unit": "fraction"}
        if args.trace:
            keep = os.path.join(ROOT, ".bench_traces", f"{args.workload}-{args.seed}-{int(t0_epoch_ms)}")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(f"{run_dir}/spans.jsonl", keep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    out = {}
    for m in wanted:
        got = metrics.get(m["name"])
        # a layer the workload does not exercise reads 0
        out[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "load1m_start": load_start,
        "load1m_end": load1m(), "commit": git_commit(), "source_digest": digest,
        "failed_frac": failed / max(attempted, 1), "check_problems": problems,
        "oracle_hashes": report, **result["detail"],
    }
    if args.trace:
        detail["spans"] = os.path.relpath(os.path.join(keep, "spans.jsonl"), ROOT)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
