#!/usr/bin/env python3
"""Self-tests of the benchmark itself: python3 perfbench/selftest.py

- the generator is deterministic for a seed and differs across seeds;
- the conservation check fails when one frame is withheld;
- the oracle check fails on a perturbed row;
- traced and untraced runs pass the same output checks (runs the
  benchmark four times, a few minutes).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402

ANY = checks.ANY


class GeneratorTest(unittest.TestCase):
    def digest(self, seed):
        jars = run.spark_jars()
        classes, _ = run.build(jars)
        out = subprocess.run(
            ["java", "-cp", f"{classes}/bench:{jars}/scala-library-2.13.17.jar",
             "perfbench.Gen", "digest", str(seed), "20000"],
            capture_output=True, text=True, check=True).stdout.split()
        return out

    def test_deterministic_per_seed_and_distinct_across_seeds(self):
        a, b, c = self.digest(7), self.digest(7), self.digest(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])  # frames
        self.assertNotEqual(a[1], c[1])  # expected counts


def sink_rows(frames, table):
    """What the aggregation writes for `frames`, one row per grouping set
    key (the __ANY__ sentinel in collapsed columns)."""
    sets = {}
    for f in frames:
        ident, status, addr, name, qtype = f
        for key in ((addr, name, qtype), (addr, ANY, ANY), (ANY, name, qtype)):
            k = (ident, status) + key
            sets[k] = sets.get(k, 0) + 1
    cols = {"identity": [], "queryAddress": [], "questionName": [], "questionType": [],
            "counter": []}
    if table == "clientResponse":
        cols["responseStatus"] = []
    for (ident, status, addr, name, qtype), n in sets.items():
        cols["identity"].append(ident)
        cols["queryAddress"].append(addr)
        cols["questionName"].append(name)
        cols["questionType"].append(qtype)
        cols["counter"].append(n)
        if table == "clientResponse":
            cols["responseStatus"].append(status)
    return pa.table(cols)


class ConservationCheckTest(unittest.TestCase):
    queries = [("ns1", "", "10.0.0.1", "a.bench.", "A"), ("ns1", "", "10.0.0.1", "a.bench.", "A"),
               ("ns2", "", "10.0.0.2", "b.bench.", "AAAA"), ("ns1", "", "10.0.0.2", "a.bench.", "A")]
    responses = [("ns1", "NXDOMAIN", "10.0.0.1", "a.bench.", "A"),
                 ("ns2", "SERVFAIL", "10.0.0.2", "b.bench.", "AAAA")]

    def check(self, queries, responses):
        with tempfile.TemporaryDirectory() as d:
            with open(f"{d}/expected.tsv", "w") as f:
                for kind, frames in (("q", self.queries), ("r", self.responses)):
                    for fr in set(frames):
                        f.write("\t".join((kind,) + fr + (str(frames.count(fr)),)) + "\n")
            for table, frames in (("clientQuery", queries), ("clientResponse", responses)):
                os.makedirs(f"{d}/sinks/{table}/__batch_id=0")
                pq.write_table(sink_rows(frames, table),
                               f"{d}/sinks/{table}/__batch_id=0/part-0.parquet")
            return checks.ingest_check({"expected": f"{d}/expected.tsv", "sinks": f"{d}/sinks"})

    def test_all_frames_accounted(self):
        failed, problems, _ = self.check(self.queries, self.responses)
        self.assertEqual((failed, problems), (0, []))

    def test_one_withheld_query_frame_fails(self):
        failed, problems, _ = self.check(self.queries[1:], self.responses)
        self.assertGreater(failed, 0)
        self.assertTrue(any("clientQuery" in p for p in problems))

    def test_one_withheld_response_frame_fails(self):
        failed, problems, _ = self.check(self.queries, self.responses[:-1])
        self.assertGreater(failed, 0)
        self.assertTrue(any("clientResponse" in p for p in problems))


class OracleCheckTest(unittest.TestCase):
    sql = ("SELECT CAST(user_id AS VARCHAR) AS query_address, COUNT(*) AS counter "
           "FROM events GROUP BY 1")

    def check(self, perturb):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            tables.write(3, f"{d}/data", 2000, 50)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/data/events.parquet')")
            df = con.execute(self.sql).df()
            if perturb:
                df.loc[0, "counter"] += 1
            os.makedirs(f"{d}/results/q")
            pq.write_table(pa.Table.from_pandas(df), f"{d}/results/q/part-0.parquet")
            return checks.oracle_check({"data": f"{d}/data", "results": f"{d}/results",
                                        "oracle_sql": {"q": self.sql}})

    def test_exact_result_passes(self):
        self.assertEqual(self.check(perturb=False)[0], 0)

    def test_perturbed_row_fails(self):
        failed, problems, _ = self.check(perturb=True)
        self.assertEqual(failed, 1)
        self.assertIn("q:", problems[0])


class TracedRunTest(unittest.TestCase):
    def result(self, workload, trace):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "5", "--seconds", "3", "--trace", str(trace)],
                           capture_output=True, text=True, cwd=os.path.dirname(HERE))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_traced_and_untraced_pass_the_same_checks(self):
        for workload in ("ingest_agg", "dns_analytics"):
            plain, traced = self.result(workload, 0), self.result(workload, 1)
            for r in (plain, traced):
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
            self.assertEqual(plain["metrics"].keys() & traced["metrics"].keys(), set())


if __name__ == "__main__":
    unittest.main()
