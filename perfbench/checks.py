"""Output checks, run after the timed region.

ingest_check: per-key sums of `counter` over each grouping set of the
sink parquet must equal the generator's expected counts; the dead-letter
table must be empty. Aggregate row counts are never compared: they depend on where batch
boundaries fall.

oracle_check: each registry result must equal its DuckDB oracle, both
canonicalised the way scripts/check.py does it (columns sorted by name,
rows sorted by value); the reported hashes are of those canonical forms.
"""
import glob
import hashlib
import os

import duckdb

ANY = "__ANY__"

# grouping sets of the query and response aggregations: (filter, key columns)
SETS = {
    "full": (f"queryAddress <> '{ANY}' AND questionName <> '{ANY}'",
             ["queryAddress", "questionName", "questionType"]),
    "by_address": (f"queryAddress <> '{ANY}' AND questionName = '{ANY}'",
                   ["queryAddress"]),
    "by_question": (f"queryAddress = '{ANY}'", ["questionName", "questionType"]),
}


def _parquet(con, path):
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    if not files:
        return None
    return con.read_parquet(files, hive_partitioning=True)


EXP_COLUMN = {"identity": "identity", "responseStatus": "rcode", "queryAddress": "addr",
              "questionName": "qname", "questionType": "qtype"}


def _set_diff(con, got_view, kind, fixed, where, keys):
    """Sum over keys of |sink count - expected count| for one grouping set."""
    cols = fixed + keys
    exp_keys = ", ".join(f"{EXP_COLUMN[c]} AS {c}" for c in cols)
    got = (f"SELECT {', '.join(cols)}, sum(counter) AS n FROM {got_view} WHERE {where} GROUP BY ALL"
           if got_view else f"SELECT {exp_keys}, 0 AS n FROM exp WHERE false")
    on = " AND ".join(f"g.{c} = e.{c}" for c in cols)
    return con.execute(f"""
        WITH g AS ({got}),
             e AS (SELECT {exp_keys}, sum(n) AS n FROM exp WHERE kind = '{kind}' GROUP BY ALL)
        SELECT coalesce(sum(abs(coalesce(g.n, 0) - coalesce(e.n, 0))), 0)
        FROM g FULL OUTER JOIN e ON {on}""").fetchone()[0]


def _rows_and_bytes(con, path):
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    if not files:
        return 0, 0
    rows = con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]
    return rows, sum(os.path.getsize(f) for f in files)


def ingest_check(check):
    """Returns (failed units, problems, sink stats)."""
    con = duckdb.connect()
    con.execute("""CREATE TABLE exp AS SELECT kind, identity, coalesce(rcode, '') AS rcode,
        addr, qname, qtype, n FROM read_csv(?, delim='\t', header=false, quote='', escape='',
        columns={'kind': 'VARCHAR', 'identity': 'VARCHAR', 'rcode': 'VARCHAR',
                 'addr': 'VARCHAR', 'qname': 'VARCHAR', 'qtype': 'VARCHAR', 'n': 'BIGINT'})""",
                [check["expected"]])
    sinks = check["sinks"]
    failed, problems = 0, []
    for kind, table, fixed in (("q", "clientQuery", ["identity"]),
                               ("r", "clientResponse", ["identity", "responseStatus"])):
        rel = _parquet(con, f"{sinks}/{table}")
        if rel is not None:
            con.register(table, rel)
        for name, (where, keys) in SETS.items():
            d = _set_diff(con, table if rel is not None else None, kind, fixed, where, keys)
            if d:
                problems.append(f"{table} {name}: counts differ by {d} rows")
                failed += d
    dead_rows, _ = _rows_and_bytes(con, f"{sinks}/_dead_letter")
    if dead_rows:
        problems.append(f"dead-letter table holds {dead_rows} rows")
        failed += dead_rows
    stats = {"rows_written": 0, "bytes_written": 0, "dead_letter_rows": dead_rows}
    for table in ("clientQuery", "clientResponse"):
        r, b = _rows_and_bytes(con, f"{sinks}/{table}")
        stats["rows_written"] += r
        stats["bytes_written"] += b
    return int(failed), problems, stats


def canonical(con, sql):
    df = con.execute(sql).df()
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def oracle_check(check):
    """Returns (failed queries, problems, {query: oracle hash})."""
    con = duckdb.connect()
    for f in glob.glob(f"{check['data']}/*.parquet"):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    failed, problems, hashes = 0, [], {}
    for name, sql in check["oracle_sql"].items():
        try:
            got = canonical(con, f"SELECT * FROM read_parquet('{check['results']}/{name}/*.parquet')")
            exp = canonical(con, sql)
        except Exception as e:  # a query that fails to run fails its check
            problems.append(f"{name}: {e}")
            failed += 1
            continue
        hashes[name] = digest(exp)
        if list(got.columns) != list(exp.columns) or len(got) != len(exp) \
                or not got.equals(exp):
            problems.append(f"{name}: result {digest(got)} != oracle {hashes[name]} "
                            f"({len(got)} vs {len(exp)} rows)")
            failed += 1
    return failed, problems, hashes
