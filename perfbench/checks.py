"""Output checks for the benchmark, run once per run and untimed.

Each result the harness wrote is compared with DuckDB running the engine's
oracle SQL over the same input, canonicalised with tools/check_parity.py's
`canon`: columns matched by name, rows compared as sorted tuples of
canonical values (doubles by repr, so exact).
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_parity import TABLES, canon  # noqa: E402


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def compare(want_cols, want_rows, got_cols, got_rows):
    """(ok, detail) for a result against its oracle."""
    if sorted(want_cols) != sorted(got_cols):
        return False, f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(want_rows) != len(got_rows):
        return False, f"rows {len(got_rows)} != {len(want_rows)}"
    wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    wr = sorted(tuple(canon(r[i]) for i in wi) for r in want_rows)
    gr = sorted(tuple(canon(r[i]) for i in gi) for r in got_rows)
    if wr != gr:
        bad = next(i for i, (x, y) in enumerate(zip(wr, gr)) if x != y)
        return False, f"sorted row {bad}: oracle {wr[bad]} != engine {gr[bad]}"
    return True, f"{len(got_rows)} rows"


def connect(workload, data, threads, tmpdir):
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    os.makedirs(tmpdir, exist_ok=True)
    con.execute(f"SET temp_directory='{tmpdir}'")
    if workload == "query_mix":
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    else:
        con.execute("CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{data}/events.parquet/*.parquet')")
    return con


def check_one(con, entry):
    """Verdict for one harness check entry."""
    v = {"name": entry["name"], "ok": entry["ok"], "detail": entry["detail"]}
    if not entry["ok"] or not entry.get("oracle"):
        return v
    try:
        want = con.sql(entry["oracle"])
        want_cols = [d[0] for d in want.description]
        want_rows = want.fetchall()
        got = con.sql(f"SELECT * FROM read_parquet('{entry['result']}/*.parquet')")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
    except Exception as e:  # a missing result or a broken oracle fails the check
        v.update(ok=False, detail=f"{type(e).__name__}: {str(e)[:300]}")
        return v
    v["ok"], v["detail"] = compare(want_cols, want_rows, got_cols, got_rows)
    return v


def run_checks(entries, workload, data, threads, tmpdir):
    con = connect(workload, data, threads, tmpdir)
    try:
        return [check_one(con, e) for e in entries]
    finally:
        con.close()


def count_failures(res, verdicts):
    """(attempted, failed) operations. query_mix: an operation is one query
    execution; it fails if it threw, and every execution of a query whose
    output check failed counts as failed. daily_pipeline: an operation is
    one iteration; it fails if a call in it threw, and every iteration
    counts as failed when an output check failed."""
    bad = {v["name"] for v in verdicts if not v["ok"]}
    if res["workload"] == "query_mix":
        attempted = failed = 0
        for q, n in res["executions"].items():
            attempted += n
            failed += n if f"query:{q}" in bad else res["threw"].get(q, 0)
        return attempted, failed
    attempted = res["iterations"]
    return attempted, attempted if bad else res["failed_iterations"]
