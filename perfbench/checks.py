"""Answer checks that run outside the timed calls, through DuckDB on the
generated tables.  Each returns the list of failures it found, one entry
per failed operation; the caller marks those operations failed.
"""
import json
import os

import duckdb

# Newest version per user, and whether a 24 h shelf life at the reader's
# asOf finds it stale -- the q33 oracle shape of the freshen contract.
NEWEST_SQL = """
WITH c AS (SELECT user_id, epoch_ms(ts) AS ts, value FROM events),
a AS (SELECT user_id, max(ts) AS nt FROM c GROUP BY 1)
SELECT a.user_id, a.nt, max(c.value) AS nv
FROM a JOIN c ON c.user_id = a.user_id AND c.ts = a.nt GROUP BY 1, 2
"""


def connect(data_dir, tmp_dir):
    """DuckDB over the input tables, with bounded memory, threads and spill
    space: an oracle whose plan outgrows them fails its check instead of
    filling the machine's memory or disk."""
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 2, "temp_directory": tmp_dir,
                                 "max_temp_directory_size": "4GB"})
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(data_dir, f)}')")
    return con


def point_reads(con, result):
    """Compare every point read with the engine-independent answer: the
    policy column is freshened (stale ⇒ newest value + 1 at asOf), the copy
    column is served as stored. Returns (failures, stale share of `get`)."""
    as_of, shelf = result["extra"]["as_of_ms"], result["extra"]["shelf_ms"]
    newest = {u: (nt, nv) for u, nt, nv in con.execute(NEWEST_SQL).fetchall()}

    def want(key, fresh):
        nt, nv = newest[key]
        if fresh and nt < as_of - shelf:
            return [key, as_of, nv + 1.0]
        return [key, nt, nv]

    failures, stale, gets = [], 0, 0
    with open(result["extra"]["answers"]) as fh:
        for line in fh:
            a = json.loads(line)
            policy = not a["kind"].endswith("get_nopolicy")
            expected = sorted(want(k, policy) for k in a["keys"])
            if sorted(a["rows"]) != expected:
                failures.append({"op": a["kind"], "index": a["i"], "error": "wrong answer"})
            if a["kind"] == "get":
                gets += 1
                stale += newest[a["keys"][0]][0] < as_of - shelf
    return failures, (stale / gets if gets else 0.0)


def _canon(rows):
    return sorted(tuple("\0null" if v is None else repr(float(v)) if isinstance(v, float) else repr(v)
                        for v in r) for r in rows)


def query_results(con, result):
    """Compare each query's warm-up result with its oracle SQL (columns by
    name, rows as multisets, doubles exactly)."""
    failures = []
    warmup = next((i for i, o in enumerate(result["ops"]) if o["kind"] == "warmup_pass"), None)
    for q, sql in sorted(result["extra"]["oracle"].items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{result['extra']['results']}/{q}/*.parquet')")
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
            exp = con.execute(sql)
            exp_cols = [d[0] for d in exp.description]
            exp_rows = exp.fetchall()
            if sorted(got_cols) != sorted(exp_cols):
                raise AssertionError(f"columns {got_cols} != {exp_cols}")
            order = [got_cols.index(c) for c in exp_cols]
            if _canon([[r[i] for i in order] for r in got_rows]) != _canon(exp_rows):
                raise AssertionError(f"rows differ ({len(got_rows)} vs {len(exp_rows)})")
        except Exception as e:  # a check that cannot run is a failed answer
            failures.append({"op": "warmup_pass", "index": warmup, "query": q,
                             "error": f"{type(e).__name__}: {e}"[:300]})
    return failures
