"""Untimed output checks that recompute the program's results in DuckDB.

Each function returns a list of failure strings; an empty list passes.
"""
import os
import subprocess
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def warehouse(con, res):
    """The last delta's dim and mart figures against a recomputation
    over every order and event slice applied so far (base + deltas)."""
    n = int(res["slices"])
    ids = ",".join(str(int(s)) for s in res["applied_slices"])
    got = res["final"]
    want = dict(zip(["versions", "current_rows", "monthly_cents",
                     "segment_cents"], con.execute(f"""
        WITH so AS (
          SELECT * FROM orders WHERE o_orderkey % {n} IN ({ids})
            AND o_totalprice > 0 AND o_custkey IS NOT NULL),
        sc AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
        scd AS (
          SELECT LEAD(ts) OVER w IS NULL AS is_current
          FROM events WHERE event_id % {n} IN ({ids})
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT
          (SELECT COUNT(*) FROM scd),
          (SELECT COUNT(*) FROM scd WHERE is_current),
          (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             AS BIGINT)) AS BIGINT) FROM so),
          (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             AS BIGINT)) AS BIGINT)
           FROM so JOIN sc ON o_custkey = c_custkey)""").fetchone()))
    return [f"final {k}: program {got.get(k)} != oracle {v}"
            for k, v in want.items() if got.get(k) != v]


def adhoc(compare, data_dir, results_dir):
    """Every warm-up result (parquet, graft.Verify's layout) against its
    oracle SQL in DuckDB, through the repo's dev/compare.py."""
    p = subprocess.run([sys.executable, compare, data_dir, results_dir],
                       stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=120)
    if p.returncode == 0:
        return []
    bad = [ln for ln in p.stdout.splitlines()
           if ":" in ln and not ln.startswith("---")
           and ": OK" not in ln]
    return bad or [f"dev/compare.py exited {p.returncode}: "
                   f"{p.stderr.strip()[-300:]}"]
