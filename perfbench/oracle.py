"""DuckDB oracle check of suite_sample results.

Each sampled query's result, written once by the measuring process as
``<results>/<name>/*.parquet``, is compared inside DuckDB with the
query's ``oracleSql`` run over the same generated tables: the same
column names, the same row count, and no row of one missing from the
other (``EXCEPT ALL`` over the columns in name order, so row order does
not matter; values exact, timestamps at microsecond precision). A query
without oracle SQL is checked for a readable, non-empty result. A check
that runs past ``limit_s`` is interrupted and fails.
"""
import glob
import json
import os
import threading
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _columns(con, rel):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel}").fetchall()}


def _compare(con, sql, result_file, corrupt):
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM read_parquet('{result_file}')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {sql}")
    if corrupt:
        con.execute("DELETE FROM exp WHERE rowid = (SELECT min(rowid) FROM exp)")
    got, exp = _columns(con, "got"), _columns(con, "exp")
    if sorted(got) != sorted(exp):
        return f"columns {sorted(got)} vs {sorted(exp)}"
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
    if n_got != n_exp:
        return f"rows {n_got} vs {n_exp}"

    def sel():
        return ", ".join(
            f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if "TIMESTAMP" in (got[c] + exp[c])
            else f'"{c}"' for c in sorted(got))
    diff = con.execute(f"SELECT count(*) FROM (SELECT {sel()} FROM got "
                       f"EXCEPT ALL SELECT {sel()} FROM exp)").fetchone()[0]
    return "ok" if diff == 0 else f"values: {diff} of {n_got} rows differ"


def check(results_dir, tables_dir, names, corrupt="", limit_s=30.0, seconds=None):
    """Return {name: "ok" | reason} for every name; fill `seconds`, if
    given, with each check's duration."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        t0 = time.time()
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        try:
            if not files:
                out[name] = "no result"
            elif name not in oracle:
                n = con.execute(f"SELECT count(*) FROM read_parquet('{files[0]}')").fetchone()[0]
                out[name] = "ok" if n > 0 and name != corrupt else f"{n} rows, no oracle"
            else:
                out[name] = _compare(con, oracle[name], files[0], name == corrupt)
        except duckdb.Error as e:
            out[name] = f"oracle error: {str(e)[:300]}"
        finally:
            timer.cancel()
        if seconds is not None:
            seconds[name] = time.time() - t0
    con.close()
    return out
