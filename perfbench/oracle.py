"""Inputs and output checks of the small-graph-queries workload.

The seeded lineitem table is the only input the engine's queries read. The
oracle runs each query's `SparkEntry.oracleSql` text in DuckDB over the same
parquet file, and rows collected from the engine must match it exactly after
the canonicalization of `tools/compare.py` (columns sorted by name, integer
and float widths normalized, rows sorted).
"""
import json
import os
import threading
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS = 15000
PARTS = 2000


def write_lineitem(path, seed):
    """TPC-H-shaped lineitem at sf0.01: 1-7 lines per order, ~60k rows."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, ORDERS)
    n = int(lines.sum())
    table = pa.table({
        "l_orderkey": np.repeat(np.arange(ORDERS, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, PARTS, n, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def canon(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


class Oracle(threading.Thread):
    """Computes every oracle result while the JVM sets up, then touches
    `oracle.ready` in the run directory; the JVM waits for that file before
    its first timed call, so the two never compete inside a timed region."""

    def __init__(self, run_dir, lineitem, deadline):
        super().__init__(daemon=True)
        self.run_dir, self.lineitem, self.deadline = run_dir, lineitem, deadline
        self.results, self.error = {}, None

    def run(self):
        try:
            sql_file = os.path.join(self.run_dir, "oracle_sql.json")
            while not os.path.exists(sql_file):
                if time.time() > self.deadline:
                    raise TimeoutError("the JVM wrote no oracle SQL")
                time.sleep(0.05)
            queries = json.load(open(sql_file))
            con = duckdb.connect()
            con.execute("SET threads = 2")
            con.execute(f"SET temp_directory = '{os.path.join(self.run_dir, 'tmp')}'")
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{self.lineitem}')")
            for name, sql in queries.items():
                self.results[name] = canon(con.execute(sql).fetch_df())
            con.close()
        except Exception as e:  # reported as a failed check, not a crash
            self.error = f"{type(e).__name__}: {e}"
        finally:
            open(os.path.join(self.run_dir, "oracle.ready"), "w").close()

    def mismatch(self, name, path):
        """None when the engine's rows at `path` equal the oracle's."""
        if self.error:
            return f"oracle failed: {self.error}"
        if name not in self.results:
            return "no oracle result"
        got = canon(pq.read_table(path).to_pandas())
        want = self.results[name]
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} != oracle {list(want.columns)}"
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as e:
            return "values differ: " + " | ".join(str(e).split("\n")[:3])
        return None
