"""Self-check: run every workloads.QUERIES entry against its DuckDB oracle
the way the driver does (row count + schema + order-insensitive values).

Usage: python3 tools/oracle_check.py [--window] [name ...]
  --window   check exactly the driver's gate window (first 50 entries);
             mutually exclusive with explicit names
  (no args)  check ALL registry entries, parked ones included
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb

# the repo root, so the package imports from any working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fspann_query_system_spark.session import get_spark          # noqa: E402
from fspann_query_system_spark.workloads import (QUERIES,        # noqa: E402
                                                 oracle_sql_map)

SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """Dtype-sensitive canonical value, mirroring the driver's fetchdf-based
    hash: an int64 6 and a float64 6.0 must NOT compare equal (DuckDB
    sum(<integer>) -> HUGEINT -> float64 through fetchdf is exactly the drift
    this must catch; Python's 6.0 == 6 would mask it)."""
    if hasattr(v, "item"):          # numpy scalar -> python, keeping the class
        v = v.item()
    # Spark None and DuckDB NULL (float NaN through fetchdf) must land on
    # one sentinel: NaN != NaN would otherwise fail every comparison and
    # make the row sort order-fragile.
    if v is None or (isinstance(v, float) and v != v):
        return ("n",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", round(v, 9))
    if isinstance(v, bytes):
        return ("y", v)
    return ("s", str(v))


def rows_normalized(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_connection():
    """A DuckDB connection with one view per registry table under ``SF``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def check_entry(spark, con, oracles: dict, name: str) -> tuple[str, str]:
    """Run registry entry ``name`` and compare it with its DuckDB oracle
    → ``(status, line)``, status one of "pass", "fail", "rows-only"."""
    t0 = time.time()
    try:
        sdf = QUERIES[name](spark, SF)
        s_cols = [c.lower() for c in sdf.columns]
        s_rows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            return "rows-only", (f"  {name:28s} rows-only: {len(s_rows)} "
                                 f"rows ({time.time()-t0:.1f}s)")
        # fetchdf (NOT fetchall) — the reference compare goes through
        # pandas, where HUGEINT becomes float64; fetchall would hide that
        # dtype drift.
        ddf = con.sql(oracles[name]).fetchdf()
        d_cols = [c.lower() for c in ddf.columns]
        d_rows = list(ddf.itertuples(index=False, name=None))
        a = rows_normalized(s_cols, s_rows)
        b = rows_normalized(d_cols, d_rows)
        if sorted(s_cols) != sorted(d_cols):
            return "fail", (f"✗ {name:28s} SCHEMA: spark={sorted(s_cols)} "
                            f"duck={sorted(d_cols)}")
        if len(a) != len(b):
            return "fail", f"✗ {name:28s} ROWS: spark={len(a)} duck={len(b)}"
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y]
            return "fail", (f"✗ {name:28s} VALUES: {len(diffs)} differing "
                            f"rows; first: spark={diffs[0][0]} "
                            f"duck={diffs[0][1]}")
        return "pass", f"✓ {name:28s} {len(a)} rows ({time.time()-t0:.1f}s)"
    except Exception as e:
        return "fail", (f"✗ {name:28s} ERROR: {type(e).__name__}: "
                        f"{str(e).splitlines()[0][:140]}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--window", action="store_true",
                    help="check the driver's gate window (first 50 entries)")
    ap.add_argument("names", nargs="*", help="specific registry entries")
    opts = ap.parse_args()
    if opts.window and opts.names:
        ap.error("--window and explicit names are mutually exclusive")
    if opts.window:
        # exactly the driver's correctness gate: the first 50 registry
        # entries, in registry order
        names = list(QUERIES)[:50]
    else:
        names = opts.names or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown query names: {unknown}")
    # Spark's Python workers inherit PYTHONPATH from the JVM, not this
    # process's sys.path: export the repo root before the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection()
    oracles = oracle_sql_map()
    counts = {"pass": 0, "fail": 0, "rows-only": 0}
    for name in names:
        status, line = check_entry(spark, con, oracles, name)
        print(line)
        counts[status] += 1
    print(f"\n{counts['pass']} pass, {counts['fail']} fail, "
          f"{counts['rows-only']} rows-only")
    return 1 if counts["fail"] else 0


if __name__ == "__main__":
    sys.exit(main())
