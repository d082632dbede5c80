"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value comparison (exact string
repr; near-miss report at 1e-9 for doubles).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_value(v):
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def to_rows(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(norm_value(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    return cols, sorted(rows)


def close_enough(a_rows, b_rows):
    """Loose check: numeric values within 1e-9 relative."""
    if len(a_rows) != len(b_rows):
        return False
    for ra, rb in zip(a_rows, b_rows):
        for va, vb in zip(ra, rb):
            if va == vb:
                continue
            try:
                fa, fb = float(va), float(vb)
                if abs(fa - fb) > 1e-9 * max(1.0, abs(fa), abs(fb)):
                    return False
            except (TypeError, ValueError):
                return False
    return True


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent

    if "--front50" in only:
        # the driver's correctness window: the FIRST 50 registered
        # entries, in registration order
        only.discard("--front50")
        only |= set(list(ent.queries().keys())[:50])
    if os.environ.get("SPARK_GRAFT_BARE") == "1":
        # driver simulation: the driver passes its OWN SparkSession
        # (Spark-4 ANSI defaults, no repo confs) — entries must pin
        # their own confs via session.load() to survive this shape
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-bare")
            .getOrCreate()
        )
    else:
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import (
            get_spark,
        )

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = ent.queries(), ent.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS-ONLY {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            dpdf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        s_cols, s_rows = to_rows(spdf)
        d_cols, d_rows = to_rows(dpdf)
        if s_cols != d_cols:
            print(f"FAIL {name}: schema {s_cols} vs {d_cols}")
            n_fail += 1
        elif len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rows {len(s_rows)} vs {len(d_rows)}")
            n_fail += 1
        elif s_rows != d_rows:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
            )
            loose = close_enough(s_rows, d_rows)
            print(f"FAIL {name}: values differ (near-miss={loose}) first diff @{diff[0]}:")
            print(f"   spark: {diff[1]}")
            print(f"   duck : {diff[2]}")
            n_fail += 1
        else:
            # dtype-level schema check (driver compares schemas too)
            s_dt = {c: str(spdf[c].dtype) for c in spdf.columns}
            d_dt = {c: str(dpdf[c].dtype) for c in dpdf.columns}
            note = "" if s_dt == d_dt else f"  [dtype diff: {s_dt} vs {d_dt}]"
            print(f"PASS {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s){note}")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
