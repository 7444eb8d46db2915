"""Local stand-in for the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the given sf, compare row count,
column names, and order-insensitive values.

Usage: python tools/verify_entry.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """pandas → canonical sorted list of row tuples with float rounding."""
    import numpy as np
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6) + 0.0  # +0.0 folds -0.0 → 0.0
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(int)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")

    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "∅"
            return f"{v:.6f}"
        return str(v)

    rows = ["|".join(canon(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from ezmsg_sigproc_spark.session import get_spark

    # Fixture-oracle environment-drift check (VERDICT r5 item 8): the inlined
    # numpy fixtures pin QR/SVD-derived values that can differ across LAPACK
    # builds; warn loudly when the current env differs from the generating one
    # so drift surfaces here instead of as an unexplained red driver row.
    try:
        from ezmsg_sigproc_spark.fixtures_inline import ENV as _fx_env
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"))
        from make_fixtures import env_stamp as _env_stamp
        _cur = _env_stamp()
        if _cur != _fx_env:
            print(f"WARNING: fixtures_inline.py was generated under {_fx_env} "
                  f"but this environment is {_cur} — linear-algebra fixture "
                  f"values (IIR/FIR/spectral/CWT/FBCCA suites) may drift; "
                  f"rerun tools/make_fixtures.py if those rows fail.",
                  file=sys.stderr)
    except ImportError:
        pass

    spark = get_spark(cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    import builtins

    log = open("/tmp/verify_results.txt", "w")

    def print(*a, **k):  # tee: stdout gets drowned by JVM warnings
        builtins.print(*a, **k)
        builtins.print(*a, **k, file=log, flush=True)

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "rows-only"
            ok = len(sdf) >= 0
            print(f"{'ok   ' if ok else 'FAIL '} {name}: {len(sdf)} rows ({status})")
            n_rows_only += 1
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rowcount {len(sdf)} vs {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        if not problems:
            a, b = normalize(sdf), normalize(ddf)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(sdf)} rows match oracle")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
