"""Local mirror of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() twin on DuckDB at a given sf, compare
row-count, schema width, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

Exits 1 on a mismatch, 2 when a named query is in neither queries() nor
extra_queries().
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "customer orders events documents embeddings".split()


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.10g}"
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, (list, tuple)):
                v = str(list(v))
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return out


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    # extras: value-checked faces kept out of the 50-row driver registry —
    # the mirror gates them identically
    all_queries = {**e.queries(), **e.extra_queries()}
    unknown = sorted(only - all_queries.keys())
    if unknown:
        print("unknown queries:", " ".join(unknown), file=sys.stderr)
        return 2

    from go_readability_spark.spark.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")

    con = duck_views(sf_dir)
    oracles = {**e.oracle_sql(), **e.extra_oracle_sql()}
    failures = []
    for name, fn in all_queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows (no oracle)")
            continue
        if name in getattr(e, "PINNED_ORACLES", ()) and os.path.normpath(
            sf_dir
        ) != os.path.normpath(e.PINNED_SF_DIR):
            print(
                f"{name:28s} skip: pinned-constant oracle (exact at "
                f"{e.PINNED_SF_DIR} only); ran {len(srows)} rows"
            )
            continue
        res = con.sql(oracles[name])
        drows = res.fetchall()
        dcols = [d[0] for d in res.description]
        ok_cols = sorted(scols) == sorted(dcols)
        a = normalize([tuple(r) for r in srows], scols)
        b = normalize(drows, dcols)
        ok_vals = a == b
        status = "OK " if (ok_cols and ok_vals) else "FAIL"
        print(f"{name:28s} {status} spark={len(a)} duck={len(b)} cols_match={ok_cols}")
        if not (ok_cols and ok_vals):
            failures.append(name)
            if not ok_cols:
                print(f"   spark cols: {sorted(scols)}\n   duck cols:  {sorted(dcols)}")
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"   first diff row {i}:\n    spark: {x}\n    duck:  {y}")
                    break
            if len(a) != len(b):
                print(f"   row counts differ: {len(a)} vs {len(b)}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all oracle checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
